"""Deduplication operators (BASELINE N★: exact, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine).

Every variant here is built so the SAME deterministic signature is computable
in DuckDB (md5-based hashing, explicit summation order), making even the
LSH pipelines oracle-checkable — the driver's hash compare covers not just
"some duplicates found" but the exact candidate set.

Scale design (100 TB):
- exact dedup: one shuffle on the 32-byte fingerprint; survivors via min-key.
- MinHash LSH: explode to (band, band_key) — shuffle keys are the band
  hashes, so candidate generation is an equi self-join, never O(n²).
- SimHash: pigeonhole banding (4×8-bit chunks) turns hamming<=3 search into
  an equi join as well; the exact hamming filter runs post-probe.
- embedding pairs: expression-only cosine for the oracle-checked variant;
  the similarity module adds the blocked/LSH paths for real ANN workloads.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from input_data_pipeline_spark.functions import text as T
from input_data_pipeline_spark.plans.registry import register
from input_data_pipeline_spark.tables import fanned_documents, load_table

from input_data_pipeline_spark.functions.text import (
    DUCK_TOKENS as _DUCK_TOKENS,
)
# Degenerate docs match word_shingles exactly: one token → [token], zero
# tokens → [''] (the old coalesce form emitted a NULL shingle for empty docs
# — which list_distinct then stripped, silently DROPPING empty docs from the
# oracle while Spark kept them — and a trailing-space shingle for one-token
# docs).
_DUCK_SHINGLES2 = (
    "CASE WHEN len(ts) = 0 THEN [''] WHEN len(ts) = 1 THEN [ts[1]] "
    "ELSE list_distinct(list_transform(range(1, len(ts)), "
    "i -> ts[i] || ' ' || ts[i + 1])) END"
)

# Exact >= 0.8-Jaccard pair set, stated SPARSELY for the DuckDB oracles:
# explode the (already-distinct) shingle lists and equi-join on the shingle,
# counting co-occurrences per pair. Result-identical to the naive
# `sh a JOIN sh b ON a.doc_id < b.doc_id` + list_intersect form — a pair
# with zero shared shingles can never pass `c*5 >= u*4` (u >= 1 always,
# _DUCK_SHINGLES2 lists are non-empty), and |A u B| = |A| + |B| - |A n B|
# on distinct lists — but where the naive form probes n^2/2 pairs on ONE
# thread (a 5000-row table is a single DuckDB row group), this form is a
# parallel hash join + aggregate over the exploded rows: measured 14 s vs
# 914 s at sf0.1. Consumers of the PAIR-LIST oracle output share this
# macro (ngram_jaccard_pairs, dedup_minhash_ml, and minhash_lsh_quality
# via CTE composition), so the full-registry oracle sweep loses its
# dominant cost. Two other statements of the same truth set deliberately
# remain separate: the recursive-CTE connected-components oracles
# (dedup_cluster_assignment, dedup_keep_selection) keep the naive pair
# join inside their default SQL — their cost is the recursion itself, and
# the sweep replaces them wholesale via --cc-linear — and check_oracle's
# _JACCARD_EDGES_SQL is the checker's own independent inverted-index
# restatement (kept separate on purpose: the linear-CC check should not
# share SQL with the oracles it cross-checks).
_DUCK_J08_CTES = """
    j08_tok AS (SELECT doc_id, {tokens} AS ts FROM documents),
    j08_sh AS (SELECT doc_id, {shingles} AS shs FROM j08_tok),
    j08_x AS (SELECT doc_id, unnest(shs) AS s FROM j08_sh),
    j08_n AS (SELECT doc_id, len(shs) AS n FROM j08_sh),
    j08_co AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS c
      FROM j08_x x JOIN j08_x y ON x.s = y.s AND x.doc_id < y.doc_id
      GROUP BY 1, 2),
    j08 AS (
      SELECT doc_a, doc_b, c, na.n + nb.n - c AS u
      FROM j08_co
      JOIN j08_n na ON doc_a = na.doc_id
      JOIN j08_n nb ON doc_b = nb.doc_id
      WHERE c * 5 >= (na.n + nb.n - c) * 4)
"""

N_MINHASH = 12
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS


def _ppm_div(num: Column, den: Column) -> Column:
    """``num * 1e6 DIV den`` in exact integer arithmetic (nonneg inputs).

    The oracles state ppm ratios with integer ``//``; going through a double
    division and truncating (the old form) is exact only while 1/den far
    exceeds double ulp at 1e6 scale. Long modulo keeps every intermediate in
    int64; the one double division at the end is of an exact multiple, and
    the quotient is <= 1e6, so the result is bit-exact end-to-end.
    """
    scaled = num.cast("long") * F.lit(1_000_000)
    d = den.cast("long")
    return ((scaled - scaled % d) / d).cast("long")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
      FROM documents)
    SELECT fingerprint,
           MIN(doc_id) AS survivor_id,
           COUNT(*) AS n_copies
    FROM fp
    GROUP BY fingerprint
    ORDER BY survivor_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalized sha256 fingerprint → one survivor per cluster.

    One shuffle on the fingerprint; at 100 TB the map-side partial agg means
    only (fingerprint, local-min, local-count) crosses the wire.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", T.fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("survivor_id")
    )


@register(
    "dedup_bow_clusters",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents),
    fp AS (
      SELECT doc_id,
             sha256(array_to_string(list_sort(list_distinct(ts)), ' ')) AS bow_fp
      FROM tok)
    SELECT bow_fp, MIN(doc_id) AS survivor_id, COUNT(*) AS n_docs
    FROM fp
    GROUP BY bow_fp
    HAVING COUNT(*) > 1
    ORDER BY survivor_id
    """,
)
def dedup_bow_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words dedup: docs identical under token-set normalization
    (reorderings / repetitions collapse). Finds the real clusters the
    byte-exact pass misses."""
    docs = load_table(spark, sf_dir, "documents")
    bow_fp = F.sha2(F.concat_ws(" ", F.array_sort(F.array_distinct(T.tokens("text")))), 256)
    return (
        docs.select("doc_id", bow_fp.alias("bow_fp"))
        .groupBy("bow_fp")
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .orderBy("survivor_id")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

def _shingles2(col: Column | str) -> Column:
    return F.array_distinct(T.word_shingles(col, 2))


def _exploded_shingles2(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) rows of 2-word shingles, generated in codegen.

    posexplode tokens → ``lead`` window → concat: every operator is
    codegen'd or a window, vs. the interpreted array-transform in
    ``word_shingles`` (~3× faster at sf0.1, and the explode output is what
    the downstream joins/aggs want anyway). Single-token docs degenerate to
    the bare token, and zero-token docs to a single empty-string sentinel
    shingle — both exactly matching ``word_shingles``'s slice semantics, so
    the two shingle paths (and the DuckDB oracle fragment) stay
    interchangeable on every input. NOT distinct — callers that need set
    semantics dedupe on (doc_id, sh).
    """
    from pyspark.sql import Window

    # posexplode_outer emits one (NULL, NULL) row for an empty token array —
    # that row becomes the empty-string sentinel shingle word_shingles gives
    # zero-token docs, in the SAME generate pass (a plain posexplode needed a
    # second full scan + re-tokenization of documents just to recover the
    # empty docs, doubling tokenization work for every shingle consumer).
    # text is coalesced to "" so a NULL text behaves like a zero-token doc.
    tok = docs.select(
        "doc_id",
        F.posexplode_outer(
            T.tokens(F.coalesce(F.col("text"), F.lit("")))
        ).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        tok.select(
            "doc_id",
            "pos",
            "tok",
            F.lead("tok").over(w).alias("nxt"),
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_tok"),
        )
        .filter(F.col("nxt").isNotNull() | (F.col("n_tok") == 1))
        .select(
            "doc_id",
            F.when(
                F.col("nxt").isNotNull(),
                F.concat("tok", F.lit(" "), "nxt"),
            )
            .otherwise(F.coalesce(F.col("tok"), F.lit("")))
            .alias("sh"),
        )
    )


# Affine hash family h_i(x) = (A_i*x + B_i) mod p over a single 32-bit base
# hash per shingle. p = smallest prime > 2^32; A_i odd 31-bit, so A_i*x < 2^63.
# Constants are fixed (not per-run random) so the DuckDB oracle reproduces
# the exact signatures.
_MINHASH_P = 4294967311
_rng = __import__("random").Random(20260813)
_MINHASH_A = [(_rng.getrandbits(30) * 2 + 1) for _ in range(N_MINHASH)]
_MINHASH_B = [_rng.getrandbits(32) for _ in range(N_MINHASH)]


def _docs_with_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig) with the signature computed in codegen, not in
    higher-order array functions.

    Shape matters for speed twice over: (1) explode shingles to rows and
    evaluate hashes as ordinary projected columns (whole-stage codegen —
    interpreted lambda-transforms over arrays are ~10× slower), then
    min-aggregate back per doc, so the shuffle carries only the 12 partial
    mins per doc (map-side combine). (2) ONE md5 per shingle, not 12: its
    first 32 bits become the base hash x, and the 12 MinHash functions are
    the universal affine family h_i = (A_i*x + B_i) mod p with 12 fixed
    independent constant pairs — integer-only after the single digest.
    (A single shared (a,b) pair across i is NOT enough: the argmin shingle
    then barely changes with i, correlating the 12 coordinates and
    inflating the collision estimate ~2.5×.) MinHash is duplicate-
    insensitive (min over a multiset), so no array_distinct pass is needed.
    """
    docs = load_table(spark, sf_dir, "documents")
    shingled = _exploded_shingles2(docs)
    x = F.conv(F.substring(F.md5("sh"), 1, 8), 16, 10).cast("long")
    hashed = shingled.select(
        "doc_id",
        *[
            ((F.lit(_MINHASH_A[i]) * x + F.lit(_MINHASH_B[i])) % _MINHASH_P).alias(f"h{i}")
            for i in range(N_MINHASH)
        ],
    )
    return (
        hashed.groupBy("doc_id")
        .agg(*[F.min(f"h{i}").alias(f"h{i}") for i in range(N_MINHASH)])
        .select("doc_id", F.array(*[f"h{i}" for i in range(N_MINHASH)]).alias("sig"))
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents),
    sh AS (
      SELECT doc_id, {_DUCK_SHINGLES2} AS shs FROM tok),
    shx AS (
      SELECT doc_id, UNNEST(shs) AS s FROM sh),
    based AS (
      SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS x FROM shx),
    sig AS (
      SELECT doc_id,
             list_value({", ".join(f"MIN(({_MINHASH_A[i]} * x + {_MINHASH_B[i]}) % {_MINHASH_P})" for i in range(N_MINHASH))}) AS sig
      FROM based GROUP BY doc_id),
    bands AS (
      SELECT doc_id, b,
             md5(sig[b * {ROWS_PER_BAND} + 1]::VARCHAR || '|'
                 || sig[b * {ROWS_PER_BAND} + 2]::VARCHAR || '|'
                 || sig[b * {ROWS_PER_BAND} + 3]::VARCHAR) AS band_key
      FROM sig, UNNEST(range({N_BANDS})) AS t(b)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_key = b.band_key AND a.b = b.b AND a.doc_id < b.doc_id),
    est AS (
      SELECT c.doc_a, c.doc_b,
             len(list_filter(range({N_MINHASH}), i -> sa.sig[i + 1] = sb.sig[i + 1]))
                   * 1000000 // {N_MINHASH} AS est_jaccard_ppm
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, est_jaccard_ppm
    FROM est
    WHERE est_jaccard_ppm >= 500000
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via MinHash + LSH banding (12 hashes,
    4 bands × 3 rows), est_jaccard >= 0.5.

    Candidate generation is an equi self-join on (band, band_key) — the
    only shuffle keys are band hashes, so cost scales with collisions,
    not with |docs|². Each side carries its fixed-size signature, so the
    Jaccard estimate falls out of the join with no further lookups.
    """
    # Materialize the signature table once (localCheckpoint → executor-local
    # blocks): the self-join otherwise re-runs the whole shingle+hash
    # pipeline per side — plan-identical, but Spark's exchange reuse does
    # not fire across the band-explode, and at any scale the signature
    # pass is the expensive one. |docs| × 12 longs is small enough to
    # checkpoint at 100 TB too.
    sigs = _docs_with_sigs(spark, sf_dir).localCheckpoint(eager=True)

    # Bands carry the (small, fixed-size) signature with them so the
    # candidate self-join yields both signatures directly — no signature
    # re-join.
    bands = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.element_at("sig", b * ROWS_PER_BAND + r + 1).cast("string")
                                    for r in range(ROWS_PER_BAND)
                                ],
                            )
                        ).alias("band_key"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "sig", "band.b", "band.band_key")

    matches = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
    return (
        bands.alias("a")
        .join(
            bands.alias("bb"),
            (F.col("a.band_key") == F.col("bb.band_key"))
            & (F.col("a.b") == F.col("bb.b"))
            & (F.col("a.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("bb.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("bb.sig").alias("sig_b"),
        )
        .distinct()
        .select(
            "doc_a",
            "doc_b",
            _ppm_div(matches, F.lit(N_MINHASH)).alias("est_jaccard_ppm"),
        )
        .filter(F.col("est_jaccard_ppm") >= 500_000)
        .orderBy("doc_a", "doc_b")
    )


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_DUCK_J08_CTES.format(tokens=_DUCK_TOKENS, shingles=_DUCK_SHINGLES2)}
    SELECT doc_a, doc_b, c * 1000000 // u AS jaccard_ppm
    FROM j08
    ORDER BY doc_a, doc_b
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 2-gram Jaccard >= 0.8 pairs — the ground-truth near-dup set the
    LSH variant approximates (its pytest recall test compares the two). The
    oracle states it as a sparse shingle-explode equi-join (_DUCK_J08_CTES;
    result-identical to the naive all-pairs form it replaced — zero-overlap
    pairs can never reach 0.8, and |A u B| = |A|+|B|-|A n B| on distinct
    lists — but parallelizable in DuckDB). The oracle still shares NO
    filtering machinery with this plan, which computes the identical result
    with prefix filtering (PPJoin-style), the exact similarity join that
    survives scale:

    1. Global rarest-first shingle order (by document frequency): a pair
       with J >= t must share at least one of each side's first
       |S| - ceil(t*|S|) + 1 shingles under ANY shared total order, and
       rarest-first keeps hot shingles out of prefixes, so the candidate
       join's key skew collapses.
    2. Candidates = equi-join on prefix shingles + size-ratio pruning
       (|A|, |B| within t..1/t of each other).
    3. Encode shingles to 64-bit content-hash ids (xxhash64, with a loud
       collision guard) so the candidate join keys and the exact
       array_intersect verification operate on ints, not strings — ~2× on
       the verification pass, which dominates when the corpus vocabulary is
       small and prefixes prune poorly (this synthetic corpus: ~930
       distinct shingles → 660k candidates from 5k docs). Only the
       small-vocab bitset kernel densifies ids, via a window over ≤4096
       vocab rows; the scale path never globally sorts the vocabulary.
    """
    docs = load_table(spark, sf_dir, "documents")
    distinct_sh = _exploded_shingles2(docs).distinct().withColumnRenamed("sh", "s")
    from pyspark.sql import Window

    per_doc = Window.partitionBy("doc_id")
    per_sh = Window.partitionBy("s")
    # Materialize the encoded shingle table once: the prefix self-join, the
    # mask build, and the vocab stat would otherwise each re-run the whole
    # tokenize→shingle→df pipeline (4 evaluations measured). Shingle ids are
    # 64-bit content hashes; df arrives via a window over the same
    # shuffle-by-shingle pass — no corpus-vocabulary global sort (the old
    # row_number id funneled every distinct shingle through one task) and no
    # vocabulary-sized broadcast, so the encoding scales with the corpus.
    encoded_h = (
        distinct_sh.withColumn("n", F.count(F.lit(1)).over(per_doc))
        .withColumn("df", F.count(F.lit(1)).over(per_sh))
        .withColumn("hid", F.xxhash64("s"))
        .localCheckpoint(eager=True)
    )
    # One vocab-scale agg doubles as the hash-collision guard (a collision
    # would silently merge two shingles → wrong intersections; probability
    # ~V²/2⁶⁵, but it must be loud, not silent) and the kernel-choice stat.
    stats = encoded_h.agg(
        F.countDistinct("s").alias("ns"), F.countDistinct("hid").alias("nh")
    ).first()
    if stats.ns != stats.nh:
        raise ValueError(
            "xxhash64 shingle-id collision detected; rerun with a dictionary encoding"
        )
    n_vocab = stats.ns or 0
    n_words = (n_vocab + 63) // 64
    if n_words <= 64:
        # The bitset kernel below needs DENSE 1..V positions: rank the ≤4096
        # distinct hashes — a window over vocab rows only, not corpus rows —
        # and map back via a ≤4096-row broadcast. The unbounded-vocab path
        # keeps the raw hashes as ids.
        ids = (
            encoded_h.select("hid")
            .distinct()
            .select("hid", F.row_number().over(Window.orderBy("hid")).alias("sid"))
        )
        encoded = encoded_h.join(F.broadcast(ids), "hid").select(
            "doc_id", "n", "df", "sid"
        )
    else:
        encoded = encoded_h.select("doc_id", "n", "df", F.col("hid").alias("sid"))
    rarest = Window.partitionBy("doc_id").orderBy("df", "sid")
    prefix = (
        encoded.withColumn("rn", F.row_number().over(rarest))
        .filter(F.col("rn") <= F.col("n") - F.ceil(F.col("n") * 0.8) + 1)
        .select("doc_id", "n", "rn", "sid")
    )
    # Positional filter (PPJoin): if the shared prefix element sits at
    # position rn, at most 1 + min(|A|-rn_a, |B|-rn_b) elements can still
    # overlap; J >= t needs overlap >= ceil(t/(1+t) * (|A|+|B|)).
    # ceil(t/(1+t) * (|A|+|B|)) with t=0.8, i.e. ceil(4s/9) — computed in
    # exact arithmetic: the IEEE constant 0.8/1.8 rounds UP from 4/9, so
    # s*(0.8/1.8) overshoots the integer whenever 9 | s and the ceil demands
    # one more overlapping element than Jaccard=0.8 pairs can have (false
    # negatives vs the oracle). 4*s is exact in double and correctly-rounded
    # division by 9.0 cannot cross an integer boundary.
    overlap_needed = F.ceil((4 * (F.col("a.n") + F.col("b.n"))) / F.lit(9.0))
    overlap_possible = 1 + F.least(
        F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") * 0.8 <= F.col("a.n"))
            & (F.col("a.n") * 0.8 <= F.col("b.n"))
            & (overlap_possible >= overlap_needed),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Verification kernel, chosen adaptively from the dictionary size (a
    # driver-side stat over the vocab-sized table, same spirit as AQE's
    # runtime statistics): when the vocabulary fits 4096 bits, each doc's
    # shingle set becomes a fixed-width bitset and the exact intersection
    # is W codegen'd AND+popcount terms per candidate — no per-row hash
    # set, no lambda. Larger vocabularies fall back to int
    # array_intersect (still far cheaper than string intersect).
    if n_words <= 64:
        words = encoded.select(
            "doc_id",
            "n",
            ((F.col("sid") - 1) / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST((sid - 1) % 64 AS INT))").alias("bit"),
        )
        masks = (
            words.groupBy("doc_id", "n", "w")
            .agg(F.bit_or("bit").alias("bits"))
            .groupBy("doc_id", "n")
            .agg(F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("m"))
            .select(
                "doc_id",
                "n",
                F.array(
                    *[
                        F.coalesce(F.element_at("m", F.lit(w)), F.lit(0).cast("long"))
                        for w in range(n_words)
                    ]
                ).alias("mask"),
            )
        )
        sa = masks.select(
            F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), F.col("mask").alias("ma")
        )
        sb = masks.select(
            F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), F.col("mask").alias("mb")
        )
        inter = None
        for w in range(n_words):
            term = F.bit_count(
                F.element_at("ma", w + 1).bitwiseAND(F.element_at("mb", w + 1))
            )
            inter = term if inter is None else inter + term
        union = F.col("n_a") + F.col("n_b") - inter
    else:
        sh = encoded.groupBy("doc_id").agg(F.collect_list("sid").alias("shs"))
        sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"))
        sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"))
        inter = F.size(F.array_intersect("shs_a", "shs_b"))
        union = F.size("shs_a") + F.size("shs_b") - inter
    # Threshold and ratio in exact integer space: 5*inter >= 4*union and
    # ppm = inter * 1e6 DIV union, mirroring the oracle verbatim.
    return (
        cand.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(inter * 5 >= union * 4)
        .select(
            "doc_a",
            "doc_b",
            _ppm_div(inter, union).alias("jaccard_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 32
_HAMMING_MAX = 3
_SIM_BANDS = 4  # pigeonhole: hamming<=3 ⇒ at least one of 4 bands equal


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per doc from md5-derived token hashes.

    Explode distinct tokens → 32 signed bit-votes aggregated per doc →
    majority bit. Explode+partial-agg keeps the shuffle at |doc|×32 ints.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.array_distinct(T.tokens("text"))).alias("token"))
    h = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
    votes = [
        F.sum(F.when(F.shiftright(h, j).bitwiseAND(1) == 1, 1).otherwise(-1)).alias(f"v{j}")
        for j in range(_SIMHASH_BITS)
    ]
    voted = tok.groupBy("doc_id").agg(*votes)
    simhash = None
    for j in range(_SIMHASH_BITS):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return voted.select("doc_id", simhash.cast("long").alias("simhash"))


def _duck_simhash_cte() -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(_SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS)
    )
    return f"""
    tok AS (
      SELECT doc_id, UNNEST(list_distinct({_DUCK_TOKENS})) AS token FROM documents),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT AS h FROM tok),
    voted AS (
      SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
    sim AS (
      SELECT doc_id, ({combine})::BIGINT AS simhash FROM voted)
    """


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_duck_simhash_cte()}
    SELECT doc_id, simhash FROM sim ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 32-bit SimHash (md5 bit votes) — cross-engine deterministic."""
    return _simhash_df(spark, sf_dir).orderBy("doc_id")


@register(
    "simhash_near_pairs",
    oracle=f"""
    WITH {_duck_simhash_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
    ORDER BY doc_a, doc_b
    """,
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3) via pigeonhole banding.

    Split the 32-bit hash into 4 bytes; any pair within hamming 3 must agree
    on >= 1 byte, so candidates come from an equi self-join on (band, byte) —
    never the O(n²) cross join the oracle (correctly, but unscalably) runs.
    """
    sim = _simhash_df(spark, sf_dir)
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright("simhash", 8 * b).bitwiseAND(0xFF).alias("chunk"),
                    )
                    for b in range(_SIM_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.b", "band.chunk")

    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sim_a"),
            F.col("y.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.filter(hamming <= _HAMMING_MAX)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

EMB_PAIR_BLOCKS = 8  # B: corpus splits; memory per task ~ 2/B of the corpus


@register(
    "embedding_near_pairs",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label_a, b.label AS label_b,
             list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i]))
               / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS cos
      FROM v a JOIN v b ON a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, label_a, label_b,
           CAST(ROUND(cos * 1000000) AS BIGINT) AS cosine_ppm
    FROM pairs
    WHERE CAST(ROUND(cos * 1000000) AS BIGINT) >= 450000
    ORDER BY vec_a, vec_b
    """,
)
def embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= 0.45, EXACT.

    The oracle states the naive all-pairs join; this executes it as a
    blocked block×block self-join with NO driver-side materialization:
    every vector lands in block ``vec_id % B``; a broadcast (B*(B+1)/2)-row
    block-pair table replicates each vector to its B pair-groups (a-side
    for its own block, b-side for every partner block); one
    ``applyInPandas`` per pair-group runs a float64 matmul over the two
    blocks and emits only ordered pairs at/above threshold.

    Scale shape: shuffle volume is n*(B+1) rows and task memory is 2
    blocks = 2n/B vectors, so B grows ~sqrt(corpus/executor-mem) while the
    driver holds nothing — vs the previous broadcast-whole-matrix variant,
    which OOMed the driver at scale. Each unordered pair is produced in
    exactly one group (min-block, max-block), so no post-dedup is needed.
    Float64 matmul agrees with the oracle's sequential fold far beyond the
    4-decimal rounding.
    """
    import numpy as np
    import pandas as pd

    B = EMB_PAIR_BLOCKS
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    blk = emb.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(B)).cast("int"))
    pairs = spark.createDataFrame(
        [(i, j) for i in range(B) for j in range(i, B)], "ba int, bb int"
    )
    a_side = blk.join(F.broadcast(pairs), F.col("blk") == F.col("ba")).select(
        "ba", "bb", F.lit("a").alias("side"), "vec_id", "label", "e"
    )
    b_side = blk.join(
        F.broadcast(pairs),
        (F.col("blk") == F.col("bb")) & (F.col("ba") != F.col("bb")),
    ).select("ba", "bb", F.lit("b").alias("side"), "vec_id", "label", "e")
    tagged = a_side.unionByName(b_side)

    out_schema = (
        "vec_a bigint, vec_b bigint, label_a int, label_b int, cosine_ppm bigint"
    )

    def score_pair(key, pdf):
        ba, bb = int(key[0]), int(key[1])
        left = pdf[pdf["side"] == "a"]
        right = left if ba == bb else pdf[pdf["side"] == "b"]
        if not len(left) or not len(right):
            return pd.DataFrame(
                {c: pd.Series(dtype=t) for c, t in (
                    ("vec_a", "int64"), ("vec_b", "int64"),
                    ("label_a", "int32"), ("label_b", "int32"),
                    ("cosine_ppm", "int64"),
                )}
            )
        ids_l = left["vec_id"].to_numpy()
        ids_r = right["vec_id"].to_numpy()
        lab_l = left["label"].to_numpy()
        lab_r = right["label"].to_numpy()
        ml = np.array(left["e"].tolist(), dtype=np.float64)
        ml /= np.linalg.norm(ml, axis=1, keepdims=True)
        if ba == bb:
            mr = ml
        else:
            mr = np.array(right["e"].tolist(), dtype=np.float64)
            mr /= np.linalg.norm(mr, axis=1, keepdims=True)
        # Half-up ppm quantization (floor(x*1e6+0.5)) — matches DuckDB's
        # ROUND (half away from zero) on the positive above-threshold range,
        # unlike np.round's banker's rounding.
        sims = np.floor(ml @ mr.T * 1_000_000 + 0.5)
        ii, jj = np.nonzero(sims >= 450_000)
        if ba == bb:  # upper triangle only (self-pairs excluded)
            keep = ids_l[ii] < ids_r[jj]
        else:  # cross-block: every (l, r) pair occurs once; drop nothing
            keep = np.ones(ii.shape, dtype=bool)
        ii, jj = ii[keep], jj[keep]
        ida, idb = ids_l[ii], ids_r[jj]
        la, lb = lab_l[ii], lab_r[jj]
        swap = ida > idb  # order output as (min_id, max_id)
        ida2 = np.where(swap, idb, ida)
        idb2 = np.where(swap, ida, idb)
        la2 = np.where(swap, lb, la)
        lb2 = np.where(swap, la, lb)
        return pd.DataFrame(
            {
                "vec_a": ida2,
                "vec_b": idb2,
                "label_a": la2,
                "label_b": lb2,
                "cosine_ppm": sims[ii, jj].astype(np.int64),
            }
        )

    return (
        tagged.groupBy("ba", "bb")
        .applyInPandas(score_pair, out_schema)
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# Winnowing (rolling-hash) document fingerprints
# ---------------------------------------------------------------------------

GRAM_CHARS = 8     # char k-gram size
WINNOW_WINDOW = 16  # grams per winnowing window


# Gram hash for winnowing: codepoint polynomial (base 131, codepoints mod
# 251, positions past end of string contribute 0) mixed by a multiplicative
# step mod the >2^32 prime. Integer-only, exactly reproducible in numpy
# (uint64, no overflow: max term 250*131^7*8 < 2^61) and in DuckDB SQL.
_WINNOW_P = 4294967311
_WINNOW_A = 1103515245
_DUCK_GRAM_TERMS = " + ".join(
    f"(coalesce(ascii(nullif(substr(s, (i + {r})::INT, 1), '')), 0) % 251)::BIGINT"
    f" * {131 ** (GRAM_CHARS - 1 - r)}::BIGINT"
    for r in range(GRAM_CHARS)
)


def _winnow_batches(batches):
    """Arrow-batched winnowing kernel: per doc, gram hashes + sliding-window
    min entirely in numpy — no per-gram rows ever exist."""
    import hashlib

    import numpy as np
    import pandas as pd

    pows = np.uint64(131) ** np.arange(GRAM_CHARS - 1, -1, -1, dtype=np.uint64)
    for pdf in batches:
        out = []
        for doc_id, s, n_chars in zip(pdf["doc_id"], pdf["s"], pdf["n_chars"]):
            cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64) % 251
            n_grams = max(int(n_chars) - (GRAM_CHARS - 1), 1)
            padded = np.concatenate([cp, np.zeros(GRAM_CHARS, dtype=np.uint64)])
            wins = np.lib.stride_tricks.sliding_window_view(padded, GRAM_CHARS)[:n_grams]
            h = (wins * pows).sum(axis=1) % _WINNOW_P * _WINNOW_A % _WINNOW_P
            if n_grams >= WINNOW_WINDOW:
                wm = np.lib.stride_tricks.sliding_window_view(h, WINNOW_WINDOW).min(axis=1)
            else:
                wm = h.min(keepdims=True)
            fps = np.unique(wm)
            digest = hashlib.md5("".join(str(int(v)) for v in fps).encode()).hexdigest()
            out.append((doc_id, n_grams, len(fps), digest))
        yield pd.DataFrame(
            out, columns=["doc_id", "n_grams", "n_fingerprints", "fp_digest"]
        )


@register(
    "winnowing_fingerprints",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS s
      FROM documents),
    grams AS (
      SELECT doc_id,
             list_transform(range(1, greatest(length(s) - {GRAM_CHARS - 1}, 1) + 1),
                            i -> (({_DUCK_GRAM_TERMS}) % {_WINNOW_P}::BIGINT)
                                 * {_WINNOW_A}::BIGINT % {_WINNOW_P}::BIGINT) AS gs
      FROM norm),
    winnowed AS (
      SELECT doc_id, gs,
             list_sort(list_distinct(
               list_transform(range(1, greatest(len(gs) - {WINNOW_WINDOW - 1}, 1) + 1),
                              w -> list_min(list_slice(gs, w::INT, w::INT + {WINNOW_WINDOW - 1})))
             )) AS fps
      FROM grams)
    SELECT doc_id,
           len(gs) AS n_grams,
           len(fps) AS n_fingerprints,
           md5(array_to_string(fps, '')) AS fp_digest
    FROM winnowed
    ORDER BY doc_id
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (MOSS-style rolling-hash selection):
    hash every char {GRAM_CHARS}-gram, slide a {WINNOW_WINDOW}-gram window,
    keep each window's minimum hash — the classic guarantee that any match
    of length >= window+gram-1 chars shares at least one fingerprint.

    This is the showcase for the vectorized-UDF escape hatch: the
    expression-only formulation must explode ~|chars| rows per doc through
    a shuffle just to run a windowed min (measured ~5.5s at sf0.1), while
    the semantics are embarrassingly per-doc. So: normalize in codegen
    (string semantics stay JVM/oracle-identical), then one Arrow batch per
    partition computes gram hashes and sliding mins in numpy over
    ``tables.fanned_documents`` — no per-gram row ever materializes or
    shuffles, ~4× faster, and the same shape scales to any corpus. The
    gram hash is integer polynomial mixing shared exactly with the DuckDB
    oracle (md5 would cost 12.5M hashlib calls per 5k docs in Python).
    """
    s = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    normed = fanned_documents(spark, sf_dir).select(
        "doc_id", s.alias("s"), F.length(s).alias("n_chars")
    )
    schema = (
        "doc_id long, n_grams long, n_fingerprints long, fp_digest string"
    )
    return normed.mapInPandas(_winnow_batches, schema).orderBy("doc_id")


# ---------------------------------------------------------------------------
# spark.ml LSH variant (library path; custom LSH above stays the oracle path)
# ---------------------------------------------------------------------------

@register(
    "dedup_minhash_ml",
    oracle=f"""
    WITH {_DUCK_J08_CTES.format(tokens=_DUCK_TOKENS, shingles=_DUCK_SHINGLES2)}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs, TRUE AS recall_ge_70pct
    FROM j08
    """,
)
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates via ``spark.ml`` MinHashLSH + approxSimilarityJoin
    (SURVEY §2.10's library mapping), seeded for run-to-run determinism,
    verdict-checked against the exact ground truth in-query.

    Complements the hand-rolled md5 MinHash above: same banding theory, but
    hashing/banding live in the JVM library and the join is the built-in
    ``approxSimilarityJoin`` (distCol = exact Jaccard distance on the sparse
    vectors, so candidate *filtering* is exact even though candidate
    *generation* is approximate). The ml hash family's coefficients aren't
    replayable in SQL, so the driver-checkable contract is the RECALL bound:
    the output is one row (n_true_pairs, recall_ge_70pct) where the truth
    set is the exact >=0.8 2-gram-Jaccard pairs (``ngram_jaccard_pairs``,
    whose SQL twin the oracle re-states) and the verdict asserts the LSH
    candidates cover >=70% of it. With numHashTables=3 the per-pair miss
    probability at s>=0.8 is (1-s)^3 <= 0.8%, and the seeded hash family
    makes the realized recall deterministic; the 70% threshold is
    deliberately below the ~99% expectation so a SMALL truth set on some
    future corpus (where one unlucky pair is a large recall fraction)
    cannot flip the verdict, while a real LSH regression (recall ~0) still
    goes hash-red in the driver — the oracle recomputes n_true_pairs and
    expects TRUE. The TIGHT committed-corpus bound lives in
    tests/test_dedup.py::test_ml_minhash_recall_vs_exact, which recomputes
    the raw candidate-set recall from the same seeded pipeline and
    requires >= 90% — catching regressions the loose production verdict
    tolerates. tests/test_dedup.py keeps the raw candidate-set recall
    check. The distance threshold is 0.25 (not 0.2) so truth pairs sitting
    exactly at Jaccard 0.8 can't be dropped by the exact-distance filter
    before the recall count.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", _shingles2("text").alias("shs")).filter(
        F.size("shs") > 0
    )
    tf = HashingTF(inputCol="shs", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(sh)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=3, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.25, distCol="jaccard_dist")
    cand = (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()  # guard: one row per candidate pair before the left join
        .withColumn("hit", F.lit(1))
    )
    truth = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return truth.join(cand, ["doc_a", "doc_b"], "left").agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        (
            F.coalesce(F.sum("hit"), F.lit(0)) * 10
            >= F.count(F.lit(1)) * 7
        ).alias("recall_ge_70pct"),
    )


# ---------------------------------------------------------------------------
# Dedup clustering: connected components over the near-dup pair graph
# ---------------------------------------------------------------------------

def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: connect every neighbor LARGER than u to the
    minimum of u's closed neighborhood. This is the skew-killer: a hot
    vertex's whole fringe re-attaches directly to the component min in one
    round, halving long chains instead of walking them."""
    from pyspark.sql import Window

    both = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = F.least(F.col("u"), F.min("v").over(Window.partitionBy("u")))
    return (
        both.select("u", "v", m.alias("m"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient edges (larger, smaller), then connect u
    and all its smaller neighbors to the minimum of the closed
    neighborhood."""
    from pyspark.sql import Window

    orient = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    d = orient.select(
        "u", "v", F.least(F.col("u"), F.min("v").over(Window.partitionBy("u"))).alias("m")
    )
    nbrs = d.select(F.col("v").alias("u"), F.col("m").alias("v"))
    selfs = d.select("u", F.col("m").alias("v")).distinct()
    return nbrs.unionByName(selfs).filter(F.col("u") != F.col("v")).distinct()


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Large-star/small-star connected components: (src, dst) undirected
    edges → (id, label) with label = min vertex id in the component.

    The alternating star rewrites (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) converge in O(log n) rounds even on
    skewed/long-diameter graphs — vs. diameter rounds for plain min-label
    propagation, whose hot-vertex neighborhoods also all collide in one
    reduce task every round. Here each round is two window-over-shuffle
    passes plus a distinct; ``localCheckpoint`` truncates lineage per round
    so the plan stays flat no matter the round count. Convergence = the
    small-star output equals its input (checked with two LIMIT-1
    anti-semi-joins, not a full count).

    At convergence the edge set is a star forest (child → component min);
    labels read off directly, roots labeling themselves.
    """
    # The edge list is computed once: ``verts`` and the first round's edges
    # both read this one eager checkpoint, not the (costly) upstream plan.
    raw = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).localCheckpoint(eager=True)
    # Vertices come from the RAW edge list: a vertex whose only edges are
    # self-loops must still appear in the output (labeled by itself), so it
    # is collected before self-loops are dropped from the propagation set.
    verts = (
        raw.select(F.col("u").alias("id"))
        .unionByName(raw.select(F.col("v").alias("id")))
        .distinct()
    )
    e = raw.filter(F.col("u") != F.col("v")).distinct()
    for _ in range(max_iter):
        # Lazy checkpoint + a single symmetric-difference action per round:
        # the convergence count materializes the checkpoint as a side
        # effect, so each iteration costs ONE Spark job (the eager-
        # checkpoint + two-anti-join form ran three, and on the tiny
        # near-dup graphs this loop is scheduling-bound, not data-bound).
        new_e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        changed = (
            new_e.exceptAll(e)
            .unionByName(e.exceptAll(new_e))
            .limit(1)
            .count()
        )
        e = new_e
        if changed == 0:
            stars = e.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("label"))
            return (
                verts.join(stars, "id", "left")
                .select("id", F.coalesce("label", "id").alias("label"))
            )
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


@register(
    "dedup_cluster_assignment",
    oracle=f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents),
    sh AS (
      SELECT doc_id, {_DUCK_SHINGLES2} AS shs FROM tok),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a
      JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.shs, b.shs)) * 1.0
            / len(list_distinct(a.shs || b.shs)) >= 0.8),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
    labeled AS (
      SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src)
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM labeled
    ORDER BY doc_id
    """,
)
def dedup_cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: union-find over the exact-Jaccard(>=0.8) near-dup
    graph, each doc labeled with its component's min doc_id (the canonical
    survivor) plus the component size. Transitive: A~B and B~C cluster
    A,B,C together even when A and C themselves are below threshold —
    which pairwise dedup queries cannot express.

    The pair graph comes from the PPJoin-filtered ``ngram_jaccard_pairs``
    plan; components are computed by the iterative propagation above (the
    oracle states the same fixpoint as a recursive CTE — transitive
    closure is fine for DuckDB at test scale, quadratic at real scale,
    which is exactly why the engine iterates instead).
    """
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    labels = connected_components(edges)
    w = Window.partitionBy("cluster_id")
    return (
        labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Incremental (new-batch vs corpus) dedup
# ---------------------------------------------------------------------------

_INCR_NEW_MOD = 7  # doc_id % 10 == 7 plays the incoming batch (~10% of docs)


@register(
    "incremental_batch_dedup",
    oracle=f"""
    WITH newb AS (SELECT * FROM documents WHERE doc_id % 10 = {_INCR_NEW_MOD}),
    corp AS (SELECT * FROM documents WHERE doc_id % 10 <> {_INCR_NEW_MOD}),
    nfp AS (
      SELECT doc_id,
             sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM newb),
    cfp AS (
      SELECT doc_id,
             sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM corp),
    exact AS (
      SELECT n.doc_id, MIN(c.doc_id) AS match_doc
      FROM nfp n JOIN cfp c ON n.fp = c.fp GROUP BY n.doc_id),
    ntok AS (SELECT doc_id, {{tokens}} AS ts FROM newb),
    ctok AS (SELECT doc_id, {{tokens}} AS ts FROM corp),
    nsh AS (SELECT doc_id, {{sh2}} AS shs FROM ntok),
    csh AS (SELECT doc_id, {{sh2}} AS shs FROM ctok),
    -- sparse batch x corpus similarity (same argument as _DUCK_J08_CTES:
    -- zero-overlap pairs can never pass c*5 >= u*4, so the shingle
    -- equi-join loses nothing and parallelizes where the naive
    -- list_intersect theta-join probes 2.25M pairs on one thread)
    nx AS (SELECT doc_id, unnest(shs) AS s FROM nsh),
    cx AS (SELECT doc_id, unnest(shs) AS s FROM csh),
    nn AS (SELECT doc_id, len(shs) AS n FROM nsh),
    cn AS (SELECT doc_id, len(shs) AS n FROM csh),
    co AS (
      SELECT a.doc_id, b.doc_id AS match_doc, COUNT(*) AS c
      FROM nx a JOIN cx b ON a.s = b.s GROUP BY 1, 2),
    near AS (
      SELECT co.doc_id, co.match_doc,
             c * 1000000 // (nn.n + cn.n - c) AS j_ppm
      FROM co
      JOIN nn ON co.doc_id = nn.doc_id
      JOIN cn ON co.match_doc = cn.doc_id
      WHERE c * 5 >= (nn.n + cn.n - c) * 4),
    best AS (
      SELECT doc_id, match_doc, j_ppm,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY j_ppm DESC, match_doc) AS rn
      FROM near)
    SELECT n.doc_id AS new_doc,
           CASE WHEN e.match_doc IS NOT NULL THEN 'exact_dup'
                WHEN b.match_doc IS NOT NULL THEN 'near_dup'
                ELSE 'unique' END AS verdict,
           COALESCE(e.match_doc, b.match_doc) AS match_doc,
           CASE WHEN e.match_doc IS NULL THEN b.j_ppm END AS jaccard_ppm
    FROM newb n
    LEFT JOIN exact e ON e.doc_id = n.doc_id
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.doc_id = n.doc_id
    ORDER BY new_doc
    """.format(
        tokens=_DUCK_TOKENS, sh2=_DUCK_SHINGLES2
    ),
)
def incremental_batch_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-ingest dedup: score an incoming batch (doc_id % 10 =
    {_INCR_NEW_MOD}) against the existing corpus ONLY — never corpus ×
    corpus. Each new doc gets a verdict: ``exact_dup`` (normalized sha256
    fingerprint already present; match = smallest holder), ``near_dup``
    (2-gram Jaccard ≥ 0.8 with some corpus doc; match = highest-Jaccard,
    then smallest id), else ``unique``.

    Scale shape: the exact pass broadcasts the (small) batch fingerprints
    against the corpus scan. The near pass is the PPJoin prefix-filtered
    similarity join of ``ngram_jaccard_pairs`` restricted to cross-side
    candidates: the rarest-first prefix order is built over the UNION of
    corpus and batch (any shared total order is valid for the prefix
    theorem), so the candidate join's right side stays the ~10% batch and
    the corpus is never self-joined. Verification uses hash-encoded int
    arrays (xxhash64 ids — nothing vocabulary-sized is ever sorted in one
    task or broadcast); the only broadcast is the batch-sized fingerprint
    and verdict tables.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == _INCR_NEW_MOD
    newb = docs.filter(is_new)

    # --- exact: normalized fingerprint, batch side broadcast -------------
    nfp = newb.select(F.col("doc_id").alias("new_doc"), T.fingerprint("text").alias("fp"))
    cfp = docs.filter(~is_new).select(
        F.col("doc_id").alias("corp_doc"), T.fingerprint("text").alias("fp")
    )
    exact = (
        cfp.join(F.broadcast(nfp), "fp")
        .groupBy("new_doc")
        .agg(F.min("corp_doc").alias("exact_match"))
    )

    # --- near: cross-side PPJoin (prefix + size + positional filters) ----
    distinct_sh = _exploded_shingles2(docs).distinct().withColumnRenamed("sh", "s")
    per_doc = Window.partitionBy("doc_id")
    # Shingle ids are 64-bit content hashes (xxhash64) and df comes from a
    # window over the shuffle-by-shingle pass: no corpus-vocabulary global
    # row_number (one-task bottleneck) and no vocabulary-sized broadcast —
    # the dictionary scaled with CORPUS vocabulary, not batch size, so
    # broadcasting it contradicted the incremental design.
    encoded_h = (
        distinct_sh.withColumn("n", F.count(F.lit(1)).over(per_doc))
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("s")))
        .withColumn("sid", F.xxhash64("s"))
        .localCheckpoint(eager=True)
    )
    chk = encoded_h.agg(
        F.countDistinct("s").alias("ns"), F.countDistinct("sid").alias("nh")
    ).first()
    if chk.ns != chk.nh:
        raise ValueError(
            "xxhash64 shingle-id collision detected; rerun with a dictionary encoding"
        )
    encoded = encoded_h.select("doc_id", "n", "df", "sid")
    rarest = Window.partitionBy("doc_id").orderBy("df", "sid")
    prefix = (
        encoded.withColumn("rn", F.row_number().over(rarest))
        .filter(F.col("rn") <= F.col("n") - F.ceil(F.col("n") * 0.8) + 1)
        .select("doc_id", "n", "rn", "sid")
    )
    pnew = prefix.filter(F.col("doc_id") % 10 == _INCR_NEW_MOD)
    pcorp = prefix.filter(F.col("doc_id") % 10 != _INCR_NEW_MOD)
    # ceil(t/(1+t) * (|A|+|B|)) with t=0.8, i.e. ceil(4s/9) — computed in
    # exact arithmetic: the IEEE constant 0.8/1.8 rounds UP from 4/9, so
    # s*(0.8/1.8) overshoots the integer whenever 9 | s and the ceil demands
    # one more overlapping element than Jaccard=0.8 pairs can have (false
    # negatives vs the oracle). 4*s is exact in double and correctly-rounded
    # division by 9.0 cannot cross an integer boundary.
    overlap_needed = F.ceil((4 * (F.col("a.n") + F.col("b.n"))) / F.lit(9.0))
    overlap_possible = 1 + F.least(
        F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn")
    )
    cand = (
        pnew.alias("a")
        .join(
            pcorp.alias("b"),
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("b.n") * 0.8 <= F.col("a.n"))
            & (F.col("a.n") * 0.8 <= F.col("b.n"))
            & (overlap_possible >= overlap_needed),
        )
        .select(F.col("a.doc_id").alias("new_doc"), F.col("b.doc_id").alias("corp_doc"))
        .distinct()
    )
    shs = encoded.groupBy("doc_id").agg(F.collect_list("sid").alias("shs"))
    sa = shs.select(F.col("doc_id").alias("new_doc"), F.col("shs").alias("shs_a"))
    sb = shs.select(F.col("doc_id").alias("corp_doc"), F.col("shs").alias("shs_b"))
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    union = F.size("shs_a") + F.size("shs_b") - inter
    w_best = Window.partitionBy("new_doc").orderBy(F.desc("j_ppm"), "corp_doc")
    # No explicit broadcast on the shingle-array sides: sb spans the ~90%
    # corpus, and forcing it to broadcast would ship the whole corpus index
    # to every executor — the exact failure the incremental design avoids.
    # The candidate set is the small side; AQE picks the build side at test
    # scale, and at production scale these are plain shuffled hash joins
    # keyed by doc id.
    near = (
        cand.join(sa, "new_doc")
        .join(sb, "corp_doc")
        .filter(inter * 5 >= union * 4)
        .select(
            "new_doc",
            "corp_doc",
            _ppm_div(inter, union).alias("j_ppm"),
        )
        .withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("new_doc", F.col("corp_doc").alias("near_match"), "j_ppm")
    )

    return (
        newb.select(F.col("doc_id").alias("new_doc"))
        .join(F.broadcast(exact), "new_doc", "left")
        .join(F.broadcast(near), "new_doc", "left")
        .select(
            "new_doc",
            F.when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
            F.coalesce("exact_match", "near_match").alias("match_doc"),
            F.when(F.col("exact_match").isNull(), F.col("j_ppm")).alias("jaccard_ppm"),
        )
        .orderBy("new_doc")
    )


@register(
    "source_dup_rates",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source,
             sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents),
    fam AS (
      SELECT fp, COUNT(*) AS n_copies, MIN(doc_id) AS survivor FROM fp GROUP BY fp)
    SELECT f.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN m.n_copies > 1 AND f.doc_id <> m.survivor
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant,
           CAST(SUM(CASE WHEN m.n_copies > 1 AND f.doc_id <> m.survivor
               THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS dup_rate_ppm
    FROM fp f JOIN fam m ON f.fp = m.fp
    GROUP BY f.source
    ORDER BY f.source
    """,
)
def source_dup_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication dashboard: the share of each source's docs
    that are redundant copies (same normalized fingerprint, not the
    min-doc_id survivor) — the ingest-health rollup that tells a pipeline
    operator WHICH feed is re-sending content.

    Scale shape: one fingerprint aggregate (map-side combinable) joined
    back on the 32-byte fingerprint — the join is the standard self-join-
    on-derived-key shape and shuffles each row once; the per-source tally
    combines map-side. Ratios divide exact integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", "source", T.fingerprint("text").alias("fp"))
    fam = fp.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("survivor")
    )
    redundant = F.when(
        (F.col("n_copies") > 1) & (F.col("doc_id") != F.col("survivor")), 1
    ).otherwise(0)
    return (
        fp.join(fam, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(redundant).alias("n_redundant"),
        )
        .withColumn("dup_rate_ppm", F.expr("n_redundant * 1000000 DIV n_docs"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Bloom-filter dedup pre-screen (the 100 TB membership-test path)
# ---------------------------------------------------------------------------

_BLOOM_M = 4096  # bits — sized so the test corpus shows real false positives
_BLOOM_K = 4     # hash functions
_BLOOM_WORD = 32  # bits per bitmap word (masks stay positive in BIGINT)


def bloom_positions(fp_col: Column) -> Column:
    """The {_BLOOM_K} md5-derived bit positions of a fingerprint — shared by
    the batch ``bloom_dedup_precheck`` operator and the streaming
    ``stream_bloom_update`` pipeline so both faces maintain the SAME bitmap
    (and DuckDB computes identical positions for the oracle)."""
    return F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(fp_col, F.lit(f":{i}"))), 1, 8), 16, 10
            ).cast("long")
            % _BLOOM_M
            for i in range(_BLOOM_K)
        ]
    )


def bloom_bitmap(fps: DataFrame) -> DataFrame:
    """(word, bits) Bloom bitmap from a one-column ``fp`` DataFrame: one
    map-side-combinable ``bit_or`` into a fixed ≤{_BLOOM_M // _BLOOM_WORD}-row
    table — always broadcastable, size-independent of the corpus."""
    return (
        fps.select(F.explode(bloom_positions(F.col("fp"))).alias("pos"))
        .groupBy(F.expr(f"pos DIV {_BLOOM_WORD}").alias("word"))
        .agg(
            F.bit_or(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD} AS INT))")
            ).alias("bits")
        )
    )


@register(
    "bloom_dedup_precheck",
    oracle=f"""
    WITH newb AS (SELECT doc_id FROM documents WHERE doc_id % 10 = {_INCR_NEW_MOD}),
    nfp AS (
      SELECT doc_id,
             sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents WHERE doc_id % 10 = {_INCR_NEW_MOD}),
    cfp AS (
      SELECT DISTINCT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents WHERE doc_id % 10 <> {_INCR_NEW_MOD}),
    cpos AS (
      SELECT CAST(('0x' || substr(md5(fp || ':' || s.i), 1, 8)) AS BIGINT)
               % {_BLOOM_M} AS pos
      FROM cfp, (SELECT unnest(range({_BLOOM_K})) AS i) s),
    bloom AS (
      SELECT pos // {_BLOOM_WORD} AS word,
             bit_or(1::BIGINT << CAST(pos % {_BLOOM_WORD} AS INT)) AS bits
      FROM cpos GROUP BY 1),
    npos AS (
      SELECT n.doc_id, n.fp,
             CAST(('0x' || substr(md5(n.fp || ':' || s.i), 1, 8)) AS BIGINT)
               % {_BLOOM_M} AS pos
      FROM nfp n, (SELECT unnest(range({_BLOOM_K})) AS i) s),
    probe AS (
      SELECT p.doc_id, p.fp,
             MIN(CASE WHEN (COALESCE(b.bits, 0) >> CAST(p.pos % {_BLOOM_WORD} AS INT))
                           & 1 = 1
                      THEN 1 ELSE 0 END) AS all_set
      FROM npos p LEFT JOIN bloom b ON b.word = p.pos // {_BLOOM_WORD}
      GROUP BY p.doc_id, p.fp)
    SELECT pr.doc_id AS new_doc,
           pr.all_set = 1 AS bloom_hit,
           EXISTS (SELECT 1 FROM cfp c WHERE c.fp = pr.fp) AS true_dup
    FROM probe pr
    ORDER BY new_doc
    """,
)
def bloom_dedup_precheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-screen for incremental exact dedup: a fixed-size
    bitmap over the corpus's normalized fingerprints answers "definitely
    new" for most of an incoming batch WITHOUT joining against the corpus.

    This is the 100 TB membership-test path: the full fingerprint set is
    corpus-sized (unjoinable without a corpus-wide shuffle per batch), but
    the Bloom bitmap is fixed at m bits regardless of corpus size — built
    with one map-side-combinable ``bit_or`` aggregate over (fingerprint ×
    k) bit positions, then **broadcast** to probe the batch. Only
    bloom-hit docs (true dups + the bounded false-positive tail) ever
    reach the exact verification join. PySpark exposes no
    ``df.stat.bloomFilter``, and a JVM sketch would not be
    oracle-checkable anyway — the md5-derived positions used here make
    the whole filter a deterministic relational expression both engines
    compute bit-identically.

    Guarantee (tests/test_dedup.py): no false negatives — every true dup
    is a bloom hit; the false-positive rate is bounded by the classic
    (1-e^(-kn/m))^k with m={_BLOOM_M}, k={_BLOOM_K} (m sized down for the
    test corpus so the FP path is actually exercised; production sizes m
    to the corpus cardinality at ~10 bits/key for <1% FP).
    """
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == _INCR_NEW_MOD
    nfp = docs.filter(is_new).select(
        F.col("doc_id").alias("new_doc"), T.fingerprint("text").alias("fp")
    )
    cfp_all = docs.filter(~is_new).select(T.fingerprint("text").alias("fp"))
    # the bitmap absorbs duplicate fingerprints (bit_or is idempotent),
    # so its leg skips the corpus-wide distinct exchange outright — the
    # per-partition partial bit_or already reduces each partition to
    # <= m/64 word rows before any shuffle (round 17; guide §2.4). The
    # exact-verify side keeps distinct: its partial dedup shrinks the
    # corpus fingerprints map-side before the semi-join shuffle.
    bloom = bloom_bitmap(cfp_all)
    cfp = cfp_all.distinct()
    probe = (
        nfp.select("new_doc", "fp", F.explode(bloom_positions(F.col("fp"))).alias("pos"))
        .join(
            F.broadcast(bloom),
            F.expr(f"pos DIV {_BLOOM_WORD}") == F.col("word"),
            "left",
        )
        .groupBy("new_doc", "fp")
        .agg(
            (
                F.min(
                    F.expr(
                        f"CASE WHEN shiftright(COALESCE(bits, CAST(0 AS BIGINT)),"
                        f" CAST(pos % {_BLOOM_WORD} AS INT)) & 1 = 1"
                        f" THEN 1 ELSE 0 END"
                    )
                )
                == 1
            ).alias("bloom_hit"),
        )
    )
    # Materialize the batch-sized probe result once (round 17): both the
    # hit slice and the final assembly consume it, and without the
    # checkpoint the whole scan + bloom-build + probe subtree executes
    # TWICE (the same double-compute class the cross-codec gate fixed).
    probe = probe.localCheckpoint(eager=False)
    # Exact verification ships ONLY the bloom-hit slice to the corpus join;
    # a left-semi marks the genuine dups.
    hits = probe.filter(F.col("bloom_hit")).join(cfp, "fp", "left_semi").select(
        "new_doc", F.lit(True).alias("true_dup")
    )
    return (
        probe.join(hits, "new_doc", "left")
        .select(
            "new_doc",
            "bloom_hit",
            F.coalesce("true_dup", F.lit(False)).alias("true_dup"),
        )
        .orderBy("new_doc")
    )


# ---------------------------------------------------------------------------
# Canonical-survivor selection (the dedup emit list)
# ---------------------------------------------------------------------------


@register(
    "dedup_keep_selection",
    oracle=f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents),
    sh AS (
      SELECT doc_id, {_DUCK_SHINGLES2} AS shs FROM tok),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a
      JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.shs, b.shs)) * 1.0
            / len(list_distinct(a.shs || b.shs)) >= 0.8),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
    labeled AS (
      SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src),
    everydoc AS (
      SELECT d.doc_id, d.n_chars,
             COALESCE(l.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN labeled l USING (doc_id)),
    ranked AS (
      SELECT doc_id, cluster_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
             FIRST_VALUE(doc_id) OVER (
               PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING) AS kept_doc
      FROM everydoc)
    SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
           (rn = 1) AS keep, kept_doc
    FROM ranked
    ORDER BY doc_id
    """,
)
def dedup_keep_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's actual OUTPUT: for every document, its near-dup
    cluster, the cluster's canonical survivor, and a keep/drop verdict —
    the longest doc wins (ties to the smallest doc_id), the curation
    heuristic that preserves the most content per duplicate family.
    Completes the chain ``ngram_jaccard_pairs`` (edges) →
    ``dedup_cluster_assignment`` (components) → the emit list a training
    run consumes; singleton docs are their own cluster and always kept.

    Scale shape: same PPJoin-filtered pair graph + large-star/small-star
    components as the upstream queries; the survivor choice adds one
    window keyed by cluster_id — bounded by the largest duplicate family,
    which near-dup graphs keep small (the oracle's transitive-closure CTE
    is the test-scale statement of the same fixpoint)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    labels = connected_components(edges)
    everydoc = (
        docs.join(labels, docs["doc_id"] == labels["id"], "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id")
    wo = w.orderBy(F.desc("n_chars"), "doc_id")
    wfull = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        everydoc.withColumn("rn", F.row_number().over(wo))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("kept_doc", F.first("doc_id").over(wfull))
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("rn") == 1).alias("keep"),
            "kept_doc",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Soft dedup: downweight duplicates instead of dropping them (round 12)
# ---------------------------------------------------------------------------

@register(
    "dedup_soft_weights",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source,
             sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
      FROM documents),
    gs AS (SELECT f, COUNT(*) AS group_size FROM fp GROUP BY f),
    w AS (
      SELECT fp.doc_id, fp.source, gs.group_size,
             CAST(1000000 // gs.group_size AS BIGINT) AS weight_ppm
      FROM fp JOIN gs USING (f))
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN group_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_in_dup_groups,
           CAST(SUM(weight_ppm) AS BIGINT) AS effective_docs_ppm,
           CAST(SUM(weight_ppm) // COUNT(*) AS BIGINT) AS mean_weight_ppm,
           CAST(MIN(weight_ppm) AS BIGINT) AS min_weight_ppm
    FROM w
    GROUP BY source
    ORDER BY source
    """,
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup — the downweight-instead-of-drop policy (cf. SoftDedup,
    He et al. 2024: keep every copy but scale its training weight by
    1/group-size, so duplicated content contributes one document's worth
    of gradient in aggregate while unique phrasing in near-identical
    pages is not destroyed). Weights derive from the exact normalized
    fingerprint groups of ``dedup_exact``; the report is the per-source
    reweighting dashboard: effective document mass (Σ 1/size, in ppm of
    a document), duplicate-group membership, and the harshest downweight.

    Scale shape: one fingerprint groupBy (map-side combinable: only
    (fp, count) crosses the wire) joined back onto the fingerprint rows —
    AQE broadcasts the group-size side when it fits, else the join keys
    on the fingerprint both sides already hashed; the per-source rollup
    is tiny. Integer ppm throughout."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", "source", T.fingerprint("text").alias("f"))
    gs = fp.groupBy("f").agg(F.count(F.lit(1)).alias("group_size"))
    w = fp.join(gs, "f").select(
        "source",
        "group_size",
        F.expr("1000000 DIV group_size").alias("weight_ppm"),
    )
    return (
        w.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("group_size") > 1, 1).otherwise(0)
            ).alias("n_in_dup_groups"),
            F.sum("weight_ppm").alias("effective_docs_ppm"),
            F.expr("sum(weight_ppm) DIV count(1)").alias("mean_weight_ppm"),
            F.min("weight_ppm").alias("min_weight_ppm"),
        )
        .orderBy("source")
    )
