"""Corpus-preparation operators a large-scale pretraining pipeline needs.

Beyond per-doc text stats (``textstats.py``) and near-dup detection
(``dedup.py``), a production training-data pipeline runs corpus-level
hygiene passes: intra-document repetition scoring, cross-document
boilerplate mining, eval-set contamination checks, sequence-packing
planning, and tokenizer-vocabulary coverage. Each is expressed as
declarative DataFrame ops (explode → codegen projections → map-side
combinable aggregations) with a DuckDB oracle.

Reference scope note: the reference repo (626 LoC ingestion scripts) has no
corpus analytics; these extend the engine along SURVEY §6's
"LLM-data-pipeline operators" axis.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from input_data_pipeline_spark.functions import text as T
from input_data_pipeline_spark.plans.registry import register
from input_data_pipeline_spark.tables import (
    corpus_cached,
    fanned_documents,
    load_table,
)

from input_data_pipeline_spark.functions.text import (
    DUCK_TOKENS as _DUCK_TOKENS,
)

# k-gram fragments that yield EMPTY lists for docs shorter than k tokens
# (range(1, n-k+1) is empty when n < k) — mirrored exactly by the Spark
# lead-window form below, which drops rows whose lookahead is null.
_DUCK_SH2 = (
    "list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])"
)
_DUCK_SH3 = (
    "list_transform(range(1, len(ts) - 1), "
    "i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])"
)
_DUCK_SH5 = (
    "list_transform(range(1, len(ts) - 3), "
    "i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] || ' ' "
    "|| ts[i + 3] || ' ' || ts[i + 4])"
)


def corpus_token_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared exploded token index ``(doc_id, source, pos, tok)``, built and
    persisted ONCE per (session, corpus) and reused by the corpus-hygiene
    queries that need POSITIONED token rows — the OOV audit and the
    chunk-grain curation passes — instead of each re-reading and
    re-splitting documents. (The k-gram miners stopped consuming it in
    round 17: their shingles assemble map-side from the token array,
    which beats paying the index's per-query window exchange + sort.)

    100 TB shape: the in-memory stand-in for a PERSISTED shingle index — a
    parquet table bucketed by doc_id, written once per corpus snapshot and
    scanned by every hygiene pass (the cross-query promotion of the
    localCheckpointed per-run index inside ``contamination_overlap``).
    MEMORY_AND_DISK so an index bigger than executor memory degrades to
    local spill, never OOM. Held in the session cache
    (``tables.corpus_cached``): ``invalidate_table_cache`` drops it.
    """
    from pyspark import StorageLevel

    def build() -> DataFrame:
        # Deliberately NOT repartitioned by doc_id beyond the per-core
        # fan-out: shuffling the full token rows before persist costs more
        # than the per-consumer window exchanges it would save (measured
        # 7.6 s vs 3.9 s for the contamination pass at sf0.1); the
        # production analogue is a doc_id-bucketed parquet index, where the
        # bucketing cost is paid once per snapshot, not per session.
        docs = fanned_documents(spark, sf_dir)
        return docs.select(
            "doc_id", "source", F.posexplode(T.tokens("text")).alias("pos", "tok")
        ).persist(StorageLevel.MEMORY_AND_DISK)

    return corpus_cached(spark, sf_dir, "token_index", build)


def _kgrams_map_only(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, sh) rows of k-word shingles, fully map-side: tokenize,
    slice/array_join per position, explode — no window, no exchange
    (round 17; replaces the lead-window form over the token index, which
    paid a full exchange + sort of the exploded token rows per query).
    Docs with < k tokens emit nothing (matching the DuckDB range()
    fragment; the ``where`` also guards ``sequence``'s descending-range
    behavior for short docs). Same strings as the window form: position
    i yields tokens[i..i+k-1] joined by single spaces."""
    t = T.tokens("text")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(t) - (k - 1)),
        lambda i: F.array_join(F.slice(t, i, k), " "),
    )
    return docs.where(F.size(t) >= k).select(
        "doc_id", F.explode(shingles).alias("sh")
    )


# ---------------------------------------------------------------------------
# Intra-document repetition (boilerplate / degenerate-generation detector)
# ---------------------------------------------------------------------------

# re.ASCII: Python's \s is Unicode-aware by default, but Java regex
# (T.tokens) and RE2 (the oracle) treat \s as ASCII whitespace — without
# the flag a U+00A0 in a doc would split here but not there.
_WS_ASCII = __import__("re").compile(r"\s+", __import__("re").ASCII)


def rep_stats(text: str | None) -> tuple[int, int] | None:
    """Per-doc max-repeated-3-gram stats: ``(max_repeat, n_shingles)``, or
    None for docs with < 3 tokens.

    THE shared scoring routine of the batch ``intradoc_repetition``
    operator and the streaming hygiene gate
    (``streaming/pipelines.py::stream_corpus_hygiene``) — batch backfills
    and the live stream score repetition identically by construction.
    """
    from collections import Counter

    toks = [t for t in _WS_ASCII.split(text or "") if t]
    if len(toks) < 3:
        return None
    counts = Counter(zip(toks, toks[1:], toks[2:]))
    return max(counts.values()), len(toks) - 2


@register(
    "intradoc_repetition",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents),
    sh AS (SELECT doc_id, unnest({_DUCK_SH3}) AS sh FROM tok),
    per_sh AS (
      SELECT doc_id, sh, COUNT(*) AS c FROM sh GROUP BY doc_id, sh),
    per_doc AS (
      SELECT doc_id, MAX(c) AS max_repeat, SUM(c) AS n_shingles
      FROM per_sh GROUP BY doc_id)
    SELECT doc_id, max_repeat, CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(max_repeat * 1000000 // n_shingles AS BIGINT) AS repeat_ratio_ppm
    FROM per_doc
    ORDER BY repeat_ratio_ppm DESC, doc_id
    LIMIT 100
    """,
)
def intradoc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition score: the most-repeated word 3-gram's share of
    all 3-grams — the standard filter for boilerplate-heavy or
    degenerate/looping text before pretraining.

    Scale shape: the semantics are strictly per-document, so the count runs
    as a map-only Arrow kernel (one Counter pass per doc — the same lesson
    as winnowing: no explode, no (doc, shingle) shuffle; an exploded
    window+two-aggregation form measured 5.1 s vs ~1 s for this kernel at
    sf0.1). Only (doc_id, two ints) rows reach the final top-100, which is
    a TakeOrderedAndProject, never a full sort. The ratio divides two exact
    integers, so both engines derive the identical double.
    """
    docs = load_table(spark, sf_dir, "documents")

    def score(batches):
        import pandas as pd

        for pdf in batches:
            out_id, out_max, out_n = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                s = rep_stats(text)
                if s is None:
                    continue
                out_id.append(doc_id)
                out_max.append(s[0])
                out_n.append(s[1])
            yield pd.DataFrame(
                {"doc_id": out_id, "max_repeat": out_max, "n_shingles": out_n}
            )

    return (
        docs.select("doc_id", "text")
        .mapInPandas(score, "doc_id bigint, max_repeat bigint, n_shingles bigint")
        .select(
            "doc_id",
            "max_repeat",
            "n_shingles",
            F.expr("max_repeat * 1000000 DIV n_shingles").alias("repeat_ratio_ppm"),
        )
        .orderBy(F.desc("repeat_ratio_ppm"), "doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Cross-document boilerplate mining
# ---------------------------------------------------------------------------

@register(
    "corpus_boilerplate_shingles",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents),
    sh AS (SELECT DISTINCT doc_id, unnest({_DUCK_SH2}) AS sh FROM tok),
    df AS (SELECT sh, COUNT(*) AS doc_freq FROM sh GROUP BY sh),
    total AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT sh, doc_freq,
           doc_freq * 1000000 // n_docs AS df_ratio_ppm
    FROM df, total
    WHERE doc_freq * 20 >= n_docs
    ORDER BY doc_freq DESC, sh
    """,
)
def corpus_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: word bigrams present in ≥ 5% of all documents —
    headers/footers/licence blurbs that should be stripped before training.

    Scale shape: distinct (doc, shingle) then a count keyed by shingle —
    both combine map-side, and high-frequency shingles are mere counters
    (no row fan-out, so shingle skew is harmless). The corpus size joins in
    as a broadcast single-row aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))  # metadata-only scan
    df = (
        _kgrams_map_only(fanned_documents(spark, sf_dir), 2)
        .distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    return (
        df.crossJoin(F.broadcast(total))
        .filter(F.col("doc_freq") * 20 >= F.col("n_docs"))
        .select(
            "sh",
            "doc_freq",
            F.expr("doc_freq * 1000000 DIV n_docs").alias("df_ratio_ppm"),
        )
        .orderBy(F.desc("doc_freq"), "sh")
    )


# ---------------------------------------------------------------------------
# Eval-set contamination check
# ---------------------------------------------------------------------------

_CONTAM_DF_CAP = 32  # shingles in more docs than this are boilerplate, not signal
_CONTAM_MIN_SHARED = 2


@register(
    "contamination_overlap",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents),
    sh AS (SELECT DISTINCT doc_id, unnest({_DUCK_SH5}) AS sh FROM tok),
    rare AS (
      SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh)
      WHERE df <= {_CONTAM_DF_CAP}),
    shr AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare r ON s.sh = r.sh),
    pairs AS (
      SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc, COUNT(*) AS n_shared
      FROM shr e JOIN shr t ON e.sh = t.sh
      WHERE e.doc_id % 20 = 0 AND t.doc_id % 20 <> 0
      GROUP BY e.doc_id, t.doc_id
      HAVING COUNT(*) >= {_CONTAM_MIN_SHARED}),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY eval_doc
                                   ORDER BY n_shared DESC, train_doc) AS rn
      FROM pairs)
    SELECT eval_doc,
           (SELECT COUNT(*) FROM pairs p WHERE p.eval_doc = ranked.eval_doc)
             AS n_contaminating_docs,
           train_doc AS top_contaminator,
           n_shared AS top_shared
    FROM ranked WHERE rn = 1
    ORDER BY eval_doc
    """,
)
def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination: for a planted eval split (doc_id % 20 = 0),
    find training docs sharing ≥ {_CONTAM_MIN_SHARED} distinct rare word
    5-grams — the n-gram-overlap decontamination check run before every
    pretraining launch.

    Scale shape: the shingle equi-self-join is the crux. Joining on raw
    shingles explodes on common n-grams, so shingles with document
    frequency > {_CONTAM_DF_CAP} are dropped first (they are boilerplate,
    not leakage signal) — this caps per-key fan-out at {_CONTAM_DF_CAP}²
    and is exactly the frequency-prefiltering production decontamination
    uses. Everything else is map-side-combinable aggregation.
    """
    sh = _kgrams_map_only(fanned_documents(spark, sf_dir), 5).distinct()
    rare = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _CONTAM_DF_CAP)
        .select("sh")
    )
    # The filtered shingle table feeds BOTH join sides; without
    # materialization Spark re-runs the explode→distinct→df-filter pipeline
    # once per consumer (~4 passes measured). The narrow (doc_id, sh)
    # projection is what materializes.
    shr = sh.join(rare, "sh").localCheckpoint(eager=False)
    ev = shr.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("eval_doc"), "sh"
    )
    tr = shr.filter(F.col("doc_id") % 20 != 0).select(
        F.col("doc_id").alias("train_doc"), "sh"
    )
    pairs = (
        ev.join(tr, "sh")
        .groupBy("eval_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _CONTAM_MIN_SHARED)
    )
    w = Window.partitionBy("eval_doc").orderBy(F.desc("n_shared"), "train_doc")
    wc = Window.partitionBy("eval_doc")
    return (
        pairs.withColumn("n_contaminating_docs", F.count(F.lit(1)).over(wc))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "eval_doc",
            "n_contaminating_docs",
            F.col("train_doc").alias("top_contaminator"),
            F.col("n_shared").alias("top_shared"),
        )
        .orderBy("eval_doc")
    )


# ---------------------------------------------------------------------------
# Sequence-packing plan
# ---------------------------------------------------------------------------

_PACK_LEN = 4096


@register(
    "sequence_packing_plan",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             LEAST(len({_DUCK_TOKENS}), {_PACK_LEN}) AS n_tok
      FROM documents),
    packed AS (
      SELECT lang, doc_id, n_tok,
             CAST(FLOOR(CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                              - n_tok AS DOUBLE) / {_PACK_LEN}) AS BIGINT) AS bin
      FROM toks)
    SELECT lang, bin, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
           CAST(SUM(n_tok) * 1000000 // {_PACK_LEN} AS BIGINT) AS fill_ratio_ppm
    FROM packed
    GROUP BY lang, bin
    ORDER BY lang, bin
    """,
)
def sequence_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs (in deterministic doc_id order, token
    counts capped at the context length) to {_PACK_LEN}-token training bins
    per language via an exclusive running sum — the streaming-concatenation
    packing plan used to batch pretraining sequences, with per-bin fill
    ratios to audit padding waste.

    Scale shape: one shuffle (window partitioned by lang) plus a map-side
    combinable group-by. Languages are few, so in production the window
    would sub-partition by (lang, shard) and offset bins by shard — noted
    here, unnecessary at test scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.least(T.token_count("text"), F.lit(_PACK_LEN)).alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "bin",
        F.floor(
            (F.sum("n_tok").over(w) - F.col("n_tok")).cast("double") / _PACK_LEN
        ),
    )
    return (
        packed.groupBy("lang", "bin")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("bin_tokens"))
        .withColumn("fill_ratio_ppm", F.expr(f"bin_tokens * 1000000 DIV {_PACK_LEN}"))
        .orderBy("lang", "bin")
    )


# ---------------------------------------------------------------------------
# Tokenizer-vocabulary coverage
# ---------------------------------------------------------------------------

_VOCAB_SIZE = 500


@register(
    "oov_rate_by_source",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({_DUCK_TOKENS}) AS token FROM documents),
    vocab AS (
      SELECT token FROM (SELECT token, COUNT(*) AS c FROM tok GROUP BY token)
      ORDER BY c DESC, token LIMIT {_VOCAB_SIZE}),
    flagged AS (
      SELECT t.source, CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
      FROM tok t LEFT JOIN vocab v ON t.token = v.token)
    SELECT source,
           COUNT(*) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           CAST(SUM(oov) * 1000000 // COUNT(*) AS BIGINT) AS oov_share_ppm
    FROM flagged
    GROUP BY source
    ORDER BY source
    """,
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: build a top-{_VOCAB_SIZE} corpus vocabulary and
    measure each source's out-of-vocabulary token share — the
    tokenizer-fit audit that flags sources a fixed vocab represents poorly
    (high OOV → more tokens per byte → wasted training compute).

    Scale shape: token counts combine map-side; the vocabulary is a
    TakeOrdered top-k broadcast back to the token stream (tiny build side),
    and the per-source tally divides two exact integers, so both engines
    derive the identical double.
    """
    tok = corpus_token_index(spark, sf_dir).select(
        "source", F.col("tok").alias("token")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "token")
        .limit(_VOCAB_SIZE)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .withColumn("oov_share_ppm", F.expr("n_oov * 1000000 DIV n_tokens"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Exact-substring duplication coverage (sliding k-gram, per document)
# ---------------------------------------------------------------------------

_ESC_K = 8  # shingle width in tokens


@register(
    "exact_substring_coverage",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, source, {_DUCK_TOKENS} AS t
      FROM documents),
    sh AS (
      SELECT doc_id, source,
             UNNEST(list_transform(range(1, len(t) - {_ESC_K} + 2),
                    i -> CAST(('0x' || substr(md5(array_to_string(
                             list_slice(t, i, i + {_ESC_K} - 1), ' ')), 1, 15))
                         AS BIGINT))) AS sh
      FROM toks WHERE len(t) >= {_ESC_K}),
    d AS (SELECT doc_id, source, sh, COUNT(*) AS cnt FROM sh GROUP BY 1, 2, 3),
    df AS (SELECT sh, COUNT(*) AS n_docs FROM d GROUP BY sh)
    SELECT d.doc_id, d.source,
           CAST(SUM(d.cnt) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.n_docs >= 2 THEN d.cnt ELSE 0 END) * 1000000
                // SUM(d.cnt) AS BIGINT) AS dup_coverage_ppm
    FROM d JOIN df USING (sh)
    GROUP BY d.doc_id, d.source
    ORDER BY d.doc_id
    """,
)
def exact_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact-substring duplication coverage: the share (ppm)
    of a doc's sliding {k}-token shingle positions whose shingle text also
    occurs in at least one OTHER document — the coverage metric behind
    exact-substring train-set dedup (remove or trim spans memorized
    verbatim across documents). Complements ``chunk_dedup_rate`` (fixed
    non-overlapping chunks, per-source rate) with the sliding-window
    per-doc view a removal decision actually needs.

    Scale shape: shingle assembly is map-only (slice/array_join over the
    token array — no window, no token index needed); every shingle ships
    as its 128-bit md5, keeping the exchange narrow and skew bounded by
    true text duplication; the per-doc distinct pass
    (groupBy doc_id, sh) is map-side combinable and shrinks the instance
    table before the document-frequency join; dup verdicts join at
    |distinct shingle| cardinality. All counts/ratios are exact integer
    arithmetic.""".format(k=_ESC_K)
    docs = fanned_documents(spark, sf_dir)
    t = T.tokens("text")
    # 60-bit md5-prefix BIGINT keys: an int64 exchange is measured 1.3-1.8x
    # faster than shuffling the 32-char hex strings until the page cache
    # warms, and collisions are identical in both engines by construction.
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(t) - _ESC_K + 1),
        lambda i: F.conv(
            F.substring(F.md5(F.array_join(F.slice(t, i, _ESC_K), " ")), 1, 15),
            16,
            10,
        ).cast("long"),
    )
    inst = (
        docs.where(F.size(t) >= _ESC_K)
        .select("doc_id", "source", F.explode(shingles).alias("sh"))
    )
    d = inst.groupBy("doc_id", "source", "sh").agg(F.count(F.lit(1)).alias("cnt"))
    dfreq = d.groupBy("sh").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        d.join(dfreq, "sh")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("cnt").alias("n_shingles"),
            F.expr(
                "sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) * 1000000"
                " DIV sum(cnt)"
            ).alias("dup_coverage_ppm"),
        )
        .orderBy("doc_id")
    )
