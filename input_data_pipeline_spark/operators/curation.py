"""Data-curation operators rounding out the LLM training-data pipeline.

Round-3 additions along SURVEY §6's "LLM-data-pipeline operators" axis:
PII detection/redaction, URL/domain extraction, fixed-width chunk-level
dedup (the substring-dedup proxy), duplicate-cluster size audit, and
SemDeDup-style embedding clustering (Abbas et al. 2023,
arXiv:2303.09540) composed from the existing blocked cosine join +
large-star/small-star connected components.

The synthetic corpus contains no PII or URLs, so the two pattern-matching
operators run on inline fixtures (the ``toxic_label_scaffold`` pattern in
``operators/ingest.py``) — the operator logic is corpus-shape-independent
and the fixtures guarantee every regex branch is exercised by the
differential oracle. Patterns are written in the common Java-regex/RE2
subset (no lookbehind, no backreferences) so Spark and DuckDB compile the
same language.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

import input_data_pipeline_spark.operators.dedup as _dedup  # registers first
from input_data_pipeline_spark.operators.corpus import corpus_token_index
from input_data_pipeline_spark.plans.registry import _REGISTRY, register
from input_data_pipeline_spark.tables import load_table

# ---------------------------------------------------------------------------
# PII detection / redaction scaffold
# ---------------------------------------------------------------------------

_RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_RE_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
_RE_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_PII_FIXTURE = [
    ("p1", "contact alice@example.com or bob.smith+tag@mail.co for details"),
    ("p2", "call 555-123-4567 today; fax 555.987.6543 tomorrow"),
    ("p3", "server at 10.0.0.1 and 192.168.100.42 responded"),
    ("p4", "mixed: carol@web.org, 555-000-1111, 172.16.254.3 in one line"),
    ("p5", "nothing sensitive here at all"),
    ("p6", ""),
]

_PII_VALUES = ",\n      ".join(
    "('{}', '{}')".format(rid, txt.replace("'", "''")) for rid, txt in _PII_FIXTURE
)


@register(
    "pii_redaction_scaffold",
    oracle=f"""
    WITH recs(rec_id, text) AS (VALUES
      {_PII_VALUES})
    SELECT rec_id,
           len(regexp_extract_all(text, '{_RE_EMAIL}')) AS n_emails,
           len(regexp_extract_all(text, '{_RE_PHONE}')) AS n_phones,
           len(regexp_extract_all(
               regexp_replace(text, '{_RE_PHONE}', '[PHONE]', 'g'),
               '{_RE_IPV4}')) AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_RE_EMAIL}', '[EMAIL]', 'g'),
               '{_RE_PHONE}', '[PHONE]', 'g'),
             '{_RE_IPV4}', '[IP]', 'g') AS redacted
    FROM recs
    ORDER BY rec_id
    """,
)
def pii_redaction_scaffold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: count and mask emails, NANP-style phone numbers and
    IPv4 literals — the pre-training redaction step every public-corpus
    pipeline runs. Counts and the redacted text come from the same three
    regexes applied in a fixed order (emails → phones → IPs; phones are
    masked before IP counting so a dotted phone can never double-count as
    an address). Map-only JVM regex — at 100 TB this is a pure scan stage
    with nothing to shuffle.
    """
    recs = spark.createDataFrame(_PII_FIXTURE, ["rec_id", "text"])
    no_phone = F.regexp_replace("text", _RE_PHONE, "[PHONE]")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _RE_EMAIL, "[EMAIL]"),
            _RE_PHONE,
            "[PHONE]",
        ),
        _RE_IPV4,
        "[IP]",
    )
    return (
        recs.select(
            "rec_id",
            F.size(F.regexp_extract_all("text", F.lit(_RE_EMAIL), F.lit(0))).alias(
                "n_emails"
            ),
            F.size(F.regexp_extract_all("text", F.lit(_RE_PHONE), F.lit(0))).alias(
                "n_phones"
            ),
            F.size(F.regexp_extract_all(no_phone, F.lit(_RE_IPV4), F.lit(0))).alias(
                "n_ips"
            ),
            redacted.alias("redacted"),
        )
        .orderBy("rec_id")
    )


# ---------------------------------------------------------------------------
# URL / domain extraction
# ---------------------------------------------------------------------------

_RE_URL = r"https?://[^\s]+"
_RE_DOMAIN = r"https?://([^/\s:]+)"

_URL_FIXTURE = [
    ("u1", "see https://docs.example.com/guide and http://example.com/a?b=1"),
    ("u2", "mirror at https://cdn.example.com/pkg plus https://docs.example.com/faq"),
    ("u3", "bare host http://localhost:8080/health checked"),
    ("u4", "no links in this record"),
    ("u5", "dup host https://cdn.example.com/other and https://other.org"),
]

_URL_VALUES = ",\n      ".join(
    "('{}', '{}')".format(rid, txt.replace("'", "''")) for rid, txt in _URL_FIXTURE
)


@register(
    "url_domain_stats",
    oracle=f"""
    WITH recs(rec_id, text) AS (VALUES
      {_URL_VALUES}),
    urls AS (
      SELECT rec_id, unnest(regexp_extract_all(text, '{_RE_URL}')) AS url
      FROM recs)
    SELECT regexp_extract(url, '{_RE_DOMAIN}', 1) AS domain,
           COUNT(*) AS n_urls,
           COUNT(DISTINCT rec_id) AS n_recs
    FROM urls
    GROUP BY domain
    ORDER BY domain
    """,
)
def url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + per-domain rollup: the source-attribution /
    blocklist-gating primitive of web-corpus curation. regexp_extract_all
    runs JVM-side; the explode feeds a map-side-combinable count keyed by
    domain, so at 100 TB the shuffle carries |domains| partials, not
    |urls| rows.
    """
    recs = spark.createDataFrame(_URL_FIXTURE, ["rec_id", "text"])
    return (
        recs.select(
            "rec_id",
            F.explode(F.regexp_extract_all("text", F.lit(_RE_URL), F.lit(0))).alias(
                "url"
            ),
        )
        .select("rec_id", F.regexp_extract("url", _RE_DOMAIN, 1).alias("domain"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("rec_id").alias("n_recs"),
        )
        .orderBy("domain")
    )


# ---------------------------------------------------------------------------
# Fixed-width chunk dedup (substring-dedup proxy)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 16


@register(
    "chunk_dedup_rate",
    oracle=f"""
    WITH tok AS (
      SELECT d.doc_id, d.source,
             string_split(regexp_replace(trim(lower(d.text)), '\\s+', ' ', 'g'), ' ')
               AS ts
      FROM documents d
      WHERE trim(d.text) <> ''),
    starts AS (
      SELECT doc_id, source, ts,
             unnest(range(1, len(ts) + 1, {_CHUNK_TOKENS})) AS s
      FROM tok),
    chunks AS (
      SELECT doc_id, source, s,
             array_to_string(ts[s:s + {_CHUNK_TOKENS} - 1], ' ') AS chunk
      FROM starts),
    ranked AS (
      SELECT source,
             ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, s) AS rn
      FROM chunks)
    SELECT source,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
             AS BIGINT) AS dup_rate_ppm
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
)
def chunk_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup audit: split every doc into non-overlapping
    {_CHUNK_TOKENS}-token chunks (ragged tail kept) and measure, per
    source, the share of chunk occurrences that are redundant copies (not
    the first (doc_id, offset) holder of that chunk text) — the cheap
    proxy for exact-substring dedup (à la deduplicating repeated spans)
    that catches templated/recombined text exact-doc dedup misses.

    Scale shape: chunks derive from the shared persisted token index (one
    tokenization per session across all hygiene/curation passes); chunk
    assembly is a per-doc window concat; the redundancy rank is one
    shuffle keyed by chunk text — sha-hash the chunk key at real scale to
    keep the exchange narrow, the semantics are identical.
    """
    idx = corpus_token_index(spark, sf_dir)
    # Per-(doc, chunk) ordered concat: sort the (pos, tok) structs inside
    # each chunk group — arrays are <= {_CHUNK_TOKENS} elements, so the
    # interpreted transform is bounded per row and never sees corpus scale.
    chunks = (
        idx.groupBy(
            "doc_id",
            "source",
            (F.floor(F.col("pos") / _CHUNK_TOKENS)).alias("ck"),
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("chunk")
        )
    )
    rn = F.row_number().over(Window.partitionBy("chunk").orderBy("doc_id", "ck"))
    return (
        chunks.withColumn("rn", rn)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_redundant"),
        )
        .withColumn(
            "dup_rate_ppm",
            F.expr("n_redundant * 1000000 DIV n_chunks"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster size audit
# ---------------------------------------------------------------------------

@register(
    "dup_cluster_size_histogram",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ts
      FROM documents),
    fp AS (
      SELECT sha256(array_to_string(list_sort(list_distinct(ts)), ' ')) AS fp
      FROM tok),
    fam AS (SELECT fp, COUNT(*) AS cluster_size FROM fp GROUP BY fp)
    SELECT cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM fam
    GROUP BY cluster_size
    ORDER BY cluster_size
    """,
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup cluster-size distribution over bag-of-words fingerprint families
    (the ``dedup_bow_clusters`` key — order/multiplicity-insensitive, so it
    sees reshuffled boilerplate a byte-exact pass misses): how many
    families have 1, 2, 3… members — the dedup-health dashboard that
    distinguishes a corpus with a few mega-clusters (one viral page
    re-crawled 10k×) from broad low-grade duplication, which need
    different mitigations. Two map-side-combinable aggregations; nothing
    wide ever shuffles.
    """
    from input_data_pipeline_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    bow_fp = F.sha2(
        F.concat_ws(" ", F.array_sort(F.array_distinct(T.tokens("text")))), 256
    )
    fam = (
        docs.select(bow_fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return (
        fam.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# Training-mix planning
# ---------------------------------------------------------------------------

_MIX_BUDGET = 1_000_000_000  # tokens per epoch to allocate across languages


@register(
    "mixture_sampling_plan",
    oracle=f"""
    WITH toks AS (
      SELECT lang,
             SUM(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                 t -> t <> ''))) AS n_tokens
      FROM documents GROUP BY lang),
    w AS (
      SELECT lang, n_tokens,
             CAST(FLOOR(SQRT(n_tokens)) AS BIGINT) AS weight
      FROM toks),
    tot AS (SELECT SUM(weight) AS total_w FROM w)
    SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens, weight,
           CAST(weight * 1000000 // total_w AS BIGINT) AS sample_prob_ppm,
           CAST(FLOOR(weight * {_MIX_BUDGET}.0 / total_w) AS BIGINT)
             AS epoch_tokens
    FROM w, tot
    ORDER BY lang
    """,
)
def mixture_sampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed (α = 0.5) language-mixture plan: sampling
    probability ∝ sqrt(per-language token count), normalized, then a
    {_MIX_BUDGET}-token epoch budget allocated proportionally — the
    standard multilingual up-weighting of low-resource languages.

    Cross-engine exactness tactic: the α-smoothing is quantized to
    INTEGER-sqrt weights (floor of the IEEE-exact sqrt). Every downstream
    value is then integer arithmetic plus one correctly-rounded division,
    so both engines derive bit-identical probabilities — pow(x, α) for
    general α is NOT correctly rounded and could flip a 6th decimal.
    One map-side-combinable agg; the weight table is |languages| rows.
    """
    from input_data_pipeline_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.groupBy("lang").agg(F.sum(T.token_count("text")).alias("n_tokens"))
    w = toks.withColumn("weight", F.floor(F.sqrt(F.col("n_tokens"))))
    tot = w.agg(F.sum("weight").alias("total_w"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_tokens",
            "weight",
            F.expr("weight * 1000000 DIV total_w").alias("sample_prob_ppm"),
            F.floor(F.col("weight") * F.lit(float(_MIX_BUDGET)) / F.col("total_w"))
            .cast("long")
            .alias("epoch_tokens"),
        )
        .orderBy("lang")
    )


_SELECT_BUDGET = 100_000  # tokens per language


@register(
    "token_budget_selection",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
               AS n_tok
      FROM documents),
    ranked AS (
      SELECT doc_id, lang, n_tok,
             SUM(n_tok) OVER (PARTITION BY lang ORDER BY n_tok DESC, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tok AS prior_tokens
      FROM toks)
    SELECT lang,
           COUNT(*) AS n_selected,
           CAST(SUM(n_tok) AS BIGINT) AS selected_tokens,
           CAST(SUM(n_tok) * 1000000 // {_SELECT_BUDGET} AS BIGINT) AS budget_fill_ppm
    FROM ranked
    WHERE prior_tokens < {_SELECT_BUDGET}
    GROUP BY lang
    ORDER BY lang
    """,
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-language selection under a {_SELECT_BUDGET}-token budget:
    docs admitted longest-first (ties by doc_id) while the EXCLUSIVE
    running token total is under budget — the deterministic budget-capped
    subset builder for fixed-size training mixes (admitting the doc that
    crosses the line, so the budget is always reached when enough data
    exists). Integer-only logic until one final rounded division.

    Scale shape: one shuffle (window by lang) + a map-side-combinable
    rollup; in production the window would sub-partition by (lang, shard)
    with shard-offset budgets — same note as sequence_packing_plan.
    """
    from input_data_pipeline_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", T.token_count("text").alias("n_tok"))
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("n_tok"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = toks.withColumn(
        "prior_tokens", F.sum("n_tok").over(w) - F.col("n_tok")
    )
    return (
        ranked.filter(F.col("prior_tokens") < _SELECT_BUDGET)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("n_tok").alias("selected_tokens"),
        )
        .withColumn(
            "budget_fill_ppm",
            F.expr(f"selected_tokens * 1000000 DIV {_SELECT_BUDGET}"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# LSH quality audit (self-differential: approx path vs exact ground truth)
# ---------------------------------------------------------------------------

_LSH_CLAIM = 0.8  # MinHash estimate threshold for claiming "near-dup"


@register(
    "minhash_lsh_quality",
    oracle=f"""
    WITH est_all AS ({_REGISTRY["dedup_minhash_lsh"].oracle}),
    tru AS ({_REGISTRY["ngram_jaccard_pairs"].oracle}),
    est AS (SELECT doc_a, doc_b FROM est_all
            WHERE est_jaccard_ppm >= {int(_LSH_CLAIM * 1_000_000)}),
    u AS (
      SELECT COALESCE(e.doc_a, t.doc_a) AS doc_a,
             COALESCE(e.doc_b, t.doc_b) AS doc_b,
             (e.doc_a IS NOT NULL) AS claimed,
             (t.doc_a IS NOT NULL) AS actual
      FROM est e
      FULL OUTER JOIN tru t ON e.doc_a = t.doc_a AND e.doc_b = t.doc_b)
    SELECT CAST(SUM(CASE WHEN claimed AND actual THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN claimed AND NOT actual THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN actual AND NOT claimed THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN claimed AND actual THEN 1 ELSE 0 END) * 1000000
             // NULLIF(SUM(CASE WHEN claimed THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS precision_ppm,
           CAST(SUM(CASE WHEN claimed AND actual THEN 1 ELSE 0 END) * 1000000
             // NULLIF(SUM(CASE WHEN actual THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS recall_ppm
    FROM u
    """,
)
def minhash_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-differential quality audit: precision/recall of the MinHash-LSH
    near-dup path (estimate ≥ {_LSH_CLAIM}) against the exact n-gram
    Jaccard ground truth — the approximation-quality dashboard a pipeline
    operator checks before trusting the cheap path at full scale. The
    oracle composes the two already-verified oracle stacks as CTEs, so
    this query is differential all the way down.

    Scale shape: both inputs are the engine's banded/prefix-filtered plans
    (never all-pairs); the audit itself adds one |pairs|-sized outer join
    and a single-row aggregate.
    """
    est = (
        _dedup.dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("est_jaccard_ppm") >= int(_LSH_CLAIM * 1_000_000))
        .select("doc_a", "doc_b", F.lit(True).alias("claimed"))
    )
    tru = _dedup.ngram_jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(True).alias("actual")
    )
    u = est.join(tru, ["doc_a", "doc_b"], "full_outer")
    tp = F.sum(F.when(F.col("claimed") & F.col("actual"), 1).otherwise(0))
    fp = F.sum(F.when(F.col("claimed") & F.col("actual").isNull(), 1).otherwise(0))
    fn = F.sum(F.when(F.col("actual") & F.col("claimed").isNull(), 1).otherwise(0))
    n_claimed = F.sum(F.when(F.col("claimed"), 1).otherwise(0))
    n_actual = F.sum(F.when(F.col("actual"), 1).otherwise(0))
    return u.agg(
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
        F.floor(tp * 1_000_000 / F.when(n_claimed > 0, n_claimed)).alias(
            "precision_ppm"
        ),
        F.floor(tp * 1_000_000 / F.when(n_actual > 0, n_actual)).alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup clusters over embeddings
# ---------------------------------------------------------------------------

_SEM_COS = 0.45  # same threshold as embedding_near_pairs — shared plan


@register(
    "semdedup_embedding_clusters",
    oracle=f"""
    WITH RECURSIVE v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    prs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE CAST(ROUND(
        list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i]))
        / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
           * sqrt(list_sum(list_transform(b.e, x -> x * x)))) * 1000000) AS BIGINT)
        >= {int(_SEM_COS * 1_000_000)}),
    edges AS (
      SELECT vec_a AS src, vec_b AS dst FROM prs
      UNION SELECT vec_b, vec_a FROM prs),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
    labeled AS (
      SELECT src AS vec_id, least(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src)
    SELECT vec_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           (vec_id = cluster_id) AS is_survivor
    FROM labeled
    ORDER BY vec_id
    """,
)
def semdedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings whose cosine ≥
    {_SEM_COS} transitively and keep one survivor (min vec_id) per
    semantic cluster — the embedding-space analogue of
    ``dedup_cluster_assignment``, catching paraphrases that share no
    n-grams.

    Composition of two scale-proven parts: the blocked block×block cosine
    join of ``embedding_near_pairs`` (shuffle = n·(B+1) rows, driver holds
    nothing) feeding large-star/small-star ``connected_components``
    (O(log n) rounds). The oracle states the same fixpoint as a recursive
    CTE — fine for DuckDB at test scale, quadratic at real scale, which is
    exactly why the engine iterates instead.
    """
    from input_data_pipeline_spark.operators.dedup import (
        connected_components,
        embedding_near_pairs,
    )

    pairs = embedding_near_pairs(spark, sf_dir)
    edges = pairs.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    labels = connected_components(edges)
    w = Window.partitionBy("cluster_id")
    return (
        labels.select(F.col("id").alias("vec_id"), F.col("label").alias("cluster_id"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("is_survivor", F.col("vec_id") == F.col("cluster_id"))
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# End-to-end curation funnel (per-stage attrition accounting)
# ---------------------------------------------------------------------------

_FUN_MIN_TOKENS = 20
_FUN_MIN_QUALITY_PPM = 400_000
_FUN_MAX_COV_PPM = 500_000
_FUN_SH_K = 8
_FUN_TOK = r"list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"


def funnel_stage_flags(docs: DataFrame) -> DataFrame:
    """Stage 1-2 gate expressions + normalized content fingerprint, shared
    VERBATIM by the batch ``curation_funnel`` and the streaming
    ``stream_curation_gate`` (streaming/pipelines.py) — stream/batch
    parity by construction. Adds ``n_tokens, quality_ppm, fp, f1, f2``
    to whatever columns ``docs`` carries."""
    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.functions.stable import round_micros

    t = T.tokens("text")
    n_tokens = F.size(t)
    nonspace = F.length(F.regexp_replace("text", r"\s+", ""))
    band_ok = (nonspace >= 2 * n_tokens) & (nonspace <= 12 * n_tokens)
    quality = round_micros(
        F.least(n_tokens / F.lit(200.0), F.lit(1.0)) * 0.7
        + F.when((n_tokens > 0) & band_ok, F.lit(1.0)).otherwise(F.lit(0.5)) * 0.3
    )
    return (
        docs.withColumn("n_tokens", n_tokens)
        .withColumn("quality_ppm", quality)
        .withColumn("fp", T.fingerprint("text"))
        .withColumn("f1", F.col("n_tokens") >= _FUN_MIN_TOKENS)
        .withColumn(
            "f2", F.col("f1") & (F.col("quality_ppm") >= _FUN_MIN_QUALITY_PPM)
        )
    )


@register(
    "curation_funnel",
    oracle=rf"""
    WITH q AS (
      SELECT doc_id, text,
             len({_FUN_TOK}) AS n_tokens,
             CAST(ROUND((LEAST(len({_FUN_TOK}) / 200.0, 1.0) * 0.7 +
                   CASE WHEN len({_FUN_TOK}) > 0
                         AND length(regexp_replace(text, '\s+', '', 'g'))
                             >= 2 * len({_FUN_TOK})
                         AND length(regexp_replace(text, '\s+', '', 'g'))
                             <= 12 * len({_FUN_TOK})
                        THEN 1.0 ELSE 0.5 END * 0.3) * 1000000) AS BIGINT)
               AS quality_ppm
      FROM documents),
    s1 AS (SELECT * FROM q WHERE n_tokens >= {_FUN_MIN_TOKENS}),
    s2 AS (SELECT * FROM s1 WHERE quality_ppm >= {_FUN_MIN_QUALITY_PPM}),
    s3 AS (
      SELECT * FROM s2
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        ORDER BY doc_id) = 1),
    sh AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(t) - {_FUN_SH_K} + 2),
                    i -> md5(array_to_string(
                             list_slice(t, i, i + {_FUN_SH_K} - 1), ' ')))) AS sh
      FROM (SELECT doc_id, {_FUN_TOK} AS t FROM s3)
      WHERE len(t) >= {_FUN_SH_K}),
    d AS (SELECT doc_id, sh, COUNT(*) AS cnt FROM sh GROUP BY 1, 2),
    dfq AS (SELECT sh, COUNT(*) AS n_docs FROM d GROUP BY sh),
    cov AS (
      SELECT d.doc_id,
             SUM(CASE WHEN dfq.n_docs >= 2 THEN d.cnt ELSE 0 END) * 1000000
               // SUM(d.cnt) AS cov_ppm
      FROM d JOIN dfq USING (sh) GROUP BY d.doc_id),
    s4 AS (
      SELECT s3.doc_id FROM s3 LEFT JOIN cov USING (doc_id)
      WHERE COALESCE(cov.cov_ppm, 0) < {_FUN_MAX_COV_PPM}),
    counts AS (
      SELECT 0 AS stage, 'ingest' AS stage_name,
             (SELECT COUNT(*) FROM documents) AS n
      UNION ALL SELECT 1, 'min_length', (SELECT COUNT(*) FROM s1)
      UNION ALL SELECT 2, 'quality', (SELECT COUNT(*) FROM s2)
      UNION ALL SELECT 3, 'exact_dedup', (SELECT COUNT(*) FROM s3)
      UNION ALL SELECT 4, 'substring_dedup', (SELECT COUNT(*) FROM s4))
    SELECT CAST(stage AS BIGINT) AS stage, stage_name,
           CAST(n AS BIGINT) AS n_docs,
           CAST(COALESCE(LAG(n) OVER (ORDER BY stage) - n, 0) AS BIGINT)
             AS n_dropped,
           CAST(n * 1000000 // FIRST_VALUE(n) OVER (ORDER BY stage) AS BIGINT)
             AS retention_ppm
    FROM counts
    ORDER BY stage
    """,
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as one accounted funnel: ingest →
    min-length → quality-score → exact-dedup (first normalized-hash holder
    wins) → exact-substring near-dup (coverage ppm over the surviving
    subset) — with per-stage survivor counts, drops, and retention vs
    ingest. This is the dashboard row set a data-pipeline owner actually
    watches; each stage reuses the exact semantics of its standalone
    query (doc_quality's score, incremental dedup's normalized sha256
    fingerprint, exact_substring_coverage's sliding shingles).

    Scale shape: ONE corpus scan computes per-doc flags for stages 1-2
    (pure expressions); stage 3 adds one window keyed by content hash
    (ranking puts stage-2 survivors first, so no second scan); stage 4's
    coverage runs only over stage-3 survivors (the shrunken set), reusing
    the md5-shingle exchange shape. The stage accounting itself is a
    single conditional aggregate over the flag frame — 5 output rows, no
    per-stage rescans."""
    from input_data_pipeline_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = funnel_stage_flags(docs)
    # Rank stage-2 survivors first within each fingerprint so f3 needs no
    # separate pass over the filtered subset.
    w = Window.partitionBy("fp").orderBy(
        F.when(F.col("f2"), F.lit(0)).otherwise(F.lit(1)), "doc_id"
    )
    flags = base.withColumn(
        "f3", F.col("f2") & (F.row_number().over(w) == 1)
    )

    surv = flags.filter("f3").select("doc_id", "text")
    t2 = T.tokens("text")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(t2) - _FUN_SH_K + 1),
        lambda i: F.md5(F.array_join(F.slice(t2, i, _FUN_SH_K), " ")),
    )
    inst = surv.where(F.size(t2) >= _FUN_SH_K).select(
        "doc_id", F.explode(shingles).alias("sh")
    )
    d = inst.groupBy("doc_id", "sh").agg(F.count(F.lit(1)).alias("cnt"))
    dfq = d.groupBy("sh").agg(F.count(F.lit(1)).alias("n_docs"))
    cov = (
        d.join(dfq, "sh")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) * 1000000"
                " DIV sum(cnt)"
            ).alias("cov_ppm")
        )
    )
    full = flags.join(cov, "doc_id", "left").withColumn(
        "f4",
        F.col("f3") & (F.coalesce(F.col("cov_ppm"), F.lit(0)) < _FUN_MAX_COV_PPM),
    )

    one = full.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("f1").cast("long")).alias("n1"),
        F.sum(F.col("f2").cast("long")).alias("n2"),
        F.sum(F.col("f3").cast("long")).alias("n3"),
        F.sum(F.col("f4").cast("long")).alias("n4"),
    )
    stacked = one.select(
        F.expr(
            "stack(5,"
            " 0L, 'ingest', n0,"
            " 1L, 'min_length', n1,"
            " 2L, 'quality', n2,"
            " 3L, 'exact_dedup', n3,"
            " 4L, 'substring_dedup', n4) AS (stage, stage_name, n_docs)"
        )
    )
    wS = Window.orderBy("stage")
    w0 = wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        stacked.withColumn(
            "n_dropped",
            F.coalesce(F.lag("n_docs").over(wS) - F.col("n_docs"), F.lit(0)).cast(
                "long"
            ),
        )
        .withColumn("_n0", F.first("n_docs").over(w0))
        .withColumn("retention_ppm", F.expr("n_docs * 1000000 DIV _n0"))
        .drop("_n0")
        .orderBy("stage")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023; round-8 addition)
# ---------------------------------------------------------------------------

_DSIR_TARGET_SRC = "src0"  # the corpus slice playing the "target domain"
_DSIR_BUCKETS = 256
_DSIR_TOP_K = 50


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(unnest({_FUN_TOK})), 1, 8)) AS BIGINT)
               % {_DSIR_BUCKETS} AS b
      FROM documents),
    tgt AS (
      SELECT b, COUNT(*) AS n_t FROM tok
      WHERE source = '{_DSIR_TARGET_SRC}' GROUP BY b),
    pool AS (
      SELECT b, COUNT(*) AS n_p FROM tok
      WHERE source <> '{_DSIR_TARGET_SRC}' GROUP BY b),
    tot AS (
      SELECT (SELECT SUM(n_t) FROM tgt) AS tot_t,
             (SELECT SUM(n_p) FROM pool) AS tot_p),
    ppm AS (
      SELECT COALESCE(tgt.b, pool.b) AS b,
             COALESCE(n_t, 0) * 1000000 // tot_t AS p_t_ppm,
             COALESCE(n_p, 0) * 1000000 // tot_p AS p_p_ppm
      FROM tgt FULL JOIN pool USING (b), tot),
    per_doc AS (
      SELECT doc_id, source, b, COUNT(*) AS n
      FROM tok GROUP BY 1, 2, 3),
    weighted AS (
      SELECT d.doc_id, d.source,
             SUM(d.n) AS n_tokens,
             SUM(d.n * (p.p_t_ppm - p.p_p_ppm)) // SUM(d.n) AS w
      FROM per_doc d JOIN ppm p USING (b)
      GROUP BY 1, 2),
    ranked AS (
      SELECT doc_id, source, n_tokens, w,
             ROW_NUMBER() OVER (ORDER BY w DESC, doc_id) AS rnk
      FROM weighted)
    SELECT doc_id, source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(w AS BIGINT) AS dsir_weight_ppm,
           (rnk <= {_DSIR_TOP_K}) AS selected
    FROM ranked
    ORDER BY doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data selection (Xie et al. 2023): score every document
    by how much its hashed-unigram distribution looks like a target
    domain (here the ``{_DSIR_TARGET_SRC}`` slice) versus the raw pool,
    then select the top-k. DSIR proper sums log-likelihood ratios of
    hashed n-gram probabilities; this variant linearizes the ratio to an
    exact integer per-token ppm advantage — sum(n_b * (p_target_ppm(b) -
    p_pool_ppm(b))) / n_tokens — keeping every cell bit-reproducible in
    both engines (the log form would sum order-dependent doubles). Same
    selection ORDER as DSIR for docs near either end of the ranking,
    which is where selection happens.

    Scale shape: one tokenize+explode scan; the two distribution tables
    are map-side-combinable counts over a FIXED {_DSIR_BUCKETS}-bucket
    space (hashing is the whole point of DSIR — the feature table never
    grows with the vocabulary), so they broadcast to the per-doc join.
    The top-k SELECTION never sorts the corpus: the k-th (w, doc_id)
    boundary pair comes from ``orderBy(desc).limit(k)`` (a
    TakeOrderedAndProject — bounded per-partition heaps) followed by a
    second 1-row TakeOrdered over those k rows, and ``selected`` is a
    broadcast comparison against that boundary — bit-identical to the
    old global ``row_number`` rank (the (w DESC, doc_id ASC) order is
    total because doc_id is unique) with no partition-less WindowExec
    anywhere (plan-guarded in tests/test_plans.py). The per-doc table
    feeds both the boundary probe and the output, so it materializes
    once (localCheckpoint — in production, the persisted weights table).
    """
    weighted = _dsir_weighted(spark, sf_dir).localCheckpoint(eager=False)

    # Boundary = the k-th pair under (w DESC, doc_id ASC): the last of the
    # top-k, i.e. the FIRST of those k rows under the reversed order.
    boundary = (
        weighted.select("w", "doc_id")
        .orderBy(F.desc("w"), "doc_id")
        .limit(_DSIR_TOP_K)
        .orderBy("w", F.desc("doc_id"))
        .limit(1)
        .select(F.col("w").alias("bw"), F.col("doc_id").alias("bdoc"))
    )
    selected = (F.col("w") > F.col("bw")) | (
        (F.col("w") == F.col("bw")) & (F.col("doc_id") <= F.col("bdoc"))
    )
    return (
        weighted.crossJoin(F.broadcast(boundary))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.col("w").alias("dsir_weight_ppm"),
            selected.alias("selected"),
        )
        .orderBy("doc_id")
    )


def dsir_bucket(token_col):
    """The DSIR hashed-unigram bucket for a token column — stated once so
    the batch operator and the streaming tagger hash identically."""
    return (
        F.conv(F.substring(F.md5(token_col), 1, 8), 16, 10).cast("long")
        % _DSIR_BUCKETS
    )


def _dsir_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, b): one row per token occurrence, bucketed."""
    docs = load_table(spark, sf_dir, "documents")
    from input_data_pipeline_spark.functions import text as T

    return docs.select(
        "doc_id", "source", F.explode(T.tokens("text")).alias("token")
    ).select("doc_id", "source", dsir_bucket(F.col("token")).alias("b"))


def _dsir_ppm(tok: DataFrame) -> DataFrame:
    """The fixed-size (<= _DSIR_BUCKETS rows) target/pool distribution
    table in ppm — the 'trained model' half of DSIR."""
    # both distributions in ONE conditional aggregation pass — a full-outer
    # join of two per-source count tables would sort-merge (full outer
    # cannot broadcast); this is a single map-side-combinable groupBy
    is_tgt = F.col("source") == _DSIR_TARGET_SRC
    dist = tok.groupBy("b").agg(
        F.sum(F.when(is_tgt, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(is_tgt, 0).otherwise(1)).alias("n_p"),
    )
    tot = dist.agg(F.sum("n_t").alias("tot_t"), F.sum("n_p").alias("tot_p"))
    return dist.crossJoin(F.broadcast(tot)).select(
        "b",
        F.expr("n_t * 1000000 DIV tot_t").alias("p_t_ppm"),
        F.expr("n_p * 1000000 DIV tot_p").alias("p_p_ppm"),
    )


def _dsir_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc DSIR weight table (pre-selection) — split out so the
    physical-plan guards can assert its broadcast/partial-agg shape (the
    localCheckpoint in the caller truncates the visible executed plan)."""
    tok = _dsir_tok(spark, sf_dir)
    ppm = _dsir_ppm(tok)
    per_doc = tok.groupBy("doc_id", "source", "b").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_doc.join(F.broadcast(ppm), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.expr("sum(n * (p_t_ppm - p_p_ppm)) DIV sum(n)").alias("w"),
        )
    )


def dsir_stream_thresholds(
    spark: SparkSession, sf_dir: str
) -> tuple[dict[int, int], tuple[int, int]]:
    """Batch-trains / stream-applies (the production curation pattern): a
    nightly batch job trains the DSIR distribution table and selection
    boundary on the corpus; an ingest stream tags arriving docs against
    them map-side (``streaming.pipelines.stream_selection_tags``).

    Returns ``({bucket: adv_ppm}, (boundary_w, boundary_doc_id))`` where
    ``adv_ppm = p_target_ppm - p_pool_ppm`` per hashed bucket (at most
    ``_DSIR_BUCKETS`` = 256 entries — FIXED size, the point of DSIR's
    hashing: the published model never grows with the vocabulary) and
    the boundary is the k-th (w, doc_id) pair of
    :func:`dsir_importance_weights` — a doc tags ``selected`` iff it
    ranks at-or-before the boundary. Driver state is <= 257 rows, the
    same bounded-collect budget as the iterative-ML operators.
    """
    tok = _dsir_tok(spark, sf_dir)
    adv = {
        r["b"]: r["p_t_ppm"] - r["p_p_ppm"] for r in _dsir_ppm(tok).collect()
    }
    boundary = (
        _dsir_weighted(spark, sf_dir)
        .select("w", "doc_id")
        .orderBy(F.desc("w"), "doc_id")
        .limit(_DSIR_TOP_K)
        .orderBy("w", F.desc("doc_id"))
        .limit(1)
        .collect()
    )
    if not boundary:
        raise ValueError(f"no documents under {sf_dir} — cannot train DSIR")
    return adv, (boundary[0]["w"], boundary[0]["doc_id"])


# ---------------------------------------------------------------------------
# fastText-style hashed n-gram language filter (round-11 addition)
# ---------------------------------------------------------------------------

_FT_BUCKETS = 4096  # hashing-trick feature space — FIXED, never grows
_FT_TARGET_LANG = "en"


def ft_bucket(feat_col):
    """The hashed-feature bucket for an n-gram string — md5-prefix integer
    mod a fixed table size (the fastText hashing trick), stated once so
    the batch classifier and the streaming tagger hash identically, and
    cross-engine deterministic (DuckDB: ``('0x'||substr(md5(f),1,8))::BIGINT``)."""
    return (
        F.conv(F.substring(F.md5(feat_col), 1, 8), 16, 10).cast("long")
        % _FT_BUCKETS
    )


def _ft_features(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, b): DISTINCT hashed uni+bigram presence per doc —
    the Bernoulli feature rows both training and scoring consume."""
    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.operators.textstats import bigram_array

    t = T.tokens("text")
    feats = F.concat(t, bigram_array("text"))
    return (
        docs.select("doc_id", "lang", F.explode(feats).alias("f"))
        .select("doc_id", "lang", ft_bucket(F.col("f")).alias("b"))
        .distinct()
    )


def _ft_model(feats: DataFrame) -> DataFrame:
    """The trained weight table (b, w_ppm) — at most ``_FT_BUCKETS`` rows:
    w_ppm = smoothed P(target-lang | feature b) in ppm, add-one over the
    per-class document frequencies."""
    is_t = F.col("lang") == _FT_TARGET_LANG
    dfb = feats.groupBy("b").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("df_pos"),
        F.sum(F.when(is_t, 0).otherwise(1)).alias("df_neg"),
    )
    return dfb.select(
        "b",
        F.expr("(1000000 * (df_pos + 1)) DIV (df_pos + df_neg + 2)").alias(
            "w_ppm"
        ),
    )


_FT_NGRAMS_SQL = (
    f"list_concat(t, list_transform(range(1, len(t)), "
    f"i -> t[i] || chr(9) || t[i + 1]))"
)


@register(
    "fasttext_lang_filter",
    oracle=f"""
    WITH feats AS (
      SELECT DISTINCT doc_id, lang,
             CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT)
               % {_FT_BUCKETS} AS b
      FROM (
        SELECT doc_id, lang, UNNEST({_FT_NGRAMS_SQL}) AS f
        FROM (SELECT doc_id, lang, {_FUN_TOK} AS t FROM documents))),
    w AS (
      SELECT b, (1000000 * (SUM(CASE WHEN lang = '{_FT_TARGET_LANG}'
                                     THEN 1 ELSE 0 END) + 1))
                // (COUNT(*) + 2) AS w_ppm
      FROM feats GROUP BY b),
    tot AS (
      SELECT (1000000 * (SUM(CASE WHEN lang = '{_FT_TARGET_LANG}'
                                  THEN 1 ELSE 0 END) + 1))
             // (COUNT(*) + 2) AS prior_ppm
      FROM documents),
    scored AS (
      SELECT f.doc_id, f.lang, COUNT(*) AS n_feats,
             SUM(w.w_ppm) // COUNT(*) AS score_ppm
      FROM feats f JOIN w USING (b) GROUP BY 1, 2)
    SELECT doc_id, lang,
           CAST(n_feats AS BIGINT) AS n_feats,
           CAST(score_ppm AS BIGINT) AS score_ppm,
           score_ppm >= prior_ppm AS pred_target,
           (score_ppm >= prior_ppm) = (lang = '{_FT_TARGET_LANG}') AS correct
    FROM scored, tot
    ORDER BY doc_id
    """,
)
def fasttext_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped target-language filter (Joulin et al. 2016, "Bag of
    Tricks for Efficient Text Classification" — the classifier CCNet and
    the LLaMA data pipeline run over every CommonCrawl document): hashed
    bag-of-n-grams features (distinct uni+bigrams → a FIXED
    {_FT_BUCKETS}-bucket table, the hashing trick), a linear per-feature
    weight table trained from the corpus' own lang labels, and a map-side
    scoring pass. fastText proper averages learned embeddings and takes a
    softmax; this variant linearizes to exact integer arithmetic — w_ppm =
    smoothed P(target|b) over per-class document frequencies, doc score =
    mean w_ppm of its features, predict target iff score >= the class
    prior — keeping every cell bit-reproducible in both engines (the
    same integer-linearization stance as ``dsir_importance_weights``).

    Scale shape: ONE tokenize+explode scan feeds training and scoring —
    the presence rows are localCheckpointed (in production, a persisted
    feature table) so the corpus is never tokenized twice; the
    model is <= {_FT_BUCKETS} rows REGARDLESS of corpus size — that is
    the hashing trick's point — so scoring is a broadcast-hash join
    against the presence rows with partial aggregation; the class prior
    is a broadcast 1-row aggregate. No window functions, no driver-side
    vocabulary: at 100 TB the only shuffles are the distinct on
    (doc, bucket) presence rows and the {_FT_BUCKETS}-key training
    groupBy, both linear in the token stream.
    """
    docs = load_table(spark, sf_dir, "documents")
    # the presence rows feed BOTH training and scoring: materialize them
    # once (localCheckpoint — in production, the persisted feature table)
    # instead of tokenizing the corpus twice
    feats = _ft_features(docs).localCheckpoint(eager=False)
    model = _ft_model(feats)
    prior = docs.agg(
        F.expr(
            f"(1000000 * (SUM(CASE WHEN lang = '{_FT_TARGET_LANG}' THEN 1 "
            "ELSE 0 END) + 1)) DIV (COUNT(*) + 2)"
        ).alias("prior_ppm")
    )
    scored = (
        feats.join(F.broadcast(model), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.expr("SUM(w_ppm) DIV COUNT(*)").alias("score_ppm"),
        )
    )
    pred = F.col("score_ppm") >= F.col("prior_ppm")
    return (
        scored.crossJoin(F.broadcast(prior))
        .select(
            "doc_id",
            "lang",
            "n_feats",
            "score_ppm",
            pred.alias("pred_target"),
            (pred == (F.col("lang") == _FT_TARGET_LANG)).alias("correct"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Semantic (embedding-space) eval contamination (round-11 addition)
# ---------------------------------------------------------------------------

_SCON_EVAL = 64  # the fixed-size benchmark suite: vec_id < 64
_SCON_COS = 450_000  # ppm cosine threshold (shared with embedding_near_pairs)


@register(
    "semantic_contamination",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    ev AS (SELECT vec_id, e FROM v WHERE vec_id < {_SCON_EVAL}),
    tr AS (SELECT vec_id, e FROM v WHERE vec_id >= {_SCON_EVAL}),
    cos AS (
      SELECT tr.vec_id,
             CAST(FLOOR(
               list_sum(list_transform(range(1, len(tr.e) + 1),
                                       i -> tr.e[i] * ev.e[i]))
               / (sqrt(list_sum(list_transform(tr.e, x -> x * x)))
                  * sqrt(list_sum(list_transform(ev.e, x -> x * x))))
               * 1000000 + 0.5) AS BIGINT) AS c
      FROM tr, ev)
    SELECT vec_id,
           CAST(MAX(c) AS BIGINT) AS max_eval_cos_ppm,
           CAST(SUM(CASE WHEN c >= {_SCON_COS} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_eval_hits,
           MAX(c) >= {_SCON_COS} AS contaminated
    FROM cos GROUP BY vec_id ORDER BY vec_id
    """,
)
def semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic eval-set decontamination — the embedding-space complement
    of ``contamination_overlap``'s n-gram check (the GPT-3/Brown et al.
    appendix-C decontamination shape, upgraded the way modern pipelines
    run it: paraphrased or reformatted eval leakage that shares no 13-gram
    still sits next to the eval point in embedding space). Every training
    vector is scored against the FIXED benchmark suite (here the
    ``vec_id < {_SCON_EVAL}`` slice playing the role of a held-out eval
    set); a doc whose max cosine reaches {_SCON_COS} ppm is flagged for
    removal, and the hit count sizes the leak.

    Scale shape: the eval suite is benchmark-sized — INDEPENDENT of corpus
    size — so it broadcasts as one numpy matrix and the whole check is a
    map-only ``mapInPandas`` matmul over the training scan: zero shuffle,
    zero driver state beyond the suite, linear in the corpus forever.
    That is the decisive difference from the near-pairs self-join: there
    both sides grow, here one side is pinned. The oracle states the naive
    cross join; the quantization (floor(x*1e6+0.5)) matches DuckDB ROUND
    half-away-from-zero on the positive range, same as
    ``embedding_near_pairs``."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    b_ev = spark.sparkContext.broadcast(contamination_suite(spark, sf_dir))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = np.array(pdf["e"].tolist(), dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            sims = np.floor(mat @ b_ev.value.T * 1_000_000 + 0.5).astype(
                np.int64
            )  # (batch, n_eval) ppm
            mx = sims.max(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "max_eval_cos_ppm": mx,
                    "n_eval_hits": (sims >= _SCON_COS).sum(axis=1),
                    "contaminated": mx >= _SCON_COS,
                }
            )

    schema = (
        "vec_id bigint, max_eval_cos_ppm bigint, n_eval_hits bigint, "
        "contaminated boolean"
    )
    return (
        emb.filter(F.col("vec_id") >= _SCON_EVAL)
        .mapInPandas(score, schema)
        .orderBy("vec_id")
    )


def contamination_suite(spark: SparkSession, sf_dir: str):
    """Batch-publishes the decontamination model: the row-normalized eval
    embedding matrix (numpy float64, ``_SCON_EVAL`` x dim — benchmark-
    sized, corpus-independent). The ingest stream tags arriving vectors
    against it map-side (``streaming.pipelines.stream_contamination_tags``)
    with the SAME normalize/matmul/quantize arithmetic as the batch
    operator, so the tags are bit-identical."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    ev = emb.filter(F.col("vec_id") < _SCON_EVAL).collect()
    if not ev:
        raise ValueError(f"no eval vectors (vec_id < {_SCON_EVAL}) under {sf_dir}")
    ev_mat = np.array([r["e"] for r in ev], dtype=np.float64)
    ev_mat /= np.linalg.norm(ev_mat, axis=1, keepdims=True)
    return ev_mat


def fasttext_stream_model(
    spark: SparkSession, sf_dir: str
) -> tuple[dict[int, int], int]:
    """Batch-trains / stream-applies for the fastText-style filter: a
    batch job publishes the hashed-feature weight table plus the class
    prior; the ingest stream tags arriving docs against them map-side
    (``streaming.pipelines.stream_fasttext_tags``).

    Returns ``({bucket: w_ppm}, prior_ppm)``. The weight table is at most
    ``_FT_BUCKETS`` = 4096 entries — FIXED size regardless of corpus
    (the hashing trick caps the model exactly like shipping a fastText
    ``.bin`` with a fixed bucket count), so the driver collect is
    bounded, the same budget stance as ``dsir_stream_thresholds``."""
    docs = load_table(spark, sf_dir, "documents")
    w = {
        r["b"]: r["w_ppm"] for r in _ft_model(_ft_features(docs)).collect()
    }
    if not w:
        raise ValueError(
            f"no documents under {sf_dir} — cannot train the lang filter"
        )
    prior = docs.agg(
        F.expr(
            f"(1000000 * (SUM(CASE WHEN lang = '{_FT_TARGET_LANG}' THEN 1 "
            "ELSE 0 END) + 1)) DIV (COUNT(*) + 2)"
        ).alias("p")
    ).collect()[0]["p"]
    return w, prior


# ---------------------------------------------------------------------------
# Canonical-URL dedup (round-8 addition; data-driven since round 9)
# ---------------------------------------------------------------------------

# Messy variants: case, fragments, tracking params, default ports, trailing
# slashes — each group collapses to one canonical URL. Since round 9 the
# registry query derives its URLs from the sf-scaled documents table (see
# url_canonical_dedup); this fixture remains the hand-auditable pytest case
# (tests/test_corpus_ops.py) pinning every spelling class.
_CANON_FIXTURE = [
    ("r1", "https://Example.com/Article?utm_source=feed&id=7"),
    ("r2", "https://example.com/Article?id=7#section-2"),
    ("r3", "https://example.com:443/Article?id=7"),
    ("r4", "http://News.example.com:80/today/"),
    ("r5", "http://news.example.com/today/?utm_campaign=x&gclid=abc"),
    ("r6", "http://news.example.com/today/#top"),
    ("r7", "https://other.org/page?fbclid=123"),
    ("r8", "https://other.org/page"),
    ("r9", "https://unique.net/solo?a=1&utm_medium=mail&b=2"),
]

# Canonicalization pipeline, stated once as (java_pattern, duck_pattern,
# java_repl, duck_repl) steps applied IN ORDER on both engines. RE2 (DuckDB)
# has no lookarounds, so every step is plain groups + backrefs ($1 in Java,
# \1 in RE2 replacement syntax).
_CANON_STEPS = [
    # 1. drop the fragment
    (r"#.*", "", ""),
    # 2. strip tracking params (value up to the next separator), anchored
    #    to a '?'/'&' param boundary so a DIFFERENT param that merely ends
    #    in a tracking name (e.g. 'xutm_source=1') or a value containing
    #    'gclid=' is never clipped — the separator is kept ($1/\1) and the
    #    tidy steps below collapse it
    (r"([?&])(utm_[a-z]+|gclid|fbclid)=[^&#]*", "$1", r"\1"),
    # 3. tidy separators the strip left behind: first collapse '&&'->'&'
    #    (two adjacent stripped params leave '?&&x', which must become
    #    '?&x' BEFORE the '?&'->'?' fix or the result isn't idempotent —
    #    caught by the hypothesis idempotence property), then '?&'->'?',
    #    then a trailing '?' or '&'
    (r"&&+", "&", "&"),
    (r"\?&", "?", "?"),  # literal, via regex escape
    (r"[?&]+$", "", ""),
    # 4. default ports
    (r"^(http://[^/:?#]+):80([/?]|$)", "$1$2", r"\1\2"),
    (r"^(https://[^/:?#]+):443([/?]|$)", "$1$2", r"\1\2"),
    # 5. trailing slash on a path (but never the bare host)
    (r"^([^?#]*[^/?#])/(\?|$)", "$1$2", r"\1\2"),
]


def _canon_duck_expr() -> str:
    """DuckDB expression mirroring :func:`_canon_spark` step for step."""
    expr = (
        "lower(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+')) || "
        "substr(url, length(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+')) + 1)"
    )
    for pat, _, duck_repl in _CANON_STEPS:
        # SQL single-quoted strings pass backslashes through verbatim
        # (no doubling), so RE2 sees the pattern/backrefs exactly
        pat_sql = pat.replace("'", "''")
        repl_sql = duck_repl.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat_sql}', '{repl_sql}', 'g')"
    return expr


def canonical_url_col(url_col: str = "url"):
    """The canonicalized-URL column: lowercase scheme+host, then the
    shared ``_CANON_STEPS`` regexp pipeline (fragment drop, tracking-param
    strip + separator tidy, default-port drop, trailing-slash drop) —
    one map-only JVM expression, stated once so the batch dedup
    (:func:`canonical_url_groups`), the DuckDB oracle
    (:func:`_canon_duck_expr`), and the streaming dedup key
    (``streaming.pipelines.stream_url_dedup``) canonicalize identically."""
    prefix = F.regexp_extract(url_col, r"^[a-zA-Z]+://[^/?#]+", 0)
    u = F.concat(
        F.lower(prefix),
        F.substring(F.col(url_col), F.length(prefix) + F.lit(1), F.lit(1 << 20)),
    )
    for pat, java_repl, _ in _CANON_STEPS:
        u = F.regexp_replace(u, pat, java_repl)
    return u


def canonical_url_groups(recs: DataFrame) -> DataFrame:
    """Group a ``(rec_id, url)`` table by canonical URL (the shared
    :func:`canonical_url_col` expression; RE2-safe patterns so DuckDB
    replays them exactly — Java ``$1`` vs RE2 ``\\1`` replacement syntax
    is the only per-engine difference). Survivor per group =
    MIN(rec_id)."""
    return (
        recs.select("rec_id", canonical_url_col("url").alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("rec_id").alias("keep_rec"),
        )
        .orderBy("canonical_url")
    )


# Deterministic messy-URL derivation over the documents table: every three
# consecutive doc_ids spell the SAME page three different ways (clean;
# upper-case host + default port + utm param + fragment; trailing slash +
# fbclid). Stated once as SQL fragments valid in BOTH engines (DIV is
# DuckDB '//'; string concat via CONCAT+CAST), so the Spark side F.expr()s
# the same text the oracle embeds.
_URL_PAGE = "(doc_id DIV 3)"
_URL_SCHEME = f"CASE WHEN {_URL_PAGE} % 2 = 0 THEN 'https' ELSE 'http' END"
_URL_HOST = f"CONCAT('src', CAST({_URL_PAGE} % 20 AS STRING), '.example.com')"
_URL_EXPR = f"""CONCAT(
      {_URL_SCHEME}, '://',
      CASE WHEN doc_id % 3 = 1 THEN UPPER({_URL_HOST}) ELSE {_URL_HOST} END,
      CASE WHEN doc_id % 3 = 1
           THEN (CASE WHEN {_URL_PAGE} % 2 = 0 THEN ':443' ELSE ':80' END)
           ELSE '' END,
      '/doc/', CAST({_URL_PAGE} AS STRING),
      CASE doc_id % 3
           WHEN 0 THEN CONCAT('?id=', CAST({_URL_PAGE} AS STRING))
           WHEN 1 THEN CONCAT('?utm_source=feed&id=',
                              CAST({_URL_PAGE} AS STRING), '#sec')
           ELSE CONCAT('/?id=', CAST({_URL_PAGE} AS STRING),
                       '&fbclid=', CAST(doc_id AS STRING))
      END)"""


@register(
    "url_canonical_dedup",
    oracle=f"""
    WITH recs AS (
      SELECT doc_id AS rec_id,
             {_URL_EXPR.replace("DIV", "//")} AS url
      FROM documents),
    canon AS (
      SELECT rec_id, {_canon_duck_expr()} AS canonical_url
      FROM recs)
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           MIN(rec_id) AS keep_rec
    FROM canon
    GROUP BY canonical_url
    ORDER BY canonical_url
    """,
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup — the web-crawl front door of corpus curation
    (the same page arrives as dozens of URL spellings; CommonCrawl-based
    pipelines dedup on a canonicalized URL before any content dedup).
    The URL column derives deterministically from the sf-scaled documents
    table (``_URL_EXPR``: each page spelled clean / upper-case host +
    default port + utm param + fragment / trailing slash + fbclid by
    three consecutive doc_ids), so the operator scans parquet at every
    scale and its scale-growth anchor measures real data growth; the
    hand-auditable 9-row ``_CANON_FIXTURE`` stays as the pytest case for
    every spelling class. Canonicalization + grouping in
    :func:`canonical_url_groups`.

    Scale shape: URL derivation and canonicalization are one map-only
    projection over the scan; the group-by shuffles one row per URL with
    map-side combine. At crawl scale the canonical key is also the
    natural partition key for incremental ingest (new batch anti-joins
    the manifest on it, J1 shape).
    """
    docs = load_table(spark, sf_dir, "documents")
    recs = docs.select(
        F.col("doc_id").alias("rec_id"), F.expr(_URL_EXPR).alias("url")
    )
    return canonical_url_groups(recs)


# ---------------------------------------------------------------------------
# Data-constrained epoch allocation (repetition plan)
# ---------------------------------------------------------------------------

_EPOCH_BUDGET_X = 2  # total training budget = 2x the corpus token count
_EPOCH_CAP = 4  # beyond ~4 epochs repeated data stops paying (Muennighoff)


@register(
    "epoch_repetition_plan",
    oracle=f"""
    WITH per_src AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                      t -> t <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             COUNT(*) AS n_sources
      FROM per_src)
    SELECT p.source, p.n_docs, p.n_tokens,
           CAST({_EPOCH_BUDGET_X} * t.total_tokens // t.n_sources AS BIGINT)
             AS target_tokens,
           CAST(LEAST({_EPOCH_BUDGET_X} * t.total_tokens // t.n_sources,
                      {_EPOCH_CAP} * p.n_tokens) AS BIGINT) AS allocated_tokens,
           CAST(CASE WHEN p.n_tokens = 0 THEN 0
                     ELSE LEAST({_EPOCH_BUDGET_X} * t.total_tokens // t.n_sources,
                                {_EPOCH_CAP} * p.n_tokens) * 1000000 // p.n_tokens
                END AS BIGINT) AS epochs_ppm,
           ({_EPOCH_CAP} * p.n_tokens
              < {_EPOCH_BUDGET_X} * t.total_tokens // t.n_sources) AS capped,
           CAST({_EPOCH_BUDGET_X} * t.total_tokens // t.n_sources
                - LEAST({_EPOCH_BUDGET_X} * t.total_tokens // t.n_sources,
                        {_EPOCH_CAP} * p.n_tokens) AS BIGINT) AS shortfall_tokens
    FROM per_src p CROSS JOIN tot t
    ORDER BY p.source
    """,
)
def epoch_repetition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch allocation: how many times to repeat each
    source under a fixed training-token budget — the planning operator for
    the regime where the model wants more tokens than the corpus has
    (Muennighoff et al. 2023, "Scaling Data-Constrained Language Models",
    arXiv:2305.16264: repeating data is nearly as good as fresh data up to
    ~4 epochs, then returns decay rapidly — hence the hard 4-epoch cap).

    The plan targets a uniform per-source token share of a budget equal to
    ``_EPOCH_BUDGET_X`` × the corpus, caps every source at
    ``_EPOCH_CAP`` epochs of itself, and reports the unmet shortfall the
    mix designer must cover elsewhere (cf. ``mixture_sampling_plan``'s
    temperature weighting and ``token_budget_selection``'s subset pick).
    All integer arithmetic (epochs as ppm; floor division shared with the
    oracle) so both engines agree bit-for-bit.

    Scale shape: one tokenize scan with a map-side-combinable per-source
    aggregate (a handful of rows), then a broadcast 1-row corpus total
    cross-join — the same two-level reduce every profile query here uses.
    Nothing is corpus-sized after the first aggregate."""
    from input_data_pipeline_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count("text")).cast("long").alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    target = F.expr(
        f"{_EPOCH_BUDGET_X} * total_tokens DIV n_sources"
    ).alias("target_tokens")
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            target,
            F.least(
                F.expr(f"{_EPOCH_BUDGET_X} * total_tokens DIV n_sources"),
                F.expr(f"{_EPOCH_CAP} * n_tokens"),
            ).alias("allocated_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "target_tokens",
            "allocated_tokens",
            # Zero-token sources (all-whitespace docs) must yield 0, not
            # NULL: Spark DIV returns NULL on /0 where DuckDB // raises —
            # the CASE makes both engines agree instead of diverging.
            F.expr(
                "CASE WHEN n_tokens = 0 THEN 0"
                " ELSE allocated_tokens * 1000000 DIV n_tokens END"
            ).alias("epochs_ppm"),
            (F.lit(_EPOCH_CAP) * F.col("n_tokens") < F.col("target_tokens")).alias(
                "capped"
            ),
            (F.col("target_tokens") - F.col("allocated_tokens")).alias(
                "shortfall_tokens"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Chunk-level dedup REWRITE (the removal face of the substring-dedup audit)
# ---------------------------------------------------------------------------

@register(
    "chunk_dedup_rewrite",
    oracle=f"""
    WITH tok AS (
      SELECT d.doc_id, d.source,
             string_split(regexp_replace(trim(lower(d.text)), '\\s+', ' ', 'g'), ' ')
               AS ts
      FROM documents d
      WHERE trim(d.text) <> ''),
    starts AS (
      SELECT doc_id, source, ts,
             unnest(range(1, len(ts) + 1, {_CHUNK_TOKENS})) AS s
      FROM tok),
    chunks AS (
      SELECT doc_id, source, s,
             array_to_string(ts[s:s + {_CHUNK_TOKENS} - 1], ' ') AS chunk
      FROM starts),
    first AS (
      SELECT chunk, MIN(doc_id * 1000000 + (s - 1) // {_CHUNK_TOKENS}) AS fkey
      FROM chunks GROUP BY chunk),
    kept AS (
      SELECT c.doc_id, c.s, c.chunk
      FROM chunks c JOIN first f
        ON c.chunk = f.chunk
       AND c.doc_id * 1000000 + (c.s - 1) // {_CHUNK_TOKENS} = f.fkey),
    totals AS (
      SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY doc_id),
    keeps AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             md5(string_agg(chunk, ' ' ORDER BY s)) AS rewrite_fp,
             CAST(length(string_agg(chunk, ' ' ORDER BY s)) AS BIGINT)
               AS n_chars_new
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n_chunks AS BIGINT) AS n_chunks,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(k.rewrite_fp, md5('')) AS rewrite_fp,
           CAST(COALESCE(k.n_chars_new, 0) AS BIGINT) AS n_chars_new
    FROM totals t LEFT JOIN keeps k ON t.doc_id = k.doc_id
    ORDER BY t.doc_id
    """,
)
def chunk_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL face of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": repeated
    spans are CUT, not whole documents dropped): every non-overlapping
    {_CHUNK_TOKENS}-token chunk keeps only its first (doc_id, offset)
    occurrence corpus-wide; each document is reassembled from its
    surviving chunks in order. Emits per doc the chunk counts and the
    md5 + length of the rewritten text (the fingerprint both engines can
    agree on without shipping the text itself).

    Scale shape: no window anywhere — the canonical-occurrence choice is
    a map-side-combinable ``MIN(composite key)`` per chunk (hot chunks
    cost a skewed-aggregate cell, not a partition sort; cf.
    ``chunk_dedup_rate``'s rank formulation, which this operator
    deliberately avoids at rewrite grain), then one join back on the
    chunk key. Reassembly is a bounded per-doc sorted-array concat (docs
    have ≤ len/{_CHUNK_TOKENS} chunks). Chunks derive from the shared
    persisted token index — one tokenization per session."""
    idx = corpus_token_index(spark, sf_dir)
    chunks = (
        idx.groupBy(
            "doc_id",
            (F.floor(F.col("pos") / _CHUNK_TOKENS)).alias("ck"),
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("chunk")
        )
    )
    first = chunks.groupBy("chunk").agg(
        F.min(F.col("doc_id") * 1_000_000 + F.col("ck")).alias("fkey")
    )
    kept = chunks.join(first, "chunk").filter(
        F.col("doc_id") * 1_000_000 + F.col("ck") == F.col("fkey")
    )
    totals = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    rewritten = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ck", "chunk"))),
            lambda x: x["chunk"],
        ),
        " ",
    )
    keeps = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(rewritten).alias("rewrite_fp"),
        F.length(rewritten).cast("long").alias("n_chars_new"),
    )
    empty_fp = F.md5(F.lit(""))
    return (
        totals.join(keeps, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("rewrite_fp", empty_fp).alias("rewrite_fp"),
            F.coalesce("n_chars_new", F.lit(0)).alias("n_chars_new"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# SSL-prototypes / D4 prototypicality pruning — round 13
# ---------------------------------------------------------------------------

_PROTO_PRUNE_PCT = 10  # drop the most prototypical decile per cluster


@register(
    "prototypicality_prune",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (
      SELECT label AS c_label, list(cx ORDER BY i) AS c_e
      FROM (SELECT label, r.i AS i,
                   ROUND(CAST(SUM(CAST(e[r.i] AS DECIMAL(18,9))) AS DOUBLE)
                         / COUNT(*), 6) AS cx
            FROM v, range(1, 64 + 1) AS r(i)
            GROUP BY label, r.i)
      GROUP BY label),
    scored AS (
      SELECT v.vec_id, v.label,
             CAST(ROUND((list_sum(list_transform(range(1, 64 + 1),
                                                 i -> v.e[i] * c.c_e[i]))
               / (sqrt(list_sum(list_transform(v.e, x -> x * x)))
                  * sqrt(list_sum(list_transform(c.c_e, x -> x * x)))))
               * 1000000) AS BIGINT) AS proto_cos_ppm
      FROM v JOIN cent c ON c.c_label = v.label),
    ranked AS (
      SELECT vec_id, label, proto_cos_ppm,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY proto_cos_ppm DESC, vec_id)
               AS proto_rank,
             COUNT(*) OVER (PARTITION BY label) AS n_label
      FROM scored)
    SELECT vec_id, label, proto_cos_ppm,
           CAST(proto_rank AS BIGINT) AS proto_rank,
           proto_rank * 100 <= n_label * {_PROTO_PRUNE_PCT} AS pruned
    FROM ranked
    ORDER BY vec_id
    """,
)
def prototypicality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototypes pruning (Sorscher et al. 2022; the second stage of
    D4, Tirumala et al. 2023, arXiv:2308.12284): within each embedding
    cluster, the examples CLOSEST to the cluster centroid are the most
    prototypical — least informative to train on — so the top
    {_PROTO_PRUNE_PCT}% by centroid cosine are flagged for pruning.
    Clusters here are the label groups (the same exact decimal-rounded
    centroids as ``label_centroid_assignment``, so both engines share
    bit-identical constants); composes after ``semdedup_embedding_clusters``
    exactly as D4 prescribes (near-dup removal, then prototype pruning).

    Scale shape: centroids are one map-combinable posexplode aggregate
    (n_labels x DIM rows -> broadcast); scoring is a map-only broadcast
    join; the per-cluster rank is a window over label partitions — at
    100 TB you'd swap it for the quantile-threshold form (approx
    percentile per cluster, then a map-only comparison), same output
    contract. Every output cell is integer/boolean; the ppm quantization
    is half-away in both engines."""
    from pyspark.sql import Window

    from input_data_pipeline_spark.functions.stable import round_micros
    from input_data_pipeline_spark.operators.similarity import _emb, cosine

    emb = _emb(spark, sf_dir)
    cent = (
        emb.select("label", F.posexplode("e").alias("i", "x"))
        .groupBy("label", "i")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("cx")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "cx"))).alias("pairs"))
        .select(
            F.col("label").alias("c_label"),
            F.transform("pairs", lambda s: s.getField("cx")).alias("c_e"),
        )
    )
    scored = (
        emb.join(F.broadcast(cent), F.col("label") == F.col("c_label"))
        .select(
            "vec_id",
            "label",
            round_micros(cosine(F.col("e"), F.col("c_e"))).alias(
                "proto_cos_ppm"
            ),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("proto_cos_ppm"), F.asc("vec_id")
    )
    wn = Window.partitionBy("label")
    return (
        scored.withColumn("proto_rank", F.row_number().over(w).cast("long"))
        .withColumn("n_label", F.count(F.lit(1)).over(wn))
        .select(
            "vec_id",
            "label",
            "proto_cos_ppm",
            "proto_rank",
            (F.col("proto_rank") * 100 <= F.col("n_label") * _PROTO_PRUNE_PCT)
            .alias("pruned"),
        )
        .orderBy("vec_id")
    )


def prototypicality_model(spark: SparkSession, sf_dir: str) -> dict:
    """The publishable prototypicality state (batch-trains /
    stream-applies, like the DSIR/CCNet/sq8 models): per-cluster centroid
    vectors (the exact decimal-rounded constants ``prototypicality_prune``
    uses) plus each cluster's pruning cosine threshold — the ppm cosine of
    the last pruned rank, so an arriving vector is tagged by ONE broadcast
    comparison instead of a rank over history. Fixed size: n_clusters x
    (DIM + 1)."""
    pruned = prototypicality_prune(spark, sf_dir)
    thr = (
        pruned.filter(F.col("pruned"))
        .groupBy("label")
        .agg(F.min("proto_cos_ppm").alias("cut_ppm"))
    )
    from input_data_pipeline_spark.operators.similarity import _emb

    emb = _emb(spark, sf_dir)
    cent_rows = (
        emb.select("label", F.posexplode("e").alias("i", "x"))
        .groupBy("label", "i")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("cx")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "cx"))).alias("pairs"))
        .select("label", F.transform("pairs", lambda s: s["cx"]).alias("c_e"))
        .collect()
    )
    cuts = {r["label"]: r["cut_ppm"] for r in thr.collect()}
    return {
        r["label"]: {"centroid": list(r["c_e"]), "cut_ppm": cuts.get(r["label"])}
        for r in cent_rows
    }
