"""Text-analysis operators over ``documents`` (SURVEY.md §2.10 + BASELINE N★).

All of these stay expression-only (functions/text.py) — no Python UDFs — so
at 100 TB the whole text-statistics pass is one codegen'd scan with a
low-cardinality aggregate behind it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from input_data_pipeline_spark.functions import text as T
from input_data_pipeline_spark.functions.stable import round_micros
from input_data_pipeline_spark.plans.registry import register
from input_data_pipeline_spark.tables import load_table, materialize

from input_data_pipeline_spark.functions.text import (
    DUCK_TOKENS as _DUCK_TOKENS,
)


@register(
    "lang_distribution",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) * 1000000 // COUNT(*) AS BIGINT) AS avg_chars_ppm,
           CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER () AS BIGINT) AS share_ppm
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language histogram with global share (window-over-aggregate)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("sum(n_chars) * 1000000 DIV count(1)").alias("avg_chars_ppm"),
    )
    return (
        agg.withColumn("_tot", F.sum("n_docs").over(Window.partitionBy()))
        .withColumn("share_ppm", F.expr("n_docs * 1000000 DIV _tot"))
        .drop("_tot")
        .orderBy("lang")
    )


@register(
    "doc_token_stats",
    oracle=f"""
    WITH tok AS (
      SELECT lang, len({_DUCK_TOKENS}) AS n_tokens,
             length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace
      FROM documents)
    SELECT lang,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tokens) * 1000000 // COUNT(*) AS BIGINT) AS avg_tokens_ppm,
           CAST(SUM(n_nonspace) * 1000000 // SUM(n_tokens) AS BIGINT) AS avg_token_len_ppm
    FROM tok
    GROUP BY lang
    ORDER BY lang
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per language — whitespace tokenizer, expression-only."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            T.token_count("text").alias("n_tokens"),
            F.length(F.regexp_replace("text", r"\s+", "")).alias("n_nonspace"),
        )
        .groupBy("lang")
        .agg(
            F.sum("n_tokens").alias("total_tokens"),
            # Scaled-integer averages (ppm = value × 1e6, truncated): exact
            # integer arithmetic on both engine and oracle sides, so the
            # differential hash is bit-stable — float averages are not.
            F.expr("sum(n_tokens) * 1000000 DIV count(1)").alias("avg_tokens_ppm"),
            F.expr("sum(n_nonspace) * 1000000 DIV sum(n_tokens)").alias(
                "avg_token_len_ppm"
            ),
        )
        .orderBy("lang")
    )


@register(
    "top_tokens",
    oracle=f"""
    SELECT t.token, COUNT(*) AS n
    FROM documents, UNNEST({_DUCK_TOKENS}) AS t(token)
    GROUP BY t.token
    ORDER BY n DESC, t.token
    LIMIT 20
    """,
)
def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 token frequencies: explode → partial-agg → top-k.

    The map-side partial aggregate collapses the exploded rows before the
    shuffle, so cardinality on the wire is |vocab|, not |tokens| — the
    property that keeps this viable on 100 TB of text.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@register(
    "doc_quality",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             len({_DUCK_TOKENS}) AS n_tokens,
             length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace,
             len(list_filter({_DUCK_TOKENS},
                 t -> lower(t) IN ('the','a','and','of','to','is','in'))) AS n_stop
      FROM documents)
    SELECT doc_id, lang, n_tokens,
           CASE WHEN n_tokens > 0 THEN n_stop * 1000000 // n_tokens ELSE 0 END
             AS stop_ratio_ppm,
           CAST(ROUND((LEAST(n_tokens / 200.0, 1.0) * 0.7 +
                 CASE WHEN n_tokens > 0
                       AND n_nonspace >= 2 * n_tokens AND n_nonspace <= 12 * n_tokens
                      THEN 1.0 ELSE 0.5 END * 0.3) * 1000000) AS BIGINT) AS quality_ppm
    FROM tok
    ORDER BY doc_id
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality scoring (length/stopword heuristics, SURVEY §2.10).

    Token count is map-only (size of the token array, no explode); only the
    stopword tally explodes, and its isin filter runs before the shuffle so
    the aggregate sees stopword rows only (~1.4s at sf0.1 vs 2.2s for the
    explode-everything form, vs 4.4s for the naive form that re-splits the
    text four times through interpreted array filters).
    """
    docs = load_table(spark, sf_dir, "documents")
    # n_tokens needs no explode (size of the token array, map-only); only
    # the stopword tally goes through explode — and the isin filter runs
    # BEFORE the shuffle, so the aggregate only ever sees stopword rows.
    stops = (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("tok"))
        .filter(F.lower("tok").isin(*T.STOPWORDS["en"]))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_stop"))
    )
    base = docs.select(
        "doc_id",
        "lang",
        F.size(T.tokens("text")).alias("n_tokens"),
        F.length(F.regexp_replace("text", r"\s+", "")).alias("n_nonspace"),
    )
    j = base.join(stops, "doc_id", "left").na.fill({"n_stop": 0})
    # avg-token-length band check in exact integer space (n_tokens > 0 from
    # the outer CASE): 2 <= n_nonspace/n_tokens <= 12.
    band_ok = (F.col("n_nonspace") >= 2 * F.col("n_tokens")) & (
        F.col("n_nonspace") <= 12 * F.col("n_tokens")
    )
    quality = round_micros(
        F.least(F.col("n_tokens") / F.lit(200.0), F.lit(1.0)) * 0.7
        + F.when((F.col("n_tokens") > 0) & band_ok, F.lit(1.0)).otherwise(F.lit(0.5))
        * 0.3
    )
    return (
        j.select(
            "doc_id",
            "lang",
            "n_tokens",
            F.when(
                F.col("n_tokens") > 0, F.expr("n_stop * 1000000 DIV n_tokens")
            ).otherwise(F.lit(0).cast("long")).alias("stop_ratio_ppm"),
            quality.alias("quality_ppm"),
        )
        .orderBy("doc_id")
    )


@register(
    "doc_previews",
    oracle="""
    SELECT doc_id,
           'doc_' || substr(sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 12)
             AS content_id,
           CASE WHEN length(text) > 100 THEN substr(text, 1, 100) || '...'
                ELSE text END AS preview
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_previews(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content ids + preview truncation (SURVEY F7, P7):
    the reference's uuid ids re-expressed as reproducible content hashes."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            T.content_id(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), "doc").alias("content_id"),
            T.preview("text").alias("preview"),
        )
        .orderBy("doc_id")
    )


@register(
    "language_confusion",
    oracle="""
    WITH scored AS (
      SELECT lang,
             len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                 t -> t IN ('the','a','and','of','to','is','in'))) AS h_en,
             len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                 t -> t IN ('le','la','et','de','un','est','dans'))) AS h_fr,
             len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                 t -> t IN ('el','la','y','de','un','es','en'))) AS h_es,
             len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                 t -> t IN ('der','die','und','von','ein','ist','in'))) AS h_de
      FROM documents)
    SELECT lang,
           CASE WHEN h_en = 0 AND h_fr = 0 AND h_es = 0 AND h_de = 0 THEN 'unknown'
                WHEN h_en >= h_fr AND h_en >= h_es AND h_en >= h_de THEN 'en'
                WHEN h_fr >= h_es AND h_fr >= h_de THEN 'fr'
                WHEN h_es >= h_de THEN 'es'
                ELSE 'de' END AS predicted,
           COUNT(*) AS n
    FROM scored
    GROUP BY 1, 2
    ORDER BY lang, predicted
    """,
)
def language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID (function-word voting) × labeled lang —
    a confusion matrix. Deterministic tie-break: en > fr > es > de."""
    docs = load_table(spark, sf_dir, "documents")
    low = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    def _hits(words: tuple[str, ...]):
        return F.size(F.filter(low, lambda t: t.isin(*words)))

    hits = {lang: _hits(words) for lang, words in T.STOPWORDS.items()}
    predicted = (
        F.when((hits["en"] == 0) & (hits["fr"] == 0) & (hits["es"] == 0) & (hits["de"] == 0), "unknown")
        .when((hits["en"] >= hits["fr"]) & (hits["en"] >= hits["es"]) & (hits["en"] >= hits["de"]), "en")
        .when((hits["fr"] >= hits["es"]) & (hits["fr"] >= hits["de"]), "fr")
        .when(hits["es"] >= hits["de"], "es")
        .otherwise("de")
    )
    return (
        docs.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


@register(
    "youtube_id_extraction",
    oracle="""
    WITH urls(url) AS (VALUES
      ('https://www.youtube.com/watch?v=dQw4w9WgXcQ'),
      ('https://youtu.be/abc123DEF45?t=10'),
      ('https://www.youtube.com/embed/zyx987WVU65'),
      ('https://www.youtube.com/shorts/qwe456RTY78'),
      ('dQw4w9WgXcQ'),
      ('https://example.com/not-a-video'),
      ('https://www.youtube.com/watch?list=PL123&v=mno345PQR67&t=1s'))
    SELECT url,
           COALESCE(
             CASE WHEN regexp_full_match(trim(url), '[A-Za-z0-9_-]{11}') THEN trim(url) END,
             nullif(regexp_extract(trim(url), '[?&]v=([A-Za-z0-9_-]{11})', 1), ''),
             nullif(regexp_extract(trim(url), 'youtu\\.be/([A-Za-z0-9_-]{11})', 1), ''),
             nullif(regexp_extract(trim(url), 'embed/([A-Za-z0-9_-]{11})', 1), ''),
             nullif(regexp_extract(trim(url), 'shorts/([A-Za-z0-9_-]{11})', 1), '')
           ) AS video_id
    FROM urls
    ORDER BY url
    """,
)
def youtube_id_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's URL→video-id extractor (SURVEY P1) as one expression,
    exercised on a fixed literal URL set shared with the oracle."""
    urls = [
        "https://www.youtube.com/watch?v=dQw4w9WgXcQ",
        "https://youtu.be/abc123DEF45?t=10",
        "https://www.youtube.com/embed/zyx987WVU65",
        "https://www.youtube.com/shorts/qwe456RTY78",
        "dQw4w9WgXcQ",
        "https://example.com/not-a-video",
        "https://www.youtube.com/watch?list=PL123&v=mno345PQR67&t=1s",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    return df.select("url", T.youtube_id("url").alias("video_id")).orderBy("url")


@register(
    "normalized_text_hash",
    oracle="""
    SELECT doc_id,
           sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS norm_hash,
           length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS norm_len
    FROM documents
    ORDER BY doc_id
    """,
)
def normalized_text_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Arrow ``@pandas_udf`` surface (SURVEY U1-U4's vectorized
    little sibling): batch text normalization in pandas, hashed JVM-side.
    Exists to pin the pattern — a true scalar pandas UDF (column in,
    column out, Arrow both ways) as opposed to ``mapInPandas`` — while the
    oracle checks the normalization byte-exactly. In production this slot
    holds tokenizer/cleaner logic that genuinely needs Python libraries;
    anything expressible as expressions (like this normalization) should
    graduate to them.
    """
    import re as _re

    from pyspark.sql.functions import pandas_udf

    def _normalize_batch(texts):  # pd.Series -> pd.Series, Arrow both ways
        ws = _re.compile(r"\s+")
        return texts.map(lambda t: ws.sub(" ", t.strip().lower()))

    # functional form: the module uses postponed annotations, which the
    # decorator's type-hint inspection can't read
    normalize = pandas_udf(_normalize_batch, "string")

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", normalize("text").alias("norm"))
        .select(
            "doc_id",
            F.sha2("norm", 256).alias("norm_hash"),
            F.length("norm").alias("norm_len"),
        )
        .orderBy("doc_id")
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS token FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             CAST(ROUND(tf.tf * ln(n.n_docs * 1.0 / df.df) * 1000000) AS BIGINT)
               AS tfidf_ppm
      FROM tf JOIN df USING (token) CROSS JOIN n),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_ppm DESC, token) AS rank
      FROM scored)
    SELECT doc_id, token, rank, tfidf_ppm
    FROM ranked WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document — the classic keyword extractor.

    Three aggregates, all map-side combined: term frequency per (doc, token),
    document frequency per token (broadcast back — |vocab| rows), and the
    corpus size as a literal-sized cross join. At 100 TB the df table is the
    only global state and it's vocabulary-sized; everything else stays
    partitioned by doc.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(df_tbl), "token").select(
        "doc_id",
        "token",
        round_micros(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias(
            "tfidf_ppm"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_ppm"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "rank", "tfidf_ppm")
        .orderBy("doc_id", "rank")
    )


# char-trigram profiles: the most characteristic trigrams per language,
# chosen from function words so they generalize; literals shared verbatim
# with the oracle (same pattern as the youtube_id fixture).
TRIGRAM_PROFILES = {
    "en": ("the", "and", "ing", "ion", " th", "he ", " of", "of "),
    "fr": ("le ", " le", "es ", "de ", " de", "ent", "que", " qu"),
    "es": ("el ", " el", "os ", "de ", " de", "ión", "que", " qu"),
    "de": ("der", "die", "und", " un", "ein", "sch", "ich", "en "),
}

_LID_FIXTURE = [
    ("s1", "the cat sat on the mat and the dog slept by the door"),
    ("s2", "le chat est sur le tapis et le chien dort près de la porte"),
    ("s3", "el gato está en la alfombra y el perro duerme junto a la puerta"),
    ("s4", "der hund und die katze schlafen unter einem schönen baum"),
    ("s5", "zzz qqq xxx www"),  # matches no profile → unknown
]

_LID_VALUES = ",\n      ".join(
    "('{}', '{}')".format(sid, txt.replace("'", "''")) for sid, txt in _LID_FIXTURE
)

_DUCK_PROFILE_VALUES = ",\n      ".join(
    f"('{lang}', '{tri}')"
    for lang, tris in TRIGRAM_PROFILES.items()
    for tri in tris
)


@register(
    "charngram_language_id",
    oracle=f"""
    WITH samples(sample_id, text) AS (VALUES
      {_LID_VALUES}),
    profiles(lang, tri) AS (VALUES
      {_DUCK_PROFILE_VALUES}),
    grams AS (
      SELECT sample_id,
             substr(lower(text), g.i::INT, 3) AS tri
      FROM samples, LATERAL (SELECT unnest(range(1, length(text) - 1)) AS i) g),
    hits AS (
      SELECT g.sample_id, p.lang, COUNT(*) AS n_hits
      FROM grams g JOIN profiles p USING (tri)
      GROUP BY g.sample_id, p.lang),
    best AS (
      SELECT sample_id, lang, n_hits,
             ROW_NUMBER() OVER (PARTITION BY sample_id
                                ORDER BY n_hits DESC, lang) AS rn
      FROM hits)
    SELECT s.sample_id,
           COALESCE(b.lang, 'unknown') AS predicted,
           COALESCE(b.n_hits, 0) AS n_hits
    FROM samples s
    LEFT JOIN best b ON b.sample_id = s.sample_id AND b.rn = 1
    ORDER BY s.sample_id
    """,
)
def charngram_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language ID (the n-gram heuristic, BASELINE N★ text
    analysis): slide a 3-char window over the text, count hits against
    fixed per-language trigram profiles, argmax with deterministic
    tie-break, unknown when nothing matches.

    The trigram explode is codegen (sequence+substring); profile matching
    is a broadcast join against a 32-row table; scoring is one partial-agg
    — the shape that scales to profile tables with thousands of n-grams.
    Exercised on multilingual literals shared with the oracle (the testdata
    corpus is synthetic English-ish for every lang label).
    """
    from pyspark.sql import Window

    samples = spark.createDataFrame(_LID_FIXTURE, ["sample_id", "text"])
    profiles = spark.createDataFrame(
        [(lang, tri) for lang, tris in TRIGRAM_PROFILES.items() for tri in tris],
        ["lang", "tri"],
    )
    low = F.lower("text")
    grams = samples.select(
        "sample_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length(low) - 2),
                lambda i: F.substring(low, i, 3),
            )
        ).alias("tri"),
    )
    hits = (
        grams.join(F.broadcast(profiles), "tri")
        .groupBy("sample_id", "lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    w = Window.partitionBy("sample_id").orderBy(F.desc("n_hits"), F.asc("lang"))
    best = hits.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        samples.join(best, "sample_id", "left")
        .select(
            "sample_id",
            F.coalesce("lang", F.lit("unknown")).alias("predicted"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        )
        .orderBy("sample_id")
    )


# Per-language sampling rates (percent of each stratum to keep): downsample
# the dominant language, keep the tail whole — corpus rebalancing for
# training-data curation.
STRATUM_RATES = {"en": 25, "zh": 100, "es": 100, "de": 100, "fr": 100}


@register(
    "stratified_doc_sample",
    oracle="""
    WITH tagged AS (
      SELECT lang, n_chars,
             CAST(('0x' || substr(md5('sample:' || doc_id), 1, 8)) AS BIGINT)
               % 100 AS bucket,
             CASE lang WHEN 'en' THEN 25 ELSE 100 END AS rate
      FROM documents)
    SELECT lang,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE bucket < rate) AS n_sampled,
           CAST(SUM(n_chars) FILTER (WHERE bucket < rate) * 1000000
             // COUNT(*) FILTER (WHERE bucket < rate) AS BIGINT) AS avg_chars_sampled_ppm
    FROM tagged
    GROUP BY lang
    ORDER BY lang
    """,
)
def stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep-rates applied by
    content-keyed hash bucket (downsample dominant 'en' to 25%, keep the
    rest). Same stability argument as ``dataset_split_assignment`` — a doc's
    fate is a pure function of its id, so reruns, repartitioning, and
    incremental appends never resample old data (``df.sampleBy`` can't
    promise that: its RNG is partition-layout-dependent). One scan, one
    low-cardinality aggregate; the filter is codegen'd, no shuffle of the
    unsampled majority.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("sample:"), F.col("doc_id"))), 1, 8), 16, 10
    ).cast("long") % 100
    rate = F.when(F.col("lang") == "en", F.lit(25)).otherwise(F.lit(100))
    keep = bucket < rate
    return (
        docs.select("lang", "n_chars", keep.alias("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(F.col("keep"), 1)).alias("n_sampled"),
            F.expr(
                "sum(case when keep then n_chars end) * 1000000"
                " DIV count(case when keep then 1 end)"
            ).alias("avg_chars_sampled_ppm"),
        )
        .orderBy("lang")
    )


@register(
    "quality_percentile_filter",
    oracle="""
    WITH cut AS (
      SELECT lang, quantile_cont(n_chars, 0.25) AS p25
      FROM documents GROUP BY lang)
    SELECT d.lang,
           COUNT(*) AS n_kept,
           MIN(d.n_chars) AS min_chars_kept,
           CAST(SUM(d.n_chars) * 1000000 // COUNT(*) AS BIGINT) AS avg_chars_kept_ppm
    FROM documents d JOIN cut c ON d.lang = c.lang
    WHERE d.n_chars >= c.p25
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-threshold corpus filtering: drop each language's shortest
    quartile (a stand-in for any per-stratum quality cut). Thresholds are
    computed as a tiny per-language aggregate and **broadcast** back onto
    the scan — at 100 TB the cut table is |langs| rows, so the second pass
    over documents stays shuffle-free; never window-partition the full
    corpus just to compare against a group percentile.
    """
    docs = load_table(spark, sf_dir, "documents")
    cuts = docs.groupBy("lang").agg(F.percentile("n_chars", 0.25).alias("p25"))
    return (
        docs.join(F.broadcast(cuts), "lang")
        .filter(F.col("n_chars") >= F.col("p25"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("n_chars").alias("min_chars_kept"),
            F.expr("sum(n_chars) * 1000000 DIV count(1)").alias("avg_chars_kept_ppm"),
        )
        .orderBy("lang")
    )


@register(
    "doc_length_outliers",
    oracle="""
    WITH med AS (
      SELECT lang, quantile_cont(n_chars, 0.5) AS med FROM documents GROUP BY lang),
    dev AS (
      SELECT d.lang, quantile_cont(abs(d.n_chars - m.med), 0.5) AS mad
      FROM documents d JOIN med m ON d.lang = m.lang GROUP BY d.lang)
    SELECT d.lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE abs(d.n_chars - m.med) > 3 * v.mad) AS n_outliers,
           CAST(ROUND(ANY_VALUE(m.med) * 1000000) AS BIGINT) AS med_micros,
           CAST(ROUND(ANY_VALUE(v.mad) * 1000000) AS BIGINT) AS mad_micros
    FROM documents d
    JOIN med m ON d.lang = m.lang
    JOIN dev v ON d.lang = v.lang
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def doc_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-stratum outlier detection: median absolute deviation
    (two exact-percentile passes), flagging docs beyond 3×MAD of their
    language's median length. Same broadcast-back shape as
    ``quality_percentile_filter`` — each pass reduces to |langs| rows and
    rejoins broadcast, so the corpus is scanned twice but never shuffled
    on anything wider than the tiny stat tables."""
    docs = load_table(spark, sf_dir, "documents")
    med = docs.groupBy("lang").agg(F.percentile("n_chars", 0.5).alias("med"))
    dev = (
        docs.join(F.broadcast(med), "lang")
        .groupBy("lang")
        .agg(F.percentile(F.abs(F.col("n_chars") - F.col("med")), 0.5).alias("mad"))
    )
    return (
        docs.join(F.broadcast(med), "lang")
        .join(F.broadcast(dev), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(
                F.when(F.abs(F.col("n_chars") - F.col("med")) > 3 * F.col("mad"), 1)
            ).alias("n_outliers"),
            round_micros(F.any_value("med")).alias("med_micros"),
            round_micros(F.any_value("mad")).alias("mad_micros"),
        )
        .orderBy("lang")
    )


@register(
    "source_quota_cap",
    oracle="""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5('quota:' || doc_id), doc_id) AS rn
      FROM documents)
    SELECT source,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE rn <= 50) AS n_kept,
           CAST(SUM(n_chars) FILTER (WHERE rn <= 50) * 1000000
             // COUNT(*) FILTER (WHERE rn <= 50) AS BIGINT) AS avg_chars_kept_ppm
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
)
def source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota (cap docs per domain — the batch form of
    streaming quota enforcement): rank each source's docs in a
    content-keyed pseudorandom order and keep the first 50, so the sample
    within the cap is unbiased and reruns pick the identical winners.
    One shuffle on source; row_number streams over each sorted partition
    and everything past the cap is dropped before any wide operation."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("quota:"), F.col("doc_id"))), "doc_id"
    )
    ranked = docs.select(
        "source", "n_chars", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(F.col("rn") <= 50, 1)).alias("n_kept"),
            F.expr(
                "sum(case when rn <= 50 then n_chars end) * 1000000"
                " DIV count(case when rn <= 50 then 1 end)"
            ).alias("avg_chars_kept_ppm"),
        )
        .orderBy("source")
    )


@register(
    "frequent_tokens_sketch",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_DUCK_TOKENS}) AS token FROM documents),
    counts AS (
      SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
    total AS (SELECT COUNT(*) AS t FROM tok)
    SELECT token, CAST(n AS BIGINT) AS exact_n, TRUE AS in_sketch
    FROM counts, total
    WHERE n * 50 > t
    ORDER BY exact_n DESC, token
    """,
)
def frequent_tokens_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the Karp-Papadimitriou-Shenker sketch
    (``DataFrame.stat.freqItems``): single pass, fixed memory ~1/support
    counters per partition, mergeable — the 100 TB answer to "which tokens
    dominate the corpus" without a full token groupBy.

    The sketch's false-positive set is implementation-specific, but its
    GUARANTEE is not: every token with frequency strictly above the 0.02
    support MUST be in the sketch (no false negatives). That guarantee is
    the driver-checkable contract: the output is the EXACT heavy-hitter
    table (token, exact_n) with an ``in_sketch`` membership verdict, which
    the KPS guarantee makes deterministically TRUE — the DuckDB oracle
    recomputes the exact side and expects TRUE, so a sketch regression
    (lost hitter) goes hash-red in the driver. False positives never
    appear in the output because only exact heavy hitters are probed.
    tests/test_sampling_rollups.py keeps the raw no-false-negative check.
    Scalar columns only, because the round driver's canonicalizer cannot
    hash list-typed cells (the r1 lesson from
    ``event_value_approx_percentiles``)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(T.tokens("text")).alias("tok"))
    freq = toks.stat.freqItems(["tok"], support=0.02)  # 1 row: array of hits
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_n"))
    # total token count derives from the (vocabulary-sized) counts table —
    # summing it avoids a third full corpus scan + tokenize pass
    total = counts.agg(F.sum("exact_n").alias("t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("exact_n") * 50 > F.col("t"))
        .crossJoin(F.broadcast(freq))
        .select(
            F.col("tok").alias("token"),
            "exact_n",
            F.array_contains("tok_freqItems", F.col("tok")).alias("in_sketch"),
        )
        .orderBy(F.desc("exact_n"), "token")
    )


# ---------------------------------------------------------------------------
# Language rebalancing plan (data-driven sampling rates)
# ---------------------------------------------------------------------------

@register(
    "lang_rebalance_plan",
    oracle="""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    target AS (SELECT MIN(n_docs) AS floor_docs FROM counts),
    rates AS (
      SELECT lang, n_docs,
             CAST(FLOOR(floor_docs * 10000.0 / n_docs) AS BIGINT) AS rate_bp
      FROM counts, target),
    tagged AS (
      SELECT d.lang, r.n_docs, r.rate_bp,
             CAST(('0x' || substr(md5('rebal:' || d.doc_id), 1, 8)) AS BIGINT)
               % 10000 AS bucket
      FROM documents d JOIN rates r ON d.lang = r.lang)
    SELECT lang, n_docs, rate_bp,
           COUNT(*) FILTER (WHERE bucket < rate_bp) AS n_kept
    FROM tagged
    GROUP BY lang, n_docs, rate_bp
    ORDER BY lang
    """,
)
def lang_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven language rebalancing: derive a per-language keep-rate
    (basis points of the SMALLEST language's count — i.e. downsample every
    language to the minority size) and apply it with the same
    content-keyed md5 bucket as ``stratified_doc_sample``, reporting the
    plan and realized kept-counts. This is the uniform-mix curation pass a
    multilingual pretraining run performs; unlike the fixed-rate sampler,
    rates here come from the data.

    Scale shape: the rate table is a ~|langs|-row aggregate joined back by
    broadcast; the keep predicate is codegen (md5 + modulo vs an integer
    rate — integer basis points, so both engines compare exactly); one
    map-side-combinable tally. A doc's fate is a pure function of (doc_id,
    its language's rate), so incremental appends never resample old data.
    """
    docs = load_table(spark, sf_dir, "documents")
    # |langs|-row count table, materialized once: the floor reduce and
    # the rate build both consume it, and each re-ran the corpus
    # aggregate without the checkpoint (3 scans -> 2; the tagging pass
    # keeps its own scan, round 17)
    counts = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .localCheckpoint(eager=False)
    )
    floor_docs = counts.agg(F.min("n_docs").alias("floor_docs"))
    rates = counts.crossJoin(F.broadcast(floor_docs)).select(
        "lang",
        "n_docs",
        F.floor(F.col("floor_docs") * 10000.0 / F.col("n_docs")).alias("rate_bp"),
    )
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("rebal:"), F.col("doc_id"))), 1, 8), 16, 10
    ).cast("long") % 10000
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_docs", "rate_bp")
        .agg(F.count(F.when(F.col("bucket") < F.col("rate_bp"), 1)).alias("n_kept"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# BPE-ish token estimation
# ---------------------------------------------------------------------------

# Character-class-only pattern → identical semantics in Java regex (Spark)
# and RE2 (DuckDB): word runs, digit runs, or punctuation runs.
_PRETOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


@register(
    "bpe_token_estimate",
    oracle=f"""
    WITH pretok AS (
      SELECT source, regexp_extract_all(text, '{_PRETOKEN_RE}') AS pieces,
             length(text) AS n_chars
      FROM documents),
    est AS (
      SELECT source, n_chars,
             len(pieces) AS n_pieces,
             list_sum(list_transform(pieces,
               p -> CAST(CEIL(length(p) / 4.0) AS BIGINT))) AS est_tokens
      FROM pretok)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_pieces) AS BIGINT) AS total_pieces,
           CAST(SUM(est_tokens) AS BIGINT) AS total_est_tokens,
           CAST(SUM(est_tokens) * 100000000 // SUM(n_chars) AS BIGINT)
             AS est_tokens_per_100_chars_ppm
    FROM est
    GROUP BY source
    ORDER BY source
    """,
)
def bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token budgeting: pre-tokenize with the classic
    word/digit/punct-run regex, then estimate subword count as
    ceil(len/4) per piece — the cheap tokens-per-byte estimator used to
    budget training compute per source before running a real tokenizer.

    Scale shape: regexp_extract_all + an array fold per row, one
    map-side-combinable per-source tally; exact integer sums, so the final
    ratio is the identical double in both engines. The regex uses only
    character classes, which behave identically in Java regex and RE2.
    """
    docs = load_table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all("text", F.lit(_PRETOKEN_RE), 0)
    est = docs.select(
        "source",
        F.length("text").alias("n_chars"),
        F.size(pieces).alias("n_pieces"),
        F.aggregate(
            F.transform(pieces, lambda p: F.ceil(F.length(p) / 4.0)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("est_tokens"),
    )
    return (
        est.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_pieces").alias("total_pieces"),
            F.sum("est_tokens").alias("total_est_tokens"),
            F.expr("sum(est_tokens) * 100000000 DIV sum(n_chars)").alias(
                "est_tokens_per_100_chars_ppm"
            ),
        )
        .orderBy("source")
    )


@register(
    "quality_calibration",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             len({_DUCK_TOKENS}) AS n_tokens,
             length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace
      FROM documents),
    scored AS (
      SELECT doc_id, lang, n_tokens,
             CAST(ROUND((LEAST(n_tokens / 200.0, 1.0) * 0.7 +
                   CASE WHEN n_tokens > 0
                         AND n_nonspace >= 2 * n_tokens AND n_nonspace <= 12 * n_tokens
                        THEN 1.0 ELSE 0.5 END * 0.3) * 1000000) AS BIGINT) AS quality_ppm
      FROM tok)
    SELECT LEAST(quality_ppm // 100000, 9) AS decile,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) * 1000000 // COUNT(*) AS BIGINT) AS avg_tokens_ppm,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000
             // COUNT(*) AS BIGINT) AS en_share_ppm
    FROM scored
    GROUP BY 1
    ORDER BY decile
    """,
)
def quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score calibration: bucket the heuristic quality score into
    deciles and report volume, mean length, and language mix per bucket —
    the check that a quality classifier's thresholds actually stratify the
    corpus before using them as sampling weights.

    Composes on the registered ``doc_quality`` operator (same plan, one
    extra map-side-combinable aggregate); the decile key floors a 6dp-
    rounded score, so bucketing is identical in both engines, and both
    reported ratios divide exact integers.
    """
    scored = doc_quality(spark, sf_dir)
    decile = F.least(F.expr("quality_ppm DIV 100000"), F.lit(9).cast("long")).alias(
        "decile"
    )
    return (
        scored.select(decile, "lang", "n_tokens")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("sum(n_tokens) * 1000000 DIV count(1)").alias("avg_tokens_ppm"),
            F.expr(
                "sum(case when lang = 'en' then 1 else 0 end) * 1000000 DIV count(1)"
            ).alias("en_share_ppm"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Count-min sketch (deterministic, oracle-exact)
# ---------------------------------------------------------------------------

_CMS_D = 4    # hash rows
_CMS_W = 512  # counters per row — sized so test-scale collisions are visible


def cms_pos(token_col, d: int):
    """Deterministic counter position of ``token`` in CMS hash row ``d``.

    md5-derived so DuckDB computes the identical position (the oracle's
    exactness hinges on it); shared by the batch ``countmin_token_freq``
    operator and the streaming ``stream_countmin_update`` pipeline so both
    faces maintain the SAME D×W counter table.
    """
    return (
        F.conv(
            F.substring(F.md5(F.concat(token_col, F.lit(f":{d}"))), 1, 8), 16, 10
        ).cast("long")
        % _CMS_W
    )


def cms_cells(counts: DataFrame) -> DataFrame:
    """(d, pos, counter) CMS cell table from a (token, n) frequency table.

    Map-side-combinable SUM into a fixed D×W grid — the output is ≤
    {_CMS_D}×{_CMS_W} rows regardless of vocabulary size, hence always
    broadcastable to the probe side.
    """
    rows = counts.select(
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).alias("d"), cms_pos(F.col("token"), d).alias("pos"))
                    for d in range(_CMS_D)
                ]
            )
        ).alias("cell"),
    ).select("n", "cell.d", "cell.pos")
    return rows.groupBy("d", "pos").agg(F.sum("n").alias("counter"))


@register(
    "countmin_token_freq",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_DUCK_TOKENS}) AS token FROM documents),
    counts AS (
      SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
    cells AS (
      SELECT s.d,
             CAST(('0x' || substr(md5(c.token || ':' || s.d), 1, 8)) AS BIGINT)
               % {_CMS_W} AS pos,
             SUM(c.n) AS counter
      FROM counts c, (SELECT unnest(range({_CMS_D})) AS d) s
      GROUP BY 1, 2),
    top20 AS (
      SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 20),
    probe AS (
      SELECT t.token, t.n, s.d,
             CAST(('0x' || substr(md5(t.token || ':' || s.d), 1, 8)) AS BIGINT)
               % {_CMS_W} AS pos
      FROM top20 t, (SELECT unnest(range({_CMS_D})) AS d) s)
    SELECT p.token, ANY_VALUE(p.n) AS exact_n,
           CAST(MIN(c.counter) AS BIGINT) AS cms_est,
           CAST(MIN(c.counter) - ANY_VALUE(p.n) AS BIGINT) AS overestimate
    FROM probe p JOIN cells c ON c.d = p.d AND c.pos = p.pos
    GROUP BY p.token
    ORDER BY exact_n DESC, token
    """,
)
def countmin_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over corpus token frequencies, probed at the exact
    top-20 — the fixed-memory heavy-hitter estimator for streams and
    100 TB corpora where an exact token groupBy is affordable once but not
    per-window.

    Unlike `frequent_tokens_sketch` (spark's KPS freqItems — probed via
    its no-false-negative membership verdict,
    implementation-specific), this sketch is built from md5-derived
    counter positions, so both engines compute the identical {_CMS_D}×
    {_CMS_W} counter table and the oracle checks the ESTIMATES bit-exactly
    — including the overestimation the width-{_CMS_W} table produces on
    this corpus (CMS never underestimates; tests/test_sampling_rollups.py
    pins that one-sided-error guarantee and the eN/w bound).

    Scale shape: the counter table is built from the (already map-side-
    combined) token-frequency table with one more combinable SUM — D×W
    integers regardless of corpus size — and the probe side joins it
    broadcast. Nothing vocabulary-sized ever reaches the driver.
    """
    docs = load_table(spark, sf_dir, "documents")
    # vocab-sized token-frequency table, materialized once (round 17):
    # the counter build and the exact top-20 probe both consume it —
    # without the checkpoint each leg re-executes the corpus tokenize
    counts = (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    cells = cms_cells(counts)
    top20 = counts.orderBy(F.desc("n"), "token").limit(20)
    probe = top20.select(
        "token",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).alias("d"), cms_pos(F.col("token"), d).alias("pos"))
                    for d in range(_CMS_D)
                ]
            )
        ).alias("cell"),
    ).select("token", "n", "cell.d", "cell.pos")
    return (
        probe.join(F.broadcast(cells), ["d", "pos"])
        .groupBy("token")
        .agg(
            F.any_value("n").alias("exact_n"),
            F.min("counter").alias("cms_est"),
            (F.min("counter") - F.any_value("n")).alias("overestimate"),
        )
        .orderBy(F.desc("exact_n"), "token")
    )


# ---------------------------------------------------------------------------
# HyperLogLog (deterministic registers, oracle-exact)
# ---------------------------------------------------------------------------

_HLL_B = 6                 # 2^6 = 64 buckets
_HLL_M = 1 << _HLL_B
_HLL_HASH_BITS = 48        # md5-derived hash width (keeps BIGINT positive)
_HLL_REST_BITS = _HLL_HASH_BITS - _HLL_B  # 42 value bits per bucket
_HLL_ALPHA = 0.709         # standard alpha for m=64
_HLL_REST_MOD = 1 << _HLL_REST_BITS


def _hll_hashed(tok: DataFrame, *keys: str) -> DataFrame:
    """(keys..., h): md5-derived {_HLL_HASH_BITS}-bit token hash."""
    return tok.select(
        *keys,
        F.conv(F.substring(F.md5("token"), 1, _HLL_HASH_BITS // 4), 16, 10)
        .cast("long")
        .alias("h"),
    )


def _hll_registers(hashed: DataFrame, *keys: str) -> DataFrame:
    """(keys..., bucket, rho): max leading-zero rank per bucket — the HLL
    register table. MAX is associative/commutative, so registers built per
    key MERGE into coarser-grained registers by another bucket-wise MAX
    without touching the underlying data (see ``hll_union_sources``)."""
    return hashed.groupBy(
        *keys, F.expr(f"h DIV {_HLL_REST_MOD}").alias("bucket")
    ).agg(
        F.max(
            F.expr(
                f"CASE WHEN h % {_HLL_REST_MOD} = 0 THEN {_HLL_REST_BITS + 1}"
                f" ELSE {_HLL_REST_BITS} - length(bin(h % {_HLL_REST_MOD})) + 1 END"
            )
        ).alias("rho")
    )


def _hll_fold(regs: DataFrame, *keys: str) -> DataFrame:
    """(keys..., n_buckets_used, s_int): exact dyadic harmonic fold."""
    gb = regs.groupBy(*keys) if keys else regs.groupBy()
    return gb.agg(
        F.count(F.lit(1)).alias("n_buckets_used"),
        F.sum(
            F.expr(f"shiftright(CAST({_HLL_REST_MOD} AS BIGINT), CAST(rho AS INT))")
        ).alias("s_int"),
    )


def _hll_raw_estimate() -> Column:
    """Raw HLL estimate from (n_buckets_used, s_int), with the standard
    small-range linear-counting correction."""
    denom = F.col("s_int") + (
        (F.lit(_HLL_M) - F.col("n_buckets_used")) * F.lit(_HLL_REST_MOD).cast("long")
    )
    raw_hll = F.lit(_HLL_ALPHA * _HLL_M * _HLL_M * _HLL_REST_MOD) / denom
    linear = F.lit(float(_HLL_M)) * F.log(
        F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col("n_buckets_used"))
    )
    return F.when(
        (raw_hll <= 2.5 * _HLL_M) & (F.col("n_buckets_used") < _HLL_M), linear
    ).otherwise(raw_hll)


@register(
    "hll_distinct_tokens",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT source, unnest({_DUCK_TOKENS}) AS token FROM documents),
    hashed AS (
      SELECT source, token,
             CAST(('0x' || substr(md5(token), 1, {_HLL_HASH_BITS // 4})) AS BIGINT) AS h
      FROM tok),
    regs AS (
      SELECT source,
             h // {1 << _HLL_REST_BITS} AS bucket,
             MAX(CASE WHEN h % {1 << _HLL_REST_BITS} = 0 THEN {_HLL_REST_BITS + 1}
                      ELSE {_HLL_REST_BITS} - length(bin(h % {1 << _HLL_REST_BITS})) + 1
                 END) AS rho
      FROM hashed GROUP BY 1, 2),
    folded AS (
      SELECT source,
             COUNT(*) AS n_buckets_used,
             SUM(CAST({1 << _HLL_REST_BITS} AS BIGINT) >> CAST(rho AS INT)) AS s_int
      FROM regs GROUP BY source),
    exact AS (
      SELECT source, COUNT(DISTINCT token) AS exact_distinct FROM tok GROUP BY source),
    est AS (
      SELECT f.source, f.n_buckets_used, e.exact_distinct,
             CASE
               WHEN {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} * {1 << _HLL_REST_BITS}
                    / (f.s_int + ({_HLL_M} - f.n_buckets_used)
                       * CAST({1 << _HLL_REST_BITS} AS BIGINT)) <= 2.5 * {_HLL_M}
                AND f.n_buckets_used < {_HLL_M}
               THEN {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - f.n_buckets_used))
               ELSE {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} * {1 << _HLL_REST_BITS}
                    / (f.s_int + ({_HLL_M} - f.n_buckets_used)
                       * CAST({1 << _HLL_REST_BITS} AS BIGINT))
             END AS raw
      FROM folded f JOIN exact e USING (source))
    SELECT source, n_buckets_used, exact_distinct,
           CAST(ROUND(raw) AS BIGINT) AS hll_est,
           CAST(ROUND(abs(raw - exact_distinct) * 1000000 / exact_distinct) AS BIGINT)
             AS rel_err_ppm
    FROM est
    ORDER BY source
    """,
)
def hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token estimate per source, built relationally —
    the mergeable fixed-memory cardinality sketch behind
    ``approx_count_distinct``, here with md5-derived {_HLL_HASH_BITS}-bit
    hashes so both engines compute the IDENTICAL {_HLL_M} registers and the
    oracle checks the estimate bit-exactly (unlike the HLL++ built-in,
    whose sketch layout is implementation-specific → rows-only).

    Numerics: rho comes from ``bin()`` string length (exact integer bit
    length — no float log2 at bucket boundaries); the harmonic sum folds
    as SUM of integer powers of two (each 2^({_HLL_REST_BITS}-rho), total
    < 2^50, exact in BIGINT and order-independent); only the final
    alpha*m^2/S division and the small-range linear-counting correction
    touch doubles — one identical IEEE op on identical integers. Register
    build is a map-side-combinable MAX; the fold is {_HLL_M} rows per
    source. A ±~13% (1.04/sqrt(64)) accuracy test lives in
    tests/test_sampling_rollups.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("source", F.explode(T.tokens("text")).alias("token")).distinct()
    )
    # one corpus scan (round 17): register build and exact count both
    # read the checkpointed hashed distinct-token table (vocab x
    # |sources| bounded) instead of re-executing scan+tokenize+distinct
    hashed = _hll_hashed(tok, "source", "token").localCheckpoint(
        eager=False
    )
    regs = _hll_registers(hashed, "source")
    folded = _hll_fold(regs, "source")
    exact = hashed.groupBy("source").agg(
        F.countDistinct("token").alias("exact_distinct")
    )
    return (
        folded.join(exact, "source")
        .withColumn("raw", _hll_raw_estimate())
        .select(
            "source",
            "n_buckets_used",
            "exact_distinct",
            F.round(F.col("raw")).cast("long").alias("hll_est"),
            F.round(
                F.abs(F.col("raw") - F.col("exact_distinct"))
                * 1_000_000
                / F.col("exact_distinct")
            )
            .cast("long")
            .alias("rel_err_ppm"),
        )
        .orderBy("source")
    )


@register(
    "hll_union_sources",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT source, unnest({_DUCK_TOKENS}) AS token FROM documents),
    hashed AS (
      SELECT source, token,
             CAST(('0x' || substr(md5(token), 1, {_HLL_HASH_BITS // 4})) AS BIGINT) AS h
      FROM tok),
    per_src AS (
      SELECT source,
             h // {_HLL_REST_MOD} AS bucket,
             MAX(CASE WHEN h % {_HLL_REST_MOD} = 0 THEN {_HLL_REST_BITS + 1}
                      ELSE {_HLL_REST_BITS} - length(bin(h % {_HLL_REST_MOD})) + 1
                 END) AS rho
      FROM hashed GROUP BY 1, 2),
    merged AS (SELECT bucket, MAX(rho) AS rho FROM per_src GROUP BY bucket),
    direct AS (
      SELECT h // {_HLL_REST_MOD} AS bucket,
             MAX(CASE WHEN h % {_HLL_REST_MOD} = 0 THEN {_HLL_REST_BITS + 1}
                      ELSE {_HLL_REST_BITS} - length(bin(h % {_HLL_REST_MOD})) + 1
                 END) AS rho
      FROM hashed GROUP BY 1),
    fold_m AS (
      SELECT COUNT(*) AS nb_m,
             SUM(CAST({_HLL_REST_MOD} AS BIGINT) >> CAST(rho AS INT)) AS s_m
      FROM merged),
    fold_d AS (
      SELECT COUNT(*) AS nb_d,
             SUM(CAST({_HLL_REST_MOD} AS BIGINT) >> CAST(rho AS INT)) AS s_d
      FROM direct),
    meta AS (
      SELECT COUNT(DISTINCT source) AS n_sources,
             COUNT(DISTINCT token) AS exact_distinct
      FROM tok),
    est AS (
      SELECT m.n_sources, fm.nb_m AS n_buckets_used, m.exact_distinct,
             CASE
               WHEN {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} * {_HLL_REST_MOD}
                    / (fm.s_m + ({_HLL_M} - fm.nb_m)
                       * CAST({_HLL_REST_MOD} AS BIGINT)) <= 2.5 * {_HLL_M}
                AND fm.nb_m < {_HLL_M}
               THEN {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - fm.nb_m))
               ELSE {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} * {_HLL_REST_MOD}
                    / (fm.s_m + ({_HLL_M} - fm.nb_m)
                       * CAST({_HLL_REST_MOD} AS BIGINT))
             END AS raw_m,
             CASE
               WHEN {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} * {_HLL_REST_MOD}
                    / (fd.s_d + ({_HLL_M} - fd.nb_d)
                       * CAST({_HLL_REST_MOD} AS BIGINT)) <= 2.5 * {_HLL_M}
                AND fd.nb_d < {_HLL_M}
               THEN {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - fd.nb_d))
               ELSE {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} * {_HLL_REST_MOD}
                    / (fd.s_d + ({_HLL_M} - fd.nb_d)
                       * CAST({_HLL_REST_MOD} AS BIGINT))
             END AS raw_d
      FROM fold_m fm, fold_d fd, meta m)
    SELECT n_sources, n_buckets_used, exact_distinct,
           CAST(ROUND(raw_m) AS BIGINT) AS hll_est_merged,
           CAST(ROUND(raw_d) AS BIGINT) AS hll_est_direct,
           CAST(ROUND(raw_m) AS BIGINT) = CAST(ROUND(raw_d) AS BIGINT)
             AS merged_equals_direct,
           CAST(ROUND(abs(raw_m - exact_distinct) * 1000000 / exact_distinct)
                AS BIGINT) AS rel_err_ppm
    FROM est
    """,
)
def hll_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register MERGE across sources — the property that makes the
    sketch the 100 TB distinct-count primitive: per-source register tables
    ({_HLL_M} rows each, built independently, e.g. one per ingest shard or
    per day) union into the GLOBAL estimate with a bucket-wise MAX over
    |sources|×{_HLL_M} integers, never rescanning or reshuffling the
    token data. The query computes the estimate both ways — merged from
    the per-source registers and directly from the global token stream —
    and shows them identical (``merged_equals_direct``; MAX is associative
    and duplicate-insensitive), alongside the exact distinct count and the
    realized relative error.

    Scale shape: both register builds are map-side-combinable MAX
    aggregates; every post-register stage operates on ≤ |sources|×{_HLL_M}
    rows. In production only the per-source registers would be stored
    (tiny, mergeable state — the same pattern ``approx_count_distinct``
    uses internally); the merge is how per-partition sketches compose
    into corpus-wide cardinality without a global shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("source", F.explode(T.tokens("text")).alias("token")).distinct()
    )
    # materialize the hashed distinct-token table once (round 17): the
    # merged-register, direct-register and exact-count legs all consume
    # it, and without the checkpoint each leg re-executes the corpus
    # scan + tokenize + distinct subtree (3 scans -> 1). The
    # checkpointed state is vocab x |sources| bounded — in production
    # it is the per-source register tables that would be stored, and
    # the token table would stream through once.
    hashed = _hll_hashed(tok, "source", "token").localCheckpoint(
        eager=False
    )
    per_src = _hll_registers(hashed, "source")
    merged = per_src.groupBy("bucket").agg(F.max("rho").alias("rho"))
    direct = _hll_registers(hashed)
    fold_m = _hll_fold(merged)
    fold_d = _hll_fold(direct)
    est_m = fold_m.select(
        "n_buckets_used", _hll_raw_estimate().alias("raw_m")
    )
    est_d = fold_d.select(_hll_raw_estimate().alias("raw_d"))
    meta = hashed.agg(
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("token").alias("exact_distinct"),
    )
    return (
        est_m.crossJoin(F.broadcast(est_d))
        .crossJoin(F.broadcast(meta))
        .select(
            "n_sources",
            "n_buckets_used",
            "exact_distinct",
            F.round("raw_m").cast("long").alias("hll_est_merged"),
            F.round("raw_d").cast("long").alias("hll_est_direct"),
            (
                F.round("raw_m").cast("long") == F.round("raw_d").cast("long")
            ).alias("merged_equals_direct"),
            F.round(
                F.abs(F.col("raw_m") - F.col("exact_distinct"))
                * 1_000_000
                / F.col("exact_distinct")
            )
            .cast("long")
            .alias("rel_err_ppm"),
        )
    )


_PPS_N = 20  # target sample size per language


@register(
    "weighted_doc_sample_pps",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, GREATEST(n_chars, 1) AS wt,
             md5('pps:' || doc_id) AS k
      FROM documents),
    tot AS (
      SELECT lang, CAST(SUM(wt) AS BIGINT) AS total_w FROM w GROUP BY lang),
    cum AS (
      SELECT doc_id, lang, wt,
             CAST(SUM(wt) OVER (PARTITION BY lang ORDER BY k, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
      FROM w),
    par AS (
      SELECT c.lang, c.doc_id, c.wt, c.c, t.total_w // {_PPS_N} AS step
      FROM cum c JOIN tot t USING (lang)),
    sel AS (
      SELECT lang, wt,
             ((c - step // 2 + step - 1) // step)
               - ((c - wt - step // 2 + step - 1) // step) AS hits
      FROM par)
    SELECT lang,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
           CAST(SUM(CASE WHEN hits > 0 THEN wt ELSE 0 END) AS BIGINT) AS w_selected,
           CAST(SUM(CASE WHEN hits > 0 THEN wt ELSE 0 END) * 1000000
                // SUM(wt) AS BIGINT) AS w_share_selected_ppm
    FROM sel
    GROUP BY lang
    ORDER BY lang
    """,
)
def weighted_doc_sample_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted (probability-proportional-to-size) sampling:
    systematic PPS over integer cumulative weights — the curation
    primitive for "sample ~{_PPS_N} docs per language, long docs
    proportionally more likely" without any RNG.

    Docs are laid on a per-language line in a content-keyed pseudorandom
    order (md5 of doc_id), each occupying a segment of length = its
    weight; a comb of {_PPS_N} equally-spaced points (step = total_w DIV
    {_PPS_N}, offset step/2) picks the docs whose segment contains a
    point. Classic systematic PPS properties hold exactly: inclusion
    probability ∝ weight, any doc with weight >= step is selected with
    certainty (pinned in tests), and the whole decision is pure integer
    arithmetic — point-count-below(x) = (x - r + step - 1) DIV step —
    so both engines select the identical sample (no float inverse-CDF,
    no RNG state). Reruns and incremental recomputation reproduce the
    same sample for the same corpus snapshot.

    Scale shape: one window shuffle partitioned by lang for the running
    sum (the same shape as ``token_budget_selection``; at production
    scale sub-partition by (lang, shard) and offset each shard by the
    broadcast per-shard totals — two passes, no global sort), a
    broadcast of the |langs|-row totals, then a map-side-combinable
    rollup. The per-doc verdict never leaves the executor.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        "lang",
        F.greatest(F.col("n_chars"), F.lit(1)).alias("wt"),
        F.md5(F.concat(F.lit("pps:"), F.col("doc_id"))).alias("k"),
    )
    win = (
        Window.partitionBy("lang")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = w.withColumn("c", F.sum("wt").over(win).cast("long"))
    tot = w.groupBy("lang").agg(F.sum("wt").cast("long").alias("total_w"))
    par = cum.join(F.broadcast(tot), "lang").withColumn(
        "step", F.expr(f"total_w DIV {_PPS_N}")
    )
    sel = par.withColumn(
        "hits",
        F.expr(
            "(c - step DIV 2 + step - 1) DIV step"
            " - (c - wt - step DIV 2 + step - 1) DIV step"
        ),
    )
    return (
        sel.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("hits") > 0, 1).otherwise(0)).alias("n_selected"),
            F.sum(F.when(F.col("hits") > 0, F.col("wt")).otherwise(0)).alias(
                "w_selected"
            ),
            F.expr(
                "sum(case when hits > 0 then wt else 0 end) * 1000000 DIV sum(wt)"
            ).alias("w_share_selected_ppm"),
        )
        .orderBy("lang")
    )


@register(
    "countmin_merge_sources",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_DUCK_TOKENS}) AS token FROM documents),
    counts AS (
      SELECT source, token, COUNT(*) AS n FROM tok GROUP BY source, token),
    per_src AS (
      SELECT c.source, s.d,
             CAST(('0x' || substr(md5(c.token || ':' || s.d), 1, 8)) AS BIGINT)
               % {_CMS_W} AS pos,
             SUM(c.n) AS counter
      FROM counts c, (SELECT unnest(range({_CMS_D})) AS d) s
      GROUP BY 1, 2, 3),
    merged AS (
      SELECT d, pos, CAST(SUM(counter) AS BIGINT) AS counter
      FROM per_src GROUP BY d, pos),
    gcounts AS (
      SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
    direct AS (
      SELECT s.d,
             CAST(('0x' || substr(md5(g.token || ':' || s.d), 1, 8)) AS BIGINT)
               % {_CMS_W} AS pos,
             CAST(SUM(g.n) AS BIGINT) AS counter
      FROM gcounts g, (SELECT unnest(range({_CMS_D})) AS d) s
      GROUP BY 1, 2),
    diff AS (
      SELECT COUNT(*) AS n_cells_merged,
             SUM(CASE WHEN dr.counter IS NULL OR dr.counter <> m.counter
                      THEN 1 ELSE 0 END) AS n_mismatched
      FROM merged m LEFT JOIN direct dr ON dr.d = m.d AND dr.pos = m.pos),
    mass AS (
      SELECT CAST(SUM(counter) AS BIGINT) AS merged_mass FROM merged
      WHERE d = 0),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tok)
    SELECT di.n_cells_merged,
           CAST(di.n_mismatched AS BIGINT) AS n_mismatched,
           di.n_mismatched = 0 AS merged_equals_direct,
           ma.merged_mass,
           t.n_tokens,
           ma.merged_mass = t.n_tokens AS mass_conserved
    FROM diff di, mass ma, total t
    """,
)
def countmin_merge_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch MERGE across sources — the additive twin of
    ``hll_union_sources``: CMS counters are linear, so per-source
    {_CMS_D}×{_CMS_W} cell tables (built independently, e.g. one per
    ingest shard or per stream window — see ``stream_countmin_update``)
    SUM cell-wise into exactly the global sketch, never rescanning the
    tokens. The query builds both (merged-from-per-source and direct
    global), proves them cell-identical, and checks mass conservation
    (each hash row's counters sum to the total token count — the CMS
    row-stochastic invariant).

    Scale shape: per-source cells are one map-side-combinable SUM over
    the per-source token-frequency table; every post-cell stage touches
    ≤ |sources|×{_CMS_D}×{_CMS_W} integer rows. In production only the
    per-shard cell tables are stored; this merge is how per-window
    sketches roll up to corpus totals with a fixed-size shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(T.tokens("text")).alias("token"))
    # one corpus tokenize (round 17): the per-source frequency table is
    # vocab x |sources| bounded and every other leg is its exact
    # integer re-aggregation — global counts = SUM of per-source counts
    # and the token total = SUM of all counts, so the direct-sketch and
    # mass-conservation legs stop re-scanning the corpus (4 scans -> 1)
    counts = (
        tok.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    per_src = (
        counts.select(
            "source",
            "n",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"), cms_pos(F.col("token"), d).alias("pos")
                        )
                        for d in range(_CMS_D)
                    ]
                )
            ).alias("cell"),
        )
        .select("source", "n", "cell.d", "cell.pos")
        .groupBy("source", "d", "pos")
        .agg(F.sum("n").alias("counter"))
    )
    merged = (
        per_src.groupBy("d", "pos")
        .agg(F.sum("counter").alias("counter"))
        .localCheckpoint(eager=False)  # D x W cells, consumed twice
    )
    direct = cms_cells(
        counts.groupBy("token").agg(F.sum("n").alias("n"))
    )
    m = merged.alias("m")
    dr = direct.alias("dr")
    diff = (
        m.join(dr, (F.col("m.d") == F.col("dr.d")) & (F.col("m.pos") == F.col("dr.pos")), "left")
        .agg(
            F.count(F.lit(1)).alias("n_cells_merged"),
            F.sum(
                F.when(
                    F.col("dr.counter").isNull()
                    | (F.col("dr.counter") != F.col("m.counter")),
                    1,
                ).otherwise(0)
            ).alias("n_mismatched"),
        )
    )
    mass = merged.filter(F.col("d") == 0).agg(
        F.sum("counter").alias("merged_mass")
    )
    total = counts.agg(F.sum("n").alias("n_tokens"))
    return (
        diff.crossJoin(F.broadcast(mass))
        .crossJoin(F.broadcast(total))
        .select(
            "n_cells_merged",
            "n_mismatched",
            (F.col("n_mismatched") == 0).alias("merged_equals_direct"),
            "merged_mass",
            "n_tokens",
            (F.col("merged_mass") == F.col("n_tokens")).alias("mass_conserved"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram language-model scoring (perplexity-proxy quality filter)
# ---------------------------------------------------------------------------

_BG_SEP = "\t"  # tokens are whitespace-split, so no token can contain a tab


@register(
    "bigram_lm_doc_scores",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {_DUCK_TOKENS} AS t
      FROM documents),
    bi AS (
      SELECT doc_id, lang,
             UNNEST(list_transform(range(1, len(t)),
                                   i -> t[i] || chr(9) || t[i + 1])) AS bg
      FROM toks WHERE len(t) >= 2),
    cnt2 AS (SELECT bg, COUNT(*) AS c2 FROM bi GROUP BY bg),
    cnt1 AS (SELECT split_part(bg, chr(9), 1) AS w1, COUNT(*) AS c1
             FROM bi GROUP BY 1),
    p AS (
      SELECT bg, CAST(c2 * 1000000 // c1 AS BIGINT) AS p_ppm
      FROM cnt2 JOIN cnt1 ON split_part(cnt2.bg, chr(9), 1) = cnt1.w1),
    d AS (SELECT doc_id, lang, bg, COUNT(*) AS cnt FROM bi GROUP BY 1, 2, 3)
    SELECT d.doc_id, d.lang,
           CAST(SUM(d.cnt) AS BIGINT) AS n_bigrams,
           CAST(SUM(d.cnt * p.p_ppm) // SUM(d.cnt) AS BIGINT) AS lm_score_ppm
    FROM d JOIN p USING (bg)
    GROUP BY d.doc_id, d.lang
    ORDER BY d.doc_id
    """,
)
def bigram_lm_doc_scores(
    spark: SparkSession, sf_dir: str, top_n: int | None = None
) -> DataFrame:
    """Corpus-trained bigram LM score per document — the perplexity-proxy
    quality filter (docs whose word transitions are unusual under the
    corpus' own bigram statistics score low; boilerplate and fluent text
    score high). The score is the per-occurrence mean of the conditional
    probability p(w2|w1) = c(w1,w2)/c(w1·) in exact ppm integer arithmetic,
    so both engines agree bit-for-bit — the standard log-prob formulation
    would sum order-dependent doubles.

    Scale shape: one tokenize+explode scan produces bigram occurrences;
    both count tables are map-side-combinable aggregates; the probability
    table joins c2→c1 at |vocab|/|bigram-vocab| cardinality (tiny next to
    the occurrence table); per-doc occurrences are pre-shrunk to per-doc
    DISTINCT bigrams with counts before the probability lookup join, so
    the wire carries |doc×distinct-bigram| rows, not |tokens|. Hot bigrams
    make hot lookup partitions only — AQE skew-join splits them; no
    Python UDF anywhere.

    ``top_n`` scores against the pruned model of :func:`_bigram_p`
    (out-of-vocabulary bigrams skipped by the inner join; docs with no
    in-vocabulary bigram drop out, exactly like sub-2-token docs). The
    registry query scores against the full table (top_n=None) so the
    DuckDB oracle stays the exact corpus LM."""
    bi = _bigram_instances(load_table(spark, sf_dir, "documents"))
    # one tokenize feeds everything (round 17): the per-doc distinct-
    # bigram counts are materialized once (the same wire-sized table
    # the lookup join already carries), and the model's c(w1,w2) table
    # is their exact integer re-aggregation — previously the scorer,
    # c2 and c1 each re-executed the corpus tokenize (3 scans -> 1)
    d = (
        bi.groupBy("doc_id", "lang", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    cnt2 = d.groupBy("bg").agg(F.sum("cnt").alias("c2"))
    return (
        d.join(_bigram_p_from_cnt2(cnt2, top_n=top_n), "bg")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.expr("sum(cnt * p_ppm) DIV sum(cnt)").alias("lm_score_ppm"),
        )
        .orderBy("doc_id")
    )


def bigram_array(text_col):
    """Tab-joined bigram array for a text column — zip t[0..n-2] with
    t[1..n-1]: map-only, no window. Stated once so the batch LM scorer
    and the streaming tagger (``stream_selection_tags``) segment
    identically."""
    t = T.tokens(text_col)
    n = F.size(t)
    return F.zip_with(
        F.slice(t, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(_BG_SEP), b),
    )


def _bigram_instances(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bg): one row per bigram occurrence."""
    return docs.select(
        "doc_id", "lang", F.explode(bigram_array("text")).alias("bg")
    )


def _bigram_p(bi: DataFrame, top_n: int | None = None) -> DataFrame:
    """The trained conditional-probability table (bg, p_ppm) — the
    'model' half of the bigram LM: p(w2|w1) = c(w1,w2)/c(w1·) in ppm.

    ``top_n`` prunes the model to the N most frequent bigrams (ties break
    on the bigram string for a deterministic model) — how CCNet ships a
    FINITE KenLM rather than the corpus's full Heaps-law bigram
    vocabulary. Denominators stay the full corpus counts, so a surviving
    bigram's probability is unchanged by pruning; dropped bigrams are
    out-of-vocabulary everywhere downstream (the scorer's inner join and
    the streaming tagger's dict miss skip them identically). The prune is
    a TakeOrderedAndProject (bounded per-partition heaps), never a global
    sort."""
    cnt2 = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    return _bigram_p_from_cnt2(cnt2, top_n)


def _bigram_p_from_cnt2(cnt2: DataFrame, top_n: int | None) -> DataFrame:
    """Model assembly from the (bg, c2) count table. c(w1·) is the SUM
    of c(w1,w2) over the unpruned bigram counts (exact integer
    partition of the occurrence count — round 17), so the denominator
    derives from the vocab-sized table instead of re-scanning the
    corpus occurrences; pruning still happens after, keeping surviving
    probabilities on full-corpus denominators."""
    cnt1 = cnt2.groupBy(
        F.substring_index("bg", _BG_SEP, 1).alias("w1")
    ).agg(F.sum("c2").alias("c1"))
    if top_n is not None:
        cnt2 = cnt2.orderBy(F.desc("c2"), "bg").limit(top_n)
    return (
        cnt2.join(cnt1, F.substring_index(cnt2["bg"], _BG_SEP, 1) == cnt1["w1"])
        .select("bg", F.expr("c2 * 1000000 DIV c1").alias("p_ppm"))
    )


# ---------------------------------------------------------------------------
# Encoding / normalization audit (mojibake & control-char screening)
# ---------------------------------------------------------------------------

# Regex fragments restricted to the syntax Java regex and RE2 share:
# hex classes and \x{...} code points (no \p{...} names, whose vocabularies
# differ between the engines).
_CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"
_NON_ASCII_RE = r"[^\x00-\x7F]"
_CJK_RE = r"[\x{4E00}-\x{9FFF}]"


@register(
    "text_encoding_audit",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN regexp_matches(text, '{_CTRL_RE}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_with_ctrl,
           CAST(SUM(CASE WHEN contains(text, chr(65533))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_with_replchar,
           CAST(SUM(CASE WHEN regexp_matches(text, '{_CJK_RE}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_with_cjk,
           CAST(SUM(length(text)
                    - length(regexp_replace(text, '{_NON_ASCII_RE}', '', 'g')))
                * 1000000
                // GREATEST(SUM(length(text)), 1) AS BIGINT) AS non_ascii_ppm
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def text_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding hygiene: docs containing raw control characters
    (broken extraction), U+FFFD replacement characters (mojibake from a
    wrong-charset decode), CJK code points (script mix-ins), plus the
    corpus-level non-ASCII character share in ppm — the screen run before
    text normalization decides what to strip or re-decode.

    Regexes stay inside the Java-regex ∩ RE2 common subset (hex classes,
    \\x{{...}} code points — no \\p{{...}} names, whose vocabularies
    differ), the same portability rule as the PII scaffold. Everything is
    one codegen'd scan with a per-source map-side-combinable aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    flags = docs.select(
        "source",
        F.col("text").rlike(_CTRL_RE).cast("long").alias("has_ctrl"),
        (F.instr("text", "�") > 0).cast("long").alias("has_repl"),
        F.col("text").rlike(_CJK_RE).cast("long").alias("has_cjk"),
        F.length("text").alias("n_chars_total"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", _NON_ASCII_RE, ""))
        ).alias("n_non_ascii"),
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("has_ctrl").alias("n_with_ctrl"),
            F.sum("has_repl").alias("n_with_replchar"),
            F.sum("has_cjk").alias("n_with_cjk"),
            F.expr(
                "sum(n_non_ascii) * 1000000 DIV greatest(sum(n_chars_total), 1)"
            ).alias("non_ascii_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# BM25 keyword search (integer-exact scoring; round-7 addition)
# ---------------------------------------------------------------------------

# Fixed benchmark query, shared verbatim with the oracle (the
# semantic_doc_search convention for parameterless driver queries).
BM25_QUERY = ("spark", "vector", "stream")
_BM25_TOPK = 10
_DUCK_BM25_Q = ", ".join(f"'{t}'" for t in BM25_QUERY)


@register(
    "bm25_doc_search",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS token FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    corp AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT SUM(dl) FROM dl) AS sum_dl),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok
      WHERE token IN ({_DUCK_BM25_Q}) GROUP BY doc_id, token),
    dfq AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
      WHERE token IN ({_DUCK_BM25_Q}) GROUP BY token),
    scored AS (
      SELECT tf.doc_id,
             SUM(
               CAST(ROUND(ln((2 * c.n_docs + 2) * 1.0 / (2 * dfq.df + 1))
                          * 1000000) AS BIGINT)
               * ((11000000 * tf.tf * 1000000)
                  // (5000000 * tf.tf
                      + 6 * (250000 + 750000 * dl.dl * c.n_docs // c.sum_dl)))
               // 1000000
             ) AS score_ppm
      FROM tf
      JOIN dfq USING (token)
      JOIN dl USING (doc_id)
      CROSS JOIN corp c
      GROUP BY tf.doc_id)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id) AS BIGINT)
             AS rank,
           doc_id,
           CAST(score_ppm AS BIGINT) AS score_ppm
    FROM scored
    ORDER BY score_ppm DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
)
def bm25_doc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked keyword search (Lucene idf form, k1=1.2, b=0.75) for a
    fixed benchmark query — the lexical-retrieval face next to
    ``semantic_doc_search`` (embedding ANN) and ``tfidf_top_terms``
    (per-doc keywords): the operator a training-data pipeline uses to
    pull topical subsets out of a corpus.

    Exactness: everything after the idf log is INTEGER arithmetic made
    exact by rationalizing the BM25 constants — k1 = 6/5 and b = 3/4 fold
    into
    ``ratio_ppm = 11e6·tf·1e6 DIV (5e6·tf + 6·norm_ppm)`` with
    ``norm_ppm = 250000 + 750000·dl·N DIV Σdl``, so both engines floor
    the same integers. The idf ``ln((2N+2)/(2df+1))`` (the Lucene
    smoothed form, always positive — plain BM25 idf goes NEGATIVE on this
    corpus's dense vocabulary where df > N/2) follows the proven
    ``tfidf_top_terms`` pattern: identical integer inputs → identical
    IEEE ln → identical micros rounding.

    Scale shape: the tf table only materializes rows for QUERY terms
    (filter before the groupBy — the scan's pushed predicate), df for the
    |query| terms broadcasts, doc lengths come from the one dl aggregate,
    and the corpus stats cross-join is the usual broadcast 1-row
    aggregate; final top-k is TakeOrderedAndProject (bounded
    per-partition heaps). The rank column is then derived WITHOUT a
    window: a global window (``row_number().over(orderBy(...))``) would
    single-partition-sort every scored doc — at web scale a large
    fraction of the corpus for common query terms. Instead the ≤k
    surviving rows collect into one sorted array (a two-level
    ObjectHashAggregate whose final input is bounded by k, not by the
    corpus) and ``posexplode`` yields the rank. Plan-guarded: no
    WindowExec anywhere (tests/test_plans.py).
    """
    topk = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score_ppm"), "doc_id")
        .limit(_BM25_TOPK)
    )
    # Rank over the ≤k survivors: one sorted array, position = rank - 1.
    # struct(-score, doc_id) ascending ≡ (score DESC, doc_id ASC).
    return (
        topk.agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("score_ppm")).alias("neg"), F.col("doc_id")
                    )
                )
            ).alias("a")
        )
        .select(F.posexplode("a").alias("pos", "s"))
        .select(
            (F.col("pos") + 1).cast("long").alias("rank"),
            F.col("s.doc_id").alias("doc_id"),
            (-F.col("s.neg")).alias("score_ppm"),
        )
        .orderBy("rank")
    )


def _bm25_idf_corp(spark: SparkSession, sf_dir: str):
    """The corpus half of BM25: per-query-term smoothed idf (micros) and
    the (n_docs, sum_dl) length-normalization stats — the model a batch
    job publishes for the streaming tagger. idf is computed by THE SAME
    Spark expression the batch scorer evaluates (identical integer inputs
    → identical IEEE ln → identical micros rounding), so batch and stream
    scores agree bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corp = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        F.broadcast(dl.agg(F.sum("dl").alias("sum_dl")))
    )
    qtok = tok.filter(F.col("token").isin(*BM25_QUERY))
    dfq = qtok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    idf = dfq.crossJoin(F.broadcast(corp)).withColumn(
        "idf_ppm",
        round_micros(
            F.log((2 * F.col("n_docs") + 2) * F.lit(1.0) / (2 * F.col("df") + 1))
        ),
    )
    return tok, dl, corp, qtok, idf


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BM25 score table (doc_id, score_ppm) for the fixed
    benchmark query — the pre-top-k half of :func:`bm25_doc_search`,
    shared with the batch/stream parity test of ``stream_bm25_tags``.

    Round 16 single-pass form: the previous shape tokenized the corpus
    THREE times (dl, qtok and sum_dl each re-evaluated the explode
    subtree) and shuffled twice before the score join; now ONE
    tokenize + groupBy(doc_id) pass carries dl and each query term's tf
    as conditional aggregates, the corpus stats reduce from that same
    frame, and scoring is a broadcast of one stats row — at corpus
    scale that halves the scan/shuffle volume. The integer score
    arithmetic (and the idf double -> micros rounding) is expression-
    identical, so scores are bit-identical to the previous form and to
    the streaming tagger (verified by exact comparison at sf0.1 and the
    stream/batch parity test)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    nq = len(BM25_QUERY)
    # materialized once (round 17): the stats reduce and the scorer
    # both consume per_doc, and without the checkpoint each leg
    # re-executes the corpus tokenize+groupBy (2 tokenizes -> 1).
    per_doc = materialize(
        tok.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("dl"),
            *[F.sum(F.when(F.col("token") == q, 1).otherwise(0))
              .alias(f"tf{i}") for i, q in enumerate(BM25_QUERY)],
        ),
    )
    n_docs_df = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    stats = per_doc.agg(
        F.sum("dl").alias("sum_dl"),
        *[F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
          for i in range(nq)],
    ).crossJoin(F.broadcast(n_docs_df))
    for i in range(nq):
        stats = stats.withColumn(
            f"idf{i}_ppm",
            round_micros(F.log(
                (2 * F.col("n_docs") + 2) * F.lit(1.0)
                / (2 * F.col(f"df{i}") + 1)
            )),
        )
    scored = per_doc.crossJoin(F.broadcast(stats)).withColumn(
        "norm_ppm", F.expr("250000 + 750000 * dl * n_docs DIV sum_dl")
    )
    terms = []
    for i in range(nq):
        scored = scored.withColumn(
            f"r{i}",
            F.expr(
                f"(11000000 * tf{i} * 1000000)"
                f" DIV (5000000 * tf{i} + 6 * norm_ppm)"
            ),
        )
        terms.append(
            f"CASE WHEN tf{i} > 0 THEN idf{i}_ppm * r{i} DIV 1000000 END"
        )
    return (
        scored.filter(
            F.expr(" OR ".join(f"tf{i} > 0" for i in range(nq)))
        )
        .withColumn(
            "score_ppm",
            F.expr(" + ".join(f"COALESCE({t}, 0)" for t in terms)),
        )
        .select("doc_id", "score_ppm")
    )


def bm25_stream_model(
    spark: SparkSession, sf_dir: str
) -> tuple[dict[str, int], int, int]:
    """Batch-trains / stream-applies for BM25 lexical retrieval: a batch
    job publishes the query terms' smoothed idf table plus the corpus
    length stats; an ingest stream scores every arriving doc against the
    standing query map-side (``streaming.pipelines.stream_bm25_tags``) —
    the alerting/routing face of :func:`bm25_doc_search` (tag matching
    docs as they arrive; a mixer or alert sink consumes the tags).

    Returns ``(idf_ppm, n_docs, sum_dl)``; the model is bounded by the
    query vocabulary (|query| entries — the same fixed-size published-
    model contract as DSIR's 256 buckets and CCNet's capped bigram LM).
    """
    *_, idf = _bm25_idf_corp(spark, sf_dir)
    rows = idf.select("token", "idf_ppm", "n_docs", "sum_dl").collect()
    if not rows:
        docs = load_table(spark, sf_dir, "documents")
        return {}, docs.count(), 0
    return (
        {r["token"]: r["idf_ppm"] for r in rows},
        rows[0]["n_docs"],
        rows[0]["sum_dl"],
    )


# ---------------------------------------------------------------------------
# Sliding-window document chunking (round-7 addition)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


@register(
    "doc_chunk_windows",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
    w AS (
      SELECT doc_id,
             UNNEST(range(1, len(t) + 1, {CHUNK_STRIDE})) AS start,
             t
      FROM tok WHERE len(t) > 0)
    SELECT doc_id,
           CAST((start - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(t, start, start + {CHUNK_TOKENS} - 1)) AS BIGINT)
             AS n_tokens,
           substr(md5(array_to_string(
               list_slice(t, start, start + {CHUNK_TOKENS} - 1), ' ')), 1, 16)
             AS chunk_sig
    FROM w
    ORDER BY doc_id, chunk_idx
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunking with overlap — the chunker that feeds
    pretraining sequence assembly and RAG indexing: every document splits
    into {w}-token windows every {s} tokens ({o}-token overlap so no
    boundary context is lost), each chunk fingerprinted for downstream
    chunk-level dedup (``chunk_dedup_rate`` consumes exactly this shape).

    Complements ``sequence_packing_plan`` (which packs whole docs into
    fixed budgets): chunking SPLITS long docs, packing COMBINES short
    ones; real pipelines run both. Zero-token docs produce no chunks.

    Scale shape: pure per-row codegen — ``sequence`` over chunk starts,
    ``transform``+``slice``+``array_join``+``md5``, one explode; no
    shuffle at all until the output sort, and in production none (chunks
    inherit the doc partitioning and write straight out).
    """.format(w=CHUNK_TOKENS, s=CHUNK_STRIDE, o=CHUNK_TOKENS - CHUNK_STRIDE)
    docs = load_table(spark, sf_dir, "documents")
    t = T.tokens("text")
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(t), F.lit(CHUNK_STRIDE)),
        lambda start: F.struct(
            ((start - 1) / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
            F.slice(t, start, CHUNK_TOKENS).alias("w"),
        ),
    )
    return (
        docs.where(F.size(t) > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.size("c.w").cast("long").alias("n_tokens"),
            F.substring(F.md5(F.array_join("c.w", " ")), 1, 16).alias("chunk_sig"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, appendix A1.1; round-7 addition)
# ---------------------------------------------------------------------------

GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_DUCK_GOPHER_STOPS = ", ".join(f"'{w}'" for w in GOPHER_STOPS)


def with_gopher_flags(df: DataFrame) -> DataFrame:
    """Append the Gopher rule cells (metrics + per-rule verdicts +
    ``gopher_pass``) to any DataFrame with a ``text`` column — THE shared
    column definitions of the batch ``gopher_quality_flags`` operator and
    the streaming quality gate (``streaming/pipelines.py::
    stream_quality_gate``): both faces evaluate these exact expressions,
    so a batch backfill and the live stream can never disagree on a
    verdict. Map-only (JVM higher-order functions over the token/line
    arrays; no aggregate, no shuffle), hence directly usable on an
    unbounded stream."""
    ts = T.tokens("text")
    lines = F.split("text", "\n")
    n_hash = F.length("text") - F.length(F.expr("replace(text, '#', '')"))
    n_ellip = (
        F.length("text") - F.length(F.expr("replace(text, '...', '')"))
    ) / F.lit(3)
    base = df.withColumns(
        {
            "n_words": F.size(ts).cast("long"),
            "_n_chars": F.length(F.regexp_replace("text", r"\s+", "")).cast("long"),
            "_n_sym": (n_hash + n_ellip.cast("long")).cast("long"),
            "_n_alpha_words": F.size(F.filter(ts, lambda t: t.rlike("[A-Za-z]"))).cast(
                "long"
            ),
            "n_stop_kinds": F.size(
                F.array_intersect(
                    F.array_distinct(F.transform(ts, F.lower)),
                    F.array(*[F.lit(w) for w in GOPHER_STOPS]),
                )
            ).cast("long"),
            "_n_lines": F.size(lines).cast("long"),
            "_n_bullet_lines": F.size(
                F.filter(lines, lambda l: l.startswith("-") | l.startswith("*"))
            ).cast("long"),
            "_n_ellip_lines": F.size(F.filter(lines, lambda l: l.endswith("..."))).cast(
                "long"
            ),
        }
    )
    mwl = F.expr("CASE WHEN n_words > 0 THEN _n_chars * 1000000 DIV n_words ELSE 0 END")
    sym = F.expr("CASE WHEN n_words > 0 THEN _n_sym * 1000000 DIV n_words ELSE 0 END")
    alpha = F.expr(
        "CASE WHEN n_words > 0 THEN _n_alpha_words * 1000000 DIV n_words ELSE 0 END"
    )
    flagged = base.withColumns(
        {
            "mean_word_len_ppm": mwl,
            "symbol_word_ppm": sym,
            "alpha_word_ppm": alpha,
            "wc_ok": F.col("n_words").between(50, 100000),
            "mwl_ok": (F.col("n_words") > 0) & mwl.between(3000000, 10000000),
            "sym_ok": (F.col("n_words") > 0) & (sym < 100000),
            "alpha_ok": (F.col("n_words") > 0) & (alpha >= 800000),
            "stop_ok": F.col("n_stop_kinds") >= 2,
            "bullet_ok": F.col("_n_bullet_lines") * 10 < F.col("_n_lines") * 9,
            "ellipsis_ok": F.col("_n_ellip_lines") * 10 < F.col("_n_lines") * 3,
        }
    )
    return flagged.withColumn(
        "gopher_pass",
        F.col("wc_ok")
        & F.col("mwl_ok")
        & F.col("sym_ok")
        & F.col("alpha_ok")
        & F.col("stop_ok")
        & F.col("bullet_ok")
        & F.col("ellipsis_ok"),
    ).drop("_n_chars", "_n_sym", "_n_alpha_words", "_n_lines", "_n_bullet_lines", "_n_ellip_lines")


@register(
    "gopher_quality_flags",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             {_DUCK_TOKENS} AS ts,
             regexp_split_to_array(text, '\n') AS lines,
             length(regexp_replace(text, '\\s+', '', 'g')) AS n_chars,
             length(text) - length(replace(text, '#', '')) AS n_hash,
             (length(text) - length(replace(text, '...', ''))) // 3 AS n_ellip
      FROM documents),
    m AS (
      SELECT doc_id,
             len(ts) AS n_words,
             n_chars, n_hash, n_ellip,
             len(list_filter(ts, t -> regexp_matches(t, '[A-Za-z]')))
               AS n_alpha_words,
             len(list_intersect(list_distinct(list_transform(ts, t -> lower(t))),
                                [{_DUCK_GOPHER_STOPS}])) AS n_stop_kinds,
             len(lines) AS n_lines,
             len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%'))
               AS n_bullet_lines,
             len(list_filter(lines, l -> l LIKE '%...')) AS n_ellip_lines
      FROM base)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(CASE WHEN n_words > 0 THEN n_chars * 1000000 // n_words
                     ELSE 0 END AS BIGINT) AS mean_word_len_ppm,
           CAST(CASE WHEN n_words > 0
                     THEN (n_hash + n_ellip) * 1000000 // n_words
                     ELSE 0 END AS BIGINT) AS symbol_word_ppm,
           CAST(CASE WHEN n_words > 0 THEN n_alpha_words * 1000000 // n_words
                     ELSE 0 END AS BIGINT) AS alpha_word_ppm,
           CAST(n_stop_kinds AS BIGINT) AS n_stop_kinds,
           (n_words BETWEEN 50 AND 100000) AS wc_ok,
           (n_words > 0 AND n_chars * 1000000 // n_words BETWEEN 3000000
              AND 10000000) AS mwl_ok,
           (n_words > 0 AND (n_hash + n_ellip) * 1000000 // n_words < 100000)
             AS sym_ok,
           (n_words > 0 AND n_alpha_words * 1000000 // n_words >= 800000)
             AS alpha_ok,
           (n_stop_kinds >= 2) AS stop_ok,
           (n_bullet_lines * 10 < n_lines * 9) AS bullet_ok,
           (n_ellip_lines * 10 < n_lines * 3) AS ellipsis_ok,
           ((n_words BETWEEN 50 AND 100000)
            AND n_words > 0
            AND n_chars * 1000000 // n_words BETWEEN 3000000 AND 10000000
            AND (n_hash + n_ellip) * 1000000 // n_words < 100000
            AND n_alpha_words * 1000000 // n_words >= 800000
            AND n_stop_kinds >= 2
            AND n_bullet_lines * 10 < n_lines * 9
            AND n_ellip_lines * 10 < n_lines * 3) AS gopher_pass
    FROM m
    ORDER BY doc_id
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule-based quality filter (Rae et al. 2021, appendix
    A1.1) as per-document verdict cells — the published heuristic bundle
    most pretraining curation stacks start from, complementing the
    score-based ``doc_quality`` and ``bigram_lm_doc_scores``:

    - word count in [50, 100000];
    - mean word length in [3, 10] characters;
    - symbol-to-word ratio (# and ...) below 0.1;
    - >= 80% of words contain an alphabetic character;
    - at least 2 distinct members of the 8-word stop set present;
    - < 90% of lines bullet-started, < 30% ellipsis-ended.

    All metrics are integer ppm arithmetic (DIV/``//`` floor identically)
    so the DuckDB oracle reproduces every cell bit-for-bit; the rule
    thresholds compare those integers, making each flag and the combined
    ``gopher_pass`` driver-hash-checkable. Scale shape: one map-only
    projection pass — no joins, no aggregates, no shuffle before the
    output sort (dropped in production writes). The cell definitions live
    in :func:`with_gopher_flags`, shared verbatim with the streaming
    quality gate.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        with_gopher_flags(docs.select("doc_id", "text"))
        .select(
            "doc_id",
            "n_words",
            "mean_word_len_ppm",
            "symbol_word_ppm",
            "alpha_word_ppm",
            "n_stop_kinds",
            "wc_ok",
            "mwl_ok",
            "sym_ok",
            "alpha_ok",
            "stop_ok",
            "bullet_ok",
            "ellipsis_ok",
            "gopher_pass",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# C4 cleaning heuristics (Raffel et al. 2020, §2.2; round-8 addition)
# ---------------------------------------------------------------------------


def with_c4_flags(df: DataFrame) -> DataFrame:
    """Append the C4 rule cells (line/page metrics + per-rule verdicts +
    ``c4_pass``) to any DataFrame with a ``text`` column — THE shared
    column definitions of the batch ``c4_quality_flags`` operator and the
    streaming quality gate (``streaming/pipelines.py::
    stream_quality_gate``). Map-only: the line filter is a JVM
    higher-order function over the split array, so the same expressions
    run unmodified on an unbounded stream."""
    lines = F.split("text", "\n")
    retained = F.filter(
        lines,
        lambda l: l.rlike('[.!?"]$')
        & (F.size(F.filter(F.split(l, r"\s+"), lambda t: t != "")) >= 5)
        & ~F.lower(l).contains("javascript"),
    )
    base = df.withColumns(
        {
            "n_lines": F.size(lines).cast("long"),
            "n_retained_lines": F.size(retained).cast("long"),
            "n_sentences": F.size(
                F.regexp_extract_all("text", F.lit("[.!?]"), F.lit(0))
            ).cast("long"),
            "_has_lorem": F.lower(F.col("text")).contains("lorem ipsum"),
            "_has_brace": F.col("text").contains("{"),
        }
    )
    return (
        base.withColumns(
            {
                "retained_line_ppm": F.expr("n_retained_lines * 1000000 DIV n_lines"),
                "sent_ok": F.col("n_sentences") >= 3,
                "lorem_ok": ~F.col("_has_lorem"),
                "brace_ok": ~F.col("_has_brace"),
                "lines_ok": F.col("n_retained_lines") >= 1,
            }
        )
        # pass = AND of the per-rule flags (same derivation as gopher_pass)
        # so a future threshold edit cannot diverge from the combined verdict
        .withColumn(
            "c4_pass",
            F.col("sent_ok") & F.col("lorem_ok") & F.col("brace_ok") & F.col("lines_ok"),
        )
        .drop("_has_lorem", "_has_brace")
    )


@register(
    "c4_quality_flags",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             regexp_split_to_array(text, chr(10)) AS lines,
             len(regexp_extract_all(text, '[.!?]')) AS n_sentences,
             contains(lower(text), 'lorem ipsum') AS has_lorem,
             contains(text, '{') AS has_brace
      FROM documents),
    m AS (
      SELECT doc_id, n_sentences, has_lorem, has_brace,
             len(lines) AS n_lines,
             len(list_filter(lines, l ->
                 regexp_matches(l, '[.!?"]$')
                 AND len(list_filter(regexp_split_to_array(l, '\\s+'),
                                     t -> t <> '')) >= 5
                 AND NOT contains(lower(l), 'javascript'))) AS n_retained_lines
      FROM base)
    SELECT doc_id,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_retained_lines AS BIGINT) AS n_retained_lines,
           CAST(n_retained_lines * 1000000 // n_lines AS BIGINT)
             AS retained_line_ppm,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           (n_sentences >= 3) AS sent_ok,
           NOT has_lorem AS lorem_ok,
           NOT has_brace AS brace_ok,
           (n_retained_lines >= 1) AS lines_ok,
           (n_sentences >= 3 AND NOT has_lorem AND NOT has_brace
            AND n_retained_lines >= 1) AS c4_pass
    FROM m
    ORDER BY doc_id
    """,
)
def c4_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020, §2.2) as
    per-document verdict cells — the other canonical rule bundle next to
    ``gopher_quality_flags``. C4 operates line-wise then page-wise; both
    levels appear here as driver-hash-checkable cells:

    - a line is RETAINED iff it ends in terminal punctuation (``.!?"``),
      has >= 5 words, and does not mention "javascript" (the dirty-HTML
      heuristic);
    - page verdicts: >= 3 sentences, no "lorem ipsum", no curly brace
      (template/code leakage), and >= 1 retained line.

    ``retained_line_ppm`` is integer ppm (``DIV`` / ``//`` floor both
    sides) so every cell is bit-exact vs the oracle. Scale shape: one
    map-only projection — no joins, no shuffle before the output sort
    (dropped in production writes); the line filter is a JVM-side
    higher-order function over the split array, never a Python UDF. The
    cell definitions live in :func:`with_c4_flags`, shared verbatim with
    the streaming quality gate.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        with_c4_flags(docs.select("doc_id", "text"))
        .select(
            "doc_id",
            "n_lines",
            "n_retained_lines",
            "retained_line_ppm",
            "n_sentences",
            "sent_ok",
            "lorem_ok",
            "brace_ok",
            "lines_ok",
            "c4_pass",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# CCNet perplexity buckets (Wenzek et al. 2020; round-8 addition)
# ---------------------------------------------------------------------------


@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {_DUCK_TOKENS} AS t
      FROM documents),
    bi AS (
      SELECT doc_id, lang,
             UNNEST(list_transform(range(1, len(t)),
                                   i -> t[i] || chr(9) || t[i + 1])) AS bg
      FROM toks WHERE len(t) >= 2),
    cnt2 AS (SELECT bg, COUNT(*) AS c2 FROM bi GROUP BY bg),
    cnt1 AS (SELECT split_part(bg, chr(9), 1) AS w1, COUNT(*) AS c1
             FROM bi GROUP BY 1),
    p AS (
      SELECT bg, CAST(c2 * 1000000 // c1 AS BIGINT) AS p_ppm
      FROM cnt2 JOIN cnt1 ON split_part(cnt2.bg, chr(9), 1) = cnt1.w1),
    d AS (SELECT doc_id, lang, bg, COUNT(*) AS cnt FROM bi GROUP BY 1, 2, 3),
    scored AS (
      SELECT d.doc_id, d.lang,
             CAST(SUM(d.cnt * p.p_ppm) // SUM(d.cnt) AS BIGINT) AS lm_score_ppm
      FROM d JOIN p USING (bg)
      GROUP BY d.doc_id, d.lang)
    SELECT doc_id, lang, lm_score_ppm,
           CASE ntile(3) OVER (PARTITION BY lang
                               ORDER BY lm_score_ppm DESC, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM scored
    ORDER BY doc_id
    """,
)
def ccnet_perplexity_buckets(
    spark: SparkSession, sf_dir: str, top_n: int | None = None
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020, §3.3): per
    language, rank every document by LM quality and cut the ranking into
    equal thirds — "head" (most fluent, usually kept), "middle", "tail"
    (usually dropped or down-sampled). CCNet ranks by KenLM perplexity
    ascending; here the quality signal is the corpus-trained integer
    bigram score of ``bigram_lm_doc_scores`` (higher = more fluent), so
    head = highest score. Ties break by doc_id for a total order both
    engines replay exactly.

    Scale shape: the scoring reuses the bigram-LM plan (map-side
    combinable counts, broadcast-sized probability table). The tercile
    assignment is exact NTILE(3) semantics WITHOUT a per-language sort
    of the corpus (at 100 TB the head language IS most of the corpus, so
    ``Window.partitionBy(lang)`` at document grain is a full sort on a
    skewed key). Decomposition: each doc's per-language rank =
    (#docs in the language with a strictly higher score) + (position by
    doc_id within its own equal-score run). The first term comes from a
    cumulative sum over the (lang, score) HISTOGRAM — a window
    partitioned by lang but over distinct-score rows, bounded by the ppm
    score domain, not the corpus. The second is a row_number partitioned
    by the composite (lang, lm_score_ppm, doc_id DIV W) — since round 10
    equal-score runs sub-split on a doc_id range bucket with exact
    per-bucket rank offsets, so NO window partition exceeds W rows even
    when the corpus piles onto one degenerate score (see
    :func:`_ccnet_ranked`). Tercile cuts per NTILE semantics (first n%3
    buckets take the extra row) broadcast as a |langs|-row table.
    Bit-identical to the oracle's NTILE; the doc-grain table never sorts
    on a lang-only key (plan-guarded).

    ``top_n`` ranks against the pruned ``top_n``-bigram LM (the capped
    model the streaming trainer publishes — parity face for
    :func:`ccnet_stream_thresholds`); the registry query uses the full
    LM so the oracle stays exact NTILE over the exact scores.
    """
    return (
        _ccnet_ranked(spark, sf_dir, top_n=top_n)
        .select(
            "doc_id",
            "lang",
            "lm_score_ppm",
            F.when(F.col("rank") <= F.col("cut1"), "head")
            .when(F.col("rank") <= F.col("cut2"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


# Width of the doc_id range each equal-score run is sub-split into for the
# doc-grain row_number: the window partition holds at most this many rows
# no matter how many documents share one (lang, score) — see _ccnet_ranked.
_CCNET_RUN_BUCKET = 1 << 20


def _ccnet_ranked(
    spark: SparkSession, sf_dir: str, top_n: int | None = None
) -> DataFrame:
    """Per-doc exact per-language rank plus the NTILE(3) cut ranks —
    the decomposition :func:`ccnet_perplexity_buckets` documents (histogram
    cumulative offsets + composite-key row_number), shared with the
    threshold trainer :func:`ccnet_stream_thresholds`.

    The doc-grain row_number's partition key is (lang, lm_score_ppm, rbk)
    where ``rbk = doc_id DIV _CCNET_RUN_BUCKET``: a corpus where mass
    piles on one degenerate score (empty/boilerplate docs all scoring the
    same ppm) would otherwise make the equal-score RUN itself the hot
    key. ``doc_id DIV W`` is monotone in doc_id, so ordering by doc_id
    within a bucket plus the per-bucket cumulative offset (``bucket_
    before``, a window over the run's <= run/W bucket-grain rows)
    reconstructs the exact within-run position — no window partition
    anywhere in the plan exceeds W rows, whatever the score
    distribution."""
    from pyspark.sql import Window

    # Four consumers (doc rows, histogram, bucket offsets, per-lang
    # counts) — materialize the per-doc score table once (in production:
    # the persisted scores).
    scores = (
        bigram_lm_doc_scores(spark, sf_dir, top_n=top_n)
        .select("doc_id", "lang", "lm_score_ppm")
        .withColumn("rbk", F.expr(f"doc_id DIV {_CCNET_RUN_BUCKET}"))
        .localCheckpoint(eager=False)
    )
    hist = scores.groupBy("lang", "lm_score_ppm").agg(
        F.count(F.lit(1)).alias("run")
    )
    wl = Window.partitionBy("lang").orderBy(F.desc("lm_score_ppm"))
    hist = hist.withColumn(
        "cum_before", F.sum("run").over(wl) - F.col("run")
    ).select("lang", "lm_score_ppm", "cum_before")
    cuts = (
        scores.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "lang",
            F.expr("n DIV 3 + CAST(n % 3 >= 1 AS BIGINT)").alias("cut1"),
            F.expr("2 * (n DIV 3) + CAST(n % 3 >= 1 AS BIGINT)"
                   " + CAST(n % 3 >= 2 AS BIGINT)").alias("cut2"),
        )
    )
    # per-run bucket offsets: window over bucket-grain rows (<= run/W per
    # (lang, score)), never doc-grain
    wb = Window.partitionBy("lang", "lm_score_ppm").orderBy("rbk")
    sub = (
        scores.groupBy("lang", "lm_score_ppm", "rbk")
        .agg(F.count(F.lit(1)).alias("brun"))
        .withColumn("bucket_before", F.sum("brun").over(wb) - F.col("brun"))
        .select("lang", "lm_score_ppm", "rbk", "bucket_before")
    )
    wr = Window.partitionBy("lang", "lm_score_ppm", "rbk").orderBy("doc_id")
    rank = (
        F.col("cum_before") + F.col("bucket_before") + F.row_number().over(wr)
    )
    return (
        scores.join(hist, ["lang", "lm_score_ppm"])
        .join(sub, ["lang", "lm_score_ppm", "rbk"])
        .join(F.broadcast(cuts), "lang")
        .withColumn("rank", rank)
    )


def ccnet_stream_thresholds(
    spark: SparkSession, sf_dir: str, top_n: int = 65536
) -> tuple[dict[str, int], dict[str, tuple[tuple[int, int], tuple[int, int]]]]:
    """Batch-trains / stream-applies for the CCNet split: a batch job
    trains the bigram LM and the per-language tercile boundaries on the
    corpus; an ingest stream tags arriving docs against them map-side
    (``streaming.pipelines.stream_selection_tags``).

    The published LM is CAPPED at the ``top_n`` most frequent bigrams
    (:func:`_bigram_p`): the corpus bigram vocabulary grows without bound
    (Heaps' law), so collecting the FULL table would give the trainer
    unbounded driver state and the tagger an unbounded closure — the
    exact failure DSIR's fixed 256 buckets avoid by construction. CCNet
    itself ships a finite pruned KenLM; the cap is that pruning. Missing
    bigrams are out-of-vocabulary on BOTH faces (the stream tagger's dict
    miss and the batch scorer's inner join against the same pruned
    table), so batch/stream parity holds by construction at any cap —
    pinned by the parity test training with a deliberately BITING cap.

    Returns ``(p_ppm, cuts)``: ``p_ppm`` maps tab-joined bigram →
    conditional probability in ppm (<= top_n entries — the trained LM
    the tagger broadcasts; a production KenLM model ships to executors
    behind the same per-executor-singleton seam as the heavy media
    codecs), and ``cuts[lang] = ((s1, d1), (s2, d2))`` — the
    (lm_score_ppm, doc_id) pairs AT the head/middle cut ranks, so a doc
    is 'head' iff (score, doc_id) orders at-or-before (s1, d1) under
    (score DESC, doc_id ASC), 'middle' iff at-or-before (s2, d2) —
    bit-identical buckets to ``ccnet_perplexity_buckets(top_n=top_n)``
    for any doc the batch ranking saw.
    """
    bi = _bigram_instances(load_table(spark, sf_dir, "documents"))
    p_ppm = {r["bg"]: r["p_ppm"] for r in _bigram_p(bi, top_n=top_n).collect()}
    ranked = _ccnet_ranked(spark, sf_dir, top_n=top_n)
    rows = ranked.filter(
        (F.col("rank") == F.col("cut1")) | (F.col("rank") == F.col("cut2"))
    ).collect()
    cuts: dict[str, list] = {}
    for r in rows:
        pair = (r["lm_score_ppm"], r["doc_id"])
        entry = cuts.setdefault(r["lang"], [None, None])
        if r["rank"] == r["cut1"]:
            entry[0] = pair
        if r["rank"] == r["cut2"]:  # cut1 == cut2 when n < 3: same pair
            entry[1] = pair
    return p_ppm, {k: (v[0], v[1]) for k, v in cuts.items()}


# ---------------------------------------------------------------------------
# PII detection / redaction (round 15)
# ---------------------------------------------------------------------------

# Conservative regex subset valid — and equivalent — in BOTH Java's
# engine (Spark, JVM-side) and RE2 (DuckDB): character classes, bounded
# repetition, no backreferences or lookaround.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_IP = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


def with_pii_flags(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append PII match counts and a redacted text column — the SHARED
    batch/stream transformer (the ``with_c4_flags`` contract): the
    ``pii_redaction_stats`` oracle query and the streaming scrub
    (``streaming.pipelines.stream_pii_scrub``) evaluate these exact
    column expressions, so an ingest-time scrub and a batch backfill can
    never disagree. All JVM-side built-ins; map-only, no shuffle."""
    c = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, _PII_EMAIL, "[EMAIL]"),
            _PII_PHONE, "[PHONE]",
        ),
        _PII_IP, "[IP]",
    )
    return docs.withColumns({
        "pii_emails": F.size(
            F.regexp_extract_all(c, F.lit(_PII_EMAIL), F.lit(0))
        ).cast("long"),
        "pii_phones": F.size(
            F.regexp_extract_all(c, F.lit(_PII_PHONE), F.lit(0))
        ).cast("long"),
        "pii_ips": F.size(
            F.regexp_extract_all(c, F.lit(_PII_IP), F.lit(0))
        ).cast("long"),
        "pii_redacted": redacted,
    })


@register(
    "pii_redaction_stats",
    oracle=f"""
    WITH injected AS (
        SELECT doc_id,
               text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com'
                    || CASE WHEN doc_id % 2 = 1
                            THEN ' alt.user-' || CAST(doc_id AS VARCHAR)
                                 || '@mail.example.org'
                            ELSE '' END
                    || ' 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.'
                    || CAST(doc_id % 250 AS VARCHAR)
                    || CASE WHEN doc_id % 3 = 0
                            THEN ' 192.168.' || CAST(doc_id % 100 AS VARCHAR) || '.1'
                            ELSE '' END AS txt
        FROM documents
    ), red AS (
        SELECT doc_id, txt,
               regexp_replace(regexp_replace(regexp_replace(txt,
                   '{_PII_EMAIL}', '[EMAIL]', 'g'),
                   '{_PII_PHONE}', '[PHONE]', 'g'),
                   '{_PII_IP}', '[IP]', 'g') AS redacted
        FROM injected
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(txt, '{_PII_EMAIL}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(txt, '{_PII_PHONE}')) AS BIGINT)
               AS n_phones,
           CAST(len(regexp_extract_all(txt, '{_PII_IP}')) AS BIGINT) AS n_ips,
           CAST(length(redacted) AS BIGINT) AS redacted_len,
           (NOT regexp_matches(redacted, '{_PII_EMAIL}')
            AND NOT regexp_matches(redacted, '{_PII_PHONE}')
            AND NOT regexp_matches(redacted, '{_PII_IP}')) AS clean
    FROM red
    ORDER BY doc_id
    """,
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the corpus (round 15) — the
    pre-training scrub every real data pipeline runs before anything
    else touches the text. The synthetic corpus carries no PII, so
    closed-form tokens (emails, a NANP 555 phone, IPv4s — counts varying
    by doc) are injected identically on both sides; the MEASURED columns
    then come from two independent regex engines — Spark's JVM
    ``regexp_extract_all``/``regexp_replace`` (whole-stage codegen, no
    Python in the plan) against DuckDB's RE2 — over a deliberately
    engine-portable pattern subset (classes + bounded repetition, no
    lookaround). Match counts, redacted length, and a post-redaction
    cleanliness sweep all hash. Scale shape: one map-only project over
    the corpus — the redaction pipeline at 100 TB is a pure narrow
    stage."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    txt = F.concat(
        F.col("text"),
        F.lit(" user"), did, F.lit("@example.com"),
        F.when(
            F.col("doc_id") % 2 == 1,
            F.concat(F.lit(" alt.user-"), did, F.lit("@mail.example.org")),
        ).otherwise(F.lit("")),
        F.lit(" 555-010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" 10."), (F.col("doc_id") % 200).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 250).cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" 192.168."),
                     (F.col("doc_id") % 100).cast("string"), F.lit(".1")),
        ).otherwise(F.lit("")),
    )
    tagged = with_pii_flags(
        docs.select("doc_id", txt.alias("_pii_txt")), "_pii_txt"
    )
    redacted = F.col("pii_redacted")
    return (
        tagged.select(
            "doc_id",
            F.col("pii_emails").alias("n_emails"),
            F.col("pii_phones").alias("n_phones"),
            F.col("pii_ips").alias("n_ips"),
            F.length(redacted).cast("long").alias("redacted_len"),
            (
                ~redacted.rlike(_PII_EMAIL)
                & ~redacted.rlike(_PII_PHONE)
                & ~redacted.rlike(_PII_IP)
            ).alias("clean"),
        )
    )
