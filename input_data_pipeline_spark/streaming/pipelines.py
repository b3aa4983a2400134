"""Structured Streaming layer (SURVEY §2.9).

The reference's collectors are streaming-shaped batch scripts: they run
repeatedly and *append* to JSONL logs (``inputs/schema.py:34-35``), audio
arrives in fixed-duration chunks, and the Vosk recognizer is an incremental
stateful consumer emitting final results per utterance plus an end-of-stream
flush (``inputs/system_audio_collector.py:39-63``) — exactly Structured
Streaming's append mode + terminal flush. This module gives that usage
pattern a first-class engine surface:

- ``stream_jsonl`` / ``stream_events``: schema-enforced file-source streams
  (tailing the collectors' output directory).
- ``windowed_counts``: tumbling/sliding event-time windows with a watermark
  bounding state ("late data" handling).
- ``session_windows``: native ``F.session_window`` gap sessions — the
  streaming form of the batch lag-gap sessionization in operators/windows.py.
- ``dedup_within_watermark``: stateful dedup with bounded state
  (``dropDuplicatesWithinWatermark``) — the streaming form of the
  skip-already-ingested manifest anti-join.

Scale notes: every stateful op here carries a watermark so the state store
stays bounded no matter how long the stream runs — unbounded state is the
way streaming jobs die at production scale. Windows/sessions key state by
(group keys, window), so hot keys shard across ``spark.sql.shuffle.partitions``
state-store partitions; checkpointing makes each sink exactly-once.

The batch-mode oracle checks for these operators (``F.session_window`` /
sliding ``F.window`` run in batch, hash-compared against lag-gap and
double-bucket DuckDB SQL) live in ``operators/windows.py`` —
``session_window_native`` and ``sliding_window_counts``.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve via globals
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from input_data_pipeline_spark.functions.stable import stable_sum
from input_data_pipeline_spark.sources.ingest_model import INGEST_SCHEMA

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)


def stream_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Tail the collectors' JSONL output directory as an unbounded table
    (SURVEY §2.9 row 1). Schema is enforced, never inferred — inference
    would re-scan history on every restart."""
    return spark.readStream.schema(INGEST_SCHEMA).json(path)


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of event rows (JSONL) with the events schema."""
    return spark.readStream.schema(EVENT_SCHEMA).json(path)


def windowed_counts(
    events: DataFrame,
    size: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` differs from ``size``) event-time
    window counts with late-data bound (SURVEY §2.9 rows 2+4).

    Append-mode semantics: a window emits once, when the watermark passes its
    end; events later than the watermark are dropped. State per key-window
    pair is freed at emission — bounded state at any stream length.
    """
    win = F.window("ts", size, slide) if slide else F.window("ts", size)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), stable_sum("value", 4).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Gap-based session windows per user (SURVEY §2.9 row 3): a session
    closes when no event arrives within ``gap``; the watermark decides when
    closed sessions are final enough to emit."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), stable_sum("value", 4).alias("session_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str], watermark: str = "10 minutes"
) -> DataFrame:
    """Stateful streaming dedup with bounded state (SURVEY §2.9 row 5):
    duplicates of a key arriving within the watermark horizon are dropped;
    state for a key is released once the watermark passes it. The streaming
    form of the reference's skip-existing ingestion (yt-dlp
    ``overwrites: False``; manifest anti-join in sources/ingest_model.py)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def run_to_memory(sdf: DataFrame, name: str, output_mode: str = "append"):
    """Start a memory-sink query for tests/inspection. Callers drive it with
    ``q.processAllAvailable()`` after each source append — deterministic
    micro-batch boundaries, no wall-clock dependence."""
    return (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


def write_idempotent_merge(
    sdf: DataFrame,
    target_dir: str,
    key: str,
    checkpoint_dir: str,
):
    """foreachBatch sink with idempotent merge semantics (SURVEY §2.9 +
    K1's append discipline made restart-safe).

    Each micro-batch upserts into a parquet target: new keys append,
    re-delivered keys (possible when a batch retries after a sink-side
    failure — foreachBatch is at-least-once) are dropped by an anti-join
    against the current target. Combined with checkpointing this yields
    effectively-exactly-once delivery to a plain parquet directory.

    The anti-join reads only the target's key column, broadcast while the
    key set is broadcast-sized. Once it isn't, swap the manifest for a
    date/bucket-partitioned key table so each batch prunes to the
    partitions its keys can live in (or a Bloom-filter pre-prune) — the
    merge body is the only thing that changes; the sink contract doesn't.
    """

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = batch_df.dropDuplicates([key])
        try:
            existing = spark.read.parquet(target_dir).select(key)
        except AnalysisException:  # first batch: target doesn't exist yet;
            # real IO errors propagate and fail the batch
            existing = None
        if existing is not None:
            fresh = fresh.join(F.broadcast(existing), key, "left_anti")
        fresh.write.mode("append").parquet(target_dir)

    return (
        sdf.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def join_clicks_to_purchases(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join (SURVEY §2.9 + J5's streaming form):
    each purchase matched to same-user clicks in the preceding ``within``.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can size the state store exactly: a click's state is
    droppable once the watermark passes click_ts + within; purchase state
    once matched or expired. Without the time bound this join would buffer
    both streams forever — the bound IS the scale design.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {within}"))
    )
    return p.join(c, cond, "inner").select(
        "purchase_id", "click_id", F.col("p_user").alias("user_id"),
        "purchase_ts", "click_ts",
    )


def join_clicks_to_purchases_outer(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (the §2.9 shape the inner
    variant doesn't cover): every purchase emits — matched rows as they
    join, and a purchase with NO qualifying click emits once with NULL
    click columns when the watermark passes its state-retention bound
    (state-timeout semantics: Spark holds the unmatched left row exactly
    until no future click could still satisfy the time bound, then
    null-emits and drops the state).

    Same scale contract as the inner join: the event-time bound sizes the
    state store; the outer side adds no unbounded state, only the delayed
    null emission. Matches the batch left join over the same condition
    once both watermarks pass the data (parity pinned by
    ``tests/test_streaming.py``)."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {within}"))
    )
    return p.join(c, cond, "leftOuter").select(
        "purchase_id", "click_id", F.col("p_user").alias("user_id"),
        "purchase_ts", "click_ts",
    )


DOC_SCHEMA = "doc_id long, ts timestamp, text string, lang string, source string"


def stream_docs(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of incoming documents (JSONL) with arrival time."""
    return spark.readStream.schema(DOC_SCHEMA).json(path)


def _with_repetition_stats(df: DataFrame) -> DataFrame:
    """Append ``max_repeat``/``n_shingles`` (most-repeated word 3-gram count
    and total 3-grams) to every row, Arrow-batched and map-only, using the
    SAME per-doc scorer as the batch ``intradoc_repetition`` operator
    (``operators/corpus.py::rep_stats``) — stream/batch parity by
    construction. Rows with < 3 tokens get NULL stats.
    """
    from input_data_pipeline_spark.operators.corpus import rep_stats

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", max_repeat bigint, n_shingles bigint"

    def score(batches):
        for pdf in batches:
            stats = [rep_stats(t) for t in pdf["text"]]
            out = pdf.copy()
            out["max_repeat"] = [s[0] if s else None for s in stats]
            out["n_shingles"] = [s[1] if s else None for s in stats]
            yield out

    return df.mapInPandas(score, out_schema)


def stream_corpus_hygiene(
    docs: DataFrame,
    watermark: str = "10 minutes",
    min_tokens: int = 3,
    max_repeat_ratio: float = 0.2,
    repetition_min_shingles: int = 20,
) -> DataFrame:
    """Streaming corpus-hygiene pass: the ingest-time subset of the batch
    pipeline (fingerprint dedup + token gate + intra-doc repetition gate +
    quality columns), running on an unbounded document stream.

    Batch/stream unification is the point: the fingerprint, tokenizer, and
    stopword-ratio expressions are THE SAME column objects the batch
    operators use (``functions/text.py``) — Structured Streaming runs the
    identical plan incrementally, so batch backfills and the live stream
    can never disagree on semantics. Exact dups arriving within the
    watermark horizon drop statefully (bounded state, keyed by the 32-byte
    fingerprint); sub-``min_tokens`` fragments are gated out map-side
    before any state is touched, and the surviving rows carry the
    stopword-ratio quality signal. Near-dup detection stays a batch/micro-
    batch concern (the LSH band join needs the corpus-wide signature
    table); this pass is the cheap always-on front door.
    """
    from input_data_pipeline_spark.functions import text as T

    # Map-only stopword tally (array filter, no explode): streaming cannot
    # chain an aggregate before the stateful dedup, and per-row arrays here
    # are short — the batch operator's explode+agg form stays preferable in
    # batch, but the COUNTED SET of stopwords is shared via T.STOPWORDS.
    n_stop = F.size(
        F.filter(T.tokens("text"), lambda t: F.lower(t).isin(*T.STOPWORDS["en"]))
    )
    gated = (
        docs.withColumn("fp", T.fingerprint("text"))
        .withColumn("n_tokens", T.token_count("text"))
        .filter(F.col("n_tokens") >= min_tokens)
        .withColumn(
            "stop_ratio", F.round(n_stop / F.col("n_tokens"), 6)
        )
    )
    # Intra-doc repetition gate (the streaming face of the batch
    # intradoc_repetition operator, same scorer): docs long enough for the
    # ratio to mean anything (>= repetition_min_shingles 3-grams) whose
    # most-repeated 3-gram exceeds max_repeat_ratio of all 3-grams are
    # boilerplate/degenerate text and are dropped map-side, BEFORE any
    # state is touched. Short docs pass un-gated (a 3-token doc is always
    # ratio 1.0 — length, not repetition).
    scored = _with_repetition_stats(gated).withColumn(
        "repeat_ratio",
        F.round(F.col("max_repeat").cast("double") / F.col("n_shingles"), 4),
    )
    kept = scored.filter(
        (F.col("n_shingles") < repetition_min_shingles)
        | (F.col("repeat_ratio") <= max_repeat_ratio)
    )
    return (
        kept.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .select(
            "doc_id", "ts", "lang", "source", "fp", "n_tokens",
            "stop_ratio", "repeat_ratio",
        )
    )


def stream_url_dedup(
    recs: DataFrame,
    watermark: str = "1 hour",
    url_col: str = "url",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming face of canonical-URL dedup — the web-crawl front door
    (``operators.curation.url_canonical_dedup``) applied at ingest time:
    canonicalize every arriving URL map-side with THE SAME
    ``canonical_url_col`` expression the batch operator and its DuckDB
    oracle share (``_CANON_STEPS``), then keep only the FIRST arrival per
    canonical URL via ``dropDuplicatesWithinWatermark`` — re-crawled
    spellings of a page already ingested inside the watermark horizon
    drop statefully, exactly as re-crawls dedup against the manifest in
    batch (J1 shape).

    Scale shape: canonicalization is a map-only JVM regexp projection
    (no UDF); the only state is the dedup key set, bounded by the
    watermark horizon and keyed by the canonical URL string — the same
    bounded-state contract as ``stream_corpus_hygiene``'s fingerprint
    dedup. Batch/stream parity (one survivor per canonical group, and
    the survivor is a member of the group) is pinned by
    ``tests/test_streaming.py::test_stream_url_dedup_matches_batch_groups``.
    """
    from input_data_pipeline_spark.operators.curation import canonical_url_col

    return (
        recs.withColumn("canonical_url", canonical_url_col(url_col))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["canonical_url"])
    )


def stream_bm25_tags(
    docs: DataFrame,
    model: tuple[dict[str, int], int, int],
    query: tuple[str, ...] | None = None,
) -> DataFrame:
    """Streaming face of BM25 lexical retrieval — the alerting/routing
    pattern: a batch job publishes the standing query's idf table plus
    corpus length stats (``operators.textstats.bm25_stream_model``), and
    the ingest stream appends ``bm25_score_ppm`` to every arriving doc
    map-side — NO aggregation, NO state, NO shuffle. Docs containing no
    query term tag null (exactly the docs the batch scorer never
    materializes); a downstream sink alerts on or routes the matches.

    Exactness: the tagger evaluates THE SAME rationalized integer
    arithmetic as the batch scorer (k1=6/5 and b=3/4 folded into ppm
    ``DIV`` chains; the published idf micros come from the identical
    Spark expression), so for any doc the batch corpus contained the
    stream tag equals the batch ``score_ppm`` bit-for-bit — pinned by
    ``tests/test_streaming.py::test_stream_bm25_tags_match_batch``.
    """
    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.operators.textstats import BM25_QUERY

    idf_ppm, n_docs, sum_dl = model
    # dedup the standing query: the batch scorer's tf is a groupBy on
    # token, so a repeated query term must not double its contribution
    terms = list(dict.fromkeys(query if query is not None else BM25_QUERY))
    # Collision-safe temp names: lengthen the prefix until it collides
    # with nothing the caller's frame carries, and drop EXACTLY the names
    # created here — an input column that happens to be called `_toks`
    # or `_tf_0` must survive untouched.
    prefix = "_bm25"
    while any(c.startswith(prefix) for c in docs.columns):
        prefix += "_x"
    toks, norm = f"{prefix}_toks", f"{prefix}_norm_ppm"
    tmp = [toks, norm]
    out = docs.withColumn(toks, T.tokens("text")).withColumn(
        norm,
        # L-suffixed literals force 64-bit arithmetic: size() is int32 and
        # the batch scorer's tf/dl come from count() longs
        F.expr(f"250000L + 750000L * size({toks}) * {n_docs}L DIV {sum_dl}L")
        if sum_dl
        else F.lit(None).cast("long"),
    )
    contribs = []
    matched = F.lit(False)
    for i, term in enumerate(terms):
        if term not in idf_ppm:
            continue  # term absent from the corpus: contributes nothing
        tf = f"{prefix}_tf_{i}"
        tmp.append(tf)
        out = out.withColumn(
            tf, F.size(F.filter(toks, lambda x: x == F.lit(term)))
        )
        matched = matched | (F.col(tf) > 0)
        contribs.append(
            f"CASE WHEN {tf} > 0 THEN {idf_ppm[term]}L"
            f" * ((11000000L * {tf} * 1000000L)"
            f" DIV (5000000L * {tf} + 6L * {norm}))"
            f" DIV 1000000L ELSE 0L END"
        )
    score = (
        F.expr(" + ".join(contribs)) if contribs else F.lit(None).cast("long")
    )
    out = out.withColumn("bm25_score_ppm", F.when(matched, score))
    return out.drop(*tmp)


def stream_contamination_tags(
    recs: DataFrame,
    suite,
    emb_col: str = "embedding",
) -> DataFrame:
    """Streaming face of semantic eval decontamination — the third
    batch-trains/stream-applies tagger: a batch job publishes the
    row-normalized eval-suite matrix
    (``operators.curation.contamination_suite``; benchmark-sized,
    corpus-independent), and the ingest stream appends
    ``max_eval_cos_ppm`` / ``n_eval_hits`` / ``contaminated`` to every
    arriving embedding with NO aggregation, NO state, NO shuffle — one
    Arrow-batched matmul against the broadcast suite, the identical
    normalize/floor(x*1e6+0.5) arithmetic as the batch operator, so for
    any vector the corpus contained the tags are bit-equal
    (``tests/test_streaming.py::test_stream_contamination_tags_match_batch``).
    Zero-norm embeddings tag null (undefined cosine), the error-row
    stance."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from input_data_pipeline_spark.operators.curation import _SCON_COS

    sc = recs.sparkSession.sparkContext
    b_ev = sc.broadcast(np.asarray(suite, dtype=np.float64))

    @pandas_udf(
        "struct<max_eval_cos_ppm: long, n_eval_hits: long, contaminated: boolean>"
    )
    def tag(col: pd.Series) -> pd.DataFrame:
        ev = b_ev.value
        if not len(col):
            return pd.DataFrame(
                {
                    "max_eval_cos_ppm": pd.array([], dtype="Int64"),
                    "n_eval_hits": pd.array([], dtype="Int64"),
                    "contaminated": pd.array([], dtype="boolean"),
                }
            )
        mat = np.array(col.tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        ok = norms[:, 0] > 0
        mat = np.divide(mat, norms, out=np.zeros_like(mat), where=norms > 0)
        sims = np.floor(mat @ ev.T * 1_000_000 + 0.5).astype(np.int64)
        mx = sims.max(axis=1)
        hits = (sims >= _SCON_COS).sum(axis=1)
        return pd.DataFrame(
            {
                "max_eval_cos_ppm": pd.array(
                    [int(m) if k else None for m, k in zip(mx, ok)],
                    dtype="Int64",
                ),
                "n_eval_hits": pd.array(
                    [int(h) if k else None for h, k in zip(hits, ok)],
                    dtype="Int64",
                ),
                "contaminated": pd.array(
                    [bool(m >= _SCON_COS) if k else None for m, k in zip(mx, ok)],
                    dtype="boolean",
                ),
            }
        )

    prefix = "_scon"
    while any(c.startswith(prefix) for c in recs.columns):
        prefix += "_x"
    tx = f"{prefix}_tx"
    return (
        recs.withColumn(tx, tag(F.col(emb_col).cast("array<double>")))
        .withColumn("max_eval_cos_ppm", F.col(f"{tx}.max_eval_cos_ppm"))
        .withColumn("n_eval_hits", F.col(f"{tx}.n_eval_hits"))
        .withColumn("contaminated", F.col(f"{tx}.contaminated"))
        .drop(tx)
    )


def stream_image_dedup(
    recs: DataFrame,
    payload_col: str = "payload",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming ingest-time image dedup — the multimodal face of
    ``stream_url_dedup``: each arriving image blob is perceptually hashed
    map-side (``multimodal.dhash56``: REAL decode → grayscale → 8x8
    floor-map downsample → 56-bit difference hash, the SAME kernel the
    batch ``image_dhash_near_dups`` clusters on), and re-uploads of the
    same or re-encoded-but-pixel-identical image are dropped by
    watermark-bounded stateful dedup on the hash (RocksDB-backed
    ``dropDuplicatesWithinWatermark``; the watermark caps state exactly
    as in ``stream_corpus_hygiene``).

    Error-row contract: an undecodable payload gets ``dhash`` null plus
    the error message in ``decode_err`` and PASSES THROUGH unconditionally
    (a junk blob must neither kill the task nor collapse into other junk
    rows via a shared null key) — the stream splits into valid/error
    branches and unions back, both map-only. Near-dup (hamming > 0)
    clustering stays a batch job: banded candidate state is not
    watermark-boundable, the same batch/stream split as MinHash."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from input_data_pipeline_spark.operators.multimodal import dhash56

    @pandas_udf("struct<dhash: long, decode_err: string>")
    def hash_or_err(payloads: pd.Series) -> pd.DataFrame:
        hs, errs = [], []
        for p in payloads:
            try:
                hs.append(dhash56(bytes(p)))
                errs.append(None)
            except Exception as e:  # error row, never a dead task
                hs.append(None)
                errs.append(f"{type(e).__name__}: {e}")
        return pd.DataFrame({"dhash": pd.array(hs, dtype="Int64"), "decode_err": errs})

    prefix = "_dh"
    while any(c.startswith(prefix) for c in recs.columns):
        prefix += "_x"
    hx = f"{prefix}_hx"
    tagged = (
        recs.withColumn(hx, hash_or_err(F.col(payload_col)))
        .withColumn("dhash", F.col(f"{hx}.dhash"))
        .withColumn("decode_err", F.col(f"{hx}.decode_err"))
        .drop(hx)
        .withWatermark(ts_col, watermark)
    )
    valid = tagged.filter(F.col("dhash").isNotNull()).dropDuplicatesWithinWatermark(
        ["dhash"]
    )
    return valid.unionByName(tagged.filter(F.col("dhash").isNull()))


def stream_audio_dedup(
    recs: DataFrame,
    payload_col: str = "payload",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    robust: bool = False,
) -> DataFrame:
    """Streaming ingest-time audio dedup — completes the multimodal dedup
    matrix next to ``stream_url_dedup`` (text/URL) and
    ``stream_image_dedup`` (images): each arriving audio blob is decoded
    for real and keyed by its CONTENT
    (``multimodal.audio_content_key``: sha256 over linear PCM + playback
    params), so re-uploads whose containers differ only in chunk layout,
    padding, or embedded metadata drop via watermark-bounded stateful
    dedup, while any audible difference — including the same G.711 code
    bytes under the other companding law — survives. ``robust=True``
    swaps the key to ``multimodal.audio_robust_key`` (round 14): the
    loudness-contour near-dup key that also folds lossy re-encodes of
    the same audio (an MP3 next to its WAV rip), matching the
    reference's decode-then-normalize dedup semantics. Same error-row
    contract as the image face: an undecodable payload gets ``audio_key``
    null + ``decode_err`` and bypasses the dedup key space entirely."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from input_data_pipeline_spark.operators.multimodal import (
        audio_content_key,
        audio_robust_key,
    )

    key_fn = audio_robust_key if robust else audio_content_key

    @pandas_udf("struct<audio_key: string, decode_err: string>")
    def key_or_err(payloads: pd.Series) -> pd.DataFrame:
        ks, errs = [], []
        for p in payloads:
            try:
                ks.append(key_fn(bytes(p)))
                errs.append(None)
            except Exception as e:  # error row, never a dead task
                ks.append(None)
                errs.append(f"{type(e).__name__}: {e}")
        return pd.DataFrame({"audio_key": ks, "decode_err": errs})

    prefix = "_au"
    while any(c.startswith(prefix) for c in recs.columns):
        prefix += "_x"
    kx = f"{prefix}_kx"
    tagged = (
        recs.withColumn(kx, key_or_err(F.col(payload_col)))
        .withColumn("audio_key", F.col(f"{kx}.audio_key"))
        .withColumn("decode_err", F.col(f"{kx}.decode_err"))
        .drop(kx)
        .withWatermark(ts_col, watermark)
    )
    valid = tagged.filter(
        F.col("audio_key").isNotNull()
    ).dropDuplicatesWithinWatermark(["audio_key"])
    return valid.unionByName(tagged.filter(F.col("audio_key").isNull()))


def stream_fasttext_tags(
    docs: DataFrame,
    model: tuple[dict[int, int], int],
) -> DataFrame:
    """Streaming face of the fastText-style language filter — the CCNet
    ingest shape: a batch job publishes the hashed-feature weight table
    and class prior (``operators.curation.fasttext_stream_model``), and
    the ingest stream appends ``ft_score_ppm`` + ``ft_pred_target`` to
    every arriving doc with NO aggregation, NO state, NO shuffle.

    The n-gram assembly (uni+bigrams) is THE SAME JVM expression as the
    batch classifier (``functions.text.tokens`` + ``textstats.
    bigram_array``); the bucket lookup runs in an Arrow-batched pandas
    UDF over the broadcast weight dict (the per-executor-singleton seam
    a production fastText ``.bin`` ships through), hashing with the
    byte-identical md5-prefix arithmetic as the JVM ``ft_bucket``.
    Features whose bucket the training corpus never populated are
    skipped — matching the batch scorer's inner join against the weight
    table — and a doc with NO trained feature tags null (a doc the batch
    ranking never saw). Parity with the batch classifier is bit-exact
    for every doc the training corpus contained, pinned by
    ``tests/test_streaming.py::test_stream_fasttext_tags_match_batch``.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.operators.curation import _FT_BUCKETS
    from input_data_pipeline_spark.operators.textstats import bigram_array

    w_ppm, prior_ppm = model
    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(w_ppm)

    @pandas_udf("long")
    def score(feats: pd.Series) -> pd.Series:
        import hashlib

        w = bc.value
        out = []
        for fs in feats:
            buckets = {
                int.from_bytes(
                    hashlib.md5(f.encode("utf-8")).digest()[:4], "big"
                )
                % _FT_BUCKETS
                for f in fs
            }
            ws = [w[b] for b in buckets if b in w]
            out.append(sum(ws) // len(ws) if ws else None)
        return pd.Series(out, dtype="object").astype("Int64")

    prefix = "_ft"
    while any(c.startswith(prefix) for c in docs.columns):
        prefix += "_x"
    feats_col = f"{prefix}_feats"
    out = docs.withColumn(
        feats_col, F.concat(T.tokens("text"), bigram_array("text"))
    )
    out = out.withColumn("ft_score_ppm", score(F.col(feats_col)))
    return out.withColumn(
        "ft_pred_target", F.col("ft_score_ppm") >= F.lit(prior_ppm)
    ).drop(feats_col)


def stream_quality_gate(
    docs: DataFrame,
    rules: tuple[str, ...] = ("c4", "gopher"),
    keep_rejects: bool = False,
) -> DataFrame:
    """Streaming face of the published rule-based quality filters: apply
    the C4 (Raffel et al. 2020, §2.2) and/or Gopher (Rae et al. 2021,
    A1.1) rule bundles to an unbounded document stream and drop pages
    failing any selected bundle.

    Batch/stream parity by construction: the cells come from THE SAME
    column transformers the batch operators evaluate
    (``operators/textstats.py::with_c4_flags`` / ``with_gopher_flags``),
    so an ingest-time gate and a batch backfill can never disagree on a
    verdict — the same unification contract as ``stream_corpus_hygiene``
    and ``rep_stats``. Every expression is a map-only JVM projection (no
    aggregate, no state, no watermark needed), so the gate composes
    before the stateful dedup of ``stream_corpus_hygiene`` and adds no
    shuffle at any scale.

    With ``keep_rejects=True`` the gate only TAGS (all metric + verdict
    columns appended, nothing filtered) — the Dolma-style
    tag-then-mix pattern, letting a downstream mixer weigh rules
    differently per corpus without re-running the taggers.
    """
    from input_data_pipeline_spark.operators.textstats import (
        with_c4_flags,
        with_gopher_flags,
    )

    known = {"c4", "gopher"}
    bad = set(rules) - known
    if bad:
        raise ValueError(f"unknown rule bundle(s) {sorted(bad)}; known: {sorted(known)}")
    if not rules:
        # an empty config must not silently disable the gate — a caller
        # whose rule list filtered down to nothing gets a loud error, not
        # an unfiltered, untagged pass-through
        raise ValueError(f"rules must name at least one bundle of {sorted(known)}")
    out = docs
    conds = []
    if "c4" in rules:
        out = with_c4_flags(out)
        conds.append(F.col("c4_pass"))
    if "gopher" in rules:
        out = with_gopher_flags(out)
        conds.append(F.col("gopher_pass"))
    if keep_rejects or not conds:
        return out
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return out.filter(cond)


def stream_pii_scrub(
    docs: DataFrame,
    redact: bool = True,
    keep_counts: bool = True,
) -> DataFrame:
    """Streaming face of the PII scrub (round 15): tag every arriving
    document with email/phone/IPv4 match counts and — with ``redact`` —
    replace its text with the redacted form, BEFORE anything downstream
    (dedup state, sketches, sinks) ever sees raw PII. That ordering is
    the point of running the scrub as a stream stage: state stores and
    checkpoints are durable, so un-scrubbed text that reaches them
    outlives the stream.

    Batch/stream parity by construction: the cells come from THE SAME
    column transformer the oracle-checked batch query evaluates
    (``operators/textstats.py::with_pii_flags`` — all JVM built-ins,
    map-only, no state or watermark), so an ingest-time scrub and a
    batch backfill can never disagree on a count or a redaction.
    ``keep_counts=False`` drops the tag columns after redacting (the
    sink-facing shape); ``redact=False, keep_counts=True`` is the
    tag-only Dolma-style face."""
    if not redact and not keep_counts:
        raise ValueError("stream_pii_scrub with neither redact nor "
                         "keep_counts is a no-op; refuse loudly")
    from input_data_pipeline_spark.operators.textstats import with_pii_flags

    out = with_pii_flags(docs)
    if redact:
        out = out.withColumn("text", F.col("pii_redacted"))
    out = out.drop("pii_redacted")
    if not keep_counts:
        out = out.drop("pii_emails", "pii_phones", "pii_ips")
    return out


def stream_media_probe(blobs: DataFrame) -> DataFrame:
    """Streaming face of the media routing pass: probe every arriving
    binary blob for container metadata (AVI RIFF walk / MP4 box walk —
    dims, frame counts, duration, tracks) and surface unprobeable
    payloads as ``container='error'`` rows, never a dead task.

    Batch/stream parity by construction: this applies THE SAME
    Arrow-batched ``mapInPandas`` kernel as the batch pass
    (``operators/multimodal.py::extract_video_metadata``), so ingest-time
    routing and a batch backfill can never disagree on where a blob goes
    — the unification contract every curation face here follows. The
    kernel is stateless and map-only (no aggregate, no watermark, no
    shuffle), so it composes in front of the stateful stages at any
    scale: a 100 TB/day blob firehose probes at scan parallelism, and
    only the routed survivors ever reach a (costly) decode stage behind
    the per-executor singleton codec seam (U2)."""
    from input_data_pipeline_spark.operators.multimodal import (
        extract_video_metadata,
    )

    return extract_video_metadata(blobs)


def stream_audio_probe(blobs: DataFrame) -> DataFrame:
    """Streaming face of the AUDIO routing pass (round 12) — the audio
    twin of :func:`stream_media_probe`: probe every arriving audio blob
    for container metadata (WAV RIFF chunk walk; MP3 Layer III
    frame-header walk with exact VBR duration/mean bitrate) and surface
    unprobeable payloads as ``container='error'`` rows, never a dead
    task. Same unification contract: THE SAME Arrow-batched kernel as
    the batch pass (``operators/multimodal.py::extract_audio_metadata``)
    — stateless, map-only, composes in front of the stateful stages
    (``stream_audio_dedup``'s content-key decode only runs on blobs the
    probe routed to a decodable format)."""
    from input_data_pipeline_spark.operators.multimodal import (
        extract_audio_metadata,
    )

    return extract_audio_metadata(blobs)


def stream_unigram_tags(docs: DataFrame, vocab) -> DataFrame:
    """Streaming face of the unigram-LM tokenizer serving path (round
    12) — batch-trains/stream-applies, like ``stream_bm25_tags`` and
    ``stream_fasttext_tags``: a batch job publishes the trained
    vocabulary (``operators.tokenizer.train_unigram`` — a bounded
    piece table), and the ingest stream Viterbi-segments every arriving
    document against the broadcast model with NO aggregation, NO state
    and NO shuffle. Parity by construction: THE SAME
    ``encode_with_unigram`` kernel as batch, so ingest-time token
    accounting and a batch backfill can never disagree."""
    from input_data_pipeline_spark.operators.tokenizer import (
        encode_with_unigram,
    )

    return encode_with_unigram(docs, vocab)


def stream_sq8_codes(vecs: DataFrame, bounds) -> DataFrame:
    """Streaming face of the int8 quantizer (round 12) — the vector-store
    ingest path: a batch job publishes the per-dimension bounds
    (``operators.similarity.sq8_quantizer_model``, a DIM-entry table) and
    every arriving embedding encodes to uint8 codes map-side via THE SAME
    ``sq8_encode`` kernel as batch; out-of-range stream values clamp
    instead of erroring (live data drifts past the training corpus'
    bounds). Stateless, no shuffle; composes before the ANN index write."""
    from input_data_pipeline_spark.operators.similarity import sq8_encode

    return sq8_encode(vecs, bounds)


def stream_selection_tags(
    docs: DataFrame,
    dsir: tuple[dict[int, int], tuple[int, int]] | None = None,
    ccnet: tuple[dict[str, int], dict[str, tuple]] | None = None,
) -> DataFrame:
    """Streaming face of the round-8 SELECTION operators — the
    batch-trains / stream-applies pattern every production curation
    pipeline uses: a batch job publishes model tables + thresholds
    (``operators.curation.dsir_stream_thresholds`` /
    ``operators.textstats.ccnet_stream_thresholds``), and the ingest
    stream tags each arriving doc against them with NO aggregation, NO
    state and NO shuffle — map-only columns that compose before the
    stateful dedup of ``stream_corpus_hygiene``, Dolma tag-then-mix
    style (nothing is filtered; a downstream mixer weighs the tags).

    - ``dsir=(adv_ppm, (bw, bdoc))`` appends ``dsir_weight_ppm`` +
      ``dsir_selected``: per-token hashed-bucket lookup in the FIXED
      <=256-entry advantage map (a JVM map literal — fixed size is the
      point of DSIR's hashing) summed per doc in exact integer ppm,
      then a broadcast comparison against the k-th (w, doc_id) boundary
      — the same decision rule as the batch operator's top-k selection.
      Tokens whose bucket the training corpus never saw are skipped,
      matching the batch inner join against the distribution table.
    - ``ccnet=(p_ppm, cuts)`` appends ``lm_score_ppm`` +
      ``ccnet_bucket``: the bigram segmentation is the SAME JVM
      expression as the batch scorer (``textstats.bigram_array``); the
      probability lookup is an Arrow-batched pandas UDF over the
      broadcast LM dict (the per-executor-singleton seam a production
      KenLM model ships through), and the head/middle/tail verdict is a
      map-side comparison of (score, doc_id) against the per-language
      cut pairs. Docs with no trained bigram (under 2 tokens, or fully
      out-of-vocabulary) tag null — exactly the docs the batch ranking
      never saw.

    Batch/stream parity for both tags is pinned by
    ``tests/test_streaming.py::test_stream_selection_tags_match_batch``.
    """
    from pyspark.sql.functions import pandas_udf

    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.operators.curation import dsir_bucket
    from input_data_pipeline_spark.operators.textstats import bigram_array

    out = docs
    if dsir is not None:
        adv, (bw, bdoc) = dsir
        adv_map = F.create_map(
            *[
                c
                for b in sorted(adv)
                for c in (F.lit(b).cast("long"), F.lit(adv[b]).cast("long"))
            ]
        )
        advs = F.filter(
            F.transform(
                T.tokens("text"), lambda tk: F.element_at(adv_map, dsir_bucket(tk))
            ),
            lambda x: x.isNotNull(),
        )
        out = (
            out.withColumn("_advs", advs)
            .withColumn(
                "_asum",
                F.aggregate(
                    F.col("_advs"), F.lit(0).cast("long"), lambda acc, x: acc + x
                ),
            )
            .withColumn(
                "dsir_weight_ppm",
                F.when(F.size("_advs") > 0, F.expr("_asum DIV size(_advs)")),
            )
            .withColumn(
                "dsir_selected",
                (F.col("dsir_weight_ppm") > bw)
                | (
                    (F.col("dsir_weight_ppm") == bw)
                    & (F.col("doc_id") <= F.lit(bdoc))
                ),
            )
            .drop("_advs", "_asum")
        )
    if ccnet is not None:
        p_ppm, cuts = ccnet

        @pandas_udf("long")
        def _lm_score(bgs: pd.Series) -> pd.Series:
            vals = []
            for arr in bgs:
                known = (
                    [p_ppm[bg] for bg in arr if bg in p_ppm]
                    if arr is not None
                    else []
                )
                vals.append(sum(known) // len(known) if known else None)
            return pd.Series(vals, dtype="Int64")

        def cut_map(idx: int, field: int, cast: str):
            return F.create_map(
                *[
                    c
                    for lang in sorted(cuts)
                    for c in (F.lit(lang), F.lit(cuts[lang][idx][field]).cast(cast))
                ]
            )

        s1 = F.element_at(cut_map(0, 0, "long"), F.col("lang"))
        d1 = F.element_at(cut_map(0, 1, "long"), F.col("lang"))
        s2 = F.element_at(cut_map(1, 0, "long"), F.col("lang"))
        d2 = F.element_at(cut_map(1, 1, "long"), F.col("lang"))
        score = F.col("lm_score_ppm")
        before1 = (score > s1) | ((score == s1) & (F.col("doc_id") <= d1))
        before2 = (score > s2) | ((score == s2) & (F.col("doc_id") <= d2))
        out = out.withColumn("lm_score_ppm", _lm_score(bigram_array("text")))
        out = out.withColumn(
            "ccnet_bucket",
            F.when(score.isNull() | s1.isNull(), F.lit(None).cast("string"))
            .when(before1, "head")
            .when(before2, "middle")
            .otherwise("tail"),
        )
    return out


def _replayed(batch_df: DataFrame, state_dir: str, batch_id: int) -> bool:
    """Whether the batch-id-stamped ledger in ``state_dir`` already holds
    rows of ``batch_id``: foreachBatch is at-least-once, so a sketch
    ledger whose increments must fold in exactly once skips a batch it
    has already appended."""
    try:
        return (
            batch_df.sparkSession.read.parquet(state_dir)
            .filter(F.col("batch_id") == batch_id)
            .limit(1)
            .count()
            > 0
        )
    except AnalysisException:  # first batch only; IO errors must
        # fail the batch, not silently skip replay protection
        return False


def stream_countmin_update(docs: DataFrame, state_dir: str, checkpoint_dir: str):
    """Streaming face of the count-min sketch (the per-window frequency
    tracking the batch ``countmin_token_freq`` operator is built for):
    each micro-batch folds its token counts into (d, pos) cell increments
    through the SAME md5 position hashing (``operators/textstats.cms_cells``
    — stream/batch parity by construction) and appends them, stamped with
    the batch id, to a parquet increment ledger.

    Exactly-once without a transactional table format: foreachBatch is
    at-least-once, so a replayed batch id is detected against the ledger
    and skipped — the same discipline as ``write_idempotent_merge``, but
    keyed by batch id because increments (unlike upserts) must fold in
    exactly once. Merge-on-read via ``countmin_totals``: the ledger grows
    by ≤ D×W rows per batch regardless of batch size, the read-side SUM is
    over a few thousand integers, and compaction is a trivial rewrite of
    the summed table — no per-batch read-modify-write of hot state.
    """
    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.operators.textstats import cms_cells

    def update(batch_df: DataFrame, batch_id: int) -> None:
        if _replayed(batch_df, state_dir, batch_id):
            return
        counts = (
            batch_df.select(F.explode(T.tokens("text")).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        cells = cms_cells(counts).withColumn("batch_id", F.lit(batch_id))
        cells.write.mode("append").parquet(state_dir)

    return (
        docs.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def countmin_totals(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged (d, pos, counter) CMS table from the streaming increment
    ledger. Identical to the batch ``cms_cells`` output over the union of
    all streamed documents — pinned by tests/test_streaming.py."""
    return (
        spark.read.parquet(state_dir)
        .groupBy("d", "pos")
        .agg(F.sum("counter").alias("counter"))
    )


def stream_bloom_update(docs: DataFrame, state_dir: str, checkpoint_dir: str):
    """Streaming face of the Bloom dedup pre-screen: each micro-batch folds
    its documents' normalized fingerprints into per-batch bitmap words via
    the SAME md5 position hashing as the batch ``bloom_dedup_precheck``
    (``operators/dedup.bloom_bitmap``) and appends them, stamped with the
    batch id, to a parquet ledger. Unlike the CMS (additive counters),
    Bloom words merge by OR — idempotent, so a replayed batch can't corrupt
    the filter — but the batch-id skip is kept anyway to bound ledger
    growth under retries. Merge-on-read via ``bloom_totals``; the merged
    bitmap is what the NEXT ingest batch probes to skip the corpus join
    for definitely-new docs — the always-on membership front door at
    100 TB, ≤ m/32 rows of state regardless of corpus size.
    """
    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.operators.dedup import bloom_bitmap

    def update(batch_df: DataFrame, batch_id: int) -> None:
        if _replayed(batch_df, state_dir, batch_id):
            return
        fps = batch_df.select(T.fingerprint("text").alias("fp")).distinct()
        words = bloom_bitmap(fps).withColumn("batch_id", F.lit(batch_id))
        words.write.mode("append").parquet(state_dir)

    return (
        docs.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def bloom_totals(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged (word, bits) Bloom bitmap from the streaming ledger (bit_or
    merge-on-read). Identical to the batch ``bloom_bitmap`` over the union
    of all streamed fingerprints — pinned by tests/test_streaming.py."""
    return (
        spark.read.parquet(state_dir)
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )


def stream_curation_gate(
    docs: DataFrame, accepted_dir: str, ledger_dir: str, checkpoint_dir: str
):
    """Ingest-time curation gate. The batch funnel's stage 1-2 flags
    (``operators/curation.funnel_stage_flags``) and the ``f2`` filter are
    applied once, to the streaming ``docs``, when the query is defined:
    the stream's incremental planner plans them into each micro-batch, so
    the callback's input is already the six accepted columns of the
    stage-2 survivors and its Python side does not rebuild them per batch.
    Each micro-batch then keeps the smallest doc_id per fingerprint, drops
    fingerprints already in ``accepted_dir`` by a left-anti join, and
    appends the rest, stamped with the batch id, to ``accepted_dir``. That
    is one write job of 3 stages: the window shuffle, a broadcast of the
    accepted-dir scan (declared ``fp string`` schema: it reads only ``fp``
    and infers nothing) and the write. ``ledger_dir`` is no longer read or
    written.

    Replay safety: the content-keyed anti-join is the only guard. A
    replayed batch finds its own committed rows in ``accepted_dir``, so
    nothing passes twice, and a partly committed write is completed. There
    is no batch-id check: a fresh checkpoint restarts at batch 0 and must
    still accept new documents.

    The probe has no join hint. Spark sizes it from whole files, text
    included (about 200 B per accepted doc at sf0.1), so it plans as a
    broadcast below ``spark.sql.autoBroadcastJoinThreshold`` (64 MB in
    ``get_spark``: about 340k docs). Above that, AQE re-broadcasts the
    measured fp-only shuffle (about 80 B per doc) up to about 840k docs,
    one stage more per batch; past that the join stays shuffled."""
    from pyspark.sql import Window

    from input_data_pipeline_spark.operators.curation import funnel_stage_flags

    cols = ["doc_id", "ts", "text", "lang", "source", "fp"]
    rn = F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        firsts = batch_df.withColumn("_rn", rn).filter("_rn = 1")
        try:
            seen = batch_df.sparkSession.read.schema("fp string").parquet(accepted_dir)
            fresh = firsts.join(seen, "fp", "left_anti")
        except AnalysisException:  # no accepted dir yet; IO errors propagate
            fresh = firsts
        fresh.select(*cols, F.lit(batch_id).alias("batch_id")).write.mode(
            "append"
        ).parquet(accepted_dir)

    return (
        funnel_stage_flags(docs).filter("f2").select(*cols)
        .writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def accepted_docs(spark: SparkSession, accepted_dir: str) -> DataFrame:
    """Merge-on-read view of the gated corpus: a doc_id accepted twice
    (re-streamed later with new text, so a new fingerprint) collapses to
    its first acceptance (min batch_id)."""
    from pyspark.sql import Window

    df = spark.read.parquet(accepted_dir)
    w = Window.partitionBy("doc_id").orderBy("batch_id")
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def stream_histogram_update(
    events: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    bounds: list[tuple[str, int, int]],
):
    """Streaming face of the histogram quantile sketch: each micro-batch
    bins its event values over FIXED per-type [lo, hi] micros bounds
    (from a prior profile run — the production pattern, since a stream
    can't know its global min/max) through the SAME kernel as the batch
    sketch (``operators/windows.hq_bin_counts``) and appends the batch's
    bin counts, batch-id stamped, to a parquet ledger. Bin counts merge
    by ADDITION (like the CMS cells), so ``histogram_totals`` is the
    merged sketch; the batch-id skip keeps a crash-replayed batch from
    double-counting. State per type is <= {nbins} counters per batch."""
    from input_data_pipeline_spark.functions.stable import micros
    from input_data_pipeline_spark.operators.windows import hq_bin_counts

    def update(batch_df: DataFrame, batch_id: int) -> None:
        if _replayed(batch_df, state_dir, batch_id):
            return
        bdf = batch_df.sparkSession.createDataFrame(
            bounds, "event_type string, lo long, hi long"
        )
        vm = batch_df.select("event_type", micros("value").alias("v"))
        cells = hq_bin_counts(vm, bdf).withColumn("batch_id", F.lit(batch_id))
        cells.write.mode("append").parquet(state_dir)

    return (
        events.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def histogram_totals(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged (event_type, bin, cnt) histogram from the streaming ledger
    (sum merge-on-read) — identical to the batch ``hq_bin_counts`` over
    the union of all streamed events at the same bounds."""
    return (
        spark.read.parquet(state_dir)
        .groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )


def stream_hll_update(docs: DataFrame, state_dir: str, checkpoint_dir: str):
    """Streaming face of the HyperLogLog distinct-token sketch: each
    micro-batch builds per-source (bucket, rho) registers through the
    SAME md5/bin()-rho machinery as the batch ``hll_distinct_tokens``
    (``operators/textstats._hll_registers``) and appends them, batch-id
    stamped, to a parquet ledger. Registers merge by bucket-wise MAX —
    idempotent (a replayed batch can't corrupt the sketch), but the
    batch-id skip is kept to bound ledger growth, mirroring the Bloom
    ledger. With this, all four sketch families (Bloom, CMS, HLL,
    histogram) have streaming faces whose merge-on-read state equals the
    batch sketch bit-for-bit."""
    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.operators.textstats import (
        _hll_hashed,
        _hll_registers,
    )

    def update(batch_df: DataFrame, batch_id: int) -> None:
        if _replayed(batch_df, state_dir, batch_id):
            return
        tok = batch_df.select(
            "source", F.explode(T.tokens("text")).alias("token")
        ).distinct()
        regs = _hll_registers(_hll_hashed(tok, "source", "token"), "source")
        regs.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            state_dir
        )

    return (
        docs.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def hll_totals(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged (source, bucket, rho) registers from the streaming ledger
    (bucket-wise MAX merge-on-read) — identical to the batch registers
    over the union of all streamed documents' tokens."""
    return (
        spark.read.parquet(state_dir)
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def stream_ivfpq_codes(vecs: DataFrame, codebook: list[list[float]]) -> DataFrame:
    """Streaming face of the IVF-PQ encoder (round 13) — the vector-store
    ingest path one tier up from ``stream_sq8_codes``: a batch job
    publishes the sampled codebook
    (``operators.similarity.ivfpq_codebook_model``, a fixed K x DIM
    table), and every arriving embedding encodes map-side to its IVF cell
    + {M} PQ codes via THE SAME kernel as the batch index build — so the
    streaming index shards land in the same cells with the same codes.
    Stateless, no shuffle; composes before the bucketed index write."""
    from input_data_pipeline_spark.operators.similarity import ivfpq_encode

    return ivfpq_encode(vecs, codebook)


def join_clicks_to_purchases_full_outer(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the §2.9 join
    matrix (inner / left-outer / full-outer): matched pairs emit as they
    join; an unmatched purchase null-emits like the left-outer form; an
    unmatched click ALSO null-emits once the watermark proves no future
    purchase can still pull it in (clicks only match purchases at or
    after their event time, so a click's state expires when the
    watermark passes click_ts + within). Both sides' state stays bounded
    by the same time-bound arithmetic as the inner join."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {within}"))
    )
    return p.join(c, cond, "fullOuter").select(
        "purchase_id", "click_id",
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        "purchase_ts", "click_ts",
    )


def stream_prototypicality_tags(vecs: DataFrame, model: dict) -> DataFrame:
    """Streaming face of the D4 prototype pruning (round 13): a batch job
    publishes ``operators.curation.prototypicality_model`` (per-cluster
    centroids + pruning cosine thresholds), and every arriving embedding
    is tagged map-side — ``proto_cos_ppm`` against its cluster's centroid
    (the identical half-away ppm quantization as batch) and
    ``proto_pruned`` by one threshold comparison. No state, no shuffle,
    Dolma tag-then-mix style: nothing is filtered here; a downstream
    mixer weighs the tags."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    labels = sorted(model)
    cmat = np.array([model[l]["centroid"] for l in labels], dtype=np.float64)
    cuts = {
        l: model[l]["cut_ppm"] for l in labels if model[l]["cut_ppm"] is not None
    }
    lab_index = {l: i for i, l in enumerate(labels)}
    sc = vecs.sparkSession.sparkContext
    b_cmat, b_idx, b_cuts = sc.broadcast(cmat), sc.broadcast(lab_index), sc.broadcast(cuts)

    @pandas_udf("cos_ppm long, pruned boolean")
    def tag(e: pd.Series, label: pd.Series) -> pd.DataFrame:
        C = b_cmat.value
        out_cos, out_pr = [], []
        for v, l in zip(e, label):
            idx = b_idx.value.get(l)
            if idx is None:
                out_cos.append(None)
                out_pr.append(None)
                continue
            x = np.asarray(v, dtype=np.float64)
            c = C[idx]
            # dimension-sequential fold, matching the batch operator
            num = nx = nc = 0.0
            for d in range(len(x)):
                num += x[d] * c[d]
                nx += x[d] * x[d]
                nc += c[d] * c[d]
            cos = num / (nx ** 0.5 * nc ** 0.5)
            ppm = int(
                np.floor(cos * 1_000_000 + 0.5)
                if cos >= 0
                else -np.floor(-cos * 1_000_000 + 0.5)
            )
            cut = b_cuts.value.get(l)
            out_cos.append(ppm)
            out_pr.append(cut is not None and ppm >= cut)
        return pd.DataFrame({"cos_ppm": out_cos, "pruned": out_pr})

    return (
        vecs.withColumn("_proto", tag(F.col("e"), F.col("label")))
        .withColumn("proto_cos_ppm", F.col("_proto.cos_ppm"))
        .withColumn("proto_pruned", F.col("_proto.pruned"))
        .drop("_proto")
    )
