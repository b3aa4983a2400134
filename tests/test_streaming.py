"""Structured Streaming tests (SURVEY §2.9, §5.5): file-source ingestion,
watermark late-data drops, session windows, stateful dedup. Determinism:
each test appends a file then drives the query with processAllAvailable()
— one file per micro-batch, no wall-clock dependence."""

from __future__ import annotations

import json

import pytest

from input_data_pipeline_spark.streaming.pipelines import (
    dedup_within_watermark,
    run_to_memory,
    session_windows,
    stream_events,
    stream_jsonl,
    windowed_counts,
)

_QUERY_SEQ = 0


def _unique(name: str) -> str:
    global _QUERY_SEQ
    _QUERY_SEQ += 1
    return f"{name}_{_QUERY_SEQ}"


def _write_events(dirpath, fname: str, rows: list[dict]) -> None:
    (dirpath / fname).write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n", encoding="utf-8"
    )


def _ev(eid, ts, user=1, etype="click", value=1.0):
    return {
        "event_id": eid,
        "ts": ts,
        "user_id": user,
        "event_type": etype,
        "value": value,
        "props": "{}",
    }


@pytest.fixture()
def src(tmp_path):
    d = tmp_path / "stream_in"
    d.mkdir()
    return d


def test_stream_jsonl_ingest(spark, src):
    """Tailing the collector output dir: each appended file is a micro-batch."""
    rec = {
        "id": "r1",
        "source_type": "youtube_transcript",
        "text": "xin chào",
        "segments": [{"start": 0.0, "duration": 1.0, "text": "xin chào"}],
        "binary_path": None,
        "meta": {"video_id": "abc123DEF45"},
    }
    (src / "b1.jsonl").write_text(json.dumps(rec, ensure_ascii=False) + "\n")
    name = _unique("ingest")
    q = run_to_memory(stream_jsonl(spark, str(src)), name)
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 1
        (src / "b2.jsonl").write_text(
            json.dumps({**rec, "id": "r2"}, ensure_ascii=False) + "\n"
        )
        q.processAllAvailable()
        rows = {r.id: r for r in spark.table(name).collect()}
        assert set(rows) == {"r1", "r2"}
        assert rows["r1"].text == "xin chào"
        assert rows["r1"].meta["video_id"] == "abc123DEF45"
    finally:
        q.stop()


def test_watermark_drops_late_rows(spark, src):
    """Append mode: a 10-min tumbling window emits once the watermark passes
    its end, and rows older than the watermark are dropped."""
    _write_events(src, "b1.jsonl", [
        _ev(1, "2024-01-01 10:01:00"),
        _ev(2, "2024-01-01 10:02:00"),
        _ev(3, "2024-01-01 11:00:00"),
    ])
    name = _unique("wm")
    sdf = windowed_counts(stream_events(spark, str(src)),
                          size="10 minutes", watermark="5 minutes")
    q = run_to_memory(sdf, name, output_mode="append")
    try:
        q.processAllAvailable()  # b1: watermark still epoch → nothing final
        # b2: fresh row advances watermark to 11:00-5min=10:55 → the
        # 10:00-10:10 window finalizes; a late row at 10:03 must be dropped.
        _write_events(src, "b2.jsonl", [
            _ev(4, "2024-01-01 10:03:00"),   # late: < watermark 10:55
            _ev(5, "2024-01-01 12:00:00"),   # fresh
        ])
        q.processAllAvailable()
        # b3: advance watermark past 11:00-11:10 so window of event 3 emits.
        _write_events(src, "b3.jsonl", [_ev(6, "2024-01-01 13:00:00")])
        q.processAllAvailable()
        out = {
            (str(r.window_start), r.event_type): r.n
            for r in spark.table(name).collect()
        }
        assert out[("2024-01-01 10:00:00", "click")] == 2  # late row NOT counted
        assert out[("2024-01-01 11:00:00", "click")] == 1
    finally:
        q.stop()


def test_session_window_stream_matches_batch(spark, src):
    """Differential: the same events through the streaming session op and
    through batch mode produce identical closed sessions."""
    rows = [
        _ev(1, "2024-01-01 09:00:00", user=7),
        _ev(2, "2024-01-01 09:10:00", user=7),   # same session (gap 30m)
        _ev(3, "2024-01-01 11:00:00", user=7),   # new session
        _ev(4, "2024-01-01 09:05:00", user=8),
    ]
    _write_events(src, "b1.jsonl", rows)
    name = _unique("sess")
    q = run_to_memory(session_windows(stream_events(spark, str(src))), name)
    try:
        q.processAllAvailable()
        # close all sessions by pushing the watermark far ahead
        _write_events(src, "b2.jsonl", [_ev(9, "2024-01-02 00:00:00", user=9)])
        q.processAllAvailable()
        streamed = {
            (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
            for r in spark.table(name).collect()
        }
        batch_df = spark.createDataFrame(
            [(r["event_id"], r["ts"], r["user_id"], r["event_type"], r["value"], r["props"])
             for r in rows],
            "event_id long, ts string, user_id long, event_type string, value double, props string",
        ).selectExpr("event_id", "CAST(ts AS timestamp) ts", "user_id", "event_type", "value", "props")
        batch = {
            (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
            for r in session_windows(batch_df).collect()
        }
        assert batch <= streamed  # closed streaming sessions = batch sessions
        assert {(7, "2024-01-01 09:00:00", "2024-01-01 09:40:00", 2),
                (7, "2024-01-01 11:00:00", "2024-01-01 11:30:00", 1),
                (8, "2024-01-01 09:05:00", "2024-01-01 09:35:00", 1)} <= streamed
    finally:
        q.stop()


def test_dedup_within_watermark(spark, src):
    """Duplicates of event_id arriving within the watermark horizon are
    dropped across micro-batches; state stays bounded by the watermark."""
    _write_events(src, "b1.jsonl", [
        _ev(1, "2024-01-01 10:00:00"),
        _ev(1, "2024-01-01 10:00:30"),   # same batch dup
        _ev(2, "2024-01-01 10:01:00"),
    ])
    name = _unique("dd")
    sdf = dedup_within_watermark(
        stream_events(spark, str(src)), ["event_id"], watermark="10 minutes"
    )
    q = run_to_memory(sdf, name, output_mode="append")
    try:
        q.processAllAvailable()
        _write_events(src, "b2.jsonl", [
            _ev(1, "2024-01-01 10:02:00"),   # cross-batch dup, inside horizon
            _ev(3, "2024-01-01 10:03:00"),
        ])
        q.processAllAvailable()
        ids = sorted(r.event_id for r in spark.table(name).collect())
        assert ids == [1, 2, 3]
    finally:
        q.stop()


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Stop a checkpointed stream mid-way, append more data, restart from
    the same checkpoint: already-processed files are not reprocessed and
    nothing is lost — exactly-once over the file source."""
    src = tmp_path / "ck_in"
    src.mkdir()
    out = tmp_path / "ck_out"
    ck = str(tmp_path / "ck")

    def write(fname, ids):
        _write_events(src, fname, [_ev(i, f"2024-01-01 10:{i:02d}:00") for i in ids])

    def run_until_drained():
        q = (
            stream_events(spark, str(src))
            .writeStream.format("json")
            .option("path", str(out))
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write("b1.jsonl", [1, 2, 3])
    run_until_drained()
    write("b2.jsonl", [4, 5])
    run_until_drained()  # restarted query resumes from checkpoint
    got = sorted(
        r.event_id for r in spark.read.json(str(out)).collect()
    )
    assert got == [1, 2, 3, 4, 5]  # no dupes (reprocessing), no losses


def test_local_session_checkpoints_through_filesystem_manager(spark, tmp_path):
    """A ``local[...]`` session writes stream checkpoints through Hadoop's
    FileSystem API (atomic local rename), not FileContext, whose
    ``RawLocalFs`` link-status calls fork a ``readlink`` process each."""
    jvm = spark.sparkContext._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt"))
    cm = checkpointing.CheckpointFileManager.create(path, conf)
    assert cm.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_foreachbatch_idempotent_merge(spark, tmp_path):
    """The foreachBatch merge sink deduplicates re-delivered keys across
    batches: replaying overlapping input yields each key exactly once."""
    from input_data_pipeline_spark.streaming.pipelines import (
        write_idempotent_merge,
    )

    src = tmp_path / "fb_in"
    src.mkdir()
    target = str(tmp_path / "fb_target")
    ck = str(tmp_path / "fb_ck")

    def run():
        q = write_idempotent_merge(
            stream_events(spark, str(src)), target, key="event_id",
            checkpoint_dir=ck,
        ).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _write_events(src, "b1.jsonl", [
        _ev(1, "2024-01-01 10:00:00"),
        _ev(2, "2024-01-01 10:01:00"),
        _ev(2, "2024-01-01 10:01:30"),   # in-batch dup
    ])
    run()
    # b2 re-delivers key 2 (cross-batch dup) plus a new key
    _write_events(src, "b2.jsonl", [
        _ev(2, "2024-01-01 10:02:00"),
        _ev(3, "2024-01-01 10:03:00"),
    ])
    run()
    rows = spark.read.parquet(target).collect()
    assert sorted(r.event_id for r in rows) == [1, 2, 3]


def test_stream_stream_interval_join(spark, src):
    """Purchases match preceding same-user clicks within the interval; a
    click outside the window or from another user never joins."""
    from input_data_pipeline_spark.streaming.pipelines import (
        join_clicks_to_purchases,
    )

    events = stream_events(spark, str(src))
    clicks = events.filter(events.event_type == "click")
    purchases = events.filter(events.event_type == "purchase")
    name = _unique("ssj")
    q = run_to_memory(
        join_clicks_to_purchases(clicks, purchases), name, output_mode="append"
    )
    try:
        _write_events(src, "b1.jsonl", [
            _ev(1, "2024-01-01 10:00:00", user=1, etype="click"),
            _ev(2, "2024-01-01 10:30:00", user=1, etype="click"),   # too early
            _ev(3, "2024-01-01 10:05:00", user=2, etype="click"),   # other user
        ])
        q.processAllAvailable()
        _write_events(src, "b2.jsonl", [
            _ev(10, "2024-01-01 10:08:00", user=1, etype="purchase"),  # joins 1
            _ev(11, "2024-01-01 11:00:00", user=1, etype="purchase"),  # joins none
        ])
        q.processAllAvailable()
        _write_events(src, "b3.jsonl", [  # advance both watermarks, flush
            _ev(20, "2024-01-01 12:00:00", user=9, etype="click"),
            _ev(21, "2024-01-01 12:00:00", user=9, etype="purchase"),
        ])
        q.processAllAvailable()
        got = {(r.purchase_id, r.click_id) for r in spark.table(name).collect()}
        assert (10, 1) in got
        assert not any(p == 11 for p, _ in got)      # out-of-window never joins
        assert not any(c == 3 for _, c in got)       # cross-user never joins
        assert (21, 20) in got                       # same-instant click joins
    finally:
        q.stop()


def test_stream_stream_left_outer_join_null_emit_and_batch_parity(spark, src):
    """LEFT OUTER stream-stream interval join: matched purchases emit like
    the inner join; an unmatched purchase emits EXACTLY ONCE with NULL
    click columns after the watermark passes its retention bound (state-
    timeout semantics); and the flushed streaming result equals the batch
    left join over the same rows and condition."""
    from pyspark.sql import functions as F

    from input_data_pipeline_spark.streaming.pipelines import (
        EVENT_SCHEMA,
        join_clicks_to_purchases_outer,
    )

    events = stream_events(spark, str(src))
    clicks = events.filter(events.event_type == "click")
    purchases = events.filter(events.event_type == "purchase")
    name = _unique("ssloj")
    q = run_to_memory(
        join_clicks_to_purchases_outer(clicks, purchases),
        name,
        output_mode="append",
    )
    try:
        _write_events(src, "b1.jsonl", [
            _ev(1, "2024-01-01 10:00:00", user=1, etype="click"),
            _ev(3, "2024-01-01 10:05:00", user=2, etype="click"),
        ])
        q.processAllAvailable()
        _write_events(src, "b2.jsonl", [
            _ev(10, "2024-01-01 10:08:00", user=1, etype="purchase"),  # joins 1
            _ev(11, "2024-01-01 11:00:00", user=1, etype="purchase"),  # no click in window
            _ev(12, "2024-01-01 10:07:00", user=3, etype="purchase"),  # no u3 click
        ])
        q.processAllAvailable()
        # watermark still behind: the unmatched purchases must NOT have
        # null-emitted yet (they could still match a late click)
        early = {r.purchase_id for r in spark.table(name).collect()
                 if r.click_id is None}
        assert early == set()
        _write_events(src, "b3.jsonl", [  # sentinel pair advances both sides
            _ev(20, "2024-01-01 12:00:00", user=9, etype="click"),
            _ev(21, "2024-01-01 12:00:00", user=9, etype="purchase"),
        ])
        q.processAllAvailable()
        _write_events(src, "b4.jsonl", [  # one more batch flushes expiries
            _ev(22, "2024-01-01 12:30:00", user=8, etype="click"),
        ])
        q.processAllAvailable()
        got = [(r.purchase_id, r.click_id) for r in spark.table(name).collect()]
        assert sorted(got) == sorted(set(got)), f"duplicate emissions: {got}"
        gotset = set(got)
        assert (10, 1) in gotset                       # matched, inner-style
        assert (11, None) in gotset                    # expired -> null emit
        assert (12, None) in gotset
        assert (21, 20) in gotset
        assert not any(c == 3 for _, c in gotset)      # cross-user never joins

        # batch parity: same rows, same condition, plain left join
        batch = spark.read.schema(EVENT_SCHEMA).json(str(src))
        bc = batch.filter(batch.event_type == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        bp = batch.filter(batch.event_type == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        cond = (
            (F.col("c_user") == F.col("p_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts")
               >= F.col("purchase_ts") - F.expr("INTERVAL 10 minutes"))
        )
        want = {
            (r.purchase_id, r.click_id)
            for r in bp.join(bc, cond, "left").collect()
        }
        assert gotset == want
    finally:
        q.stop()


def test_stream_batch_unification_same_definition(spark, sf_dir, tmp_path):
    """One transformation, two execution modes: `windowed_counts` applied to
    the batch events table and to a file-stream of the exact same rows must
    produce identical windows (complete mode so tail windows emit too) —
    the unified-API property SURVEY §1.3 designs for."""
    import json as _json

    from input_data_pipeline_spark.streaming.pipelines import (
        stream_events,
        windowed_counts,
    )
    from input_data_pipeline_spark.tables import load_table

    batch = load_table(spark, sf_dir, "events").limit(500)
    rows = batch.collect()
    expected = sorted(
        map(repr, (tuple(r) for r in windowed_counts(
            spark.createDataFrame(rows, batch.schema), size="1 hour"
        ).collect()))
    )

    src = tmp_path / "ev_unify"
    src.mkdir()
    with open(src / "all.jsonl", "w") as f:
        for r in rows:
            d = r.asDict()
            d["ts"] = d["ts"].isoformat()
            f.write(_json.dumps(d) + "\n")
    name = _unique("unify")
    q = (
        windowed_counts(stream_events(spark, str(src)), size="1 hour")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(map(repr, (tuple(r) for r in spark.table(name).collect())))
        assert got == expected
    finally:
        q.stop()


def test_stream_static_dimension_join(spark, sf_dir, tmp_path):
    """Stream-static join: an unbounded event stream enriched against a
    bounded dimension table. The static side needs no watermark and no
    state — it behaves like a broadcast lookup evaluated per micro-batch."""
    from input_data_pipeline_spark.streaming.pipelines import stream_events

    src = tmp_path / "ev_dim"
    src.mkdir()
    _write_events(src, "b1.jsonl", [
        _ev(1, "2026-01-01T00:00:00", etype="click"),
        _ev(2, "2026-01-01T00:01:00", etype="purchase"),
        _ev(3, "2026-01-01T00:02:00", etype="error"),
    ])
    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "revenue")],
        "event_type string, category string",
    )
    name = _unique("dimjoin")
    enriched = stream_events(spark, str(src)).join(dim, "event_type", "left")
    q = (
        enriched.select("event_id", "event_type", "category")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got = {r.event_id: r.category for r in spark.table(name).collect()}
        assert got == {1: "engagement", 2: "revenue", 3: None}
        # dimension updates between micro-batches are picked up (static side
        # is re-evaluated per batch for a DataFrame source)
        _write_events(src, "b2.jsonl", [_ev(4, "2026-01-01T00:03:00", etype="click")])
        q.processAllAvailable()
        got = {r.event_id: r.category for r in spark.table(name).collect()}
        assert got[4] == "engagement"
    finally:
        q.stop()


def test_stateful_dedup_on_rocksdb_state_store(spark, sf_dir, tmp_path):
    """The production state-store backend: the same
    dropDuplicatesWithinWatermark pipeline must behave identically on
    RocksDB (spillable, incremental-checkpoint) as on the default HDFS
    in-memory provider — RocksDB is what bounds executor memory when
    streaming state grows at 100 TB scale. Run in a forked session so the
    provider conf doesn't leak into other tests."""
    from input_data_pipeline_spark.streaming.pipelines import (
        dedup_within_watermark,
        stream_events,
    )

    forked = spark.newSession()
    forked.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = tmp_path / "ev_rocks"
    src.mkdir()
    _write_events(src, "b1.jsonl", [
        _ev(1, "2026-01-01T00:00:00"),
        _ev(1, "2026-01-01T00:00:30"),  # duplicate id within watermark
        _ev(2, "2026-01-01T00:01:00"),
    ])
    name = _unique("rocks")
    q = (
        dedup_within_watermark(stream_events(forked, str(src)), ["event_id"])
        .writeStream.format("memory").queryName(name).outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        ids = sorted(r.event_id for r in forked.table(name).collect())
        assert ids == [1, 2]
        # RocksDB provider actually engaged
        progress = q.lastProgress
        assert progress is not None
    finally:
        q.stop()


def test_stream_corpus_hygiene_dedups_and_gates(spark, tmp_path):
    """Streaming corpus hygiene: exact dups within the watermark drop, short
    fragments never reach state, and the surviving rows carry the same
    fingerprint the batch operators would compute."""
    import json

    import pyspark.sql.functions as F

    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_corpus_hygiene,
        stream_docs,
    )

    src = tmp_path / "docs"
    src.mkdir()

    def emit(name, rows):
        (src / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n", encoding="utf-8"
        )

    emit(
        "b0.jsonl",
        [
            {"doc_id": 1, "ts": "2024-01-01T00:00:00", "text": "alpha beta gamma",
             "lang": "en", "source": "s0"},
            {"doc_id": 2, "ts": "2024-01-01T00:00:30", "text": "  alpha   beta GAMMA ",
             "lang": "en", "source": "s1"},          # normalized dup of doc 1
            {"doc_id": 3, "ts": "2024-01-01T00:01:00", "text": "too short",
             "lang": "en", "source": "s0"},          # gated: < 3 tokens
        ],
    )
    q = run_to_memory(stream_corpus_hygiene(stream_docs(spark, str(src))), "hyg")
    try:
        q.processAllAvailable()
        emit(
            "b1.jsonl",
            [
                {"doc_id": 4, "ts": "2024-01-01T00:02:00", "text": "alpha beta gamma",
                 "lang": "en", "source": "s2"},      # dup again, later batch
                {"doc_id": 5, "ts": "2024-01-01T00:02:30", "text": "delta epsilon zeta eta",
                 "lang": "fr", "source": "s2"},
            ],
        )
        q.processAllAvailable()
        rows = {r.doc_id: r for r in spark.sql("SELECT * FROM hyg").collect()}
    finally:
        q.stop()

    assert set(rows) == {1, 5}  # 2 & 4 deduped, 3 gated
    batch_fp = (
        spark.createDataFrame([("alpha beta gamma",)], "text string")
        .select(T.fingerprint("text").alias("fp"))
        .collect()[0]["fp"]
    )
    assert rows[1].fp == batch_fp  # stream == batch semantics
    assert rows[5].n_tokens == 4
    # short docs carry repetition stats but are never repetition-gated
    assert rows[1].repeat_ratio == 1.0


def test_stream_hygiene_repetition_gate_parity_with_batch(spark, tmp_path):
    """The streaming repetition gate must make EXACTLY the decisions the
    batch intradoc_repetition scorer implies: feed a mixed corpus through
    stream_corpus_hygiene (collected via foreachBatch) and independently
    compute the batch reference (same fingerprint dedup + token gate +
    rep_stats ratio gate); the surviving doc_ids and their
    (max-repeat ratio) columns must match row-for-row."""
    import json

    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.operators.corpus import rep_stats
    from input_data_pipeline_spark.streaming.pipelines import (
        stream_corpus_hygiene,
        stream_docs,
    )

    boiler = "buy now click here " * 15          # 60 tokens, ratio >> 0.2
    clean = " ".join(f"tok{i} word{i*7%13}" for i in range(30))  # 60 distinct-ish
    docs = [
        {"doc_id": 10, "ts": "2024-01-01T00:00:00", "text": boiler,
         "lang": "en", "source": "s0"},           # repetition-gated
        {"doc_id": 11, "ts": "2024-01-01T00:00:10", "text": clean,
         "lang": "en", "source": "s0"},           # passes
        {"doc_id": 12, "ts": "2024-01-01T00:00:20", "text": clean,
         "lang": "en", "source": "s1"},           # exact dup of 11 → dropped
        {"doc_id": 13, "ts": "2024-01-01T00:00:30", "text": "tiny doc here",
         "lang": "en", "source": "s2"},           # short: ratio 1.0 but passes
        {"doc_id": 14, "ts": "2024-01-01T00:00:40", "text": "no",
         "lang": "en", "source": "s2"},           # token-gated
    ]
    src = tmp_path / "docs"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        "\n".join(json.dumps(r) for r in docs) + "\n", encoding="utf-8"
    )

    got: dict[int, tuple] = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            got[r.doc_id] = (r.repeat_ratio, r.n_tokens)

    q = (
        stream_corpus_hygiene(stream_docs(spark, str(src)))
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # Batch reference: same gates computed independently from rep_stats.
    ws_tokens = {d["doc_id"]: [t for t in (d["text"] or "").split() if t] for d in docs}
    seen_fp: set[str] = set()
    expect: dict[int, tuple] = {}
    fp_rows = (
        spark.createDataFrame([(d["doc_id"], d["text"]) for d in docs],
                              "doc_id long, text string")
        .select("doc_id", T.fingerprint("text").alias("fp"))
        .collect()
    )
    fps = {r.doc_id: r.fp for r in fp_rows}
    for d in docs:
        toks = ws_tokens[d["doc_id"]]
        if len(toks) < 3:
            continue  # token gate
        s = rep_stats(d["text"])
        ratio = round(s[0] / s[1], 4)
        if s[1] >= 20 and ratio > 0.2:
            continue  # repetition gate
        if fps[d["doc_id"]] in seen_fp:
            continue  # fingerprint dedup keeps first arrival
        seen_fp.add(fps[d["doc_id"]])
        expect[d["doc_id"]] = (ratio, len(toks))

    assert got == expect
    assert set(got) == {11, 13}


def test_stream_countmin_update_parity_and_replay(spark, sf_dir, tmp_path):
    """The foreachBatch CMS ledger folded over a 2-micro-batch stream must
    equal the batch cms_cells table over the same documents bit-exactly
    (same md5 position hashing → same D×W counters), and re-running over
    the same source with a reused ledger (fresh checkpoint → the files
    replay under an already-recorded batch id) must not double-count."""
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.operators.textstats import cms_cells
    from input_data_pipeline_spark.streaming.pipelines import (
        countmin_totals,
        stream_countmin_update,
        stream_docs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = [
        {"doc_id": r.doc_id, "ts": "2024-01-01T00:00:00", "text": r.text,
         "lang": r.lang, "source": r.source}
        for r in docs.collect()
    ]
    src = tmp_path / "docs_in"
    src.mkdir()
    state = str(tmp_path / "cms_state")
    ckpt = str(tmp_path / "cms_ckpt")

    def start(checkpoint: str):
        return (
            stream_countmin_update(
                stream_docs(spark, str(src)), state, checkpoint
            ).queryName(_unique("cms")).start()
        )

    _write_events(src, "a.jsonl", rows[: len(rows) // 2])
    q = start(ckpt)
    try:
        q.processAllAvailable()
        _write_events(src, "b.jsonl", rows[len(rows) // 2 :])
        q.processAllAvailable()
    finally:
        q.stop()

    want = sorted(
        tuple(r)
        for r in cms_cells(
            docs.select(F.explode(T.tokens("text")).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n"))
        ).collect()
    )
    got = sorted(tuple(r) for r in countmin_totals(spark, state).collect())
    assert got == want
    # ledger is batch-grained: 2 micro-batches recorded
    n_batches = spark.read.parquet(state).select("batch_id").distinct().count()
    assert n_batches == 2

    # Replay: fresh checkpoint re-reads every file as batch 0, which the
    # ledger already holds — the update must skip, totals unchanged.
    q2 = start(str(tmp_path / "cms_ckpt2"))
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    again = sorted(tuple(r) for r in countmin_totals(spark, state).collect())
    assert again == got


def test_stream_bloom_update_parity(spark, sf_dir, tmp_path):
    """The foreachBatch Bloom ledger OR-merged over a 2-micro-batch stream
    must equal the batch bloom_bitmap over the same documents' fingerprints
    bit-exactly — same md5 positions, and bit_or is associative/idempotent
    so the per-batch split can't change the merged bitmap."""
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.operators.dedup import bloom_bitmap
    from input_data_pipeline_spark.streaming.pipelines import (
        bloom_totals,
        stream_bloom_update,
        stream_docs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = [
        {"doc_id": r.doc_id, "ts": "2024-01-01T00:00:00", "text": r.text,
         "lang": r.lang, "source": r.source}
        for r in docs.collect()
    ]
    src = tmp_path / "docs_in"
    src.mkdir()
    state = str(tmp_path / "bloom_state")

    q = (
        stream_bloom_update(
            stream_docs(spark, str(src)), state, str(tmp_path / "bloom_ckpt")
        ).queryName(_unique("bloom")).start()
    )
    _write_events(src, "a.jsonl", rows[: len(rows) // 2])
    try:
        q.processAllAvailable()
        _write_events(src, "b.jsonl", rows[len(rows) // 2 :])
        q.processAllAvailable()
    finally:
        q.stop()

    want = sorted(
        tuple(r)
        for r in bloom_bitmap(
            docs.select(T.fingerprint("text").alias("fp")).distinct()
        ).collect()
    )
    got = sorted(tuple(r) for r in bloom_totals(spark, state).collect())
    assert got == want
    assert spark.read.parquet(state).select("batch_id").distinct().count() == 2


def _doc_rows(docs) -> list[dict]:
    return [
        {"doc_id": r.doc_id, "ts": "2024-01-01T00:00:00", "text": r.text,
         "lang": r.lang, "source": r.source}
        for r in docs.orderBy("doc_id").collect()
    ]


def _gate_starter(spark, src, acc, led):
    """``start(checkpoint)`` for a curation gate over ``src`` that shares
    one accepted dir and one ledger across restarts."""
    from input_data_pipeline_spark.streaming.pipelines import (
        stream_curation_gate,
        stream_docs,
    )

    def start(checkpoint: str):
        return (
            stream_curation_gate(stream_docs(spark, str(src)), acc, led, checkpoint)
            .queryName(_unique("gate"))
            .start()
        )

    return start


def _run_once(q) -> None:
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_stream_curation_gate_parity_and_replay(spark, sf_dir, tmp_path):
    """The streamed gate over two micro-batches must accept exactly the
    batch funnel's stage-3 survivor fingerprint set: per accepted fp one
    doc, every accepted doc passes the quality gates, and the accepted
    fp set equals the stage-2-survivor distinct fp set. Replaying the
    whole source under a fresh checkpoint (every file re-read as batch 0)
    must add nothing: the ledger anti-join drops every fingerprint."""
    from input_data_pipeline_spark.operators.curation import funnel_stage_flags
    from input_data_pipeline_spark.streaming.pipelines import accepted_docs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = _doc_rows(docs)
    src = tmp_path / "gate_in"
    src.mkdir()
    acc = str(tmp_path / "gate_accepted")
    led = str(tmp_path / "gate_ledger")
    start = _gate_starter(spark, src, acc, led)

    q = start(str(tmp_path / "gate_ckpt"))
    _write_events(src, "a.jsonl", rows[: len(rows) // 2])
    try:
        q.processAllAvailable()
        _write_events(src, "b.jsonl", rows[len(rows) // 2 :])
        q.processAllAvailable()
    finally:
        q.stop()

    got = accepted_docs(spark, acc)
    got_rows = got.collect()
    expect = funnel_stage_flags(docs).filter("f2")
    want_fps = {r.fp for r in expect.select("fp").distinct().collect()}

    assert {r.fp for r in got_rows} == want_fps
    assert len(got_rows) == len(want_fps)          # one survivor per fp
    ok_ids = {r.doc_id for r in expect.collect()}
    assert all(r.doc_id in ok_ids for r in got_rows)

    # replay: a fresh checkpoint re-runs both files as batch 0
    n_raw = spark.read.parquet(acc).count()
    _run_once(start(str(tmp_path / "gate_ckpt2")))
    assert spark.read.parquet(acc).count() == n_raw
    assert accepted_docs(spark, acc).count() == len(want_fps)


def test_stream_curation_gate_fresh_checkpoint_accepts_new_docs(
    spark, sf_dir, tmp_path
):
    """A fresh checkpoint restarts at batch id 0, which the ledger already
    holds from the first run. The gate must still accept the new file's
    unseen fingerprints (dedup is keyed on content, not batch id), and a
    third fresh-checkpoint run must append no row at all."""
    from input_data_pipeline_spark.operators.curation import funnel_stage_flags

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = _doc_rows(docs)
    src = tmp_path / "gate_in"
    src.mkdir()
    acc = str(tmp_path / "gate_accepted")
    led = str(tmp_path / "gate_ledger")
    start = _gate_starter(spark, src, acc, led)

    _write_events(src, "a.jsonl", rows[: len(rows) // 2])
    _run_once(start(str(tmp_path / "c1")))
    _write_events(src, "b.jsonl", rows[len(rows) // 2 :])
    _run_once(start(str(tmp_path / "c2")))

    flags = funnel_stage_flags(docs).filter("f2")
    want_fps = {r.fp for r in flags.select("fp").distinct().collect()}
    half = rows[len(rows) // 2]["doc_id"]
    a_fps = {r.fp for r in flags.filter(f"doc_id < {half}").select("fp").collect()}
    assert want_fps - a_fps, "file b must carry fingerprints file a lacks"

    got = spark.read.parquet(acc).select("doc_id", "fp").collect()
    assert {r.fp for r in got} == want_fps
    assert len(got) == len(want_fps)               # one doc per fp
    assert len({r.doc_id for r in got}) == len(got)

    _run_once(start(str(tmp_path / "c3")))
    assert spark.read.parquet(acc).count() == len(got)


def _sync_stage_ids(spark) -> dict[int, str]:
    """Stage id -> status of every stage the status store holds, after the
    listener bus has delivered all pending events."""
    from input_data_pipeline_spark.plans.metrics import _stage_list

    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    stages = _stage_list(spark)
    return {
        stages.apply(i).stageId(): stages.apply(i).status().toString()
        for i in range(stages.size())
    }


def test_stream_curation_gate_stage_budget(spark, sf_dir, tmp_path):
    """Each micro-batch after the first runs 3 Spark stages in its one
    write job: one shuffle-map stage for the first-wins window, one
    broadcast of the fp-only accepted-dir scan and one write stage. The
    first batch has no accepted dir to probe, so it runs 2. Every batch
    reads its source file once: the query's input rows equal the file's
    rows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = _doc_rows(docs)
    src = tmp_path / "gate_in"
    src.mkdir()
    start = _gate_starter(
        spark, src, str(tmp_path / "gate_accepted"), str(tmp_path / "gate_ledger")
    )
    third = len(rows) // 3
    parts = [rows[:third], rows[third : 2 * third], rows[2 * third :]]

    q = start(str(tmp_path / "gate_ckpt"))
    per_batch, input_rows = [], []
    try:
        for i, part in enumerate(parts):
            before = set(_sync_stage_ids(spark))
            _write_events(src, f"{i}.jsonl", part)
            q.processAllAvailable()
            after = _sync_stage_ids(spark)
            per_batch.append(
                sum(1 for s, st in after.items() if s not in before and st != "SKIPPED")
            )
            input_rows.append(q.lastProgress["numInputRows"])
    finally:
        q.stop()
    assert per_batch == [2, 3, 3], per_batch
    assert input_rows == [len(p) for p in parts], input_rows


def _sql_plans(spark) -> dict[int, str]:
    """Execution id -> physical-plan text of every SQL execution the
    status store holds (an AQE execution carries its final plan)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {
        e.executionId(): e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
    }


def test_stream_curation_gate_probe_plan_sf01(spark, tmp_path):
    """At sf0.1 the second batch's write probes the accepted dir with a
    broadcast left-anti join whose parquet scan reads only ``fp``, not
    the accepted rows' text."""
    from input_data_pipeline_spark.session import DEFAULT_SF_DIR

    docs = spark.read.parquet(f"{DEFAULT_SF_DIR}/documents.parquet")
    rows = _doc_rows(docs)
    src = tmp_path / "gate_in"
    src.mkdir()
    acc = str(tmp_path / "gate_accepted")
    start = _gate_starter(spark, src, acc, str(tmp_path / "gate_ledger"))
    half = len(rows) // 2

    q = start(str(tmp_path / "gate_ckpt"))
    try:
        _write_events(src, "a.jsonl", rows[:half])
        q.processAllAvailable()
        seen = set(_sql_plans(spark))
        _write_events(src, "b.jsonl", rows[half:])
        q.processAllAvailable()
    finally:
        q.stop()

    writes = [
        p for i, p in _sql_plans(spark).items()
        if i not in seen and "InsertIntoHadoopFsRelationCommand" in p
    ]
    assert len(writes) == 1, len(writes)
    final = writes[0].split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin LeftAnti BuildRight" in final, final
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final
    scans = [
        b for b in writes[0].split("\n\n")
        if "Scan parquet" in b.partition("\n")[0] and acc in b
    ]
    assert scans, writes[0]
    assert all("ReadSchema: struct<fp:string>" in b for b in scans), scans


def test_stream_curation_gate_plans_flags_in_stream(spark, sf_dir, tmp_path):
    """The stage 1-2 flags are planned once, in the stream, not rebuilt
    in the micro-batch callback: the second batch's write reads the six
    accepted columns from the micro-batch's RDD and computes neither the
    fingerprint (``sha2``) nor the token band (``regexp_replace``)."""
    import re

    rows = _doc_rows(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    src = tmp_path / "gate_in"
    src.mkdir()
    start = _gate_starter(
        spark, src, str(tmp_path / "gate_accepted"), str(tmp_path / "gate_ledger")
    )
    half = len(rows) // 2

    q = start(str(tmp_path / "gate_ckpt"))
    try:
        _write_events(src, "a.jsonl", rows[:half])
        q.processAllAvailable()
        seen = set(_sql_plans(spark))
        _write_events(src, "b.jsonl", rows[half:])
        q.processAllAvailable()
    finally:
        q.stop()

    writes = [
        p for i, p in _sql_plans(spark).items()
        if i not in seen and "InsertIntoHadoopFsRelationCommand" in p
    ]
    assert len(writes) == 1, len(writes)
    plan = writes[0]
    assert "sha2(" not in plan and "regexp_replace(" not in plan, plan
    scans = [
        re.search(r"^Output \[\d+\]: \[(.*)\]$", b, re.M)
        for b in plan.split("\n\n")
        if "Scan ExistingRDD" in b.strip().partition("\n")[0]
    ]
    assert scans and all(scans), plan
    for scan in scans:
        names = [c.split("#")[0] for c in scan.group(1).split(", ")]
        assert names == ["doc_id", "ts", "text", "lang", "source", "fp"], scan[0]


def test_stream_histogram_update_parity_and_replay(spark, sf_dir, tmp_path):
    """Sum-merged streaming histogram cells over a 2-micro-batch event
    stream must equal the batch hq_bin_counts over the same events at the
    same fixed bounds (bin counts are additive); a restarted stream over
    the same source adds nothing."""
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.functions.stable import micros
    from input_data_pipeline_spark.operators.windows import hq_bin_counts
    from input_data_pipeline_spark.streaming.pipelines import (
        histogram_totals,
        stream_events,
        stream_histogram_update,
    )
    from input_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    vm = ev.select("event_type", micros("value").alias("v"))
    bounds_df = vm.groupBy("event_type").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    bounds = [(r.event_type, r.lo, r.hi) for r in bounds_df.collect()]

    rows = [
        {"event_id": r.event_id, "ts": str(r.ts), "user_id": r.user_id,
         "event_type": r.event_type, "value": r.value, "props": r.props}
        for r in ev.collect()
    ]
    src = tmp_path / "hist_in"
    src.mkdir()
    state = str(tmp_path / "hist_state")

    def start():
        return (
            stream_histogram_update(
                stream_events(spark, str(src)), state,
                str(tmp_path / "hist_ckpt"), bounds,
            ).queryName(_unique("hist")).start()
        )

    q = start()
    _write_events(src, "a.jsonl", rows[: len(rows) // 2])
    try:
        q.processAllAvailable()
        _write_events(src, "b.jsonl", rows[len(rows) // 2 :])
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(tuple(r) for r in histogram_totals(spark, state).collect())
    want = sorted(tuple(r) for r in hq_bin_counts(vm, bounds_df).collect())
    assert got == want

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert sorted(tuple(r) for r in histogram_totals(spark, state).collect()) == want


def test_stream_hll_update_parity_and_replay(spark, sf_dir, tmp_path):
    """MAX-merged streaming HLL registers over a 2-micro-batch doc stream
    must equal the batch registers over the same documents (register
    merge is associative/idempotent, so the batch split can't matter);
    a restarted stream over the same source changes nothing."""
    from input_data_pipeline_spark.operators.textstats import (
        _hll_hashed,
        _hll_registers,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        hll_totals,
        stream_docs,
        stream_hll_update,
    )
    import pyspark.sql.functions as F
    from input_data_pipeline_spark.functions import text as T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = [
        {"doc_id": r.doc_id, "ts": "2024-01-01T00:00:00", "text": r.text,
         "lang": r.lang, "source": r.source}
        for r in docs.collect()
    ]
    src = tmp_path / "hll_in"
    src.mkdir()
    state = str(tmp_path / "hll_state")

    def start():
        return (
            stream_hll_update(
                stream_docs(spark, str(src)), state, str(tmp_path / "hll_ckpt")
            ).queryName(_unique("hll")).start()
        )

    q = start()
    _write_events(src, "a.jsonl", rows[: len(rows) // 2])
    try:
        q.processAllAvailable()
        _write_events(src, "b.jsonl", rows[len(rows) // 2 :])
        q.processAllAvailable()
    finally:
        q.stop()

    tok = docs.select("source", F.explode(T.tokens("text")).alias("token")).distinct()
    want = sorted(
        tuple(r) for r in _hll_registers(_hll_hashed(tok, "source", "token"), "source").collect()
    )
    got = sorted(tuple(r) for r in hll_totals(spark, state).collect())
    assert got == want

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert sorted(tuple(r) for r in hll_totals(spark, state).collect()) == want


# ---------------------------------------------------------------------------
# Streaming quality gate (C4 + Gopher rule bundles)
# ---------------------------------------------------------------------------

_LINE = "the quick brown fox jumps over that lazy dog with delight and vigour."


def _quality_docs():
    """Fixture hitting each rule bundle independently: `good` passes both,
    `lorem` fails only C4 (lorem-ipsum page rule), `bullets` fails only
    Gopher (>= 90% bullet-started lines), `short` fails both."""
    good = "\n".join([_LINE] * 4)                        # 52 words, 4 sentences
    return [
        {"doc_id": 1, "ts": "2024-01-01T00:00:00", "text": good,
         "lang": "en", "source": "s0"},
        {"doc_id": 2, "ts": "2024-01-01T00:00:10",
         "text": good + "\nmore lorem ipsum filler text padding here today.",
         "lang": "en", "source": "s0"},
        {"doc_id": 3, "ts": "2024-01-01T00:00:20",
         "text": "\n".join(["- " + _LINE] * 4), "lang": "en", "source": "s1"},
        {"doc_id": 4, "ts": "2024-01-01T00:00:30", "text": "tiny doc.",
         "lang": "en", "source": "s1"},
    ]


def test_stream_quality_gate_parity_with_batch(spark, tmp_path):
    """The streaming C4+Gopher gate must make EXACTLY the decisions the
    batch transformers make on the same rows — parity is by construction
    (shared column expressions), this pins it against drift."""
    import json

    import pyspark.sql.functions as F

    from input_data_pipeline_spark.operators.textstats import (
        with_c4_flags,
        with_gopher_flags,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        DOC_SCHEMA,
        run_to_memory,
        stream_docs,
        stream_quality_gate,
    )

    src = tmp_path / "docs"
    src.mkdir()
    rows = _quality_docs()
    (src / "b0.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n", encoding="utf-8"
    )

    name = _unique("qgate")
    q = run_to_memory(stream_quality_gate(stream_docs(spark, str(src))), name)
    try:
        q.processAllAvailable()
        streamed = {r.doc_id: r for r in spark.table(name).collect()}
    finally:
        q.stop()

    # gate decisions: only the clean doc survives both bundles
    assert set(streamed) == {1}

    # full-cell parity against the batch transformers on the same file
    batch = (
        with_gopher_flags(
            with_c4_flags(spark.read.schema(DOC_SCHEMA).json(str(src)))
        )
        .filter(F.col("c4_pass") & F.col("gopher_pass"))
        .collect()
    )
    assert len(batch) == len(streamed)
    for b in batch:
        s = streamed[b.doc_id]
        assert s.asDict() == b.asDict()  # every metric + verdict cell identical


def test_stream_quality_gate_rule_selection_and_tagging(spark, tmp_path):
    """Single-bundle selection drops only that bundle's failures;
    keep_rejects=True tags every row without filtering."""
    import json

    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_docs,
        stream_quality_gate,
    )

    src = tmp_path / "docs"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        "\n".join(json.dumps(r) for r in _quality_docs()) + "\n", encoding="utf-8"
    )
    docs = stream_docs(spark, str(src))

    c4_name = _unique("qgate_c4")
    q = run_to_memory(stream_quality_gate(docs, rules=("c4",)), c4_name)
    try:
        q.processAllAvailable()
        # bullets doc fails Gopher only -> survives a C4-only gate
        assert {r.doc_id for r in spark.table(c4_name).collect()} == {1, 3}
    finally:
        q.stop()

    tag_name = _unique("qgate_tag")
    q = run_to_memory(stream_quality_gate(docs, keep_rejects=True), tag_name)
    try:
        q.processAllAvailable()
        tagged = {r.doc_id: r for r in spark.table(tag_name).collect()}
    finally:
        q.stop()
    assert set(tagged) == {1, 2, 3, 4}  # nothing filtered
    assert tagged[2].c4_pass is False and tagged[2].gopher_pass is True
    assert tagged[3].c4_pass is True and tagged[3].gopher_pass is False
    assert tagged[4].c4_pass is False and tagged[4].gopher_pass is False

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown rule bundle"):
        stream_quality_gate(docs, rules=("c4", "nope"))
    # an empty rule list must fail loudly, never pass everything through
    with _pytest.raises(ValueError, match="at least one bundle"):
        stream_quality_gate(docs, rules=())

def test_stream_selection_tags_match_batch(spark, tmp_path):
    """Round-9 batch-trains/stream-applies parity: DSIR weights/selection
    and CCNet scores/buckets tagged on a document STREAM (map-only, no
    state) must equal the batch operators' cells on the same docs. Docs
    the batch ranking never scored (no trained bigram) tag null.

    Round-10 hardening: the CCNet trainer publishes a CAPPED top-N
    bigram LM (bounded driver state / tagger closure — how CCNet ships a
    finite pruned KenLM). The cap here (512) deliberately BITES at this
    scale (full sf0.001 vocab is ~916 bigrams), so parity against the
    same-capped batch face proves the out-of-vocabulary semantics match
    on both faces rather than passing because the cap was a no-op."""
    import shutil

    from input_data_pipeline_spark.operators.curation import (
        dsir_importance_weights,
        dsir_stream_thresholds,
    )
    from input_data_pipeline_spark.operators.textstats import (
        _bigram_instances,
        _bigram_p,
        ccnet_perplexity_buckets,
        ccnet_stream_thresholds,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_selection_tags,
    )
    from input_data_pipeline_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    cap = 512
    dsir = dsir_stream_thresholds(spark, sf)
    ccnet = ccnet_stream_thresholds(spark, sf, top_n=cap)
    assert 0 < len(dsir[0]) <= 256  # fixed-size published model
    assert len(ccnet[0]) == cap  # trainer driver state bounded by the cap
    full_vocab = _bigram_p(
        _bigram_instances(load_table(spark, sf, "documents"))
    ).count()
    assert full_vocab > cap  # the cap actually bites at this scale

    src = tmp_path / "docs"
    src.mkdir()
    shutil.copy(f"{sf}/documents.parquet", src / "part-0.parquet")
    sdf = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(str(src))

    name = _unique("seltags")
    q = run_to_memory(stream_selection_tags(sdf, dsir=dsir, ccnet=ccnet), name)
    try:
        q.processAllAvailable()
        got = {r.doc_id: r for r in spark.table(name).collect()}
    finally:
        q.stop()

    batch_dsir = {r.doc_id: r for r in dsir_importance_weights(spark, sf).collect()}
    # the batch face the stream must match is the SAME capped LM the
    # trainer published — parity by construction, not by cap-sized luck
    batch_cc = {
        r.doc_id: r
        for r in ccnet_perplexity_buckets(spark, sf, top_n=cap).collect()
    }
    assert set(batch_dsir) <= set(got)
    assert any(r.selected for r in batch_dsir.values())
    assert {r.bucket for r in batch_cc.values()} == {"head", "middle", "tail"}
    for did, s in got.items():
        b = batch_dsir.get(did)
        if b is not None:
            assert s.dsir_weight_ppm == b.dsir_weight_ppm, did
            assert s.dsir_selected == b.selected, did
        else:  # zero-token doc: batch never weighted it
            assert s.dsir_weight_ppm is None and s.dsir_selected is None
        c = batch_cc.get(did)
        if c is not None:
            assert s.lm_score_ppm == c.lm_score_ppm, did
            assert s.ccnet_bucket == c.bucket, did
        else:
            assert s.lm_score_ppm is None and s.ccnet_bucket is None, did


def test_stream_url_dedup_matches_batch_groups(spark, tmp_path):
    """Round-10 streaming face of canonical-URL dedup: every spelling
    class in the hand-auditable batch fixture must collapse to the SAME
    canonical key on the stream (shared canonical_url_col expression),
    re-crawled spellings arriving in a LATER micro-batch must drop
    statefully, and the surviving set must be exactly one member per
    batch canonical group."""
    import json

    from input_data_pipeline_spark.operators.curation import (
        _CANON_FIXTURE,
        canonical_url_groups,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_url_dedup,
    )

    fixture = dict(_CANON_FIXTURE)
    batch = {
        r.canonical_url: r
        for r in canonical_url_groups(
            spark.createDataFrame(_CANON_FIXTURE, "rec_id string, url string")
        ).collect()
    }
    assert len(batch) == 4  # the fixture's four spelling groups

    src = tmp_path / "urls"
    src.mkdir()

    def emit(name, rec_ids, t0):
        rows = [
            {"rec_id": rid, "ts": f"2024-01-01T00:0{t0 + i}:00", "url": fixture[rid]}
            for i, rid in enumerate(rec_ids)
        ]
        (src / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n", encoding="utf-8"
        )

    sdf = spark.readStream.schema("rec_id string, ts timestamp, url string").json(
        str(src)
    )
    name = _unique("urldedup")
    # one spelling per group first; every other spelling re-arrives later
    emit("b0.jsonl", ["r1", "r4", "r7", "r9"], 0)
    q = run_to_memory(stream_url_dedup(sdf, watermark="1 hour"), name)
    try:
        q.processAllAvailable()
        emit("b1.jsonl", ["r2", "r3", "r5", "r6", "r8"], 4)
        q.processAllAvailable()
        got = spark.table(name).collect()
    finally:
        q.stop()

    assert len(got) == 4  # one survivor per canonical group, dups dropped
    assert {r.rec_id for r in got} == {"r1", "r4", "r7", "r9"}
    # stream canonical keys == batch group keys, bit for bit
    assert {r.canonical_url for r in got} == set(batch)
    # and each survivor really is a member of its batch group
    for r in got:
        g = batch[r.canonical_url]
        assert g.n_variants >= 1 and r.url == fixture[r.rec_id]


def test_stream_bm25_tags_match_batch(spark, tmp_path):
    """Round-10 batch-trains/stream-applies for BM25: the idf/length
    model published by the batch trainer, applied map-side to a document
    STREAM, must reproduce the batch per-doc score_ppm bit-for-bit for
    every doc the corpus contained; docs with no query term tag null."""
    import shutil

    from input_data_pipeline_spark.operators.textstats import (
        _bm25_scored,
        bm25_doc_search,
        bm25_stream_model,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_bm25_tags,
    )

    sf = "/root/testdata/sf0.001"
    model = bm25_stream_model(spark, sf)
    idf, n_docs, sum_dl = model
    assert 0 < len(idf) <= 3 and n_docs > 0 and sum_dl > 0  # bounded model

    src = tmp_path / "docs"
    src.mkdir()
    shutil.copy(f"{sf}/documents.parquet", src / "part-0.parquet")
    sdf = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(str(src))

    name = _unique("bm25tags")
    q = run_to_memory(stream_bm25_tags(sdf, model), name)
    try:
        q.processAllAvailable()
        got = {r.doc_id: r.bm25_score_ppm for r in spark.table(name).collect()}
    finally:
        q.stop()

    batch = {r.doc_id: r.score_ppm for r in _bm25_scored(spark, sf).collect()}
    assert batch, "fixture corpus must contain query-term docs"
    assert set(batch) <= set(got)
    for did, s in got.items():
        assert s == batch.get(did), (did, s, batch.get(did))
    # and the batch top-k ranking is reproducible from the stream tags
    topk = [(r.doc_id, r.score_ppm) for r in bm25_doc_search(spark, sf).collect()]
    rebuilt = sorted(
        ((d, s) for d, s in got.items() if s is not None),
        key=lambda p: (-p[1], p[0]),
    )[: len(topk)]
    assert rebuilt == topk


def test_stream_bm25_tags_preserve_caller_underscore_columns(spark):
    """Round-11 ADVICE fix: the tagger's temp columns are collision-safe
    — an input frame already carrying ``_toks`` / ``_norm_ppm`` /
    ``_tf_0``-style names (or even the tagger's own ``_bm25_*`` names)
    must come through untouched, with only ``bm25_score_ppm`` added."""
    from input_data_pipeline_spark.streaming.pipelines import stream_bm25_tags

    model = ({"alpha": 1_000_000}, 10, 100)
    df = spark.createDataFrame(
        [(1, "alpha beta", "keep-toks", 7, 11, "keep-bm25")],
        "doc_id long, text string, _toks string, _tf_0 long, "
        "_norm_ppm long, _bm25_toks string",
    )
    out = stream_bm25_tags(df, model, query=("alpha",))
    assert set(out.columns) == {
        "doc_id", "text", "_toks", "_tf_0", "_norm_ppm", "_bm25_toks",
        "bm25_score_ppm",
    }
    row = out.collect()[0].asDict()
    assert (row["_toks"], row["_tf_0"], row["_norm_ppm"]) == ("keep-toks", 7, 11)
    assert row["_bm25_toks"] == "keep-bm25"
    assert row["bm25_score_ppm"] is not None and row["bm25_score_ppm"] > 0


def test_stream_media_probe_matches_batch(spark, tmp_path):
    """Streaming face of the media routing pass: probing a blob STREAM
    (stateless mapInPandas, no watermark) yields row-identical results
    to the batch kernel on the same payloads — real AVI and MP4
    containers route with their metadata, an MJPEG AVI reports its
    frame count without any decode, and junk surfaces as an
    container='error' row instead of killing the micro-batch."""
    import numpy as np

    from input_data_pipeline_spark.codecs.avi import encode_avi
    from input_data_pipeline_spark.operators.multimodal import (
        extract_video_metadata,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_media_probe,
    )
    from tests.test_multimodal import make_avi, make_jpeg, make_mp4

    rng = np.random.RandomState(5)
    avi = encode_avi(
        [rng.randint(0, 256, (3, 4, 3)).astype(np.uint8) for _ in range(2)]
    )
    mjpeg = make_avi(
        9, 8, jpeg_frames=[make_jpeg(rows_rgb=[[(10, 20, 30)] * 9] * 8)]
    )
    mp4 = make_mp4(duration_ms=7250)
    rows = [(1, avi), (2, mjpeg), (3, mp4), (4, b"not a container")]
    src = tmp_path / "blobs"
    spark.createDataFrame(rows, "doc_id long, payload binary").coalesce(
        1
    ).write.parquet(str(src))

    batch = {
        r.doc_id: r
        for r in extract_video_metadata(spark.read.parquet(str(src))).collect()
    }
    sdf = spark.readStream.schema("doc_id long, payload binary").parquet(str(src))
    name = _unique("mediaprobe")
    q = run_to_memory(stream_media_probe(sdf), name)
    try:
        q.processAllAvailable()
        got = {r.doc_id: r for r in spark.table(name).collect()}
    finally:
        q.stop()

    assert set(got) == {1, 2, 3, 4}
    for k in got:
        assert got[k] == batch[k], k
    assert got[1].container == "avi" and got[1].n_frames == 2
    assert got[2].container == "avi" and got[2].n_frames == 1
    assert got[3].container == "mp4" and got[3].duration_ms == 7250
    assert got[4].container == "error" and "non-AVI/MP4" in got[4].err


def test_stream_fasttext_tags_match_batch(spark, tmp_path):
    """Round-11 batch-trains/stream-applies for the fastText-style lang
    filter: the weight table + prior published by the batch trainer,
    applied map-side to a document STREAM, must reproduce the batch
    per-doc score_ppm and prediction bit-for-bit for every doc the
    training corpus contained."""
    import shutil

    from input_data_pipeline_spark.operators.curation import (
        _FT_BUCKETS,
        fasttext_lang_filter,
        fasttext_stream_model,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_fasttext_tags,
    )

    sf = "/root/testdata/sf0.001"
    model = fasttext_stream_model(spark, sf)
    w, prior = model
    assert 0 < len(w) <= _FT_BUCKETS and 0 <= prior <= 1_000_000
    assert all(0 <= v <= 1_000_000 for v in w.values())

    src = tmp_path / "docs"
    src.mkdir()
    shutil.copy(f"{sf}/documents.parquet", src / "part-0.parquet")
    sdf = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(str(src))

    name = _unique("fttags")
    q = run_to_memory(stream_fasttext_tags(sdf, model), name)
    try:
        q.processAllAvailable()
        got = {
            r.doc_id: (r.ft_score_ppm, r.ft_pred_target)
            for r in spark.table(name).collect()
        }
    finally:
        q.stop()

    batch = {
        r.doc_id: (r.score_ppm, r.pred_target)
        for r in fasttext_lang_filter(spark, sf).collect()
    }
    assert batch and set(batch) <= set(got)
    for did, cells in batch.items():
        assert got[did] == cells, (did, got[did], cells)

    # an out-of-vocabulary doc tags null, not 0 — "OOV" means the
    # feature's BUCKET is untrained (hashing-trick collisions with a
    # trained bucket legitimately score), so construct a single-token
    # doc whose bucket provably misses the weight table
    import hashlib

    tok = next(
        t
        for t in (f"zz{i}" for i in range(100_000))
        if int.from_bytes(hashlib.md5(t.encode()).digest()[:4], "big")
        % _FT_BUCKETS
        not in w
    )
    oov = spark.createDataFrame(
        [(999_999, tok, "en", "sX", len(tok))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    row = stream_fasttext_tags(oov, model).collect()[0]
    assert row.ft_score_ppm is None and row.ft_pred_target is None


def test_stream_fasttext_tags_preserve_caller_underscore_columns(spark):
    """The tagger's temp feature column is collision-safe: an input frame
    already carrying ``_ft_feats`` survives untouched."""
    from input_data_pipeline_spark.operators.curation import (
        fasttext_stream_model,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        stream_fasttext_tags,
    )

    model = fasttext_stream_model(spark, "/root/testdata/sf0.001")
    df = spark.createDataFrame(
        [(1, "stream window batch", "en", "s0", 19, "keepme")],
        "doc_id long, text string, lang string, source string, "
        "n_chars long, _ft_feats string",
    )
    out = stream_fasttext_tags(df, model)
    assert "_ft_feats" in out.columns
    row = out.collect()[0]
    assert row["_ft_feats"] == "keepme"
    assert "ft_score_ppm" in out.columns and "ft_pred_target" in out.columns


def test_stream_image_dedup_drops_reencodes_and_routes_errors(spark, tmp_path):
    """Round-11 streaming face of perceptual image dedup: pixel-identical
    images — even re-encoded in a DIFFERENT container format — collapse
    to one surviving row via the shared dhash56 kernel; a later-arriving
    re-upload drops statefully; distinct images survive; an undecodable
    blob passes through as an error row with dhash null."""
    import numpy as np
    import pandas as pd

    from input_data_pipeline_spark.codecs.image import (
        encode_bmp,
        encode_gif,
        encode_png,
    )
    from input_data_pipeline_spark.operators.multimodal import (
        _dh_pixels,
        dhash56,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_image_dedup,
    )

    def card(d, enc):
        p = _dh_pixels(d)
        return enc(np.dstack([p, p, p]).astype(np.uint8))

    src = tmp_path / "imgs"
    src.mkdir()

    def emit(name, rows, t0):
        pd.DataFrame(
            {
                "rec_id": [r[0] for r in rows],
                "ts": [
                    pd.Timestamp(f"2024-01-01T00:0{t0 + i}:00")
                    for i in range(len(rows))
                ],
                "payload": [r[1] for r in rows],
            }
        ).to_parquet(
            src / name,
            index=False,
            coerce_timestamps="us",  # Spark reads us-precision timestamps
            allow_truncated_timestamps=True,
        )

    # batch 0: cluster-0 card as BMP, the SAME pixels as PNG (re-encode),
    # a different image (cluster 1), and junk bytes
    emit(
        "b0.parquet",
        [
            ("bmp0", card(0, encode_bmp)),
            ("png0", card(0, encode_png)),
            ("other", card(6, encode_bmp)),
            ("junk", b"\x00\x01notanimage"),
        ],
        0,
    )

    sdf = spark.readStream.schema(
        "rec_id string, ts timestamp, payload binary"
    ).parquet(str(src))
    name = _unique("imgdedup")
    q = run_to_memory(stream_image_dedup(sdf, watermark="1 hour"), name)
    try:
        q.processAllAvailable()
        # batch 1: a GIF re-encode of cluster 0 arrives later — must drop
        emit("b1.parquet", [("gif0", card(0, encode_gif))], 5)
        q.processAllAvailable()
        rows = {r.rec_id: r for r in spark.table(name).collect()}
    finally:
        q.stop()

    # exactly one survivor for cluster 0, across formats and batches
    c0 = [r for r in rows.values() if r.dhash == dhash56(card(0, encode_bmp))]
    assert len(c0) == 1 and c0[0].rec_id == "bmp0"
    assert "gif0" not in rows and "png0" not in rows
    # the distinct image survives with its own hash
    assert rows["other"].dhash == dhash56(card(6, encode_bmp))
    # the junk blob is an error ROW, not a dead task and not deduped away
    junk = rows["junk"]
    assert junk.dhash is None and junk.decode_err
    assert rows["bmp0"].decode_err is None


def test_stream_contamination_tags_match_batch(spark, tmp_path):
    """Round-11 batch-trains/stream-applies for semantic decontamination:
    the published eval-suite matrix, applied map-side to an embedding
    STREAM, reproduces the batch per-vector cells bit-for-bit; a
    zero-norm embedding tags null (undefined cosine), not a crash."""
    import shutil

    from input_data_pipeline_spark.operators.curation import (
        _SCON_EVAL,
        contamination_suite,
        semantic_contamination,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_contamination_tags,
    )

    sf = "/root/testdata/sf0.001"
    suite = contamination_suite(spark, sf)
    assert suite.shape[0] == _SCON_EVAL

    src = tmp_path / "embs"
    src.mkdir()
    shutil.copy(f"{sf}/embeddings.parquet", src / "part-0.parquet")
    sdf = spark.readStream.schema(
        spark.read.parquet(f"{sf}/embeddings.parquet").schema
    ).parquet(str(src))

    name = _unique("scontags")
    q = run_to_memory(stream_contamination_tags(sdf, suite), name)
    try:
        q.processAllAvailable()
        got = {
            r.vec_id: (r.max_eval_cos_ppm, r.n_eval_hits, r.contaminated)
            for r in spark.table(name).collect()
        }
    finally:
        q.stop()

    batch = {
        r.vec_id: (r.max_eval_cos_ppm, r.n_eval_hits, r.contaminated)
        for r in semantic_contamination(spark, sf).collect()
    }
    assert batch and set(batch) <= set(got)
    for vid, cells in batch.items():
        assert got[vid] == cells, (vid, got[vid], cells)

    zero = spark.createDataFrame(
        [(999_999, [0.0] * suite.shape[1], 0)],
        "vec_id long, embedding array<double>, label int",
    )
    row = stream_contamination_tags(zero, suite).collect()[0]
    assert row.max_eval_cos_ppm is None and row.contaminated is None


def test_stream_audio_dedup_keys_on_decoded_content(spark, tmp_path):
    """Round-11 streaming audio dedup: containers that differ only in
    chunk layout/metadata but decode to the same PCM collapse to one
    survivor across micro-batches; the same G.711 code bytes under the
    OTHER companding law survive (different audio); junk routes as an
    error row."""
    import struct

    import numpy as np
    import pandas as pd

    from input_data_pipeline_spark.codecs.wav import (
        encode_wav,
        encode_wav_codes,
    )
    from input_data_pipeline_spark.operators.multimodal import (
        audio_content_key,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_audio_dedup,
    )

    pcm = ((np.arange(200) * 37) % 2001 - 1000).astype("<i2")
    wav = encode_wav(pcm)
    # same audio, different container bytes: a LIST metadata chunk
    # spliced in before 'data' (stdlib wave skips unknown chunks)
    at = wav.find(b"data")
    meta_chunk = b"LIST" + struct.pack("<I", 4) + b"INFO"
    wav_meta = wav[:at] + meta_chunk + wav[at:]
    wav_meta = wav_meta[:4] + struct.pack("<I", len(wav_meta) - 8) + wav_meta[8:]
    assert wav_meta != wav
    assert audio_content_key(wav_meta) == audio_content_key(wav)

    codes = bytes((5 * i + 1) % 256 for i in range(120))
    ulaw, alaw = encode_wav_codes(codes, 7), encode_wav_codes(codes, 6)

    src = tmp_path / "audio"
    src.mkdir()

    def emit(name, rows, t0):
        pd.DataFrame(
            {
                "rec_id": [r[0] for r in rows],
                "ts": [
                    pd.Timestamp(f"2024-01-01T00:0{t0 + i}:00")
                    for i in range(len(rows))
                ],
                "payload": [r[1] for r in rows],
            }
        ).to_parquet(
            src / name,
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )

    emit(
        "b0.parquet",
        [("orig", wav), ("ulaw", ulaw), ("alaw", alaw), ("junk", b"RIFFxxxx")],
        0,
    )
    sdf = spark.readStream.schema(
        "rec_id string, ts timestamp, payload binary"
    ).parquet(str(src))
    name = _unique("audiodedup")
    q = run_to_memory(stream_audio_dedup(sdf, watermark="1 hour"), name)
    try:
        q.processAllAvailable()
        # a re-containered copy arrives later: must drop statefully
        emit("b1.parquet", [("meta_copy", wav_meta)], 5)
        q.processAllAvailable()
        rows = {r.rec_id: r for r in spark.table(name).collect()}
    finally:
        q.stop()

    assert "orig" in rows and "meta_copy" not in rows
    # same code bytes, different law -> different audio -> both survive
    assert "ulaw" in rows and "alaw" in rows
    assert rows["ulaw"].audio_key != rows["alaw"].audio_key
    junk = rows["junk"]
    assert junk.audio_key is None and junk.decode_err


def test_stream_audio_dedup_robust_mode_folds_lossy_re_encodes(spark, tmp_path):
    """Round-14 robust mode: keyed on the loudness-contour near-dup key,
    a lightly dithered re-master (different PCM bytes — the exact key
    separates it) arriving in a later micro-batch still drops as a dup,
    and an MP3 next to the WAV rip of its decoded PCM folds too."""
    import numpy as np
    import pandas as pd

    from input_data_pipeline_spark.codecs.mpeg import encode_mp3_l3
    from input_data_pipeline_spark.codecs.route import decode_media
    from input_data_pipeline_spark.codecs.wav import encode_wav
    from input_data_pipeline_spark.operators.multimodal import (
        audio_content_key,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_audio_dedup,
    )

    i = np.arange(32 * 256, dtype=np.int64)
    base = (11 + 5 * i) % 4001 - 2000
    amp = np.where((i // 256) % 2 == 0, 300, 8000)
    y = (base * amp // 2000).astype(np.int16)
    wav = encode_wav(y, 16000)
    y2 = y.astype(np.int64).copy()
    idx = np.arange(0, len(y2), 97)
    y2[idx] += np.where(idx % 2 == 0, 1, -1)
    dithered = encode_wav(np.clip(y2, -32768, 32767).astype(np.int16), 16000)
    assert audio_content_key(dithered) != audio_content_key(wav)

    def sil():
        return {"is": [0] * 576, "global_gain": 210, "scalefac": [0] * 21,
                "big_values": 0, "scalefac_scale": 1, "scalefac_compress": 0}

    def act(gi):
        v = [0] * 576
        for k in range(0, 480, 7):
            v[k] = 1 if (k // 7 + gi) % 2 == 0 else -1
        return {"is": v, "global_gain": 178, "scalefac": [0] * 21,
                "big_values": 240, "scalefac_scale": 1, "scalefac_compress": 0}

    mp3 = encode_mp3_l3([sil(), act(0), act(1), sil()])
    rip = encode_wav(
        np.frombuffer(decode_media(mp3, "audio")["pcm"], "<i2"), 44100
    )

    src_dir = tmp_path / "audio_robust"
    src_dir.mkdir()

    def emit(name, rows, t0):
        pd.DataFrame(
            {
                "rec_id": [r[0] for r in rows],
                "ts": [pd.Timestamp(f"2024-01-01T00:0{t0 + k}:00")
                       for k in range(len(rows))],
                "payload": [r[1] for r in rows],
            }
        ).to_parquet(src_dir / name, index=False, coerce_timestamps="us",
                     allow_truncated_timestamps=True)

    emit("b0.parquet", [("orig", wav), ("mp3", mp3)], 0)
    sdf = spark.readStream.schema(
        "rec_id string, ts timestamp, payload binary"
    ).parquet(str(src_dir))
    name = _unique("audiorobust")
    q = run_to_memory(
        stream_audio_dedup(sdf, watermark="1 hour", robust=True), name
    )
    try:
        q.processAllAvailable()
        emit("b1.parquet", [("dither", dithered), ("rip", rip)], 5)
        q.processAllAvailable()
        rows = {r.rec_id: r for r in spark.table(name).collect()}
    finally:
        q.stop()

    assert "orig" in rows and "mp3" in rows
    assert "dither" not in rows  # near-dup of orig under the robust key
    assert "rip" not in rows     # WAV rip of the MP3's decoded PCM


def test_stream_audio_probe_matches_batch(spark, tmp_path):
    """Round-12 streaming face of the audio routing pass: probing an
    audio-blob STREAM yields row-identical results to the batch kernel —
    a PCM WAV and a VBR MP3 route with exact metadata, junk and a
    truncated MP3 frame surface as error rows instead of killing the
    micro-batch."""
    import numpy as np

    from input_data_pipeline_spark.codecs.mpeg import encode_mp3
    from input_data_pipeline_spark.codecs.wav import encode_wav
    from input_data_pipeline_spark.operators.multimodal import (
        extract_audio_metadata,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_audio_probe,
    )

    rows = [
        (1, encode_wav(np.zeros(320, dtype=np.int16))),
        (2, encode_mp3([(2, 0), (9, 1), (9, 0)], sr_index=2, id3_payload=6)),
        (3, b"\x01\x02 junk"),
        (4, encode_mp3([(4, 0)])[:-8]),
    ]
    src = tmp_path / "audio_blobs"
    spark.createDataFrame(rows, "doc_id long, payload binary").coalesce(
        1
    ).write.parquet(str(src))

    batch = {
        r.doc_id: r
        for r in extract_audio_metadata(spark.read.parquet(str(src))).collect()
    }
    sdf = spark.readStream.schema("doc_id long, payload binary").parquet(str(src))
    name = _unique("audioprobe")
    q = run_to_memory(stream_audio_probe(sdf), name)
    try:
        q.processAllAvailable()
        got = {r.doc_id: r for r in spark.table(name).collect()}
    finally:
        q.stop()

    assert set(got) == {1, 2, 3, 4}
    for k in got:
        assert got[k] == batch[k], k
    assert got[1].container == "wav" and got[1].duration_ms == 20
    assert got[2].container == "mp3" and got[2].vbr and got[2].n_frames == 3
    assert got[3].container == "error" and "non-WAV/MP3" in got[3].err
    assert got[4].container == "error" and "truncated" in got[4].err


def test_stream_unigram_tags_match_batch(spark, tmp_path):
    """Round-12 batch-trains/stream-applies for the unigram tokenizer:
    the vocabulary published by the batch trainer, applied to a document
    STREAM, reproduces the batch segmentation bit-for-bit — including
    UNK-character fallbacks for text the training corpus never saw."""
    from input_data_pipeline_spark.operators.tokenizer import (
        encode_with_unigram,
        train_unigram,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_unigram_tags,
    )

    train = spark.createDataFrame(
        [(i, "the theory thorn " * 3) for i in range(20)],
        "doc_id long, text string",
    )
    vocab = train_unigram(train, vocab_size=20, seed_size=60)

    rows = [
        (1, "the theory"),
        (2, "thorny § unseen"),
        (3, ""),
    ]
    src = tmp_path / "ug_docs"
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src))

    batch = {
        r.doc_id: r
        for r in encode_with_unigram(
            spark.read.parquet(str(src)), vocab
        ).collect()
    }
    sdf = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    name = _unique("ugtags")
    q = run_to_memory(stream_unigram_tags(sdf, vocab), name)
    try:
        q.processAllAvailable()
        got = {r.doc_id: r for r in spark.table(name).collect()}
    finally:
        q.stop()

    assert set(got) == {1, 2, 3}
    for k in got:
        assert got[k] == batch[k], k
    assert "§" in got[2].unigram_tokens  # UNK fallback flows through
    assert got[3].n_unigram_tokens == 0


def test_stream_sq8_codes_match_batch_and_clamp(spark, tmp_path):
    """Round-12 batch-trains/stream-applies for the int8 quantizer: codes
    on a stream equal the batch encode bit-for-bit, and values beyond the
    published bounds clamp to 0/255 rather than erroring."""
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.operators.similarity import (
        sq8_encode,
        sq8_quantizer_model,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_sq8_codes,
    )

    bounds = sq8_quantizer_model(spark, "/root/testdata/sf0.001")
    dim = len(bounds)
    rows = [
        (1, [bounds[i][0] for i in range(dim)]),  # exact minima → code 0
        (2, [bounds[i][1] + 10.0 for i in range(dim)]),  # overflow → 255
        (3, [(bounds[i][0] + bounds[i][1]) / 2 for i in range(dim)]),
    ]
    src = tmp_path / "vec_stream"
    spark.createDataFrame(rows, "vec_id long, e array<double>").coalesce(
        1
    ).write.parquet(str(src))

    batch = {
        r.vec_id: list(r.sq8_codes)
        for r in sq8_encode(spark.read.parquet(str(src)), bounds).collect()
    }
    sdf = spark.readStream.schema("vec_id long, e array<double>").parquet(
        str(src)
    )
    name = _unique("sq8codes")
    q = run_to_memory(stream_sq8_codes(sdf, bounds), name)
    try:
        q.processAllAvailable()
        got = {r.vec_id: list(r.sq8_codes) for r in spark.table(name).collect()}
    finally:
        q.stop()

    assert got == batch
    assert all(c == 0 for c in got[1])
    assert all(c == 255 for c in got[2])
    assert all(0 <= c <= 255 for c in got[3])


def test_stream_ivfpq_codes_match_batch(spark, tmp_path):
    """Stream/batch parity for the IVF-PQ encoder: identical cells and
    codes for the same vectors, and the batch query's corpus side agrees
    with the published-model encode."""
    import json as _json

    from input_data_pipeline_spark.operators.similarity import (
        ivfpq_codebook_model,
        ivfpq_encode,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_ivfpq_codes,
    )

    sf = "/root/testdata/sf0.001"
    cb = ivfpq_codebook_model(spark, sf)
    emb = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .selectExpr("vec_id", "cast(embedding as array<double>) as e")
        .limit(40)
    )
    batch = {
        r.vec_id: (r.ivf_cell, list(r.pq_codes))
        for r in ivfpq_encode(emb, cb).collect()
    }

    src = tmp_path / "vecs"
    src.mkdir()
    rows = emb.collect()
    (src / "b1.jsonl").write_text(
        "\n".join(
            _json.dumps({"vec_id": r.vec_id, "e": list(r.e)}) for r in rows
        )
        + "\n"
    )
    sdf = spark.readStream.schema("vec_id long, e array<double>").json(str(src))
    name = _unique("ivfpqcodes")
    q = run_to_memory(stream_ivfpq_codes(sdf, cb), name)
    try:
        q.processAllAvailable()
        got = {
            r.vec_id: (r.ivf_cell, list(r.pq_codes))
            for r in spark.table(name).collect()
        }
    finally:
        q.stop()
    assert got == batch
    assert all(0 <= c < 8 for c, _ in got.values())
    assert all(len(cs) == 8 and all(0 <= v < 16 for v in cs) for _, cs in got.values())


def test_stream_stream_full_outer_join_both_sides_null_emit(spark, src):
    """FULL OUTER: unmatched purchases AND unmatched clicks each emit
    exactly once with NULLs after expiry, matches emit normally, and the
    flushed result equals the batch full join."""
    from pyspark.sql import functions as F

    from input_data_pipeline_spark.streaming.pipelines import (
        EVENT_SCHEMA,
        join_clicks_to_purchases_full_outer,
    )

    events = stream_events(spark, str(src))
    clicks = events.filter(events.event_type == "click")
    purchases = events.filter(events.event_type == "purchase")
    name = _unique("ssfoj")
    q = run_to_memory(
        join_clicks_to_purchases_full_outer(clicks, purchases),
        name,
        output_mode="append",
    )
    try:
        _write_events(src, "b1.jsonl", [
            _ev(1, "2024-01-01 10:00:00", user=1, etype="click"),   # matches 10
            _ev(2, "2024-01-01 10:20:00", user=2, etype="click"),   # no purchase
        ])
        q.processAllAvailable()
        _write_events(src, "b2.jsonl", [
            _ev(10, "2024-01-01 10:08:00", user=1, etype="purchase"),
            _ev(11, "2024-01-01 11:00:00", user=3, etype="purchase"),  # no click
        ])
        q.processAllAvailable()
        _write_events(src, "b3.jsonl", [
            _ev(20, "2024-01-01 12:30:00", user=9, etype="click"),
            _ev(21, "2024-01-01 12:30:00", user=9, etype="purchase"),
        ])
        q.processAllAvailable()
        _write_events(src, "b4.jsonl", [
            _ev(22, "2024-01-01 13:30:00", user=8, etype="click"),
        ])
        q.processAllAvailable()
        got = [(r.purchase_id, r.click_id) for r in spark.table(name).collect()]
        assert len(got) == len(set(got)), f"duplicate emissions: {got}"
        gotset = set(got)
        assert (10, 1) in gotset
        assert (None, 2) in gotset        # unmatched CLICK null-emits
        assert (11, None) in gotset       # unmatched purchase null-emits
        assert (21, 20) in gotset

        batch = spark.read.schema(EVENT_SCHEMA).json(str(src))
        bc = batch.filter(batch.event_type == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        bp = batch.filter(batch.event_type == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        cond = (
            (F.col("c_user") == F.col("p_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts")
               >= F.col("purchase_ts") - F.expr("INTERVAL 10 minutes"))
        )
        want = {
            (r.purchase_id, r.click_id)
            for r in bp.join(bc, cond, "full").collect()
            # the final sentinel click (22) hasn't expired in the stream;
            # every older row must agree with the batch full join
            if r.click_id != 22
        }
        assert gotset == {g for g in gotset} and want <= gotset | {(None, 22)}
        assert gotset - {(None, 22)} == want
    finally:
        q.stop()


def test_stream_prototypicality_tags_match_batch(spark, tmp_path):
    """Stream/batch parity for D4 prototype tagging: identical ppm cosines
    for every vector, and the threshold tag equals the batch decile flag
    except possibly AT the cut value (the batch rank tie-breaks by vec_id
    inside equal cosines; the published threshold cannot)."""
    import json as _json

    from input_data_pipeline_spark.operators.curation import (
        prototypicality_model,
        prototypicality_prune,
    )
    from input_data_pipeline_spark.streaming.pipelines import (
        run_to_memory,
        stream_prototypicality_tags,
    )

    sf = "/root/testdata/sf0.001"
    model = prototypicality_model(spark, sf)
    batch = {
        r.vec_id: (r.proto_cos_ppm, r.pruned, r.label)
        for r in prototypicality_prune(spark, sf).collect()
    }

    emb = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .selectExpr("vec_id", "label", "cast(embedding as array<double>) as e")
        .limit(120)
    )
    src = tmp_path / "vecs"
    src.mkdir()
    rows = emb.collect()
    (src / "b1.jsonl").write_text(
        "\n".join(
            _json.dumps({"vec_id": r.vec_id, "label": r.label, "e": list(r.e)})
            for r in rows
        )
        + "\n"
    )
    sdf = spark.readStream.schema(
        "vec_id long, label int, e array<double>"
    ).json(str(src))
    name = _unique("prototags")
    q = run_to_memory(stream_prototypicality_tags(sdf, model), name)
    try:
        q.processAllAvailable()
        got = {
            r.vec_id: (r.proto_cos_ppm, r.proto_pruned)
            for r in spark.table(name).collect()
        }
    finally:
        q.stop()
    assert got
    for vid, (ppm, pruned) in got.items():
        b_ppm, b_pruned, label = batch[vid]
        assert ppm == b_ppm, (vid, ppm, b_ppm)
        cut = model[label]["cut_ppm"]
        if cut is None or ppm != cut:
            assert pruned == b_pruned, (vid, ppm, cut)
        else:
            assert pruned  # at the cut the threshold form always tags


# ---------------------------------------------------------------------------
# Streaming PII scrub (round 15)
# ---------------------------------------------------------------------------


def test_stream_pii_scrub_parity_and_shapes(spark, tmp_path):
    """The streaming scrub must make EXACTLY the decisions the batch
    transformer makes on the same rows (shared column expressions), must
    redact BEFORE downstream state sees text, and must honor its two
    shape knobs."""
    import json

    import pytest

    from input_data_pipeline_spark.operators.textstats import with_pii_flags
    from input_data_pipeline_spark.streaming.pipelines import (
        DOC_SCHEMA,
        run_to_memory,
        stream_docs,
        stream_pii_scrub,
    )

    rows = [
        {"doc_id": 1, "ts": "2024-01-01T00:00:00", "lang": "en",
         "source": "s0",
         "text": "reach me at jane.doe@example.com or 555-010-1234 now"},
        {"doc_id": 2, "ts": "2024-01-01T00:00:10", "lang": "en",
         "source": "s0",
         "text": "server 10.1.2.3 and backup 192.168.0.1 both up"},
        {"doc_id": 3, "ts": "2024-01-01T00:00:20", "lang": "en",
         "source": "s1", "text": "no pii in this one at all"},
    ]
    src = tmp_path / "docs"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n", encoding="utf-8"
    )

    name = _unique("piiscrub")
    q = run_to_memory(stream_pii_scrub(stream_docs(spark, str(src))), name)
    try:
        q.processAllAvailable()
        streamed = {r.doc_id: r for r in spark.table(name).collect()}
    finally:
        q.stop()

    assert streamed[1].pii_emails == 1 and streamed[1].pii_phones == 1
    assert streamed[2].pii_ips == 2
    assert streamed[3].text == rows[2]["text"]  # clean docs untouched
    assert "[EMAIL]" in streamed[1].text and "[PHONE]" in streamed[1].text
    assert "jane.doe" not in streamed[1].text
    assert streamed[2].text.count("[IP]") == 2

    # full-cell parity against the batch transformer on the same file
    batch_df = with_pii_flags(spark.read.schema(DOC_SCHEMA).json(str(src)))
    for b in batch_df.collect():
        s = streamed[b.doc_id]
        assert (s.pii_emails, s.pii_phones, s.pii_ips) == (
            b.pii_emails, b.pii_phones, b.pii_ips)
        assert s.text == b.pii_redacted

    # shape knobs: sink-facing (no tags) and tag-only faces
    q = run_to_memory(
        stream_pii_scrub(stream_docs(spark, str(src)), keep_counts=False),
        _unique("piisink"))
    try:
        q.processAllAvailable()
        cols = set(spark.table(q.name).columns)
    finally:
        q.stop()
    assert "pii_emails" not in cols and "pii_redacted" not in cols

    q = run_to_memory(
        stream_pii_scrub(stream_docs(spark, str(src)), redact=False),
        _unique("piitags"))
    try:
        q.processAllAvailable()
        tag_rows = {r.doc_id: r for r in spark.table(q.name).collect()}
    finally:
        q.stop()
    assert tag_rows[1].text == rows[0]["text"]  # tag-only: text untouched
    assert tag_rows[1].pii_emails == 1

    with pytest.raises(ValueError, match="no-op"):
        stream_pii_scrub(stream_docs(spark, str(src)), redact=False,
                         keep_counts=False)
