"""The four workloads and the ops they run.

Every workload is driven by one client in a closed loop: the next op starts
only when the previous one finished. A pass runs the workload's fixed op
mix once; the run seed shuffles the op order of every pass (and, for
``stream_ingest``, the document order and the file split).
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass

import layers


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...] = ()
    data: str = "sf"  # "sf": the sf0.1 tables; "media": the decode-gate doc prefix
    stream: bool = False


MEDIA_DOCS = 200
STREAM_FILES = 100  # the sf0.1 documents, split into this many JSONL files
STREAM_FILES_PER_PASS = 2

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "star_analytics",
            "JVM-only relational and window queries: build, planning and scheduling are a visible "
            "share; the no-change control for Python-worker and kernel work",
            (
                "revenue_by_region",
                "pricing_summary",
                "order_priority_rollup",
                "sliding_window_counts",
                "skew_salted_user_join",
            ),
        ),
        Workload(
            "corpus_curation",
            "LLM-curation queries whose builds run Spark jobs before collect, with shuffle-heavy "
            "self-joins and session-shared caches",
            (
                "dedup_minhash_lsh",
                "oov_rate_by_source",
                "c4_quality_flags",
            ),
        ),
        Workload(
            "media_decode",
            "map-only decode gates: time goes to Python-worker start-up and per-doc numpy kernels, "
            "not Catalyst",
            (
                "au_adpcm_decode_features",
                "mpeg1_layer2_decode_features",
                "jpeg_decode_features",
                "vorbis_decode_features",
                "tiff_g4_decode_features",
                "audio_tags_features",
            ),
            data="media",
        ),
        Workload(
            "stream_ingest",
            "the write path: file-source stream through the curation gate, parquet sink and a "
            "fingerprint ledger that grows with the accepted corpus",
            stream=True,
        ),
    )
}


def pass_order(workload: Workload, seed: int, pass_no: int) -> list[str]:
    order = list(workload.queries)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order


def traced_query_op(spark, tracer, op_id: int, name: str, fn, data_dir: str):
    """One query op (build the frame, collect it) with spans and layer
    readings, all taken after ``collect`` returned. Returns (df, rows, rec)."""
    sc = spark.sparkContext
    group = f"perfbench-op-{op_id}"
    sc.setJobGroup(group, name)
    t0 = time.time()
    op_span = tracer.span(op_id, "op", t0, t0, None, query=name)
    build_span = tracer.span(op_id, "build", t0, t0, op_span)
    with tracer.load_table_spans(op_id, build_span):
        df = fn(spark, data_dir)
    t1 = time.time()
    build_jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    rows = df.collect()
    t2 = time.time()
    collect_span = tracer.span(op_id, "collect", t1, t2, op_span)
    tracer.spans[op_span]["end"] = t2
    tracer.spans[build_span]["end"] = t1

    jobs, stages = layers.group_stages(spark, group)
    build_stages = {s for j in build_jobs for s in jobs.get(j, ())}
    intervals = []
    for st in stages:
        if st["submit_ms"] is None or st["complete_ms"] is None:
            continue
        a, b = st["submit_ms"] / 1e3, st["complete_ms"] / 1e3
        intervals.append((a, b))
        parent = build_span if st["stage_id"] in build_stages else collect_span
        tracer.span(op_id, "stage", a, b, parent, stage_id=st["stage_id"])
    pynodes = layers.python_nodes(df)
    rec = {
        "build_s": t1 - t0,
        "collect_s": t2 - t1,
        "build_jobs": len(build_jobs),
        "jobs": len(jobs),
        "stages": len(stages),
        "driver_gap_s": (t2 - t0) - layers.covered_s(intervals, t0, t2),
        "py_nodes": len(pynodes),
        "py_node_classes": [n["node"] for n in pynodes],
    }
    for key in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "shuffle_fetch_wait_s", "input_bytes"):
        rec[key] = sum(st[key] for st in stages)
    for key in layers.PY_METRICS.values():
        rec[key] = sum(n[key] for n in pynodes)
    rec.update({f"{p}_ms": v for p, v in layers.catalyst_phases(df).items()})
    return df, rows, rec


class StreamIngest:
    """``stream_curation_gate`` over a file source in a private directory.
    One op writes the next JSONL file and waits for the stream to commit it."""

    def __init__(self, spark, sf_dir: str, work_dir: str, seed: int):
        import pyarrow.parquet as pq

        from input_data_pipeline_spark.streaming.pipelines import stream_curation_gate, stream_docs

        self.spark = spark
        self.sf_dir = sf_dir
        docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pylist()
        # the seed sets which documents land in which file, and the file order
        random.Random(seed).shuffle(docs)
        per_file = -(-len(docs) // STREAM_FILES)
        self.files = [docs[i : i + per_file] for i in range(0, len(docs), per_file)]
        self.dirs = {k: os.path.join(work_dir, k) for k in ("src", "stage", "accepted", "ledger", "ckpt")}
        for k in ("src", "stage"):
            os.makedirs(self.dirs[k])
        self.written = 0
        self.input_bytes = 0
        self.last_batch = -1
        self.query = (
            stream_curation_gate(
                stream_docs(spark, self.dirs["src"]),
                self.dirs["accepted"], self.dirs["ledger"], self.dirs["ckpt"],
            )
            .queryName("perfbench_stream_ingest")
            .start()
        )

    def remaining(self) -> int:
        return len(self.files) - self.written

    def op(self) -> None:
        rows = self.files[self.written]
        name = f"part-{self.written:04d}.jsonl"
        staged = os.path.join(self.dirs["stage"], name)
        with open(staged, "w", encoding="utf-8") as f:
            for r in rows:
                f.write(json.dumps({"doc_id": r["doc_id"], "ts": "2024-01-01T00:00:00", "text": r["text"],
                                    "lang": r["lang"], "source": r["source"]}) + "\n")
        self.input_bytes += os.path.getsize(staged)
        # rename into the source directory so the stream never sees a partial file
        os.replace(staged, os.path.join(self.dirs["src"], name))
        self.written += 1
        self.query.processAllAvailable()

    def new_batches(self) -> list[dict]:
        batches = layers.stream_batches(self.query, self.last_batch)
        if batches:
            self.last_batch = max(b["batch_id"] for b in batches)
        return batches

    def written_bytes(self) -> int:
        total = 0
        for k in ("accepted", "ledger", "ckpt"):
            for root, _, files in os.walk(self.dirs[k]):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    def check(self) -> tuple[bool, str]:
        from checks import stream_gate_ok

        ids = [r["doc_id"] for rows in self.files[: self.written] for r in rows]
        docs = self.spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
        return stream_gate_ok(self.spark, self.dirs["accepted"], docs.filter(docs.doc_id.isin(ids)))

    def stop(self) -> None:
        self.query.stop()
