#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload star_analytics --seed 1 --seconds 8 --trace 0

Works from any directory. Everything it writes goes under ``.perfbench/``
at the repository root: the seeded tables and oracle digests (built once,
then reused), one trace file per run, and a per-run temporary directory
(stream files, sinks, checkpoints, Spark warehouse and local dirs) that is
removed at exit. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones. See README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

from checks import DigestCheck, oracle_digests
from datagen import table_dirs, tables_ready
from kernels import CODECS, kernel_ms_per_doc
from procmon import ProcessTreeMonitor
from tracer import Tracer
from workloads import (
    MEDIA_DOCS, STREAM_FILES_PER_PASS, WORKLOADS, StreamIngest, pass_order, traced_query_op,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(STATE, "cache")
SETUP_REPS = 3
WARM_PASSES_MIN = 2
DRIVER_MEM = "2g"
PACKAGE = "input_data_pipeline_spark"

E2E_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ok_frac": "ratio",
    "peak_rss_mb": "MB",
}
# per-pass metrics: summed over one warm pass's ops, median over traced passes
PASS_LAYER = {
    "operators.build_s": ("build_s", "s"),
    "operators.build_jobs": ("build_jobs", "count"),
    "catalyst.analysis_ms": ("analysis_ms", "ms"),
    "catalyst.optimization_ms": ("optimization_ms", "ms"),
    "catalyst.planning_ms": ("planning_ms", "ms"),
    "exec.collect_s": ("collect_s", "s"),
    "exec.jobs": ("jobs", "count"),
    "exec.stages": ("stages", "count"),
    "exec.tasks": ("tasks", "count"),
    "exec.executor_run_s": ("executor_run_s", "s"),
    "exec.executor_cpu_s": ("executor_cpu_s", "s"),
    "exec.gc_s": ("gc_s", "s"),
    "exec.shuffle_read_bytes": ("shuffle_read_bytes", "bytes"),
    "exec.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "exec.shuffle_fetch_wait_s": ("shuffle_fetch_wait_s", "s"),
    "exec.input_bytes": ("input_bytes", "bytes"),
    "exec.driver_gap_s": ("driver_gap_s", "s"),
    "pyworker.nodes": ("py_nodes", "count"),
    "pyworker.boot_s": ("boot_s", "s"),
    "pyworker.init_s": ("init_s", "s"),
    "pyworker.total_s": ("total_s", "s"),
    "pyworker.bytes_sent": ("bytes_sent", "bytes"),
    "pyworker.bytes_received": ("bytes_received", "bytes"),
}
STREAM_LAYER = ("trigger_ms", "add_batch_ms", "wal_commit_ms", "latest_offset_ms")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(tmp: str) -> None:
    """Spark on local[nproc], workers able to import the engine from any
    working directory, and every temporary file inside ``tmp``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # A 2 GB driver heap is ample at sf0.1. It is committed and touched at
    # launch, so peak RSS does not swing with how far G1 happened to grow the
    # heap; it moves with everything else (off-heap, metaspace, Python).
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # every JVM, the spark-submit launcher included: temp files in tmp, no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')}",
        "--driver-java-options", f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "pyspark-shell",
    ])


def environment(cpus_before: str | None) -> dict:
    import numpy
    import pyspark

    from bench import yardstick

    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_CPUS_inherited": cpus_before,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "yardstick": yardstick(),
    }


def setup_once(data_dir: str, touch: str) -> tuple[object, dict]:
    """One set-up: session start, a fresh import of the query registry and
    the first table touch. The package is dropped from ``sys.modules``
    first, so every repetition imports it for real."""
    for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[name]
    t0 = time.perf_counter()
    spark = importlib.import_module(f"{PACKAGE}.session").get_spark("perfbench")
    t1 = time.perf_counter()
    importlib.import_module(f"{PACKAGE}.plans.registry")._load_all()
    t2 = time.perf_counter()
    importlib.import_module(f"{PACKAGE}.tables").load_table(spark, data_dir, touch)
    t3 = time.perf_counter()
    return spark, {"session_s": t1 - t0, "registry_s": t2 - t1, "touch_s": t3 - t2, "total_s": t3 - t0}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def p90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[8] if len(values) > 1 else values[0]


class Runner:
    def __init__(self, args, workload, spark, data_dir: str, tmp: str):
        self.args = args
        self.w = workload
        self.spark = spark
        self.data_dir = data_dir
        self.tmp = tmp
        self.tracer = Tracer()
        self.ops: list[dict] = []
        self.check = DigestCheck(
            oracle_digests(list(workload.queries), data_dir, os.path.join(CACHE, "oracle.json"), compute=False)
        )
        self.stream = None
        self.stream_batches: list[dict] = []

    def run_pass(self, pass_no: int, traced: bool) -> list[dict]:
        if self.w.stream:
            n = min(STREAM_FILES_PER_PASS, self.stream.remaining())
            return [self.stream_op(pass_no, traced) for _ in range(n)]
        registry = sys.modules[f"{PACKAGE}.plans.registry"]._REGISTRY
        return [self.query_op(pass_no, q, registry[q].fn, traced) for q in pass_order(self.w, self.args.seed, pass_no)]

    def query_op(self, pass_no: int, name: str, fn, traced: bool) -> dict:
        op_id = len(self.ops)
        rec = {"op": op_id, "pass": pass_no, "name": name, "traced": traced}
        t0 = time.perf_counter()
        try:
            if traced:
                df, rows, layer = traced_query_op(self.spark, self.tracer, op_id, name, fn, self.data_dir)
                rec.update(layer)
            else:
                df = fn(self.spark, self.data_dir)
                rows = df.collect()
            rec["latency_s"] = time.perf_counter() - t0
            rec["ok"] = self.check.observe(name, df.columns, [tuple(r) for r in rows])
        except Exception as e:  # noqa: BLE001 - a failing op is counted, and the run goes on
            rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:500])
        self.ops.append(rec)
        return rec

    def stream_op(self, pass_no: int, traced: bool) -> dict:
        op_id = len(self.ops)
        rec = {"op": op_id, "pass": pass_no, "name": "stream_file", "traced": traced}
        t0 = time.perf_counter()
        w0 = time.time()
        try:
            self.stream.op()
            rec.update(latency_s=time.perf_counter() - t0, ok=True)
            # a traced run reads progress after plain ops too, so each traced
            # op sees only its own micro-batches
            batches = self.stream.new_batches() if self.args.trace else []
            if traced:
                span = self.tracer.span(op_id, "op", w0, time.time(), None, file=self.stream.written - 1)
                for b in batches:
                    t = b["started"]
                    self.tracer.span(op_id, "stream.batch", t, t + b["trigger_ms"] / 1e3, span, batch=b)
                self.stream_batches.extend(batches)
        except Exception as e:  # noqa: BLE001 - a failing op is counted, and the run goes on
            rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:500])
        self.ops.append(rec)
        return rec

    def run(self) -> dict:
        trace = bool(self.args.trace)
        if self.w.stream:
            self.stream = StreamIngest(self.spark, self.data_dir, self.tmp, self.args.seed)
        first = self.run_pass(0, trace)
        # warm window: whole passes until their op time reaches --seconds and
        # at least WARM_PASSES_MIN ran; a traced run alternates plain and
        # traced passes to measure its overhead
        warm: list[tuple[bool, list[dict]]] = []
        measured, pass_no = 0.0, 1
        while measured < self.args.seconds or len(warm) < WARM_PASSES_MIN:
            if self.w.stream and self.stream.remaining() == 0:
                break
            traced = trace and pass_no % 2 == 0
            recs = self.run_pass(pass_no, traced)
            warm.append((traced, recs))
            measured += sum(r.get("latency_s", 0.0) for r in recs)
            pass_no += 1
        verdict = {}
        if self.stream is not None:
            ok, why = self.stream.check()
            verdict["stream_curation_gate"] = why
            if not ok:
                for r in self.ops:
                    r["ok"] = False
        else:
            verdict.update(self.check.verdicts)
        return {"first": first, "warm": warm, "verdict": verdict}


def pass_time(recs: list[dict]) -> float:
    return sum(r.get("latency_s", 0.0) for r in recs)


def e2e_metrics(setups: list[dict], out: dict, peak_rss: int) -> dict:
    plain = [recs for traced, recs in out["warm"] if not traced]
    lat = [r["latency_s"] for recs in plain for r in recs if r["ok"]]
    ops = out["first"] + [r for recs in plain for r in recs]
    return {
        "setup_s": statistics.median(s["total_s"] for s in setups),
        "first_pass_s": pass_time(out["first"]),
        "pass_s": statistics.median(pass_time(recs) for recs in plain),
        "op_p50_s": statistics.median(lat),
        "op_p90_s": p90(lat),
        "ok_frac": sum(r["ok"] for r in ops) / len(ops),
        "peak_rss_mb": peak_rss / 2**20,
    }


LAYER_UNITS = {
    "session.launch_s": "s",
    "session.start_s": "s",
    "registry.import_s": "s",
    "tables.first_touch_s": "s",
    "tables.handle_misses": "count",
    "tables.handle_hit_ratio": "ratio",
    "tables.load_table_s": "s",
    **{name: unit for name, (_, unit) in PASS_LAYER.items()},
    "pyworker.first_pass_boot_s": "s",
    "pyworker.first_pass_init_s": "s",
    "pyworker.processes_spawned": "count",
    **{f"kernel.{codec}_ms_per_doc": "ms" for codec in CODECS},
    "stream.batches": "count",
    **{f"stream.{key}": "ms" for key in STREAM_LAYER},
    "stream.input_rows": "rows",
    "stream.write_amplification": "ratio",
    "trace.overhead_s": "s",
}


def layer_metrics(setups: list[dict], out: dict, runner: Runner, worker_pids: int, kernels: dict) -> dict:
    traced = [recs for t, recs in out["warm"] if t]
    plain = [recs for t, recs in out["warm"] if not t]
    tr = runner.tracer
    v = {
        "session.launch_s": setups[0]["total_s"],
        "session.start_s": statistics.median(s["session_s"] for s in setups),
        "registry.import_s": statistics.median(s["registry_s"] for s in setups),
        "tables.first_touch_s": statistics.median(s["touch_s"] for s in setups),
        # table-handle figures span every traced op; misses fall in the cold first pass
        "tables.handle_misses": tr.table_misses,
        "tables.handle_hit_ratio": 1 - tr.table_misses / tr.table_calls if tr.table_calls else 1.0,
        "tables.load_table_s": tr.table_s,
        # workers are reused, so their start-up lands in the cold first pass
        "pyworker.first_pass_boot_s": sum(r.get("boot_s", 0) for r in out["first"]),
        "pyworker.first_pass_init_s": sum(r.get("init_s", 0) for r in out["first"]),
        "pyworker.processes_spawned": worker_pids,
    }
    for name, (key, _) in PASS_LAYER.items():
        v[name] = statistics.median(sum(r.get(key, 0) for r in recs) for recs in traced)
    for codec, ms in kernels.items():
        v[f"kernel.{codec}_ms_per_doc"] = ms
    batches = runner.stream_batches
    v["stream.batches"] = len(batches)
    for key in STREAM_LAYER:
        v[f"stream.{key}"] = statistics.median(b[key] for b in batches) if batches else 0.0
    v["stream.input_rows"] = statistics.median(b["input_rows"] for b in batches) if batches else 0
    stream = runner.stream
    v["stream.write_amplification"] = stream.written_bytes() / stream.input_bytes if stream else 0.0
    v["trace.overhead_s"] = (
        statistics.median(pass_time(r) for r in traced) - statistics.median(pass_time(r) for r in plain)
    )
    return {k: (v[k], unit) for k, unit in LAYER_UNITS.items()}


def prepare_data() -> None:
    """Build the tables and oracle digests in a child process unless cached."""
    if tables_ready(CACHE, MEDIA_DOCS):
        sf_dir, media_dir = table_dirs(CACHE, MEDIA_DOCS)
        want = [(w, media_dir if w.data == "media" else sf_dir) for w in WORKLOADS.values()]
        cache = os.path.join(CACHE, "oracle.json")
        if all(len(oracle_digests(list(w.queries), d, cache, compute=False)) == len(w.queries) for w, d in want):
            return
    subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), CACHE], check=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    workload = WORKLOADS[args.workload]

    sys.path.insert(0, ROOT)
    try:
        importlib.import_module(PACKAGE)
        importlib.import_module("bench")
        importlib.import_module("check_oracle")
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    for d in (CACHE, os.path.join(STATE, "traces"), os.path.join(STATE, "tmp")):
        os.makedirs(d, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(STATE, "tmp"))
    cpus_before = os.environ.get("SPARK_GRAFT_CPUS")
    configure_env(tmp)
    os.chdir(tmp)

    # a terminated run still stops the JVM and removes its temporary directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    spark = None
    monitor = ProcessTreeMonitor()
    try:
        prepare_data()
        sf_dir, media_dir = table_dirs(CACHE, MEDIA_DOCS)
        data_dir = media_dir if workload.data == "media" else sf_dir
        env = environment(cpus_before)
        stat0 = importlib.import_module("bench")._proc_stat()
        monitor.start()
        touch = "lineitem" if args.workload == "star_analytics" else "documents"
        setups = []
        for i in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            spark, rec = setup_once(data_dir, touch)
            setups.append(rec)
        runner = Runner(args, workload, spark, data_dir, tmp)
        out = runner.run()
        kernels = {}
        if args.trace:
            kernels = kernel_ms_per_doc(args.seed)
        if runner.stream is not None:
            runner.stream.stop()
        monitor.sample()
        stat1 = importlib.import_module("bench")._proc_stat()
        env["loadavg_1m_at_end"] = stat1["loadavg_1m"]
        env["steal_ticks_delta"] = stat1["steal_ticks"] - stat0["steal_ticks"]
        if args.trace:
            named = layer_metrics(setups, out, runner, len(monitor.worker_pids), kernels)
        else:
            named = {k: (v, E2E_UNITS[k]) for k, v in e2e_metrics(setups, out, monitor.peak_rss_bytes).items()}
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
        ops = runner.ops
        failed = sum(not r["ok"] for r in ops)
        result = {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}
        trace_path = os.path.join(
            STATE, "traces", f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
        )
        runner.tracer.write(trace_path, {"environment": env, "args": vars(args), "setups": setups,
                                         "ops": ops, "verdict": out["verdict"], "result": result,
                                         "peak_rss_by_pid": monitor.peak_detail})
    finally:
        monitor.stop()
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps({"environment": env}))
    for name, why in out["verdict"].items():
        print(f"check {name}: {why}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"trace written to {os.path.relpath(trace_path, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
