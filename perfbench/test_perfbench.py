"""Tests for the benchmark's layer readers and output checks.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (HERE, ROOT) if p not in sys.path]
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import layers  # noqa: E402
from checks import DigestCheck  # noqa: E402
from datagen import build_tables  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from input_data_pipeline_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    s = get_spark("perfbench-tests")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("sf0.001")
    for name, tab in build_tables(sf=0.001).items():
        pq.write_table(tab, out / f"{name}.parquet")
    return str(out)


def _registry():
    from input_data_pipeline_spark.plans.registry import _REGISTRY, _load_all

    _load_all()
    return _REGISTRY


def test_python_node_walk_reaches_through_aqe_and_query_stages(spark, sf_dir):
    reg = _registry()
    gate = reg["au_adpcm_decode_features"].fn(spark, sf_dir)
    gate.collect()
    nodes = layers.python_nodes(gate)
    assert [n["node"] for n in nodes] == ["MapInPandasExec"]
    assert nodes[0]["boot_s"] > 0
    assert nodes[0]["bytes_sent"] > 0 and nodes[0]["bytes_received"] > 0

    star = reg["revenue_by_region"].fn(spark, sf_dir)
    star.collect()
    assert layers.python_nodes(star) == []
    phases = layers.catalyst_phases(star)
    assert set(phases) == set(layers.PHASES) and phases["planning"] >= 0


def test_group_stages_attributes_jobs_by_group(spark, sf_dir):
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-test-group", "revenue_by_region")
    _registry()["revenue_by_region"].fn(spark, sf_dir).collect()
    sc.setJobGroup("perfbench-test-other", "")
    jobs, stages = layers.group_stages(spark, "perfbench-test-group")
    assert jobs and stages
    assert {s["stage_id"] for s in stages} <= {s for ids in jobs.values() for s in ids}
    assert sum(s["tasks"] for s in stages) > 0
    assert all(s["submit_ms"] <= s["complete_ms"] for s in stages)


def test_covered_s_merges_overlaps_and_clips():
    assert layers.covered_s([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert layers.covered_s([], 0, 1) == 0


def test_digest_check_counts_a_corrupted_digest():
    rows = [(1, "a"), (2, "b")]
    good = DigestCheck({})
    good.observe("q", ["k", "v"], rows)  # no oracle: not checked, so wrong
    assert good.verdicts["q"].startswith("oracle None")

    from check_oracle import table_digest

    digest = table_digest(["k", "v"], rows)
    ok = DigestCheck({"q": digest})
    assert ok.observe("q", ["k", "v"], list(reversed(rows)))  # order-insensitive
    assert not ok.observe("q", ["k", "v"], [(1, "a"), (2, "B")])  # repetition drifts
    corrupt = DigestCheck({"q": "0" * 16})
    assert not corrupt.observe("q", ["k", "v"], rows)


def test_runner_counts_a_wrong_result_as_failed(spark, sf_dir):
    import run

    reg = _registry()
    runner = run.Runner(
        SimpleNamespace(seed=1, seconds=0, trace=0), run.WORKLOADS["star_analytics"], spark, sf_dir, sf_dir
    )
    runner.check = DigestCheck({"revenue_by_region": "0" * 16})
    rec = runner.query_op(0, "revenue_by_region", reg["revenue_by_region"].fn, traced=False)
    assert rec["ok"] is False and "error" not in rec
    assert sum(not r["ok"] for r in runner.ops) == 1


def test_benchmark_json_matches_the_harness():
    import json

    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert all(w["why"] == run.WORKLOADS[w["name"]].why for w in spec["workloads"])
