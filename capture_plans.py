#!/usr/bin/env python
"""Dump .explain("formatted") for headline queries to plans/rNN/ (env SPARK_GRAFT_PLANS_DIR, default r18).

Usage: python capture_plans.py before|after [--only name1,name2] [--all]

Writes plans/<SPARK_GRAFT_PLANS_DIR>/<query>_<tag>.txt for each query
(plans/r18/ by default). Building a DataFrame executes any driver-side
actions the query performs while composing its plan (iterative loops,
collected models), so this is slower than pure analysis for a handful of
queries — that is inherent to their shape.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

from input_data_pipeline_spark.plans.registry import _load_all, _REGISTRY
from input_data_pipeline_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("tag", choices=["before", "after"])
    ap.add_argument("--only", default=None)
    ap.add_argument("--all", action="store_true", help="all registry queries, not just headline")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _load_all()
    if args.only:
        names = args.only.split(",")
    elif args.all:
        names = list(_REGISTRY)
    else:
        from bench import HEADLINE

        names = [n for n in HEADLINE if n in _REGISTRY]

    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", os.environ.get("SPARK_GRAFT_PLANS_DIR", "r18"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    for name in names:
        try:
            df = _REGISTRY[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # pragma: no cover - capture tool only
            text = f"ERROR building/explaining {name}: {exc!r}\n"
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"{name}: {len(text)} bytes -> {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
