#!/usr/bin/env python
"""Dump the physical plan of any declared catalog key, slot-less indexed
twin or pipeline (`catalog.resolve`) — the plan-audit companion to
tools/driver_sim.py.

    python tools/explain_key.py <key> [sf_dir] [mode]

mode: formatted (default) | simple | extended | codegen | cost.
Prints the plan and a one-line summary of the scale-posture markers the
repo's plan gates assert (cartesian/nested-loop nodes, pushed filters,
TakeOrdered, Arrow vs pickled Python, whole-stage codegen spans) so a
reviewer can audit any key without writing a script. Streaming-replay
keys execute their bounded run first (their returned frame is the
materialized sink) — the printed plan is the post-run batch read, so
audit those via their pytest plan gates instead.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        from github_event_etl_spark.plans.catalog import all_specs

        for name, spec in all_specs().items():
            print(f"  {name:36s} {','.join(spec.tags)}")
        return 1
    key = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    mode = sys.argv[3] if len(sys.argv) > 3 else "formatted"

    from github_event_etl_spark.plans.catalog import resolve
    from github_event_etl_spark.session import get_spark

    spark = get_spark("explain-key")
    spark.sparkContext.setLogLevel("ERROR")

    df = resolve(key)(spark, sf_dir)

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    plan = buf.getvalue()
    print(plan)

    markers = {
        "CartesianProduct": "CartesianProduct" in plan,
        "BroadcastNestedLoopJoin": "BroadcastNestedLoopJoin" in plan,
        "BatchEvalPython (pickled row UDF)": "BatchEvalPython" in plan,
        "ArrowEvalPython/MapInPandas": (
            "ArrowEvalPython" in plan or "MapInPandas" in plan
        ),
        "TakeOrderedAndProject": "TakeOrderedAndProject" in plan,
        "PushedFilters": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        # AQE hides codegen subtrees at explain time (stages fuse as
        # they execute) — False here under AQE is an explain artifact,
        # not a codegen regression; use mode=codegen with AQE off for
        # the real answer (see test_whole_stage_codegen_covers_agg_
        # pipeline).
        "whole-stage codegen (AQE hides; see note)": "codegen id" in plan,
        "Exchange count": plan.count("Exchange "),
    }
    print("--- scale-posture markers ---")
    for name, val in markers.items():
        print(f"  {name}: {val}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
