#!/usr/bin/env python
"""Dump `.explain("formatted")` for a list of keys into
plans/<tag>/<key>_<suffix>.txt — before/after plan evidence.

    python tools/dump_plans.py <tag> <suffix> <key> [key ...]

Uses one `session.get_spark` session for all keys. A key is any name `catalog.resolve`
knows: a catalog key, a slot-less indexed twin, or a pipeline.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    tag, suffix = sys.argv[1], sys.argv[2]
    keys = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from github_event_etl_spark.plans.catalog import resolve
    from github_event_etl_spark.session import get_spark

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    for key in keys:
        df = resolve(key)(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            jvm_mode.fromString("formatted")
        )
        n_exchange = len(re.findall(r"\bExchange\b", plan))
        summary = (
            f"== plan summary ==\n"
            f"Exchange: {n_exchange}  "
            f"ReusedExchange: {plan.count('ReusedExchange')}  "
            f"BroadcastExchange: {plan.count('BroadcastExchange')}  "
            f"ArrowEvalPython: {plan.count('ArrowEvalPython')}  "
            f"BatchEvalPython: {plan.count('BatchEvalPython')}  "
            f"Scans: {plan.count('Scan parquet')}  "
            f"Window: {len(re.findall(r'[(] Window', plan)) or plan.count(' Window')}  "
            f"SMJ: {plan.count('SortMergeJoin')}  "
            f"BHJ: {plan.count('BroadcastHashJoin')}\n\n"
        )
        path = os.path.join(outdir, f"{key}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(summary + plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
