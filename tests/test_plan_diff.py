"""Unit test for tools/plan_diff.py, the parent-vs-change plan
comparison of two `tools/dump_plans.py` output dirs."""

from __future__ import annotations

import os
import subprocess
import sys

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "plan_diff.py",
)

_PLAN = (
    "(1) Scan parquet \n"
    "Output [2]: [doc_id#{e}L, text#{f}]\n"
    "Location: InMemoryFileIndex [file:{tmp}/geetl_spark/sf0.1-x/idx]\n"
    "(2) Exchange\n"
    "Arguments: hashpartitioning(doc_id#{e}L, 32), [plan_id={p}]\n"
    "Arguments: [u#{e}L], MapPartitionsRDD[{r}] at localCheckpoint\n"
)


def test_masks_run_ids_and_scratch_paths_only(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    plan_a = _PLAN.format(e=12, f=13, p=4, r=147, tmp="/tmp/pd_parent")
    plan_b = _PLAN.format(e=912, f=913, p=40, r=249, tmp="/tmp")
    (a / "llm_dedup_clusters_parent.txt").write_text(plan_a)
    (b / "llm_dedup_clusters_change.txt").write_text(plan_b)
    (a / "dedup_e2e_parent.txt").write_text(plan_a)
    (b / "dedup_e2e_change.txt").write_text(
        plan_b.replace("hashpartitioning", "rangepartitioning")
    )
    (a / "join_broadcast_parent.txt").write_text(plan_a)
    # scratch roots outside /tmp, wherever each checkout's TMPDIR points
    (a / "llm_ivf_apply_diff_parent.txt").write_text(
        _PLAN.format(e=1, f=2, p=3, r=4, tmp="/srv/pd_parent")
    )
    (b / "llm_ivf_apply_diff_change.txt").write_text(
        _PLAN.format(e=5, f=6, p=7, r=8, tmp="/home/u/tmp_change")
    )

    out = subprocess.run(
        [sys.executable, _TOOL, str(a), str(b)],
        capture_output=True,
        text=True,
    )
    assert out.returncode == 1
    assert out.stdout.splitlines() == [
        "diff dedup_e2e",
        f"only {a} join_broadcast",
        "same 2 diff 2",
    ]
