#!/usr/bin/env python
"""Compare two `tools/dump_plans.py` output dirs, ignoring what differs
between any two runs of the same plan.

    python tools/plan_diff.py <dirA> <dirB>

Files pair up by key: `<key>_<suffix>.txt`, with each dir's suffix
stripped (one suffix per dir, without an underscore).
Before comparing, each plan masks:

- expression ids (`doc_id#123L` -> `doc_id#N`);
- plan ids (`[plan_id=45]`) and RDD ids (`MapPartitionsRDD[67]`);
- every scratch path up to and including its `geetl_spark/` root
  (`file:/x/y/geetl_spark/sf0.1-ab12cd34/minhash_index` ->
  `<tmp>/sf0.1-ab12cd34/minhash_index`), so two checkouts run each
  under its own `TMPDIR`, wherever it points, compare equal while the
  dataset and the tree a plan reads still show.

Prints one `diff <key>` line per differing key, one `only <dir> <key>`
line per unpaired key, then `same N diff M`. Exit status 1 when any key
differs or is unpaired.
"""

from __future__ import annotations

import os
import re
import sys

_MASKS = (
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"\bplan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"(?:file:)?[^\s,\[\]\(\){}]*/geetl_spark/"), "<tmp>/"),
)


def mask(plan: str) -> str:
    for pattern, repl in _MASKS:
        plan = pattern.sub(repl, plan)
    return plan


def _plans(root: str) -> dict[str, str]:
    names = sorted(n for n in os.listdir(root) if n.endswith(".txt"))
    suffixes = {n[:-4].rsplit("_", 1)[-1] for n in names}
    if len(suffixes) > 1:
        raise SystemExit(f"{root}: more than one suffix {sorted(suffixes)}")
    out = {}
    for n in names:
        with open(os.path.join(root, n)) as fh:
            out[n[:-4].rsplit("_", 1)[0]] = mask(fh.read())
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print("usage: python tools/plan_diff.py <dirA> <dirB>", file=sys.stderr)
        return 2
    a, b = _plans(argv[1]), _plans(argv[2])
    same = diff = 0
    for key in sorted(a.keys() | b.keys()):
        if key not in b or key not in a:
            print(f"only {argv[1] if key in a else argv[2]} {key}")
            diff += 1
        elif a[key] == b[key]:
            same += 1
        else:
            print(f"diff {key}")
            diff += 1
    print(f"same {same} diff {diff}")
    return 1 if diff else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
