"""Identity and commit rules of the per-dataset scratch trees
(scratch.py).

Every materialize-once face trusts the scratch tree keyed here; these
pins are what make "one dataset -> one scratch tree, two datasets ->
two" a tested contract instead of a docstring claim.
"""

from __future__ import annotations

import os

import pytest

from github_event_etl_spark.scratch import (
    dataset_tag,
    materialize_once,
    scratch_dir,
)


def test_symlink_and_target_share_one_scratch_tree(tmp_path):
    real = tmp_path / "dataset"
    real.mkdir()
    link = tmp_path / "alias"
    os.symlink(real, link)
    assert dataset_tag(str(link)) == dataset_tag(str(real))
    assert scratch_dir(str(link), "x") == scratch_dir(str(real), "x")


def test_trailing_slash_and_dot_segments_are_identity_neutral(tmp_path):
    d = tmp_path / "ds"
    d.mkdir()
    p = str(d)
    assert scratch_dir(p, "x") == scratch_dir(p + "/", "x")
    assert scratch_dir(p, "x") == scratch_dir(
        str(tmp_path / "." / "ds"), "x"
    )


def test_same_basename_different_dirs_get_distinct_trees(tmp_path):
    a = tmp_path / "a" / "sf0.01"
    b = tmp_path / "b" / "sf0.01"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    ta, tb = scratch_dir(str(a), "x"), scratch_dir(str(b), "x")
    assert ta != tb
    # both stay readable: basename survives in the directory name
    assert "sf0.01-" in ta and "sf0.01-" in tb


def test_root_resolving_path_keeps_readable_component():
    """A dataset path that realpath-resolves to '/' has no basename;
    the component must fall back to 'root-<tag>' rather than silently
    degrading to a bare '-<tag>'."""
    d = scratch_dir("/")
    component = os.path.basename(d)
    assert component.startswith("root-")
    assert component == f"root-{dataset_tag('/')}"


def test_parts_compose_under_the_dataset_root(tmp_path):
    d = tmp_path / "ds"
    d.mkdir()
    root = scratch_dir(str(d))
    nested = scratch_dir(str(d), "layer", "leaf")
    assert nested.startswith(root + os.sep)
    assert nested.endswith(os.path.join("layer", "leaf"))


def test_materialize_once_commits_by_spec(tmp_path):
    """The one commit rule: the same spec serves the tree untouched, a
    changed spec rewrites it, and a write that raises leaves no
    `_spec.json` behind, so the next call writes again."""
    path = str(tmp_path / "tree")
    calls = []

    def write(p):
        calls.append(p)
        os.makedirs(p, exist_ok=True)
        with open(os.path.join(p, "part-0.json"), "w") as f:
            f.write(str(len(calls)))

    def mtimes():
        return {f: os.stat(os.path.join(path, f)).st_mtime_ns
                for f in os.listdir(path)}

    spec = {"geometry": [4, 3], "oracle": "SELECT 1", "schema": "x:int"}
    assert materialize_once(path, spec, write) is True
    assert calls == [path]
    first = mtimes()
    assert set(first) == {"part-0.json", "_spec.json"}
    # same spec (tuple and list are one JSON value): no write, no touch
    same = {**spec, "geometry": (4, 3)}
    assert materialize_once(path, same, write) is False
    assert len(calls) == 1 and mtimes() == first
    # changed spec: rewritten and recommitted
    assert materialize_once(path, {**spec, "oracle": "SELECT 2"}, write)
    assert len(calls) == 2
    assert materialize_once(path, {**spec, "oracle": "SELECT 2"}, write) is False

    def boom(p):
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        materialize_once(path, spec, boom)
    assert not os.path.exists(os.path.join(path, "_spec.json"))
    assert materialize_once(path, {**spec, "oracle": "SELECT 2"}, write)
    assert len(calls) == 3
