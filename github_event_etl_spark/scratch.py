"""Per-dataset scratch paths and the one commit rule for the trees
materialized under them.

Every ensure_*/replay face and indexed-fixture key materializes derived
files ONCE and trusts them on later calls. Two rules make that safe:

- **Identity.** `scratch_dir` keys by the sf_dir's BASENAME
  (human-readable in `ls`) plus a short hash of its canonical REALPATH —
  two datasets that share a basename (e.g. `/a/sf0.01` and `/b/sf0.01`)
  get distinct scratch trees instead of silently serving each other's
  materialized content. `_GAPFILL_CACHE` (plans/queries_relational.py)
  keys realpath for the same reason; this is the on-disk analog.
- **Commit.** `materialize_once` is the only gate: a tree is committed
  exactly when its `_spec.json` equals the caller's spec, a JSON dict of
  every constant the content depends on (geometry, derivation
  constants, the fixture's oracle SQL, the input schema). The spec is
  written LAST through the same fsynced atomic JSON commit the index
  manifests use, so an interrupted write, a stale tree from an older
  derivation and a tree with no spec at all are all rewritten rather
  than served. Spark's file readers skip underscore-prefixed names, so
  the spec never reaches a scan.

Shared caveat, inherited by every caller: the cache is keyed by path
plus spec, not by the data. Regenerated files under an unchanged
sf_dir still serve the old tree for as long as the scratch files
exist — use a distinct directory per dataset (the TESTDATA sf-dir
contract) or clear the scratch tree.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from typing import Callable

from .operators.index_maintenance import _atomic_write_json


def _tag_of(real: str) -> str:
    """Tag for an ALREADY-resolved realpath (lets scratch_dir resolve
    once for both components)."""
    return hashlib.sha1(real.encode("utf-8")).hexdigest()[:8]


def dataset_tag(sf_dir: str) -> str:
    """Stable 8-hex-char identity tag for a dataset directory, derived
    from its canonical realpath (symlinks resolved). Fold this into any
    name that must be unique per dataset — scratch paths below, and
    catalog TABLE names (which live in a global namespace and would
    otherwise collide across same-basename sf_dirs)."""
    return _tag_of(os.path.realpath(sf_dir))


def scratch_dir(sf_dir: str, *parts: str) -> str:
    """Scratch path `<tmp>/geetl_spark/<basename>-<tag>/<parts...>` for
    dataset `sf_dir`. BOTH components derive from the resolved
    realpath — basename included — so a symlink and its target (two
    spellings of one dataset) share one scratch tree instead of
    materializing every layout twice. Does not create the directory —
    parquet/json writers do; callers creating bare files mkdir
    themselves."""
    real = os.path.realpath(sf_dir)
    # A dataset path that resolves to '/' has no basename; fall back to
    # 'root' so the component stays `<something>-<tag>` readable rather
    # than a bare '-<tag>'.
    base = os.path.basename(real.rstrip("/")) or "root"
    return os.path.join(
        tempfile.gettempdir(),
        "geetl_spark",
        f"{base}-{_tag_of(real)}",
        *parts,
    )


def materialize_once(
    path: str, spec: dict, write: Callable[[str], None]
) -> bool:
    """Make the tree at `path` hold the content `spec` describes and
    return whether this call wrote it. The tree is committed only when
    `<path>/_spec.json` equals `spec`; otherwise the stale tree is
    deleted first (so a `write` that fails leaves the tree uncommitted,
    and a tree of another shape leaves no file behind), `write(path)`
    writes it afresh, and `spec` is committed last through
    `index_maintenance._atomic_write_json`."""
    spec_path = os.path.join(path, "_spec.json")
    try:
        with open(spec_path) as f:
            # compare in JSON form, so a tuple in `spec` matches the
            # list it was committed as
            if json.load(f) == json.loads(json.dumps(spec)):
                return False
    except (OSError, ValueError):
        pass
    shutil.rmtree(path, ignore_errors=True)
    write(path)
    _atomic_write_json(spec_path, spec)
    return True
