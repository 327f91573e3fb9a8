"""Index maintenance — apply a corpus snapshot diff to a materialized
index without rebuilding it.

The reference maintains its stored daily summary incrementally: new
hourly keys are merged into the existing summary rather than
recomputing it from all events (update-contributor-scores.js:252-263,
with the hour-exists idempotency check at :195-204). This module is
the same pattern one level down the refresh stack, for four index
families: the MinHash and RHP band indexes
(`text_dedup.minhash_write_index` / `similarity.rhp_write_index`, the
(doc_id, band, bucket) schema, band-partitioned), the IVF assignment
lists (`similarity.ivf_write_index`, (key, embedding, centroid_id)
against a frozen coarse quantizer) and the IVF-PQ packed-code serving
lists (`similarity.ivf_pq_write_index`, (nid, centroid_id, pq_code)
against a frozen quantizer and codebook). Each is a per-key
independent derivation, so a change log re-derives only the changed
keys. At 100 TB that is the difference between an O(corpus) banding
or encoding pass per refresh and O(changes) work: the derivation is
the dominant index CPU, and a daily crawl typically touches well
under 1% of the corpus.

Every index describes itself: its manifest records how it was derived
(`kind`, the source columns, the derivation parameters), so each entry
point rebuilds the derivation from there (`_derivation`) and no caller
restates it. A refresh is one GENERATION (`_generation`): a
change-sized tombstone set (every diff key) and change-sized appends
(the derivation over ONLY the upserted docs, broadcast-semi-filtered
before the derivation sees a row). `write_index_delta` commits it
under `<index>/_delta/`, and every reader folds the committed
generations over the base with one step (`_fold_generations`: a
broadcast anti-join + a union per generation); `apply_index_diff`
folds the same generation without writing it, so the catalog's value
oracles check the very code the refresh loop runs. The base partitions
are never rewritten — the bytes written per refresh are change-sized.
This is the engine shape lakehouse formats (delete vectors + appended
files, periodic compaction) execute underneath.
`refresh_index_from_change_stream` is the one continuous loop over it,
for every family. Single-writer per index is the standing contract
(the same as the scratch materialize-once layouts), and a violation is
DETECTED (best-effort): every commit re-validates the manifest's FULL
commit identity (`_manifest_drift`: base, generation list, the
counters, the monotone `commit_seq` that makes even a
commit-then-compaction ABA interleave visible, and the `build_id` that
makes a builder rebuild visible) and aborts instead of silently losing
a concurrent generation. The revalidate-then-replace is not a CAS, so
a commit landing inside that window can still be lost — the
single-writer contract is the guarantee; detection is the tripwire for
violating it.

Commit protocol — ONE atomic manifest write, the object-storage
shape: `<index>/_manifest.json` names the committed base tree and the
committed generation list. Data trees (base rewrites, generation
tombstones/appends) are staged wherever they land and become visible
ONLY when a new manifest referencing them replaces the old one
(same-directory `os.replace` locally; on an object store the manifest
PUT is the atomic op — no rename of data, no directory listing on the
read path decides commit state). This is the manifest-commit pattern
the ndjson sink's commit established (sources/pysource.py
`_NdjsonStreamWriter.commit` / `manifested_part_paths`): readers list parts
FROM the manifest, never by directory walk, and unreferenced trees
are garbage a later writer sweeps (manifest-anchored GC). Every
layout is born committed: the four builders write their base by one
rule (`_write_base`, which keeps an empty base readable) and the empty
manifest as their last step (`_commit_base`). The manifest is the only
commit state — a path without one is no committed index, whatever
parquet `_SUCCESS` markers it holds. A manifest of an older format lacks the
derivation and is refused, naming the builder that rebuilds it. Every
metadata commit here and in the sidecars beside it goes through one
durable JSON write (`_atomic_write_json`).

Read-path cost note: each generation adds one broadcast anti-join +
one union to the read plan, so generations should be compacted
periodically — `compact_index` folds every committed generation into
a fresh base tree under `<index>/_base/v<N>/` and flips the manifest
at it (the classic log-structured trade; `maybe_compact` is the
policy hook that decides WHEN from observed `index_stats`). A crash
anywhere leaves either the old manifest (old state fully readable,
staged work is unreferenced garbage) or the new one (new state fully
readable, superseded trees are garbage) — there is no vacant window
at all, which the marker-era two-rename swap could not promise.

Beyond commit/compaction, two IVF-family health loops live here:
quantizer DRIFT — `write_index_delta` logs each IVF-PQ generation's
PQ reconstruction error against the frozen codebook to the layout's
`_drift.json`, in batch and streamed refreshes alike, and
`maybe_retrain` compares the current corpus against the sidecar's
training baseline and triggers the probe-compatible re-derive rebuild
(`maybe_compact`'s analog one level up the model stack) — and list
SKEW — `ivf_list_stats` measures the per-centroid size distribution
probes actually read; the response to a hot list is the same
`maybe_retrain` re-derive (more centroids where the mass is).
`ivf_pq_drift_stats` / `ivf_pq_index_stats` are the monitoring reads
tying these policies to one observation call.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Diff verdicts whose docs need freshly derived rows —
# `merge.snapshot_diff`'s change_type vocabulary.
_UPSERT_TYPES = ("added", "changed")


def apply_index_diff(
    index_path: str, diff: DataFrame, cur_docs: DataFrame
) -> DataFrame:
    """The index `read_index(index_path)` would return after
    `write_index_delta(index_path, diff, cur_docs)`, without writing
    anything: the committed state with the same generation
    (`_generation`) folded over it by the same step
    (`_fold_generations`). Same arguments as `write_index_delta`:
    `diff` is the `merge.snapshot_diff` of the corpus the index was
    built from, in the builder's source columns, and `cur_docs` the
    current snapshot; the derivation comes from the manifest. Equals a
    fresh build over `cur_docs` (pinned per family in pytest, and by
    the catalog keys' oracles, which recompute the current snapshot's
    index from scratch). A centroid column that partition discovery
    read narrower than the derivation writes it comes back widened by
    the union; the rows are the same.

    Scale shape: the change set is broadcast to BOTH sides — a
    broadcast LEFT ANTI join drops every diff key's rows from the index
    scan (no shuffle of the corpus-sized index), and a broadcast LEFT
    SEMI join narrows `cur_docs` to the upserted docs BEFORE the
    derivation runs, so the Arrow pass — the cost this operator exists
    to avoid — is change-sized, never corpus-sized. Pass `diff`
    MATERIALIZED (the published change-log table in production;
    `localCheckpoint` of an inline `snapshot_diff` in the catalog keys
    — it is change-sized, so materializing is trivially cheap): the
    change set feeds two consumers, which would each recompute an
    unmaterialized diff plan. Plan-gated: broadcast joins only, one
    ArrowEvalPython stage, no cartesian product, no sort-merge join.
    """
    op = "apply_index_diff"
    m = _require_manifest(index_path, op)
    tombstones, _, appends = _generation(index_path, m, diff, cur_docs, op)
    return _fold_generations(
        _read_base(cur_docs.sparkSession, index_path, m), index_path, m,
        (tombstones, appends),
    )


def _generation(
    index_path: str, m: dict, diff: DataFrame, cur_docs: DataFrame, op: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One refresh generation of the index manifest `m` describes —
    what `write_index_delta` commits and `apply_index_diff` folds — as
    (tombstones, upserts, appends). Tombstones: EVERY diff key,
    renamed from the source `id_col` to the index `key` (why every
    key, not only removed/changed: `write_index_delta`'s docstring).
    Upserts: `cur_docs` broadcast-semi-filtered to the diff's
    added/changed keys — the guard that keeps the derivation CPU
    change-sized. Appends: the manifest's derivation over the upserts.
    A derivation that cannot be rebuilt fails under `op` before
    anything is written."""
    id_col = m["id_col"]
    changed = diff.filter(F.col("change_type").isin(*_UPSERT_TYPES))
    upserts = cur_docs.join(
        F.broadcast(changed.select(id_col)), id_col, "left_semi"
    )
    return (
        diff.select(F.col(id_col).alias(m["key"])),
        upserts,
        _derivation(index_path, m, op)(upserts),
    )


_MANIFEST = "_manifest.json"


def _manifest_file(index_path: str) -> str:
    # Underscore-prefixed so a base living at the index root stays
    # readable by `spark.read.parquet(index_path)` (the default
    # hidden-path filter skips it, same as _SUCCESS).
    return os.path.join(index_path, _MANIFEST)


def _delta_root(index_path: str) -> str:
    return os.path.join(index_path, "_delta")


def _atomic_write_json(path: str, obj) -> None:
    """THE metadata commit op: `obj` replaces the JSON file at `path`
    in one atomic write — the index manifest, the IVF-PQ `_params.json`
    / `_drift.json` sidecars and the ndjson sink's batch manifests all
    commit through here. Locally that is a same-directory `os.replace`
    (a reader never observes a torn file); on an object store it is a
    single PUT."""
    import json

    tmp = path + ".inprogress"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        # fsync BEFORE the rename: on journaled filesystems with
        # delayed allocation the rename metadata can commit ahead of
        # the data blocks, and a power cut in that window would leave
        # a present-but-empty file — bricking every reader, which is
        # worse than the crash losing the uncommitted write.
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    try:
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)  # persist the rename itself (best-effort)
        finally:
            os.close(dfd)
    except OSError:
        pass


#: Format 3 records how the index was derived: its `kind`, the
#: builder's source columns and the derivation's parameters.
_MANIFEST_FORMAT = 3

#: The builder that commits each index kind.
_BUILDERS = {
    "minhash": "minhash_write_index",
    "rhp": "rhp_write_index",
    "ivf": "ivf_write_index",
    "ivf_pq": "ivf_pq_write_index",
}


def _commit_base(index_path: str, layout: dict) -> None:
    """The builders' shared last step: commit the freshly written base
    at the index root as an index with no generations. `layout` is
    what the builder knows and no maintenance entry point asks for
    again: the `kind`, the index `key` and `partition_col`, the source
    `id_col` and `payload_col` the rows were derived from, and the
    `derivation` parameters `_derivation` rebuilds the function from.
    Until this lands the path is no committed index, so a build that
    dies mid-write is never read or maintained. The random `build_id`
    tells two builds of the same path apart (`_IDENTITY_FIELDS`)."""
    import uuid

    _atomic_write_json(
        _manifest_file(index_path),
        {"format": _MANIFEST_FORMAT, **layout, "base": ".",
         "generations": [], "next_gen": 1, "next_base": 1,
         "commit_seq": 0, "build_id": uuid.uuid4().hex},
    )


def _write_base(
    rows: DataFrame, path: str, partition_col: str, mode: str = "overwrite"
) -> None:
    """The one rule every index base is written by — the four builders
    and compaction: partitioned by `partition_col`, except that an
    EMPTY frame writes one unpartitioned zero-row parquet file. A
    partitioned write of zero rows emits no data file at all, and a
    base without one is schema-less, so `read_index` and
    `write_index_delta` could never read it; the zero-row file's
    footer carries the full schema (the partition column as an
    ordinary column), keeping an empty index readable and
    maintainable."""
    if rows.isEmpty():
        rows.write.mode(mode).parquet(path)
    else:
        rows.write.mode(mode).partitionBy(partition_col).parquet(path)


def _build_index(corpus: DataFrame, path: str, layout: dict) -> None:
    """Build a one-table index (the MinHash and RHP band indexes):
    every corpus row through `_derivation` — the same function each
    later generation's appends come from — written by `_write_base`,
    then committed."""
    derive = _derivation(path, layout, "build")
    _write_base(derive(corpus), path, layout["partition_col"])
    _commit_base(path, layout)


def _read_manifest(index_path: str) -> dict | None:
    """The index's commit state, or None when no manifest has been
    committed (a bare, half-written or builder-interrupted directory
    is NOT an index; maintenance against it would fabricate an
    unreadable tree)."""
    import json

    path = _manifest_file(index_path)
    if not os.path.exists(path):
        return None
    try:
        with open(path) as f:
            return json.load(f)
    except ValueError as e:
        raise ValueError(
            f"corrupt index manifest at {path}: {e}. The atomic "
            "fsync+rename write makes this unreachable through the "
            "API; a truncated file means out-of-band damage — restore "
            "the manifest or rebuild the index with its builder"
        ) from e


def _builder_of(m: dict) -> str:
    """The builder that rebuilds `m`'s index. Manifests older than
    format 3 record no kind; their partition column and key narrow
    it down."""
    if m.get("kind") in _BUILDERS:
        return _BUILDERS[m["kind"]]
    if m.get("partition_col") == "band":
        return "minhash_write_index or rhp_write_index"
    if m.get("partition_col") == "centroid_id":
        return _BUILDERS["ivf_pq" if m.get("key") == "nid" else "ivf"]
    return ", ".join(_BUILDERS.values())


def _require_manifest(index_path: str, op: str) -> dict:
    """`_read_manifest` for the entry points that need an index: a
    missing manifest, or one of an older format that does not record
    the derivation, fails loudly under the caller's name `op`."""
    m = _read_manifest(index_path)
    if m is None:
        raise FileNotFoundError(
            f"{op}: no committed index at {index_path} (no {_MANIFEST})"
            " — an index is committed only by its builder ("
            f"{', '.join(_BUILDERS.values())}), which writes the "
            "manifest as its last step; (re)build the index with it"
        )
    if m.get("format") != _MANIFEST_FORMAT:
        raise FileNotFoundError(
            f"{op}: no committed format-{_MANIFEST_FORMAT} index at "
            f"{index_path}: its {_MANIFEST} is format {m.get('format')}"
            ", which does not record how the index was derived — "
            f"rebuild it with {_builder_of(m)}"
        )
    return m


def _artifact(index_path: str, rel: str) -> str:
    """A path the manifest records relative to the index root."""
    return os.path.normpath(os.path.join(index_path, rel))


def _pq_layout(index_path: str, m: dict, op: str) -> tuple[str, dict]:
    """An IVF-PQ lists index's layout root (the directory holding its
    `_params.json`, centroids and codebook) and that sidecar's
    geometry. A missing sidecar fails under `op`."""
    from .similarity import _read_ivf_pq_params

    layout = os.path.dirname(_artifact(index_path, m["derivation"]["params"]))
    return layout, _read_ivf_pq_params(layout, op)


def _derivation(
    index_path: str, m: dict, op: str
) -> Callable[[DataFrame], DataFrame]:
    """The index's derivation, rebuilt from its manifest `m`: a function
    from a docs frame carrying the builder's source columns (`id_col`,
    `payload_col`) to index rows keyed by `key`. The band builders
    write through this very function (`_build_index`); the centroid
    builders derive their quantizer first and assign/encode through
    the same heads it wraps against their frozen tables (`ivf_assign_
    with_centroids`, `ivf_pq_encode_fn`) — so appended rows are
    bit-identical to what a rebuild would write for the same docs.
    An IVF-PQ layout without its `_params.json` fails here, under
    `op`, before anything is written."""
    kind, d = m["kind"], m["derivation"]
    id_col, payload = m["id_col"], m["payload_col"]
    if kind == "minhash":
        from .text_dedup import _band_keys, minhash_band_buckets_vec

        bands = minhash_band_buckets_vec(
            d["num_bands"], d["rows_per_band"], d["k"]
        )
        return lambda docs: _band_keys(docs, bands, id_col, payload)
    if kind == "rhp":
        from .similarity import _rhp_band_keys, rhp_signatures

        sigs = rhp_signatures(d["dim"], d["num_tables"], d["planes_per_table"])
        return lambda docs: _rhp_band_keys(docs, sigs, id_col, payload)
    from .similarity import ivf_assign_with_centroids, ivf_pq_encode_fn

    if kind == "ivf":
        return lambda docs: ivf_assign_with_centroids(
            docs,
            docs.sparkSession.read.parquet(
                _artifact(index_path, d["centroids"])
            ),
            id_col, payload,
        )
    layout, params = _pq_layout(index_path, m, op)
    return lambda docs: ivf_pq_encode_fn(
        docs.sparkSession.read.parquet(os.path.join(layout, "centroids")),
        docs.sparkSession.read.parquet(os.path.join(layout, "codebook")),
        params["num_subspaces"], params["num_codewords"], params["dim"],
        payload,
    )(docs.select(F.col(id_col).alias("nid"), payload))


def _require_derivation(
    index_path: str, kind: str, derivation: dict, op: str
) -> None:
    """Refuse to classify against an index derived otherwise than the
    caller derives its batch: the batch's buckets could never meet the
    corpus's, and every corpus duplicate would silently read 'new'.
    The ValueError names each field that differs."""
    m = _require_manifest(index_path, op)
    got = {"kind": m["kind"], **m["derivation"]}
    differ = [
        f"{f}={got.get(f)!r} (this call: {v!r})"
        for f, v in {"kind": kind, **derivation}.items()
        if got.get(f) != v
    ]
    if differ:
        raise ValueError(
            f"{op}: the index at {index_path} was built with "
            f"{', '.join(differ)} — its buckets cannot meet this "
            "batch's, so corpus duplicates would read 'new'. Classify "
            "with the index's parameters, or rebuild it with "
            f"{_BUILDERS[kind]}"
        )


def _read_base(spark: SparkSession, index_path: str, m: dict) -> DataFrame:
    rel = m["base"]
    return spark.read.parquet(
        index_path if rel == "." else os.path.join(index_path, rel)
    )


def _gc(index_path: str) -> None:
    """Manifest-anchored garbage collection: sweep every tree the
    manifest does not reference — superseded bases after a compaction
    flip, staged generations/bases a dead writer abandoned, torn
    `.inprogress` manifests. Reads the manifest FRESH itself (never a
    caller-held snapshot: a generation committed after the caller's
    read must not be swept as "unreferenced"), and additionally spares
    the `gen={next_gen}` slot — the one directory a live writer could
    be staging into right now — so the sweep cannot destroy in-flight
    work even mid-race; that slot's residue, if it IS dead, is cleared
    by the next writer's own retry path. Everything else swept here
    was never part of the committed index."""
    import shutil

    manifest = _read_manifest(index_path)
    if manifest is None:
        return
    keep_roots = {_MANIFEST, "_delta", "_base"}
    tmp = _manifest_file(index_path) + ".inprogress"
    if os.path.exists(tmp):
        os.remove(tmp)
    if manifest["base"] != ".":
        # the base moved off the root: any remaining root entry is the
        # old "." base's data (parquet parts, _SUCCESS, .crc files)
        for name in os.listdir(index_path):
            if name in keep_roots:
                continue
            p = os.path.join(index_path, name)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    bdir = os.path.join(index_path, "_base")
    if os.path.isdir(bdir):
        for name in os.listdir(bdir):
            if os.path.join("_base", name) != manifest["base"]:
                shutil.rmtree(os.path.join(bdir, name))
    spare = {
        os.path.join("_delta", rel_or_slot)
        for rel_or_slot in (f"gen={manifest['next_gen']}",)
    } | set(manifest["generations"])
    droot = _delta_root(index_path)
    if os.path.isdir(droot):
        for name in os.listdir(droot):
            if os.path.join("_delta", name) not in spare:
                shutil.rmtree(os.path.join(droot, name))
        if not os.listdir(droot):
            os.rmdir(droot)


def write_index_delta(
    index_path: str,
    diff: DataFrame,
    cur_docs: DataFrame,
) -> int:
    """Append one maintenance generation to a builder-committed index:
    `<index>/_delta/gen=N/tombstones` (every diff key, under the
    manifest's `key`) and `.../gen=N/appends` (the rows the manifest's
    derivation yields for the upserted docs, with the base's columns,
    partitioned by the manifest's `partition_col` like the base — so a
    probe prunes them too). Returns N. `diff` and `cur_docs` carry the
    builder's source columns — the `merge.snapshot_diff` of the corpus
    the index was built from, keyed by its `id_col`, and the current
    snapshot — whatever the index family; the writer renames the id to
    the index key on the way in, and no caller restates the derivation
    (`_derivation` rebuilds it from the manifest). The base partitions
    are untouched — bytes written are change-sized. The generation
    becomes visible to `read_index` only when the COMMIT — one atomic
    manifest write naming it — lands after both data trees are fully
    staged, so an interrupted write is ignored, never half-applied.
    Before committing, the manifest is re-read: if another writer took
    this generation slot meanwhile, the staged trees are deleted and
    the call fails loudly — the single-writer contract is enforced,
    not just documented.

    Both trees are the one `_generation` that `apply_index_diff` folds
    without writing. Tombstones are written for EVERY diff key —
    changed docs (their appends carry the re-derived rows), removed
    docs, and added docs too. For an added key the tombstone is a no-op on first delivery
    (nothing to drop yet), but it is what makes re-applying the SAME
    diff idempotent: an at-least-once redelivery (foreachBatch's
    contract in `refresh_index_from_change_stream`) appends a twin
    generation whose tombstones drop its predecessor's rows before
    re-appending identical ones — tombstoning only removed/changed
    would let a redelivered 'added' key's rows duplicate. A reader
    folds each generation as one anti-join + one union with no per-row
    reconciliation. Pass `diff` materialized: the two component writes
    are separate jobs, each of which would otherwise recompute an
    unmaterialized diff plan.

    An IVF-PQ generation then appends its drift record (the re-encoded
    vectors' reconstruction error against the frozen codebook; n=0 for
    an all-removed generation) to the layout's `_drift.json` — after
    the commit, so an aborted write logs nothing, and a crash between
    the two leaves a generation whose drift is unmeasured, never one
    that reads as an empty refresh.
    """
    import shutil

    op = "write_index_delta"
    m = _require_manifest(index_path, op)
    spark, n = cur_docs.sparkSession, m["next_gen"]
    tombstones, upserts, appends = _generation(
        index_path, m, diff, cur_docs, op
    )
    gen_rel = os.path.join("_delta", f"gen={n}")
    base = os.path.join(index_path, gen_rel)
    # retry safety: a writer that died mid-generation left gen=N
    # staged but unreferenced (readers already ignore it); the retry
    # recomputes the SAME N and must not trip over the residue — clear
    # it and write fresh. Only ever removes an unreferenced dir: a
    # committed gen=N is in the manifest, so next_gen points past it.
    if os.path.isdir(base):
        shutil.rmtree(base)
    appends.write.mode("errorifexists").partitionBy(
        m["partition_col"]
    ).parquet(os.path.join(base, "appends"))
    tombstones.write.mode("errorifexists").parquet(
        os.path.join(base, "tombstones")
    )
    _commit_generation(index_path, m, n, gen_rel, base)
    if m["kind"] == "ivf_pq":
        from .similarity import _qerr_stats

        layout, params = _pq_layout(index_path, m, op)
        codebook = spark.read.parquet(os.path.join(layout, "codebook"))
        _append_drift_entry(layout, {
            "gen": n,
            **_qerr_stats(upserts, codebook, params["num_subspaces"],
                          params["dim"], m["id_col"], m["payload_col"]),
        })
    return n


#: Manifest fields whose ENSEMBLE identifies a commit state. next_gen
#: alone is NOT enough: a compaction resets it to 1, so a stale writer
#: that read next_gen=1, lost the race to a commit AND a compaction,
#: could see next_gen=1 again (the ABA case) — but any commit grows
#: `generations` or bumps `commit_seq`, and any compaction moves `base`
#: and increments the never-reset `next_base`, so comparing the full
#: ensemble cannot alias across intervening commits. A builder rebuild
#: resets all of those, so each build also draws a fresh `build_id`.
_IDENTITY_FIELDS = ("base", "generations", "next_gen", "next_base",
                    "commit_seq", "build_id")


def _manifest_drift(m: dict, cur: dict) -> dict:
    """Identity fields on which two manifest snapshots disagree —
    empty when `cur` is the same commit state `m` was read as. The one
    comparison both commit paths (`_commit_generation`,
    `compact_index`) run, so they cannot drift on what counts as a
    concurrent commit."""
    return {
        k: (m.get(k), cur.get(k))
        for k in _IDENTITY_FIELDS
        if m.get(k) != cur.get(k)
    }


def _commit_generation(
    index_path: str, m: dict, n: int, gen_rel: str, staged_dir: str
) -> None:
    """Commit a fully-staged generation: re-validate that the manifest
    is STILL the exact commit state read at entry — full identity
    (`_manifest_drift`), not next_gen alone, which a commit-then-
    compaction interleave can return to its old value (the ABA case:
    commit_seq is the monotone tiebreaker that can never recur) —
    then atomically publish the manifest naming the generation. A
    manifest that vanished since entry (a builder rebuild overwrote
    the tree) drifts on every field and aborts the same way.
    Best-effort by construction: the revalidate-then-replace is not a
    CAS, so a commit landing INSIDE that window can still be lost —
    single-writer-per-index remains the contract; this check turns
    every violation wider than the window into a loud abort instead of
    silent loss."""
    import shutil

    cur = _read_manifest(index_path) or {}
    drift = _manifest_drift(m, cur)
    if drift:
        shutil.rmtree(staged_dir, ignore_errors=True)
        raise RuntimeError(
            f"write_index_delta: the manifest at {index_path} changed "
            f"between read and commit of gen={n} (drifted fields: "
            f"{drift}) — a concurrent writer committed or a builder "
            "rebuilt the tree; the single-writer-per-index contract "
            "was violated. Staged trees were discarded, the index is "
            "unchanged"
        )
    _atomic_write_json(
        _manifest_file(index_path),
        dict(cur, generations=cur["generations"] + [gen_rel],
             next_gen=n + 1, commit_seq=cur["commit_seq"] + 1),
    )


def ivf_pq_write_index_delta(
    spark: SparkSession,
    index_path: str,
    diff: DataFrame,
    cur_corpus: DataFrame,
) -> int:
    """`write_index_delta` of an IVF-PQ layout's serving lists,
    addressed by the layout root (`similarity.ivf_pq_write_index`'s
    `path`) rather than by `<index_path>/lists`. Added and re-embedded
    vectors are re-assigned and re-encoded against the layout's frozen
    centroid and codebook tables, removed and re-embedded ids are
    tombstoned, and the generation's drift record lands in the layout's
    `_drift.json`. Returns the generation number. `spark` is not used:
    the session is `cur_corpus`'s."""
    return write_index_delta(
        os.path.join(index_path, "lists"), diff, cur_corpus
    )


def read_index(spark: SparkSession, index_path: str) -> DataFrame:
    """The maintained index: base parquet with every committed delta
    generation folded over it in order (anti-join the generation's
    tombstones — broadcast, change-sized — then union its appends).
    Equals a from-scratch `*_write_index` of the current corpus, pinned
    by the end-to-end pytest. Base tree and generation list both come
    FROM the manifest — a data tree on disk that the manifest does not
    name (dead writer's residue, superseded base) is invisible, no
    matter how complete it looks. Explicit schemas on the delta reads:
    an all-added or all-removed generation legitimately writes an EMPTY
    tombstone or append set, which schema inference cannot read back.
    """
    m = _require_manifest(index_path, "read_index")
    return _fold_generations(_read_base(spark, index_path, m), index_path, m)


def _fold_generations(
    base: DataFrame,
    index_path: str,
    m: dict,
    *pending: tuple[DataFrame, DataFrame],
) -> DataFrame:
    """Fold the committed generations of ONE manifest snapshot `m`,
    then any `pending` (tombstones, appends) generation, over its base
    frame by its key: per generation, a broadcast anti-join of the
    tombstones and a union of the appends. The one fold `read_index`,
    `index_stats`, `compact_index` and `apply_index_diff` share.
    Taking the snapshot (not re-reading the manifest) lets index_stats
    report a CONSISTENT state: a commit between two reads would
    otherwise make live_rows disagree with the volumes counted from
    the earlier read."""
    key, spark = m["key"], base.sparkSession
    committed = [
        (
            spark.read.schema(base.select(key).schema).parquet(
                os.path.join(index_path, rel, "tombstones")
            ),
            spark.read.schema(base.schema).parquet(
                os.path.join(index_path, rel, "appends")
            ),
        )
        for rel in m["generations"]
    ]
    df = base
    for tomb, app in committed + list(pending):
        df = df.join(F.broadcast(tomb), key, "left_anti").unionByName(
            app.select(*df.columns)
        )
    return df


def refresh_index_from_change_stream(
    changes_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    reconcile_order_col: str | None = None,
    max_generations: int | None = None,
    max_read_amplification: float | None = None,
) -> None:
    """Continuous index refresh, for every index family: a CDC change
    stream — rows of (id, change_type, payload) in the builder's source
    columns, i.e. `merge.snapshot_diff`'s output joined with the
    upserted docs' payload — applies ONE maintenance generation per
    micro-batch via foreachBatch → `write_index_delta`, so a streamed
    IVF-PQ refresh logs its drift like a batch one. The batch frame
    serves as BOTH the diff and the upsert payload (CDC rows carry the
    new document alongside the verdict), so no corpus-sized side
    exists anywhere in the stream: per micro-batch the work is
    change-sized derivation plus two change-sized writes, the
    streaming end state of the same refresh loop the batch keys pin
    (`llm_index_apply_diff` / `llm_ivf_apply_diff`). The manifest and
    the derivation it records are read once before the stream starts,
    so a path with no committed index (or an IVF-PQ layout missing its
    `_params.json`) fails at the call, before any checkpoint exists —
    also on an empty stream.

    Delivery semantics: foreachBatch is at-least-once — a crash after
    the generation commits but before the checkpoint commit redelivers
    the batch, appending the same change set AGAIN as the next
    generation. That is safe by the fold's semantics: the duplicate
    generation tombstones the rows its twin appended and re-appends
    identical ones, so the folded state is unchanged (pinned in
    pytest); the wasted generation is reclaimed by `compact_index`,
    and an IVF-PQ redelivery's duplicate drift entry is monitoring
    noise, not state. A crash MID-generation leaves an uncommitted dir
    readers ignore and the retry clears (write_index_delta's retry
    path). Bounded (AvailableNow) like the repo's replay harness; a
    deployment swaps the trigger — and must keep the
    one-row-per-key-per-batch contract below, which a coalescing
    trigger can violate.

    PRECONDITION: at most ONE change row per key per micro-batch. A
    batch that coalesces several change-log drops (larger triggers do)
    can carry a key twice — conflicting payloads both derive, and an
    add-then-remove pair leaks a null-payload row through the upsert
    semi-join. Two ways to hold it: publish one RECONCILED diff per
    batch (diff of oldest→newest snapshot, the change-log contract);
    or pass `reconcile_order_col` (a per-key-unique sequence column on
    the log rows) and the batch nets itself through
    `merge.reconcile_change_log` before the generation is written —
    the coalescing-trigger deployment path, where a batch that nets to
    NOTHING (every key added then removed in-window) skips its
    generation entirely. Each path's precondition is checked on every
    batch, with no opt-out (one change-sized aggregate each): without
    an order column a duplicate key fails the batch fast
    (`merge.assert_unique_key`); with one, the raw rows must carry
    non-null, tie-free (key, order) pairs (unguarded, an
    all-null-order key silently VANISHES from the net log).

    Compaction policy: pass `max_generations` and/or
    `max_read_amplification` and `maybe_compact` runs after each
    committed generation, so a long-lived refresh stream bounds its
    own read amplification instead of accreting generations until an
    operator intervenes. Safe inside the loop: foreachBatch serializes
    micro-batches, so the compaction is the same single writer — no
    concurrent-commit abort can fire from this wiring."""
    from .merge import assert_unique_key, reconcile_change_log

    op = "refresh_index_from_change_stream"
    m = _require_manifest(index_path, op)
    # built here only so that a derivation that cannot be rebuilt fails
    # before the stream starts; each generation rebuilds its own
    _derivation(index_path, m, op)
    key = m["id_col"]

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if reconcile_order_col is not None:
            # the guard the reconcile path needs is the RECONCILE
            # precondition on the RAW rows — non-null, tie-free
            # (key, order) pairs — not key uniqueness, which the
            # groupBy makes vacuously true post-net
            payload = [
                c for c in batch_df.columns
                if c not in (key, "change_type", reconcile_order_col)
            ]
            batch_df = reconcile_change_log(
                batch_df, key, reconcile_order_col, payload,
                assert_order=True,
            )
        # two consumers downstream: the tombstone select and the
        # upsert semi-join
        batch_df.persist()
        try:
            if reconcile_order_col is None:
                assert_unique_key(
                    batch_df, key, f"{op} (batch {batch_id})",
                    "a key appearing more than once makes payloads "
                    "conflict; publish one reconciled diff per batch, "
                    "pre-reconcile last-wins, or pass "
                    "reconcile_order_col",
                )
            elif batch_df.isEmpty():
                # a window whose every key was added then removed
                # nets to NOTHING — committing an empty generation
                # would tax every later read with a no-op fold until
                # compaction
                return
            write_index_delta(index_path, batch_df, batch_df)
            if (
                max_generations is not None
                or max_read_amplification is not None
            ):
                maybe_compact(
                    batch_df.sparkSession, index_path,
                    max_generations=max_generations,
                    max_read_amplification=max_read_amplification,
                )
        finally:
            batch_df.unpersist()

    (
        changes_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def index_stats(
    spark: SparkSession, index_path: str, include_live: bool = False
) -> dict:
    """Operational snapshot of a maintained index — what a refresh
    pipeline's monitoring reads to decide WHEN to compact (the
    log-structured trade is a policy knob; `maybe_compact` is the
    consumer): committed generation count, an unreferenced-residue
    flag (a crashed writer's staged leftovers awaiting retry or GC),
    per-layer row volumes, and — opt-in — `read_amplification`:
    folded-plan reads per surviving row ((base + appends) / live), the
    number compaction resets to 1.0.

    Cost: the tombstone/append volumes are ONE unioned change-sized
    count each (all generations in one job per layer) and the base
    count is column-less (row-group stats, no data pages) — cheap
    enough for a per-refresh hook. `live_rows` is a FULL FOLDED COUNT
    — the same plan a reader pays, which is the point (the stat
    measures what readers experience) but on a large index that is one
    reader-sized scan per call, so it is OFF by default
    (`include_live=False` reports live_rows/read_amplification as
    None); a generation-count policy never needs it. Driver-side
    result is a small dict of scalars, not data.

    `read_amplification` of a legitimately EMPTY index (zero base
    rows, zero appends — e.g. freshly compacted after every row was
    tombstoned) is 1.0, not inf: readers scan nothing to get nothing.
    inf is reserved for the genuinely anomalous all-rows-tombstoned-
    but-uncompacted state, where readers scan everything for nothing —
    the state a compaction policy SHOULD fire on."""
    m = _require_manifest(index_path, "index_stats")
    base = _read_base(spark, index_path, m)
    gens = [os.path.join(index_path, rel) for rel in m["generations"]]
    tomb_schema = base.select(m["key"]).schema
    if gens:
        # per-generation reads unioned, ONE count job per layer (a
        # single multi-path read would trip partition discovery on the
        # conflicting gen=N parent directories)
        import functools

        def _union_count(part: str, schema) -> int:
            return functools.reduce(
                DataFrame.unionByName,
                [
                    spark.read.schema(schema).parquet(
                        os.path.join(g, part)
                    )
                    for g in gens
                ],
            ).count()

        tombstones = _union_count("tombstones", tomb_schema)
        appends = _union_count("appends", base.schema)
    else:
        tombstones = appends = 0
    base_rows = base.count()
    live: int | None
    amp: float | None
    if include_live:
        # fold the SAME generation list the volumes were counted from
        # (a concurrent commit between the two reads would otherwise
        # skew read_amplification)
        live = (
            _fold_generations(base, index_path, m).count()
            if gens
            else base_rows
        )
        scanned = base_rows + appends
        if live:
            amp = round(scanned / live, 4)
        else:
            amp = 1.0 if scanned == 0 else float("inf")
    else:
        live = amp = None
    gen_rels = set(m["generations"])
    root = _delta_root(index_path)
    residue = os.path.isdir(root) and any(
        d.startswith("gen=") and os.path.join("_delta", d) not in gen_rels
        for d in os.listdir(root)
    )
    return {
        "generations": len(gens),
        "uncommitted_residue": bool(residue),
        "base_rows": base_rows,
        "tombstone_rows": tombstones,
        "append_rows": appends,
        "live_rows": live,
        "read_amplification": amp,
    }


def compact_index(
    spark: SparkSession,
    index_path: str,
    key: str | None = None,
    partition_col: str | None = None,
) -> int:
    """Fold every committed delta generation into a fresh base tree
    and flip the manifest at it — the periodic compaction the
    read-path cost note in the module docstring calls for (each
    generation adds one anti-join + one union to every read;
    compaction resets that to a plain scan). Returns the number of
    generations folded (0 = nothing to do; the call still sweeps any
    crash garbage). After compaction the next `write_index_delta`
    starts again at gen=1 against the new base.

    Write protocol: the folded index is materialized COMPLETELY under
    `<index>/_base/v<N>/` (unreferenced — readers still fold the old
    state), then ONE atomic manifest write commits it: new base, empty
    generation list. There is no vacant window and no rename of data —
    a crash before the flip leaves the old state fully readable with
    the staging as garbage; a crash after it leaves the new state
    fully readable with the old base + `_delta` as garbage; either
    way the next call's manifest-anchored GC sweeps the residue. An
    unreferenced trailing generation (interrupted writer) was never
    part of the index, so it is swept with the rest.

    Key and partition column come from the manifest; `key` /
    `partition_col` may only restate them — a value that disagrees
    raises ValueError before anything is swept or staged.

    Single-writer per index is the standing contract, and violations
    are DETECTED: after staging, the manifest is re-read — if the
    generation log advanced during the fold (a concurrent
    `write_index_delta` committed), flipping would silently drop that
    generation, so the staging is discarded and the call fails loudly
    with the index untouched. A manifest that vanished during the fold
    (a builder rebuild overwrote the tree) aborts the same way."""
    import shutil

    m = _require_manifest(index_path, "compact_index")
    for name, given in (("key", key), ("partition_col", partition_col)):
        if given not in (None, m[name]):
            raise ValueError(
                f"compact_index: {name}={given!r} disagrees with the "
                f"manifest's {m[name]!r} — compacting by it would "
                "re-partition the base and lose probe pruning; omit it"
            )
    _gc(index_path)  # sweep crash garbage from any prior attempt
    gens = m["generations"]
    if not gens:
        return 0
    folded = _fold_generations(_read_base(spark, index_path, m), index_path, m)
    new_base_rel = os.path.join("_base", f"v{m['next_base']}")
    staging = os.path.join(index_path, new_base_rel)
    # fully staged before the commit check; unreferenced until the flip,
    # so a crash mid-write strands only garbage the next GC sweeps
    _write_base(folded, staging, m["partition_col"], "errorifexists")
    cur = _read_manifest(index_path) or {}  # vanished ⇒ drift
    drift = _manifest_drift(m, cur)
    if drift:
        shutil.rmtree(staging, ignore_errors=True)
        raise RuntimeError(
            f"compact_index: the commit state at {index_path} changed "
            "during the fold (a concurrent writer committed or a "
            f"builder rebuilt the tree; drifted fields: {drift}) — "
            "flipping to the staged base would silently drop that "
            "work; staging was discarded. Re-run compaction, or "
            "fix the caller violating the single-writer-per-index "
            "contract"
        )
    new_m = dict(
        cur,
        base=new_base_rel,
        generations=[],
        next_gen=1,
        next_base=m["next_base"] + 1,
        commit_seq=cur["commit_seq"] + 1,
    )
    _atomic_write_json(_manifest_file(index_path), new_m)
    # the FOLDED generations are superseded by the flip (their content
    # lives in the new base) — delete them explicitly: the generic GC
    # below spares the gen={next_gen}=1 slot, which after the counter
    # reset is exactly where old gen=1 sits
    for rel in gens:
        shutil.rmtree(os.path.join(index_path, rel), ignore_errors=True)
    _gc(index_path)  # old base + remaining _delta residue
    return len(gens)


def maybe_compact(
    spark: SparkSession,
    index_path: str,
    max_generations: int | None = None,
    max_read_amplification: float | None = None,
) -> int:
    """The compaction POLICY: observe `index_stats`, compact when a
    threshold is crossed — the "decide from observed state" loop that
    makes the log-structured trade self-managing instead of a manual
    chore (the reference's analog is the hourly key-exists idempotence
    check before recomputing a summary,
    update-contributor-scores.js:195-204). Returns the generations
    folded (0 = below thresholds, or nothing to fold).

    Two independent thresholds, either or both:
    - `max_generations`: fire when committed generations reach N.
      Costs ONE driver-side manifest read — zero Spark jobs — the
      per-refresh default.
    - `max_read_amplification`: fire when folded-plan reads per
      surviving row reach τ. This needs `live_rows`, so ONLY when set
      (and only when the free generation check hasn't already
      decided) does the call pay one `index_stats(include_live=True)`
      pass. An all-rows-tombstoned index reads amplification inf,
      which correctly fires any τ; a legitimately empty compacted
      index reads 1.0 and never re-fires (the policy converges).
    """
    if max_generations is None and max_read_amplification is None:
        raise ValueError(
            "maybe_compact: set max_generations and/or "
            "max_read_amplification — with neither, the policy can "
            "never fire and the call is a misconfiguration"
        )
    m = _require_manifest(index_path, "maybe_compact")
    n_gens = len(m["generations"])
    if n_gens == 0:
        return 0
    fire = max_generations is not None and n_gens >= max_generations
    if not fire and max_read_amplification is not None:
        amp = index_stats(spark, index_path, include_live=True)[
            "read_amplification"
        ]
        fire = amp >= max_read_amplification
    if not fire:
        return 0
    return compact_index(spark, index_path)


# --------------------------------------------- IVF-PQ drift & list skew

#: Per-refresh drift entries kept in the log — bounds the file; older
#: entries age out (the ratio consumers only read the tail anyway).
_DRIFT_LOG_CAP = 1000


def _drift_log_path(index_path: str) -> str:
    return os.path.join(index_path, "_drift.json")


def _read_drift_log(index_path: str) -> list[dict]:
    import json

    try:
        with open(_drift_log_path(index_path)) as f:
            log = json.load(f)
    except FileNotFoundError:
        return []
    return log if isinstance(log, list) else []


def _append_drift_entry(index_path: str, entry: dict) -> None:
    """Append one refresh's drift record to `<index>/_drift.json` —
    read-modify-`_atomic_write_json`, covered by the same single-
    writer-per-index contract as the generation commits it trails.
    Capped at `_DRIFT_LOG_CAP` entries so a long-lived refresh loop
    cannot grow the sidecar unboundedly."""
    log = _read_drift_log(index_path) + [entry]
    _atomic_write_json(_drift_log_path(index_path), log[-_DRIFT_LOG_CAP:])


def _qerr_ratio(cur: float | None, train: float | None) -> float | None:
    """current/train reconstruction error, None when either side is
    unknown; a zero training error (every vector was a codeword) makes
    any positive current error infinite drift, and 0/0 reads 1.0 (no
    drift observed — nothing measured moved)."""
    if cur is None or train is None:
        return None
    if train == 0:
        return 1.0 if cur == 0 else float("inf")
    return cur / train


def ivf_list_stats(
    spark: SparkSession,
    lists_path: str,
    hot_threshold: int | None = None,
) -> dict:
    """Per-centroid inverted-list size distribution of a maintained
    centroid-partitioned layout (IVF `assigned`, IVF-PQ `lists`) — the
    SKEW monitor (VERDICT r19 item 3). Synthetic fixtures give balanced
    lists, but real embedding corpora concentrate mass in few cells, so
    one hot centroid dominates probe cost; this stat is what a refresh
    pipeline watches to decide when to re-derive the quantizer
    (`maybe_retrain` — more centroids where the mass is).

    Counts the FOLDED state (`read_index` semantics — what probes
    see), one groupBy job; the collected result is one row per
    centroid, bounded by the centroid count — the same
    tiny-by-construction driver action as probe planning.
    `max_median_ratio` is the headline skew number (balanced ≈ 1);
    pass `hot_threshold` to also get the offending centroid ids."""
    import statistics

    rows = (
        read_index(spark, lists_path)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    sizes = sorted(int(r["n"]) for r in rows)
    if not sizes:
        out = {
            "num_lists": 0,
            "rows": 0,
            "max_list": 0,
            "median_list": 0,
            "max_median_ratio": 1.0,
        }
    else:
        med = statistics.median(sizes)
        out = {
            "num_lists": len(sizes),
            "rows": sum(sizes),
            "max_list": sizes[-1],
            "median_list": med,
            "max_median_ratio": (
                round(sizes[-1] / med, 4) if med else float("inf")
            ),
        }
    if hot_threshold is not None:
        out["hot_lists"] = sorted(
            r["centroid_id"] for r in rows if int(r["n"]) > hot_threshold
        )
    return out


def _md5_fraction(df: DataFrame, id_col: str, fraction: float) -> DataFrame:
    """Deterministic `fraction` sample of `df`: keep a row iff the
    first 32 bits of md5(id), read as an unsigned int, fall below
    fraction × 2³² — the repo's standard RNG-free sampler (the
    llm_split_sample/llm_mixture_sample idiom): reproducible across
    runs, engines, and cluster sizes, map-side, zero shuffle."""
    if not 0.0 < fraction <= 1.0:
        raise ValueError(
            f"audit_fraction must be in (0, 1], got {fraction!r}"
        )
    u32 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    return df.filter(u32 < int(fraction * 4294967296))


def ivf_pq_drift_stats(
    spark: SparkSession,
    index_path: str,
    corpus: DataFrame | None = None,
    audit_fraction: float | None = None,
) -> dict:
    """Quantizer-drift snapshot of an IVF-PQ layout (VERDICT r19 item
    2): the training-time reconstruction-error baseline from the
    `_params.json` sidecar (None when the build corpus was empty),
    the per-refresh drift log `write_index_delta` appends (each
    generation's re-encoded batch vs the frozen codebook), and the
    ratio of the LATEST non-empty refresh to the baseline — the cheap
    always-available signal. Pass `corpus` (the current snapshot, in
    the builder's source columns, which the lists' manifest records)
    for the full audit: one corpus-sized `pq_quantization_error`
    aggregate adds corpus_qerr_mean/p95 and corpus_qerr_ratio, the
    number `maybe_retrain` thresholds on."""
    from .similarity import _qerr_stats, _read_ivf_pq_params

    params = _read_ivf_pq_params(index_path, "ivf_pq_drift_stats")
    log = _read_drift_log(index_path)
    train_mean = params.get("train_qerr_mean")
    out = {
        "train_qerr_mean": train_mean,
        "train_qerr_p95": params.get("train_qerr_p95"),
        "refresh_log": log,
    }
    last = next((e for e in reversed(log) if e.get("n")), None)
    out["latest_refresh_qerr_ratio"] = _qerr_ratio(
        last.get("qerr_mean") if last else None, train_mean
    )
    if corpus is not None:
        m = _require_manifest(
            os.path.join(index_path, "lists"), "ivf_pq_drift_stats"
        )
        if audit_fraction is not None:
            corpus = _md5_fraction(corpus, m["id_col"], audit_fraction)
        codebook = spark.read.parquet(
            os.path.join(index_path, "codebook")
        )
        cur = _qerr_stats(
            corpus, codebook, params["num_subspaces"], params["dim"],
            m["id_col"], m["payload_col"],
        )
        out["corpus_qerr_mean"] = cur["qerr_mean"]
        out["corpus_qerr_p95"] = cur["qerr_p95"]
        out["corpus_qerr_n"] = cur["n"]
        out["corpus_qerr_ratio"] = _qerr_ratio(
            cur["qerr_mean"], train_mean
        )
    return out


def maybe_retrain(
    spark: SparkSession,
    index_path: str,
    corpus: DataFrame,
    max_qerr_ratio: float = 1.5,
    audit_fraction: float | None = None,
) -> dict:
    """The quantizer-RETRAIN policy (VERDICT r19 item 2) — the
    `maybe_compact` analog one level up the model stack: compaction
    bounds how many generations readers fold; this bounds how far the
    corpus may drift from the FROZEN coarse centroids + PQ codebook
    before approximation error silently eats recall. Observe
    (`ivf_pq_drift_stats` over the current corpus), compare the mean
    reconstruction error against the sidecar's training baseline, and
    when the ratio reaches `max_qerr_ratio`, trigger the full
    `ivf_pq_write_index` rebuild WITHOUT frozen artifacts: the
    quantizer re-derives from the current corpus (geometry unchanged —
    probes keep working off the fresh sidecar), the lists re-encode,
    the maintenance state resets, and a new error baseline is
    recorded. Returns the decision report either way
    ({fired, qerr_ratio, corpus/train means, threshold}).

    (Reference analog: the fresh-vs-incremental summary decision,
    update-contributor-scores.js:252-263 — merge into the stored
    artifact while that is sound, recompute it whole when it stops
    being.) Cost: one corpus-sized aggregate per call (the audit), so
    run it at crawl cadence, not per query; the rebuild itself is the
    one corpus pass a scheduled re-index would pay anyway. A sidecar
    without a baseline has nothing to compare against and raises —
    every `ivf_pq_write_index` records one, so rebuild to recalibrate."""
    from .similarity import _read_ivf_pq_params

    params = _read_ivf_pq_params(index_path, "maybe_retrain")
    if params.get("train_qerr_mean") is None:
        raise ValueError(
            f"maybe_retrain: the layout at {index_path} carries no "
            "train_qerr_mean baseline in its _params.json sidecar (an "
            "empty build corpus, or a sidecar edited out of band) — "
            "the policy has nothing to compare against. Rebuild with "
            "ivf_pq_write_index, which records the baseline"
        )
    stats = ivf_pq_drift_stats(spark, index_path, corpus,
                               audit_fraction=audit_fraction)
    ratio = stats["corpus_qerr_ratio"]
    fired = ratio is not None and ratio >= max_qerr_ratio
    if fired:
        from .similarity import ivf_pq_write_index

        m = _require_manifest(
            os.path.join(index_path, "lists"), "maybe_retrain"
        )
        ivf_pq_write_index(
            corpus, index_path,
            num_centroids=params["num_centroids"],
            num_subspaces=params["num_subspaces"],
            num_codewords=params["num_codewords"],
            dim=params["dim"],
            id_col=m["id_col"], vec_col=m["payload_col"],
        )
    return {
        "fired": fired,
        "qerr_ratio": ratio,
        "threshold": max_qerr_ratio,
        "corpus_qerr_mean": stats["corpus_qerr_mean"],
        "train_qerr_mean": stats["train_qerr_mean"],
    }


def ivf_pq_index_stats(
    spark: SparkSession,
    index_path: str,
    corpus: DataFrame | None = None,
    include_live: bool = False,
    hot_threshold: int | None = None,
) -> dict:
    """The IVF-PQ family's one monitoring read — the generic
    `index_stats` of the lists layout (generations, volumes, read
    amplification → feeds `maybe_compact`) plus the two signals the
    generic layer cannot see: per-centroid list SKEW
    (`ivf_list_stats`, nested under "list_skew") and quantizer DRIFT
    (`ivf_pq_drift_stats`, nested under "drift"; pass `corpus` for the
    full audit ratio) — both answered by `maybe_retrain`. One call per
    refresh covers both maintenance policies."""
    lists_path = os.path.join(index_path, "lists")
    out = index_stats(spark, lists_path, include_live=include_live)
    out["list_skew"] = ivf_list_stats(
        spark, lists_path, hot_threshold=hot_threshold
    )
    out["drift"] = ivf_pq_drift_stats(spark, index_path, corpus)
    return out
