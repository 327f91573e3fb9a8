"""Executed-plan scan metrics — the honest probe for partition pruning.

Plan TEXT cannot certify pruning: a formatted explain shows the
dynamic-partition-pruning subquery Catalyst inserted, but Spark's
reuse/cost machinery may degrade it to ``dynamicpruningexpression(true)``
at physical planning (observed for window-shaped broadcast build sides
— the r18 finding that moved every pruning gate in this repo from plan
text to executed metrics), and ``DataFrame.inputFiles()`` lists the
relation's entire FileIndex regardless of pruning. The only signal that
reflects what a run actually opened is the executed plan's per-scan SQL
metrics (``numPartitions``, ``numFiles``), which this module extracts.

Promoted from tests/test_plans.py into the package (r19) so the
``static_prune="auto"`` serving-path decision rule
(`similarity._auto_pruned`) and the pytest gates share one walker —
the operator deciding "did DPP actually prune?" must measure exactly
what the tests gate on.
"""

from __future__ import annotations

import os


def _scan_root_paths(node) -> tuple[str, ...]:
    """Root paths of a file scan node's FileIndex (empty for non-file
    scans such as ExistingRDD). Taken from the relation's location, not
    the plan-text ``Location`` metadata, which Spark TRUNCATES to ~100
    chars — a truncated path would silently fail a prefix match."""
    try:
        paths = node.relation().location().rootPaths()
        return tuple(str(paths.apply(i)) for i in range(paths.size()))
    except Exception:
        return ()


def _walk_scan_metrics(df) -> list[dict]:
    """Walk ``df``'s CURRENT executed plan WITHOUT executing it and
    return each scan's SQL metrics plus a ``_location`` tuple of the
    scan's FileIndex root paths. Metrics reflect whatever executions
    have already run against this exact plan instance (zero for a
    never-executed frame) — `executed_scan_metrics` is the
    execute-then-walk composition; this walker alone lets a test
    snapshot metrics BETWEEN executions to prove a consumption was
    served from cache (no metric movement = no re-scan).

    AQE wraps stages in QueryStageExec nodes, so the walk unwraps those
    via ``.plan()`` (and the root AdaptiveSparkPlan via
    ``.executedPlan()``); a persisted frame plans as InMemoryTableScan,
    whose underlying scans live in the cached relation's plan
    (``.relation().cachedPlan()``) — unwrapped too, so pruning stays
    measurable through a cache (verified: DPP prunes identically under
    persist)."""
    scans = []

    def walk(node):
        name = node.nodeName()
        if "QueryStage" in name:
            walk(node.plan())
            return
        if name.startswith("AdaptiveSparkPlan"):
            walk(node.executedPlan())
            return
        if name.startswith("InMemoryTableScan"):
            walk(node.relation().cachedPlan())
            return
        if name.startswith("Scan"):
            scans.append(node)
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    out = []
    for s in scans:
        metrics = s.metrics()
        keys = metrics.keysIterator()
        d = {}
        while keys.hasNext():
            k = keys.next()
            d[k] = metrics.apply(k).value()
        d["_location"] = _scan_root_paths(s)
        out.append(d)
    return out


def executed_scan_metrics(df) -> list[dict]:
    """Execute the DataFrame and return each parquet scan's SQL metrics
    (numFiles, numPartitions, ...) from the EXECUTED plan, plus a
    ``_location`` tuple of each scan's FileIndex root paths (empty for
    non-file scans) so callers can scope a pruning bound to the scans
    of ONE layout (ADVICE r19: a date-partitioned queries table in the
    same plan must not trip an index-pruning check).

    Cost: one full execution of ``df`` — but JVM-side only
    (``executedPlan().execute().count()`` on the underlying RDD), so
    NOTHING is materialized on the driver; the earlier ``collect()``
    held the full result in driver memory just to read metrics (ADVICE
    r19). Executing the plan instance directly (not ``df.count()``,
    which plans a separate aggregate query) is what makes the walked
    metrics describe exactly the execution just paid. If ``df`` is
    persisted, this execution populates the cache, so the caller's own
    later consumption of the same frame is served from memory — how
    ``static_prune="auto"`` measures without double-paying the probe.
    Scans that are not partitioned simply carry no ``numPartitions``
    key; callers filter.
    """
    df._jdf.queryExecution().executedPlan().execute().count()
    return _walk_scan_metrics(df)


def _uri_parts(p: str) -> tuple[str, str]:
    """(scheme, comparable-path) of a possibly scheme-qualified
    location. Unqualified and ``file:`` paths use local semantics
    (realpath-normalized, scheme canonicalized to ``file``); remote
    schemes (hdfs://, s3a://, …) keep their authority and a
    norm-path'd path — the driver cannot realpath remote storage
    (ADVICE r20: realpath-only semantics made every remote comparison
    silently miss). A scheme counts only when a ``/`` follows its
    colon: ``data:v2/part-0`` is a relative local path whose first
    segment holds a colon, not a ``data:`` URI."""
    from urllib.parse import urlsplit

    parts = urlsplit(p)
    remote = parts.scheme not in ("", "file") and p[
        len(parts.scheme) + 1:
    ].startswith("/")
    if not remote:
        local = parts.path if parts.scheme == "file" else p
        return ("file", os.path.realpath(local))
    return (
        parts.scheme,
        f"//{parts.netloc}{os.path.normpath(parts.path) if parts.path else ''}",
    )


def _under_path(root_paths: tuple[str, ...], prefix: str) -> bool:
    """True when any of the scan's root paths sits at or under
    ``prefix``. Both sides are compared as URIs (see `_uri_parts`), so
    a scheme-qualified scan root (hdfs://, s3a://) matches a prefix of
    the same scheme/authority instead of never prefix-matching; when
    nothing matches but some root carries a DIFFERENT scheme than the
    prefix, a warning flags the likely-misscoped comparison rather
    than letting ``static_prune='auto'`` fall back silently."""
    pscheme, ppath = _uri_parts(prefix)
    cross_scheme = []
    for p in root_paths:
        scheme, path = _uri_parts(p)
        if scheme != pscheme:
            cross_scheme.append(p)
            continue
        if path == ppath or path.startswith(ppath.rstrip("/") + "/"):
            return True
    if cross_scheme:
        import warnings

        warnings.warn(
            f"_under_path: within_path {prefix!r} ({pscheme}:) matched no "
            f"scan root, and {len(cross_scheme)} root(s) carry a different "
            f"scheme (e.g. {cross_scheme[0]!r}) — the pruning check may be "
            "scoped to the wrong filesystem",
            stacklevel=2,
        )
    return False


def partitioned_scans_within(
    df, max_partitions: int, within_path: str | None = None
) -> bool:
    """True when every PARTITIONED scan in ``df``'s executed plan
    opened at most ``max_partitions`` partitions — the pruning
    acceptance predicate (executes ``df`` once, JVM-side; see
    `executed_scan_metrics`).

    ``within_path`` scopes the check to scans whose FileIndex roots sit
    under that directory — the index layout under test. Without it the
    bound applies to EVERY partitioned scan, so a plan that also reads
    an unrelated partitioned table (a date-partitioned queries frame,
    say) fails the check no matter how healthy the index pruning is —
    the ADVICE r19 false-fallback. Pass the index root (the
    ``lists``/``assigned`` dir) from serving callers; tests gating a
    whole plan may omit it.

    A plan with no partitioned scan at all (under ``within_path`` when
    given) returns False: the caller asked whether pruning happened on
    a layout it believes is partitioned, and "nothing partitioned
    found" means the premise is wrong, which must not read as
    success."""
    counts = [
        s["numPartitions"]
        for s in executed_scan_metrics(df)
        if "numPartitions" in s
        and (within_path is None or _under_path(s["_location"], within_path))
    ]
    return bool(counts) and max(counts) <= max_partitions
