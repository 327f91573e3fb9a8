"""Incremental table maintenance — MERGE-style upsert and SCD2
versioning.

The reference maintains its aggregates incrementally (new hourly keys
merged into the daily summary, update-contributor-scores.js:252-263;
idempotent re-runs via the hour-exists check :195-204). Generalized,
that is the warehouse MERGE: apply a change set to a base table —
update matched keys, insert new ones — and, when history matters, keep
every version with validity intervals (slowly-changing dimension
type 2). Spark has no MERGE INTO without a lakehouse table format; the
ENGINE capability is the join shape below, which is exactly what those
formats execute underneath.

Scale shape:
- `upsert`: one full-outer shuffle join on the merge key (or a
  broadcast of the change set when it is small — the common case for
  incremental loads; pass a pre-broadcast `changes`). No driver
  involvement, no per-row Python.
- `scd2_versions`: one shuffle into per-key windows; `lead` closes
  each version with the next one's start. Validity intervals make
  point-in-time queries a simple range predicate — the batch analog of
  the streaming state timeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def assert_unique_key(
    df: DataFrame, key: str, context: str, consequence: str
) -> None:
    """Shared fail-fast for the module's one-row-per-key preconditions
    (upsert sides, snapshot_diff snapshots, the streaming refresh
    batch): one small count-vs-count_distinct aggregate over the
    NON-NULL keys (SQL count semantics — null-key rows are a separate
    hazard each caller documents). One implementation so the check and
    its error shape cannot drift across the four call sites that used
    to hand-roll it."""
    n, nd = df.agg(F.count(key), F.count_distinct(key)).first()
    if n != nd:
        raise ValueError(
            f"{context}: key '{key}' is not unique ({n} non-null rows, "
            f"{nd} distinct keys) — {consequence}"
        )


def upsert(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    action_col: str = "action",
    assert_unique: bool = False,
) -> DataFrame:
    """MERGE `changes` into `base` by `key`: matched keys take the
    change row ('update'), unmatched change keys append ('insert'),
    untouched base rows persist ('keep'). Both inputs must carry the
    same columns; the result carries them plus `action_col`.

    PRECONDITION: `key` must be unique (per non-null key value) on BOTH
    sides. Duplicate keys fan out through the full-outer join and
    silently multiply rows — where SQL MERGE raises on multiple source
    matches. Callers with raw change feeds pre-dedup (e.g. row_number
    over a sequence column, as the catalog's merge_upsert key does) or
    pass `assert_unique=True` to fail fast: that runs one small
    aggregate job per side (count vs count_distinct of the non-null
    keys — null keys never join, so their multiplicity is harmless)
    before building the merge plan. Opt-in because at scale the exact
    distinct is itself a shuffle the caller may know is unnecessary.

    The full-outer join is the MERGE execution shape; every column
    resolves by SIDE (the change side whenever a change row is present)
    rather than per-column coalesce, because a change row REPLACES its
    base row wholesale (SCD1) — including columns it carries as NULL.
    A partial-update merge (null change columns meaning 'leave as was')
    is the per-column-coalesce variant, deliberately not this
    operator's semantics.
    """
    if set(base.columns) != set(changes.columns):
        raise ValueError(
            "upsert: base and changes must share one schema, got "
            f"{sorted(base.columns)} vs {sorted(changes.columns)}"
        )
    if action_col in base.columns:
        raise ValueError(
            f"upsert: action_col '{action_col}' collides with a data "
            "column — the output would carry two columns of that name "
            "(silent ambiguous-reference errors downstream); pass a "
            "different action_col"
        )
    if assert_unique:
        for side, df in (("base", base), ("changes", changes)):
            assert_unique_key(
                df, key, f"upsert ({side} side)",
                "duplicate keys would fan out through the full-outer "
                "join; dedup first (e.g. row_number over a sequence "
                "column)",
            )
    # Side-presence markers, not key-nullability: a NULL merge key
    # never matches (SQL null equality), so a null-key change row
    # reaches the output unmatched — key IS NULL would mislabel it
    # 'keep' when it is an insert. The literal marker is non-null
    # exactly when that side contributed the row. The marker NAME is
    # dodged out of the data namespace: data columns are aliased
    # `_b_{c}`, so a fixed marker like `_b_present` would be ambiguous
    # the moment a table carries a column literally named 'present'.
    marker = "present"
    while marker in base.columns:
        marker = "_" + marker
    b_mark, c_mark = f"_b_{marker}", f"_c_{marker}"
    b = base.select(
        *[F.col(c).alias(f"_b_{c}") for c in base.columns],
        F.lit(True).alias(b_mark),
    )
    c = changes.select(
        *[F.col(x).alias(f"_c_{x}") for x in changes.columns],
        F.lit(True).alias(c_mark),
    )
    joined = b.join(c, F.col(f"_b_{key}") == F.col(f"_c_{key}"), "full_outer")
    matched = F.col(c_mark).isNotNull() & F.col(b_mark).isNotNull()
    action = (
        F.when(matched, F.lit("update"))
        .when(F.col(c_mark).isNotNull(), F.lit("insert"))
        .otherwise(F.lit("keep"))
    )
    cols = [
        F.when(F.col(c_mark).isNotNull(), F.col(f"_c_{x}"))
        .otherwise(F.col(f"_b_{x}"))
        .alias(x)
        for x in base.columns
    ]
    return joined.select(*cols, action.alias(action_col))


def scd2_versions(
    changes: DataFrame,
    key: str,
    ts_col: str = "ts",
    seq_col: str | None = None,
) -> DataFrame:
    """Type-2 history from a change stream: every change row becomes a
    version valid from its own timestamp until the key's next change
    (open-ended for the latest — `valid_to` null, `is_current` true).
    `seq_col` breaks exact-timestamp ties deterministically (same-ts
    changes produce zero-length intervals in input order — they stay
    in the history rather than silently collapsing).
    """
    reserved = {"valid_from", "valid_to", "is_current"} & set(
        changes.columns
    )
    if reserved:
        raise ValueError(
            f"scd2_versions: input already carries {sorted(reserved)} — "
            "the output would duplicate those column names (silent "
            "ambiguous-reference errors downstream); rename them first "
            "(re-versioning an SCD2 table means versioning its BUSINESS "
            "columns, not its old validity metadata)"
        )
    order = [F.col(ts_col)] + ([F.col(seq_col)] if seq_col else [])
    w = Window.partitionBy(key).orderBy(*order)
    nxt: Column = F.lead(ts_col).over(w)
    return changes.select(
        "*",
        F.col(ts_col).alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def snapshot_diff(
    prev: DataFrame,
    cur: DataFrame,
    key: str,
    compare_cols: list[str],
    assert_unique: bool = False,
) -> DataFrame:
    """CDC-style snapshot diff: classify every key as 'added',
    'removed', or 'changed' between two snapshots of the same table
    and list WHICH compared columns changed — the change log a
    continuously-refreshed training corpus publishes between crawl
    snapshots (re-embed/re-dedup only the changed docs, drop the
    removed ones from the index, route the added ones through the
    incremental classify waterfall). Change-log semantics: unchanged
    keys emit NO row, so at 100 TB the output is change-sized, never
    corpus-sized.

    Returns (key, change_type, changed_cols) where changed_cols is the
    subset of `compare_cols` (in declaration order) whose values
    differ null-safely; NULL for added/removed rows.

    PRECONDITION: `key` must be unique (per non-null key value) in BOTH
    snapshots — the same contract as `upsert` above. Duplicate keys fan
    out through the full-outer join and emit multiple conflicting
    change rows per key. Snapshot tables are keyed by construction in
    the intended use (one row per doc_id per crawl), so the check is
    opt-in: pass `assert_unique=True` to fail fast via one small
    count-vs-count_distinct aggregate per side before the diff plan is
    built (at scale that exact distinct is itself a shuffle the caller
    may know is unnecessary).

    Scale shape: ONE full-outer equi-join on the key (both sides
    shuffle-partition by it — co-partitioned, AQE-coalesced; a diff of
    bucketed snapshot tables is shuffle-free); the per-column
    comparisons and the changed-cols assembly are map-side codegen
    expressions over the join output, and unchanged rows are filtered
    before anything downstream sees them. No driver involvement, no
    per-row Python. This is the engine shape lakehouse change-data
    feeds execute underneath, same as `upsert` above is for MERGE.
    """
    if not compare_cols:
        raise ValueError(
            "snapshot_diff needs at least one compare column — with "
            "none, every key present in both snapshots is vacuously "
            "unchanged and only added/removed could ever fire; pass "
            "the columns whose drift should count as a change"
        )
    if assert_unique:
        for side, df in (("prev", prev), ("cur", cur)):
            assert_unique_key(
                df, key, f"snapshot_diff ({side} snapshot)",
                "duplicate keys would fan out through the full-outer "
                "join and emit conflicting change rows; dedup the "
                "snapshot first",
            )
    p = prev.select(
        key,
        *[F.col(c).alias(f"_p_{c}") for c in compare_cols],
        F.lit(True).alias("_in_prev"),
    )
    c = cur.select(
        key,
        *[F.col(x).alias(f"_c_{x}") for x in compare_cols],
        F.lit(True).alias("_in_cur"),
    )
    j = p.join(c, key, "full_outer")
    diffs = [
        ~F.col(f"_p_{x}").eqNullSafe(F.col(f"_c_{x}")) for x in compare_cols
    ]
    changed_cols = F.array_compact(
        F.array(*[F.when(d, F.lit(x)) for d, x in zip(diffs, compare_cols)])
    )
    any_diff = diffs[0]
    for d in diffs[1:]:
        any_diff = any_diff | d
    change_type = (
        F.when(F.col("_in_prev").isNull(), F.lit("added"))
        .when(F.col("_in_cur").isNull(), F.lit("removed"))
        .when(any_diff, F.lit("changed"))
    )
    return (
        j.select(
            key,
            change_type.alias("change_type"),
            F.when(change_type == "changed", changed_cols).alias(
                "changed_cols"
            ),
        )
        .filter(F.col("change_type").isNotNull())
    )


def reconcile_change_log(
    changes: DataFrame,
    key: str,
    order_col: str,
    payload_cols: list[str] | None = None,
    assert_order: bool = False,
) -> DataFrame:
    """Collapse a change log carrying SEVERAL diffs per key into one
    NET row per key — the composition law `snapshot_diff` obeys:
    reconcile(diff(a,b) ∪ diff(b,c)) ≡ diff(a,c) on added/removed
    verdicts and on the final applied STATE, with one documented
    slack: a key whose content REVERTED across the window (removed
    then re-added identical, or changed then changed back) nets a
    spurious 'changed' — the log alone cannot see the revert (that
    needs the endpoint values), and for every consumer of this
    contract a spurious 'changed' is a harmless no-op re-derive
    (tombstone + identical re-append). Pinned exactly in that form by
    a hypothesis property test over arbitrary snapshot triples.
    This is what makes a coalescing stream trigger safe for
    `index_maintenance.refresh_index_from_change_stream`, the one
    refresh loop of every index family: a micro-batch
    that picked up N change-log drops reconciles to the one-row-per-key
    contract the maintenance generation requires, instead of banding
    conflicting payloads.

    Net-verdict algebra (relative to the state BEFORE the window): the
    key existed before the window iff its FIRST change is not 'added',
    and exists after iff its LAST change is not 'removed' —
      before ∧ after   → 'changed'   (e.g. changed→changed, removed→added)
      before ∧ ¬after  → 'removed'   (e.g. changed→removed)
      ¬before ∧ after  → 'added'     (e.g. added→changed)
      ¬before ∧ ¬after → NO row      (added→removed: never visible)
    `payload_cols` (the new-document columns riding the log) come from
    the LAST row per key. `changed_cols` is deliberately NOT emitted:
    net column drift needs the endpoint snapshots (a column changed
    a→b and changed back b→c nets to unchanged), so consumers that
    need it re-diff the endpoints — the index-maintenance consumer
    needs only the existence verdict + final payload.

    PRECONDITION: `order_col` must be NON-NULL and order each key's
    rows totally and uniquely (a batch sequence number, a commit LSN).
    Ties make first/last — and therefore the verdict —
    nondeterministic (min_by/max_by pick arbitrarily, and the pick
    varies across partial-aggregation plans), and min_by/max_by IGNORE
    null-ordering rows, so a key whose rows all carry a null order
    would silently VANISH from the net log instead of erroring — on a
    schema-on-read stream source a mistyped field reads as null, which
    is exactly how that happens. Pass `assert_order=True` to fail fast
    instead (one eager change-log-sized aggregate: non-null keys,
    non-null orders, unique (key, order) pairs) — the
    `snapshot_diff(assert_unique=...)` idiom; the streaming refresh
    path turns it on by default.

    Scale shape: ONE hash aggregation on the key (min_by/max_by are
    map-side-combinable, so the shuffle carries one partial row per
    key per input partition, not the log); the verdict CASE is
    map-side codegen over the aggregate output. Change-log-sized end
    to end — the corpus is never touched.
    """
    payload_cols = payload_cols or []
    if assert_order:
        n, n_key, n_ord, nd = changes.agg(
            F.count(F.lit(1)),
            F.count(key),
            F.count(order_col),
            F.count_distinct(key, order_col),
        ).first()
        if n_key != n or n_ord != n:
            raise ValueError(
                f"reconcile_change_log: {n - n_key} null '{key}' and "
                f"{n - n_ord} null '{order_col}' values in the change "
                "log — null keys cannot reconcile and null orders make "
                "min_by/max_by silently drop the key's change"
            )
        if nd != n:
            raise ValueError(
                f"reconcile_change_log: ({key}, {order_col}) pairs are "
                f"not unique ({n} rows, {nd} distinct pairs) — ties "
                "make the first/last verdicts nondeterministic; stamp "
                "a per-key-unique sequence on the log rows"
            )
    o = F.col(order_col)
    agg = changes.groupBy(key).agg(
        F.min_by("change_type", o).alias("_first"),
        F.max_by("change_type", o).alias("_last"),
        *[F.max_by(c, o).alias(c) for c in payload_cols],
    )
    before = F.col("_first") != "added"
    after = F.col("_last") != "removed"
    net = (
        F.when(before & after, F.lit("changed"))
        .when(before & ~after, F.lit("removed"))
        .when(~before & after, F.lit("added"))
    )
    return (
        agg.select(key, net.alias("change_type"), *payload_cols)
        .filter(F.col("change_type").isNotNull())
    )
