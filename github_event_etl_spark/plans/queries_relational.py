"""Declared queries — Part B2-B7: relational closure (SURVEY.md §2B).

Capabilities the reference doesn't implement but the north star mandates:
full predicate/projection surface, every join shape, the aggregation
suite (incl. multi-level), window functions, sorts, set ops, CSV scan.

Determinism rules for the value-hash oracle (FIXTURES.md):
- money/measure sums: CAST to DECIMAL(18,2) *before* SUM (exact in both
  engines, immune to float association order), CAST the result to DOUBLE
  for a stable output representation;
- averages: exact decimal sum divided by count, division done in double
  (same operands in both engines => same IEEE result);
- integer outputs normalized to BIGINT in both dialects;
- every sort/top-k carries a unique tie-breaker.
"""

from __future__ import annotations

import datetime as _dt
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.timeutil import day_bucket, ts_string
from ..scratch import dataset_tag, scratch_dir
from ..operators.asof import asof_join, interval_overlap_join
from ..operators.layout import read_day_partition, write_day_partitioned
from ..operators.topk import top_k, top_k_per_group
from ..sources.csv import read_csv
from ..sources.tables import load_table
from .catalog import query

_TS_SQL = "strftime(ts, '%Y-%m-%d %H:%M:%S.%f')"


def _dec(col: str, scale: str = "decimal(18,2)"):
    return F.col(col).cast(scale)


# ------------------------------------------------------------------ B1: CSV


@query(
    "scan_csv",
    oracle="""
    SELECT event_id, event_type, user_id, value FROM events
    """,
    tags=("scan", "partB"),
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: CSV scan with header + explicit schema — events written to
    CSV and read back (doubles round-trip via shortest-repr)."""
    out = scratch_dir(sf_dir, "events_csv")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    ev.write.mode("overwrite").option("header", "true").csv(out)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return read_csv(spark, out, schema)


@query(
    "sink_partitioned_scan",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS bucket_day,
           event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
    GROUP BY 1, 2
    """,
    tags=("sink", "layout", "partA"),
)
def sink_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13/A16/A18 physical layout: events written day-PARTITIONED
    (the Spark equivalent of the reference's `{date}:{hour}` key scheme,
    redis-key-generator.js:1-10), then one day read back through the
    partition-pruned path — only that day's directory is opened
    (PartitionFilters; asserted in tests/test_plans.py). At 100 TB this
    is the difference between scanning a day and scanning the table."""
    out = scratch_dir(sf_dir, "events_by_day")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    write_day_partitioned(ev, out)
    day = read_day_partition(spark, out, "2024-01-15")
    return day.groupBy(
        F.col("bucket_day").cast("string").alias("bucket_day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))


# ----------------------------------------------------- B2: filters/projection


@query(
    "filter_between",
    oracle="""
    SELECT event_id, value FROM events
    WHERE value BETWEEN 50 AND 150
      AND ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                 AND TIMESTAMP '2024-01-20 00:00:00'
    """,
    tags=("filter", "partB"),
)
def filter_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: BETWEEN on a measure and a timestamp — both pushed down to
    the parquet scan as range filters."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        F.col("value").between(50, 150)
        & F.col("ts").between(
            F.lit("2024-01-10 00:00:00").cast("timestamp"),
            F.lit("2024-01-20 00:00:00").cast("timestamp"),
        )
    ).select("event_id", "value")


@query(
    "filter_null_handling",
    oracle="""
    SELECT event_id,
           coalesce(NULLIF(user_id % 10, 3), -1) AS filled,
           (NULLIF(user_id % 10, 3) IS NULL) AS was_null
    FROM events
    """,
    tags=("filter", "partB"),
)
def filter_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2/B8: NULLIF / COALESCE / IS NULL three-valued logic."""
    ev = load_table(spark, sf_dir, "events")
    maybe = F.nullif(F.col("user_id") % 10, F.lit(3))
    return ev.select(
        "event_id",
        F.coalesce(maybe, F.lit(-1)).alias("filled"),
        maybe.isNull().alias("was_null"),
    )


@query(
    "project_case_when",
    oracle="""
    SELECT event_id,
           CASE WHEN value < 50 THEN 'low'
                WHEN value < 150 THEN 'mid'
                ELSE 'high' END AS band
    FROM events
    """,
    tags=("project", "partB"),
)
def project_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: CASE WHEN banding (when/otherwise)."""
    ev = load_table(spark, sf_dir, "events")
    band = (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 150, "mid")
        .otherwise("high")
    )
    return ev.select("event_id", band.alias("band"))


@query(
    "project_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS disc_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           CAST(l_quantity AS BIGINT) AS qty_int
    FROM lineitem
    """,
    tags=("project", "partB"),
)
def project_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: column arithmetic + cast. Per-row double expressions with a
    fixed evaluation order are bit-identical across engines — no
    rounding needed."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        disc.alias("disc_price"),
        (disc * (1 + F.col("l_tax"))).alias("charge"),
        F.col("l_quantity").cast("bigint").alias("qty_int"),
    )


# --------------------------------------------------------------- B3: joins


@query(
    "join_inner_equi",
    oracle="""
    SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, o_orderstatus
    """,
    tags=("join", "partB"),
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: inner equi-join orders⋈customer + grouped rollup. Catalyst
    picks broadcast-hash here (customer is small); at 100 TB with both
    sides large it becomes sort-merge on the shuffled key — same code."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )


@query(
    "join_broadcast",
    oracle="""
    SELECT p_brand, count(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    tags=("join", "partB"),
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: explicit broadcast-hash join — fact ⋈ broadcast(dim). The
    dimension ships to every executor once; the 100 TB fact side never
    shuffles (this is the map-side join you always want for star
    schemas)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


@query(
    "join_outer_left",
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
    tags=("join", "partB"),
)
def join_outer_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: left outer join — customers keep a row (n_orders = 0) even
    with no orders; count(col) skips the null-extended side."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_outer_full",
    oracle="""
    WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         s AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
    SELECT coalesce(p.user_id, s.user_id) AS user_id,
           (p.user_id IS NOT NULL) AS has_purchase,
           (s.user_id IS NOT NULL) AS has_signup
    FROM p FULL OUTER JOIN s ON p.user_id = s.user_id
    """,
    tags=("join", "partB"),
)
def join_outer_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: full outer join of two derived key sets with coalesced key."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    s = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    p = p.withColumnRenamed("user_id", "p_uid")
    s = s.withColumnRenamed("user_id", "s_uid")
    return p.join(s, p.p_uid == s.s_uid, "full").select(
        F.coalesce("p_uid", "s_uid").alias("user_id"),
        F.col("p_uid").isNotNull().alias("has_purchase"),
        F.col("s_uid").isNotNull().alias("has_signup"),
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join", "partB"),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: left semi join — EXISTS without duplicating the left side."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join", "partB"),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: left anti join — NOT EXISTS; also the engine's incremental
    'missing partitions' primitive (A13)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
    tags=("join", "partB"),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: cross join (tiny dims only — at scale crossJoin is the thing
    this engine's LSH operators exist to avoid)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_range_theta",
    oracle="""
    SELECT event_id, band
    FROM events
    JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0),
                 ('high', 150.0, 1e9)) AS b(band, lo, hi)
      ON value >= lo AND value < hi
    """,
    tags=("join", "partB"),
)
def join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: theta (non-equi range) join against a literal band table —
    broadcast-nested-loop with a 3-row build side, linear in the fact."""
    ev = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1e9)],
        "band string, lo double, hi double",
    )
    cond = (ev.value >= bands.lo) & (ev.value < bands.hi)
    return ev.join(F.broadcast(bands), cond).select("event_id", "band")


@query(
    "join_asof",
    oracle=f"""
    SELECT e1.event_id, e1.user_id,
           strftime((SELECT max(e2.ts) FROM events e2
                     WHERE e2.user_id = e1.user_id
                       AND e2.event_type = 'error'
                       AND e2.ts <= e1.ts),
                    '%Y-%m-%d %H:%M:%S.%f') AS prev_error_ts
    FROM events e1
    WHERE e1.event_type = 'purchase'
    """,
    tags=("join", "partB", "composite"),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: as-of join — for each purchase, the most recent earlier error
    by the same user. Union+window formulation (operators/asof.py): one
    shuffle + one sort, no range-join pair explosion; the scalable plan
    at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        purchases,
        errors,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["ts"],
        seq="event_id",
    )
    return out.select(
        "event_id", "user_id", ts_string(F.col("asof_ts")).alias("prev_error_ts")
    )


@query(
    "join_interval",
    oracle="""
    SELECT o_orderkey, q_name
    FROM orders
    JOIN (VALUES
        ('1997H1', TIMESTAMP '1997-01-01 00:00:00', TIMESTAMP '1997-07-01 00:00:00'),
        ('1998H1', TIMESTAMP '1998-01-01 00:00:00', TIMESTAMP '1998-07-01 00:00:00'),
        ('1999H2', TIMESTAMP '1999-07-01 00:00:00', TIMESTAMP '2000-01-01 00:00:00'),
        ('2001H1', TIMESTAMP '2001-01-01 00:00:00', TIMESTAMP '2001-07-01 00:00:00')
      ) AS q(q_name, qs, qe)
      ON o_orderdate < qe AND qs < o_orderdate + INTERVAL 30 DAY
    """,
    tags=("join", "partB", "composite"),
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: interval-overlap join — order activity windows
    [o_orderdate, +30d) vs calendar half-years; half-open overlap
    predicate s1 < e2 AND s2 < e1."""
    o = load_table(spark, sf_dir, "orders")
    quarters = spark.createDataFrame(
        [
            ("1997H1", _dt.datetime(1997, 1, 1), _dt.datetime(1997, 7, 1)),
            ("1998H1", _dt.datetime(1998, 1, 1), _dt.datetime(1998, 7, 1)),
            ("1999H2", _dt.datetime(1999, 7, 1), _dt.datetime(2000, 1, 1)),
            ("2001H1", _dt.datetime(2001, 1, 1), _dt.datetime(2001, 7, 1)),
        ],
        "q_name string, qs timestamp, qe timestamp",
    )
    out = interval_overlap_join(
        o,
        F.broadcast(quarters),
        left_start=F.col("o_orderdate"),
        left_end=F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
        right_start=F.col("qs"),
        right_end=F.col("qe"),
    )
    return out.select("o_orderkey", "q_name")


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT o_orderkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    tags=("join", "partB", "layout"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed CO-LOCATED join (operators/layout.py
    write_bucketed_table): both sides land bucketed by the join key
    into the same bucket count, so the join consumes the write-time
    layout and plans ZERO shuffle exchanges — at 100 TB the facts→dims
    join shuffle is usually a pipeline's single largest cost, and
    bucketing pays it once at write time, amortized over every
    subsequent join (the plan fact is pinned by
    tests/test_plans.py::test_bucketed_join_skips_shuffle, including
    the two-exchange non-bucketed control). The merge hint keeps the
    bucketed sort-merge shape even where a small dim would broadcast —
    THIS key demonstrates the co-location path; `join_broadcast` owns
    the broadcast one. Result values are layout-invariant, which is
    exactly what the plain-join oracle asserts.

    The bucketed twins materialize ONCE per (sf, table) under the
    scratch dir (`scratch.materialize_once`): a fresh process finds
    the committed files and re-REGISTERS the layout
    (CREATE TABLE ... CLUSTERED BY ... LOCATION, the DDL a metastore
    persists) instead of re-paying the shuffle+write
    (operators/layout.py ensure_bucketed_table)."""
    from ..operators.layout import ensure_bucketed_table

    # dataset_tag in the TABLE name too: catalog names are a global
    # namespace, and two same-basename sf_dirs sharing a name would
    # trip ensure_bucketed_table's location-mismatch error (loud, but
    # needless) — distinct tags keep them independent. Realpath
    # basename, matching scratch_dir: a symlink spelling of one
    # dataset must resolve to the SAME table, not a second
    # registration.
    sf = "{}_{}".format(
        os.path.basename(os.path.realpath(sf_dir)).replace(".", "_"),
        dataset_tag(sf_dir),
    )
    tables = {}
    for table, key, cols in (
        ("orders", "o_custkey", ["o_orderkey", "o_custkey", "o_totalprice"]),
        ("customer", "c_custkey", ["c_custkey", "c_name"]),
    ):
        name = f"geetl_{sf}_{table}_bucketed"
        # No bare tableExists shortcut here: ensure_bucketed_table's own
        # fast path IS the warm path, and it is the checked one —
        # committed spec, storage-location match, and the loud temp-view
        # collision error. A caller-side spark.table(name) would bypass
        # all three for the exact collisions they exist to catch.
        tables[table] = ensure_bucketed_table(
            spark,
            load_table(spark, sf_dir, table).select(*cols),
            name,
            scratch_dir(sf_dir, f"bucketed_{table}_8"),
            bucket_col=key,
            num_buckets=8,
            sort_col=key,
        )
    ob, cb = tables["orders"], tables["customer"]
    return (
        ob.hint("merge")
        .join(cb, ob.o_custkey == cb.c_custkey)
        .select("o_orderkey", "c_name", "o_totalprice")
    )


_ZORDER_EPOCH = "2024-01-01"


@query(
    "layout_zorder_prune",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE user_id BETWEEN 20 AND 60
      AND datediff('day', DATE '{_ZORDER_EPOCH}', CAST(ts AS DATE))
          BETWEEN 5 AND 12
    GROUP BY event_type
    """,
    tags=("layout", "partB"),
)
def layout_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-dimension pruning layout (operators/layout.py
    zorder_key / write_zordered): events land ONCE per sf range-
    partitioned and sorted by the Morton interleave of
    (user_id, day ordinal), so every file and row group holds a
    contiguous Z-range with TIGHT footer min/max in BOTH dimensions —
    a predicate on either column prunes files/row groups, where a
    linear sort on one column leaves the other full-range in every
    file (the footer-stat difference is measured by
    tests/test_plans.py::test_zorder_layout_tightens_footer_stats).
    This is the lakehouse OPTIMIZE ZORDER BY layout, the read-side
    lever the reference approximates by encoding {{date}}:{{hour}}
    into key names (redis-key-generator.js:1-10) — at 100 TB the
    both-dims filter below opens only the files whose Z-range
    intersects the (user, day) box instead of the whole table.

    The query filters on BOTH dimensions and aggregates; result
    values are LAYOUT-INVARIANT (the plain-scan oracle asserts
    exactly that), so the driver hash-checks correctness while the
    plan facts stay pinned in the footer-stats pytest. Decimal-exact
    sums keep the double hash stable across row orders. The layout
    materializes once per sf under the scratch dir and re-reads on
    warm starts (ensure_zordered's materialize-once spec)."""
    from ..operators.layout import ensure_zordered

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day_num",
        F.datediff(F.to_date("ts"), F.lit(_ZORDER_EPOCH).cast("date")),
    )
    z = ensure_zordered(
        ev,
        scratch_dir(sf_dir, "zorder_events_16"),
        "user_id",
        "day_num",
        bits=16,
        num_files=8,
        # the derived column's DEFINITION is part of the spec:
        # an epoch change must rewrite the cached layout, not serve
        # day_num values computed under the old epoch
        derivation=f"day_num=datediff(to_date(ts),'{_ZORDER_EPOCH}')",
        # user_id and day ordinal have very different natural widths
        # (~8 bits vs ~5 at sf0.01); min/max normalization onto the
        # full key domain is what makes BOTH dims' footer stats tight
        # (the plan test measures it on the written files)
        normalize=True,
    )
    return (
        z.filter(
            F.col("user_id").between(20, 60)
            & F.col("day_num").between(5, 12)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------- B4: aggregations


@query(
    "agg_multi",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "partB"),
)
def agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: TPC-H Q1-style multi-aggregate scan. Decimal-exact sums;
    average = exact sum / count in double (identical IEEE ops both
    engines). Partial aggregation absorbs the fan-in before the
    shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    price = _dec("l_extendedprice")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            (F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_distinct_users",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS uniq_users, count(*) AS n
    FROM events GROUP BY event_type
    """,
    tags=("agg", "partB"),
)
def agg_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: exact distinct count alongside a plain count (two-phase
    distinct aggregation under the hood)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("uniq_users"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT event_type, bucket_day, count(*) AS n
    FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS bucket_day FROM events) t
    GROUP BY GROUPING SETS ((event_type), (event_type, bucket_day))
    """,
    tags=("agg", "partB"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: GROUPING SETS — per-type and per-(type, day) counts in one
    pass (Expand + single aggregate; one scan instead of two)."""
    ev = load_table(spark, sf_dir, "events")
    ev.select(
        "event_type", day_bucket(F.col("ts")).alias("bucket_day")
    ).createOrReplaceTempView("geetl_gs_events")
    return spark.sql(
        """
        SELECT event_type, bucket_day, count(*) AS n
        FROM geetl_gs_events
        GROUP BY GROUPING SETS ((event_type), (event_type, bucket_day))
        """
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "partB"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: CUBE — all four grouping levels in one Expand pass; NULL
    markers for rolled-up dimensions match ANSI."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "agg_pivot_type",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS bucket_day,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS view
    FROM events GROUP BY 1
    """,
    tags=("agg", "partB"),
)
def agg_pivot_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: pivot — event types to columns, one row per day. Explicit
    category list so the plan needs no discovery pass (at scale the
    values-scan would be a full job)."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy(day_bucket(F.col("ts")).alias("bucket_day"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0, _EVENT_TYPES)
    )
    return out


@query(
    "agg_percentile",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 5) AS p50,
           round(quantile_cont(value, 0.9), 5) AS p90
    FROM events GROUP BY event_type
    """,
    tags=("agg", "partB"),
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: exact percentile (linear interpolation — same definition as
    DuckDB quantile_cont); rounded to absorb interpolation ulp drift.
    The scale path is approx_percentile (see agg_approx_distinct note).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 5).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 5).alias("p90"),
    )


@query(
    "agg_quantile_clip",
    oracle="""
    WITH bounds AS (
      SELECT event_type,
             quantile_disc(value, 0.05) AS lo,
             quantile_disc(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           min(b.lo) AS lo,
           min(b.hi) AS hi,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE e.value < b.lo) AS BIGINT)
             AS n_clip_low,
           CAST(count(*) FILTER (WHERE e.value > b.hi) AS BIGINT)
             AS n_clip_high,
           CAST(SUM(CASE WHEN e.value IS NOT NULL
                         THEN CAST(least(greatest(e.value, b.lo), b.hi)
                                   AS DECIMAL(18,2)) END) AS DOUBLE)
             AS sum_clipped
    FROM events e JOIN bounds b USING (event_type)
    GROUP BY e.event_type
    """,
    tags=("agg", "partB", "curation"),
)
def agg_quantile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (quantile clipping) — the per-group robust-scaling
    primitive a training-data pipeline runs before numeric features
    feed a model: values outside each group's [p05, p95] clamp to the
    boundary, with clip counts and the clipped decimal-exact sum as
    acceptance evidence. This is the missing CLAMP-BACK half next to
    `agg_percentile` (which only reports the quantiles): the two-pass
    normalize shape — small per-group bounds aggregate, broadcast back
    over the corpus, map-side clamp.

    Scale shape: pass 1 is a column-pruned (type, value) scan into one
    bounded-domain aggregate (|types| rows); pass 2 broadcasts those
    rows back (never a shuffle of the corpus) and clamps inside
    whole-stage codegen before the final partial+final hash aggregate.
    Two corpus scans are INHERENT to global-statistic normalization —
    no single-pass plan can clamp row 1 against a quantile that
    depends on row N — and pass 1 reads two columns only.

    Value determinism: DISCRETE percentiles (Spark `percentile_disc`
    WITHIN GROUP ≙ DuckDB `quantile_disc` — verified element-equal at
    sf0.01), so the bounds are DATA values, not interpolated
    arithmetic; every comparison is data-to-data and the clamped sum
    is decimal-exact on the same 0.01-grained operands in both
    engines. The interpolating flavor would risk a rounding-mode ulp
    between engines (`agg_percentile` absorbs that with round(,5));
    clipping must not, because an ulp on a bound can flip a clamp
    comparison.

    NULL policy: a NULL reading stays NULL — it is MISSING, not an
    outlier, so it joins `n` but neither clip count nor the clipped
    sum. Without the explicit guard, least/greatest SKIP nulls in
    both engines and a NULL row would silently contribute the lo
    bound to the sum: manufactured data, guarded identically in both
    dialects (current testdata has no NULL readings, so the pytest
    over a null-bearing frame — not this oracle — keeps the
    semantics honest). Implementation:
    operators/profile.py:winsorize_stats."""
    from ..operators.profile import winsorize_stats

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return winsorize_stats(ev, "event_type", "value")


@query(
    "agg_count_if",
    oracle="""
    SELECT event_type,
           CAST(count(*) FILTER (WHERE value > 50) AS BIGINT) AS n_high,
           CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n_even_user,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    tags=("agg", "partB"),
)
def agg_count_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: conditional count — ``count_if`` is the declarative form of
    the reference's inline score-eligibility filter
    (update-contributor-scores.js:124-129). Plans as a plain
    partial+final hash aggregate (the condition folds into the partial
    buffer map-side); ANSI ``COUNT(*) FILTER`` in the oracle."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 50).alias("n_high"),
        F.count_if(F.col("user_id") % 2 == 0).alias("n_even_user"),
        F.count(F.lit(1)).alias("n"),
    )


@query("agg_approx_distinct", oracle=None, tags=("agg", "partB", "approx"))
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: approx_count_distinct (HyperLogLog++) — the 100 TB substitute
    for exact distinct; rows-only check (approximate by design)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )


@query(
    "agg_stats_suite",
    oracle="""
    SELECT event_type,
           round(stddev_samp(value), 4) AS sd,
           round(var_samp(value), 4) AS variance,
           round(corr(value, CAST(user_id AS DOUBLE)), 6) AS c,
           round(avg(value), 6) AS mean
    FROM events GROUP BY event_type
    """,
    tags=("agg", "partB"),
)
def agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: statistical aggregates (stddev/variance/corr/avg), rounded —
    merge-order float drift between engines is far below the rounding
    grain."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 4).alias("sd"),
        F.round(F.var_samp("value"), 4).alias("variance"),
        F.round(F.corr("value", F.col("user_id").cast("double")), 6).alias("c"),
        F.round(F.avg("value"), 6).alias("mean"),
    )


@query(
    "agg_min_max_by",
    oracle="""
    SELECT user_id, min(value) AS min_v, max(value) AS max_v,
           arg_min(event_type, event_id) AS first_type,
           arg_max(event_type, event_id) AS last_type
    FROM events GROUP BY user_id
    """,
    tags=("agg", "partB"),
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: min/max + argmin/argmax (min_by/max_by) — deterministic
    first/last via the unique event_id, replacing order-dependent
    first()/last()."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        F.min_by("event_type", "event_id").alias("first_type"),
        F.max_by("event_type", "event_id").alias("last_type"),
    )


@query(
    "agg_collect_set",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type))), ',')
             AS types_seen
    FROM events GROUP BY user_id
    """,
    tags=("agg", "partB"),
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: collect_set normalized by sort_array, then serialized to a
    comma-joined string — deterministic AND hashable (the driver's
    value-hash canonicalizer cannot sort raw array columns; r01 err)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "types_seen"
        )
    )


# ------------------------------------------------------------- B5: windows


@query(
    "window_rank_topk_per_group",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, count(*) AS cnt FROM events GROUP BY 1, 2
    )
    SELECT event_type, user_id, cnt, rnk FROM (
      SELECT event_type, user_id, cnt,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY cnt DESC, user_id) AS rnk
      FROM c
    ) t WHERE rnk <= 3
    """,
    tags=("window", "partB"),
)
def window_rank_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: per-group top-k — the distributed generalization of 'one ZSET
    per hour, ZREVRANGE each' (A15). row_number over hash-partitioned
    window; skewed groups emit at most k rows."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("cnt"))
    out = top_k_per_group(
        counts,
        group=["event_type"],
        order=[F.col("cnt").desc(), F.col("user_id").asc()],
        k=3,
        rank_col="rnk",
    )
    return out.withColumn("rnk", F.col("rnk").cast("bigint"))


@query(
    "window_lag_delta",
    oracle="""
    SELECT event_id, user_id,
           value - lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS delta
    FROM events
    """,
    tags=("window", "partB"),
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: lag — per-user delta between consecutive events (unique
    event_id ordering => deterministic; subtraction of identical doubles
    is exact)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
                OVER (PARTITION BY user_id ORDER BY event_id
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_sum
    FROM events
    """,
    tags=("window", "partB"),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: running sum over an unbounded-preceding rows frame —
    decimal-exact accumulation, double output."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(_dec("value")).over(w).cast("double").alias("run_sum"),
    )


@query(
    "window_sliding_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
                OVER w AS DOUBLE) / COUNT(*) OVER w AS moving_avg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "partB"),
)
def window_sliding_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: sliding rows frame (3-event moving average) — exact decimal
    sum / frame count, division in double."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        (F.sum(_dec("value")).over(w).cast("double") / F.count(F.lit(1)).over(w)).alias(
            "moving_avg"
        ),
    )


@query(
    "window_rank_suite",
    oracle="""
    SELECT event_id, user_id,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           percent_rank() OVER w AS prnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           lead(event_id) OVER w AS next_event,
           first_value(event_id) OVER w AS first_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
    tags=("window", "partB"),
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: ranking/analytic suite — rank, dense_rank, percent_rank,
    ntile, lead, first_value over a unique ordering key."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.lead("event_id").over(w).alias("next_event"),
        F.first("event_id").over(w).alias("first_event"),
    )


@query(
    "sessionize_gap",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id,
             SUM(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           count(*)::BIGINT AS n_events,
           CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT)
             AS duration_us
    FROM sess GROUP BY 1, 2
    """,
    tags=("window", "partB", "session"),
)
def sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH sessionization by inactivity gap — the batch twin of
    `stream_session_windows` (same 30-minute gap), and the canonical
    lag→flag→running-sum window composition every clickstream pipeline
    runs: a session is a maximal per-user run of events whose
    consecutive gaps stay within 30 minutes; output is one row per
    session (start, event count, duration). Ordering ties on ts break
    by the unique event_id so the running session numbering — and the
    value hash — is deterministic.

    Plan shape: ONE exchange total (plan-gated). The user_id hash
    partitioning serves the lag flag and the running sum (same
    partitioning + ordering → one Sort feeding two Window nodes), and
    because user_id is a subset of the aggregate's grouping keys
    (user_id, session_id), the SAME partitioning satisfies the
    per-session aggregate's clustered distribution — Catalyst plans
    partial+final HashAggregate with no new exchange and no global
    sort. At 100 TB that one exchange is the same hash partitioning
    any per-user analysis pays. Gap boundaries compare epoch
    MICROSECONDS (exact integers), mirroring `epoch_us()` in the
    oracle — no float time arithmetic.

    Reference analog: the 300 s dedup horizon
    (insert-events-into-db.lua:39) is a TTL on a per-key timeline;
    sessionization is the same inactivity-window concept promoted to
    an analytic operator."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 1800 * 1_000_000
    us = F.unix_micros(F.col("ts"))
    prev_us = F.lag(us).over(w)
    new_sess = F.when(
        prev_us.isNull() | ((us - prev_us) > gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        "user_id",
        "ts",
        F.sum(new_sess).over(run).alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        ts_string(F.min("ts")).alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "duration_us"
        ),
    )


# ----------------------------------------------------- B6: sort / B7: set ops


@query(
    "sort_multi_key",
    oracle="""
    SELECT event_id, user_id, value FROM events
    ORDER BY value DESC, event_id ASC LIMIT 100
    """,
    tags=("sort", "partB"),
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6: multi-key sort + limit — TakeOrderedAndProject (distributed
    top-k heap), tie-broken on the unique event_id."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return top_k(ev, [F.col("value").desc(), F.col("event_id").asc()], 100)


@query(
    "set_union_all",
    oracle="""
    SELECT user_id, 'p' AS src FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT user_id, 's' AS src FROM events WHERE event_type = 'signup'
    """,
    tags=("setop", "partB"),
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: UNION ALL (bag semantics) — the input side of the reference's
    ZUNIONSTORE (A14)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.lit("p").alias("src")
    )
    s = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.lit("s").alias("src")
    )
    return p.unionByName(s)


@query(
    "set_intersect",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'signup'
    """,
    tags=("setop", "partB"),
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: INTERSECT (distinct semantics)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id")
    s = ev.filter(F.col("event_type") == "signup").select("user_id")
    return p.intersect(s)


@query(
    "set_except",
    oracle="""
    SELECT user_id FROM events WHERE ts < TIMESTAMP '2024-01-03'
    EXCEPT
    SELECT user_id FROM events
    WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-03'
    """,
    tags=("setop", "partB"),
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: EXCEPT — users active in the first two days who had not yet
    purchased by then. (The previous operands — all-time viewers minus
    all-time purchasers — were an EMPTY difference on the test corpus:
    over a full month every user does everything, so the driver's hash
    check was vacuous. The two-day window keeps both operands and the
    subtraction non-trivial: ~a third of early-active users survive.)"""
    cutoff = F.lit("2024-01-03 00:00:00").cast("timestamp")
    ev = load_table(spark, sf_dir, "events")
    active = ev.filter(F.col("ts") < cutoff).select("user_id")
    purchased = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("ts") < cutoff)
    ).select("user_id")
    return active.subtract(purchased)


# --------------------------------------------------- B4: skew-safe aggregation


@query(
    "agg_salted_hot_key",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events GROUP BY event_type
    """,
    tags=("agg", "partB", "skew"),
)
def agg_salted_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 / 100 TB posture: aggregation on a HOT key (event_type has a
    handful of values over the whole table) via deterministic salting —
    partial agg per (key, salt), merge per key (operators/skew.py).
    Algebraically exact, so it shares the plain-GROUP-BY oracle; the
    value sum rides DECIMAL(18,2) per the determinism rules."""
    from ..operators.skew import salted_count_sum

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", _dec("value").alias("value")
    )
    out = salted_count_sum(ev, ["event_type"], "value", n_salts=32)
    return out.select(
        "event_type", "n_rows", F.col("total").cast("double").alias("total")
    )


# ------------------------------------------------------- SQL API surface


@query(
    "sql_api_leaderboard",
    oracle="""
    SELECT user_id, COUNT(*) AS score
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY user_id
    ORDER BY score DESC, user_id
    LIMIT 10
    """,
    tags=("sql", "partB"),
)
def sql_api_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY.md §3 entry point (2): the flagship contributor
    leaderboard as pure `spark.sql` over registered views — same
    Catalyst plan as the DataFrame build (TakeOrderedAndProject over a
    partial+final count), proving the SQL and DataFrame surfaces are
    the one engine."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, only=("events",))
    return spark.sql(
        """
        SELECT user_id, COUNT(*) AS score
        FROM events
        WHERE event_type IN ('purchase', 'signup')
        GROUP BY user_id
        ORDER BY score DESC, user_id
        LIMIT 10
        """
    )


# ------------------------------------------------------- table profiling

# Column spec shared by the Spark key and its generated oracle: the
# lineitem schema is fixed test data, so the oracle enumerates it
# statically (name, Spark simpleString dtype, min/max family).
_PROFILE_COLS: tuple[tuple[str, str, str], ...] = (
    ("l_orderkey", "bigint", "num"),
    ("l_partkey", "bigint", "num"),
    ("l_suppkey", "bigint", "num"),
    ("l_linenumber", "int", "num"),
    ("l_quantity", "double", "num"),
    ("l_extendedprice", "double", "num"),
    ("l_discount", "double", "num"),
    ("l_tax", "double", "num"),
    ("l_returnflag", "string", "str"),
    ("l_linestatus", "string", "str"),
    ("l_shipdate", "timestamp", "ts"),
)


def _profile_oracle() -> str:
    """One UNION ALL branch per profiled column, mirroring
    operators/profile.py row for row: n_nulls as count(*) − count(col),
    numeric min/max cast to DOUBLE (stored values — hash-safe),
    timestamps through the repo's fixed microsecond format."""
    parts = []
    for c, dt, kind in _PROFILE_COLS:
        if kind == "num":
            mi, ma = f"CAST(min({c}) AS DOUBLE)", f"CAST(max({c}) AS DOUBLE)"
            mis = mas = "CAST(NULL AS VARCHAR)"
        elif kind == "ts":
            mi = ma = "CAST(NULL AS DOUBLE)"
            mis = f"strftime(min({c}), '%Y-%m-%d %H:%M:%S.%f')"
            mas = f"strftime(max({c}), '%Y-%m-%d %H:%M:%S.%f')"
        else:
            mi = ma = "CAST(NULL AS DOUBLE)"
            mis, mas = f"min({c})", f"max({c})"
        parts.append(
            f"""
    SELECT '{c}' AS col_name, '{dt}' AS dtype,
           count(*)::BIGINT AS n_rows,
           (count(*) - count({c}))::BIGINT AS n_nulls,
           count(DISTINCT {c})::BIGINT AS n_distinct,
           {mi} AS min_num, {ma} AS max_num,
           {mis} AS min_str, {mas} AS max_str
    FROM lineitem"""
        )
    return "\nUNION ALL\n".join(parts)


@query(
    "profile_table",
    oracle=_profile_oracle(),
    tags=("relational", "partB", "quality"),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality surface: the one-pass column profile of lineitem
    (operators/profile.py) — row/null/distinct counts and typed min/max
    per column, the SUMMARIZE/ingest-acceptance scan every analytics
    engine ships and every training-data pipeline gates ingest with.
    Exact distincts here (the value-hash needs them), planned as one
    column-pruned aggregate per column unioned — the same bytes read
    as a wide pass on columnar storage, no Expand node, and the Spark
    plan now MIRRORS the oracle's UNION ALL shape; ``approx=True`` is
    the one-pass HLL alternative with the identical output schema
    (both modes plan-gated Expand-free in tests/test_plans.py). Reference analog:
    the monitoring read-side's key counts and stream stats
    (README.md:143-176), generalized per-column."""
    from ..operators.profile import profile_columns

    return profile_columns(load_table(spark, sf_dir, "lineitem"))


@query(
    "profile_table_approx",
    oracle=None,
    tags=("relational", "partB", "quality", "approx"),
)
def profile_table_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL twin of `profile_table`: identical output schema, ONE
    wide aggregation pass (no per-column branches, no Expand — plan-
    gated in tests/test_plans.py), `approx_count_distinct` for the
    cardinalities. Rows-only driver check BY DESIGN: HLL sketch values
    are engine-specific, so no DuckDB value hash can pin them — the
    value-level signal lives in the exact-twin comparison pytest
    (tests/test_plans.py::test_profile_modes_avoid_expand: schemas
    equal, n_rows/n_nulls exactly equal, n_distinct within the HLL
    error envelope). This is the profile mode a 100 TB ingest gate
    actually runs: constant memory per column, single pass, ±2%
    cardinalities."""
    from ..operators.profile import profile_columns

    return profile_columns(load_table(spark, sf_dir, "lineitem"), approx=True)


_DRIFT_CUTOFF = "2024-01-16 00:00:00"
_DRIFT_COLS = ("user_id", "event_type", "value")


def _drift_side_sql(cmp: str) -> str:
    """One side of the drift oracle: per-column (rows, non-null,
    distinct) over events filtered by the cutoff comparison."""
    parts = [
        f"""
      SELECT '{c}' AS col_name, count(*) AS n_rows, count({c}) AS nn,
             count(DISTINCT {c}) AS nd
      FROM events WHERE ts {cmp} TIMESTAMP '{_DRIFT_CUTOFF}'"""
        for c in _DRIFT_COLS
    ]
    return "\n      UNION ALL".join(parts)


@query(
    "profile_drift",
    oracle=f"""
    WITH base AS ({_drift_side_sql('<')}
    ),
    cand AS ({_drift_side_sql('>=')}
    )
    SELECT b.col_name,
           b.n_rows::BIGINT AS base_rows, c.n_rows::BIGINT AS cand_rows,
           (b.n_rows - b.nn)::BIGINT AS base_nulls,
           (c.n_rows - c.nn)::BIGINT AS cand_nulls,
           b.nd::BIGINT AS base_distinct, c.nd::BIGINT AS cand_distinct,
           -- nullif divisor guards: Spark's Divide yields NULL on a
           -- zero divisor while DuckDB raises/returns inf under IEEE
           -- defaults; nullif on BOTH sides makes degenerate (empty or
           -- all-null) sides agree on NULL across engines
           CAST(c.nd AS DOUBLE) / nullif(CAST(b.nd AS DOUBLE), 0)
             AS distinct_ratio,
           CAST(c.n_rows - c.nn AS DOUBLE)
             / nullif(CAST(c.n_rows AS DOUBLE), 0)
             - CAST(b.n_rows - b.nn AS DOUBLE)
             / nullif(CAST(b.n_rows AS DOUBLE), 0)
             AS null_rate_delta
    FROM base b JOIN cand c USING (col_name)
    """,
    tags=("relational", "partB", "quality"),
)
def profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-acceptance DRIFT gate the profile operator exists to
    feed: profile a candidate batch (events at/after the cutoff)
    against the accepted baseline (before it) and emit per-column
    drift metrics — row/null/distinct counts side by side, the
    distinct-cardinality ratio, and the null-rate delta. A pipeline at
    100 TB runs exactly this before admitting a day's drop: cardinality
    collapse and null-rate jumps are how upstream schema rot shows up
    before it poisons a corpus (the generalization of the reference's
    monitoring read-side counts, README.md:143-176, compared across
    runs).

    Plan shape: two profile passes (operators/profile.py exact mode —
    per-column PRUNED aggregates, no Expand) over ts-filtered scans;
    each side reduces to one row per profiled column, so the drift
    join is a broadcast of a handful of rows. The ratio/delta doubles
    are single IEEE divisions of exact integer counts — deterministic
    across engines, hence hashable by the oracle."""
    from ..operators.profile import profile_columns

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.to_timestamp(F.lit(_DRIFT_CUTOFF))
    cols = list(_DRIFT_COLS)

    def side(df: DataFrame, prefix: str) -> DataFrame:
        p = profile_columns(df, cols)
        return p.select(
            "col_name",
            F.col("n_rows").alias(f"{prefix}_rows"),
            F.col("n_nulls").alias(f"{prefix}_nulls"),
            F.col("n_distinct").alias(f"{prefix}_distinct"),
        )

    base = side(ev.filter(F.col("ts") < cutoff), "base")
    cand = side(ev.filter(F.col("ts") >= cutoff), "cand")
    j = base.join(F.broadcast(cand), "col_name")
    return j.select(
        "col_name",
        "base_rows",
        "cand_rows",
        "base_nulls",
        "cand_nulls",
        "base_distinct",
        "cand_distinct",
        # nullif divisor guards mirror the oracle's: Spark's Divide
        # yields NULL on a zero divisor where DuckDB's IEEE default
        # yields inf/nan, so a degenerate (empty / all-null) side at
        # some scale factor would diverge the value hash without them
        (
            F.col("cand_distinct").cast("double")
            / F.nullif(F.col("base_distinct").cast("double"), F.lit(0.0))
        ).alias("distinct_ratio"),
        (
            F.col("cand_nulls").cast("double")
            / F.nullif(F.col("cand_rows").cast("double"), F.lit(0.0))
            - F.col("base_nulls").cast("double")
            / F.nullif(F.col("base_rows").cast("double"), F.lit(0.0))
        ).alias("null_rate_delta"),
    )


@query(
    "profile_histogram",
    oracle="""
    SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
           CAST(floor(value / 50.0) AS BIGINT) * 50.0 AS lo_edge,
           count(*) AS n_rows,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("relational", "partB", "quality"),
)
def profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution leg of the profiling suite (stats →
    `profile_table`, drift → `profile_drift`, SHAPE → this): an
    equi-width histogram of a numeric column — bucket id, bucket lower
    edge, count, and the observed min/max inside each bucket. The
    shape profile is what catches a distribution shift that leaves
    counts and cardinalities intact (e.g. a unit change upstream
    doubling every value), the third standard ingest-acceptance check
    after `profile_drift`'s count-level gates.

    Scale shape: bucketing is one map-side floor-divide inside
    whole-stage codegen (the `width_bucket` pattern with explicit
    edges), then ONE hash aggregate whose key domain is the bucket
    count — bounded output regardless of input size, partial
    aggregation absorbs almost everything map-side, no skew possible
    beyond the bucket count. min/max pass stored doubles through
    unchanged and the lo_edge multiply is an exact small-int × 50.0,
    so every value is engine-stable for the hash."""
    ev = load_table(spark, sf_dir, "events")
    bin_col = F.floor(F.col("value") / F.lit(50.0)).cast("long")
    return (
        ev.groupBy(bin_col.alias("bin"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "bin",
            (F.col("bin") * F.lit(50.0)).alias("lo_edge"),
            "n_rows",
            "min_value",
            "max_value",
        )
    )


@query(
    "profile_histogram_eqdepth",
    oracle="""
    WITH edges AS (
      SELECT quantile_disc(value, 0.25) AS e1,
             quantile_disc(value, 0.50) AS e2,
             quantile_disc(value, 0.75) AS e3
      FROM events
    )
    SELECT CASE WHEN value <= e1 THEN 0
                WHEN value <= e2 THEN 1
                WHEN value <= e3 THEN 2
                ELSE 3 END AS bin,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events CROSS JOIN edges
    GROUP BY 1
    """,
    tags=("relational", "partB", "quality"),
)
def profile_histogram_eqdepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram of a numeric column — the selectivity-
    estimation leg next to `profile_histogram`'s equi-width shape
    profile: quartile bucket boundaries chosen from the DATA so each
    bucket holds ~25% of rows (the histogram flavor query optimizers
    keep, because equal-probability buckets bound selectivity error
    where equal-width buckets can put 99% of a skewed column in one
    bin). Output per bucket: id, row count, observed min/max — the
    min/max of interior buckets ARE the quantile edges, so the same
    row doubles as a quartile summary.

    Scale shape — deliberately NOT the ntile plan: ranking rows with
    ntile() costs a GLOBAL SORT of the corpus (one range exchange +
    full sort at 100 TB) just to throw the order away. Instead pass 1
    reduces the corpus to a single 3-edge row (one percentile_disc
    aggregate over a value-only pruned scan), pass 2 broadcasts that
    row back (literal broadcast-nested-loop of ONE row — never a
    corpus shuffle) and buckets map-side by three comparisons into a
    partial+final hash aggregate with a 4-key domain. Same two-pass
    bounded-broadcast pattern as `agg_quantile_clip`, different
    output semantics (distribution profile vs clamp).

    Value determinism: DISCRETE quantile edges are data values
    (`percentile_disc` WITHIN GROUP ≙ DuckDB `quantile_disc`,
    element-equal — see agg_quantile_clip), so bucket assignment is
    data-to-data comparison; counts are integers and min/max pass
    stored doubles through — every cell engine-stable for the
    hash."""
    ev = load_table(spark, sf_dir, "events").select("value")
    edges = ev.agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").alias(
            "e1"
        ),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY value)").alias(
            "e2"
        ),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").alias(
            "e3"
        ),
    )
    v = F.col("value")
    bin_col = (
        F.when(v <= F.col("e1"), 0)
        .when(v <= F.col("e2"), 1)
        .when(v <= F.col("e3"), 2)
        .otherwise(3)
    )
    return (
        ev.crossJoin(F.broadcast(edges))
        .groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


# --------------------------------------------- time-series densification

# Materialize-once registry for the gapfill hourly aggregate: one
# persisted entry per (session, canonical sf_dir), REUSED by every
# later call with that pair (the ensure_* contract, in cache form).
# Reuse — rather than unpersist-and-replace — matters because a
# previously returned DataFrame's plan still references its cache
# entry: evicting it would silently revert that live handle to the
# three-corpus-scan shape this operator exists to prevent. Keying by
# session (not just path) means two live sessions sharing an sf_dir
# each keep their own entry instead of ping-pong evicting — and
# nothing here ever unpersists another session's data (sessions of
# one SparkContext share the CacheManager, so that would destroy a
# live sibling's cache). Growth: entries whose SparkContext has
# STOPPED are swept on the next build (stop freed their blocks, so
# the sweep is just dict hygiene — it bounds stop/recreate session
# churn); entries for live-context sessions stay pinned until their
# context stops, bounded by live sessions × sf_dirs, each entry
# |types|×|hours| rows.
#
# Same caveat as ensure_bucketed_table: the registry keys the PATH,
# not the data — REGENERATED files under an unchanged sf_dir are
# served from the old aggregate for the rest of the session. Use a
# distinct path per dataset (the testdata sf-dir contract).
_GAPFILL_CACHE: dict[tuple[int, str], tuple[SparkSession, DataFrame]] = {}
_GAPFILL_LOCK = threading.Lock()


@query(
    "gapfill_hourly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT min(date_trunc('hour', ts)) AS lo,
             max(date_trunc('hour', ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
      FROM b
    ),
    types AS (SELECT DISTINCT event_type FROM events)
    SELECT t.event_type,
           strftime(s.hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_str,
           coalesce(h.n_events, 0) AS n_events
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN hourly h
      ON h.event_type = t.event_type AND h.hour_ts = s.hour_ts
    """,
    tags=("relational", "partB", "timeseries"),
)
def gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series DENSIFICATION (the timeseries-database
    `time_bucket_gapfill` / `GROUP BY ... FILL` operator): hourly event
    counts per event_type over the complete [min hour, max hour] span,
    with silent hours present as explicit zero rows. Dashboards,
    anomaly detectors and join-by-time consumers all need the dense
    spine — a missing bucket is indistinguishable from a lost
    partition otherwise. The reference's hourly score keys (A16)
    imply exactly this dense hour domain; Spark has no gapfill
    builtin, so this composes one from sequence + explode.

    Scale shape: the 100 TB input is touched ONCE, by the hourly
    aggregate (one shuffle, partial agg map-side; output bounded by
    |types| × |hours|). That small aggregate is PERSISTED and every
    densification consumer — the global min/max bounds, the type
    dimension, and the final probe side — reads the cache: without it
    Catalyst recomputes the aggregate subtree per consumer (exchange
    reuse cannot fire, column pruning makes the three subtrees
    unequal), i.e. three corpus scans instead of one. The cached
    entity is |types|×|hours| rows regardless of input size; repeated
    calls in a session REUSE the same persisted entry per sf_dir
    (materialize-once — see _GAPFILL_CACHE for why reuse, not
    unpersist-and-replace). The spine is sequence()/explode over a single
    min/max row, and spine×types is |types|×|hours| rows by
    construction — the declared bounded-domain cross, never a
    corpus-sized side. The final left join brings the counts back by
    (type, hour) equi-key. Hour timestamps serialize as fixed-format
    strings per the oracle contract."""
    from ..operators.timeseries import densify_buckets

    hourly = _gapfill_hourly_agg(spark, sf_dir)
    dense = densify_buckets(
        hourly.select("event_type", "hour_ts", "n_events"),
        "event_type",
        "hour_ts",
        "n_events",
    )
    return dense.select(
        "event_type",
        F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_str"),
        "n_events",
    )


def _gapfill_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(session, sf_dir) PERSISTED hourly aggregate both
    gapfill keys densify: (event_type, hour_ts) → event count AND
    decimal-exact mean value. One corpus scan serves the whole gapfill
    family — `gapfill_hourly` projects n_events, `gapfill_locf_reading`
    projects reading; carrying both costs one extra scan column and
    two agg buffers on an output bounded by |types|×|hours|, against
    saving a second 100 TB pass per additional consumer key.
    Materialize-once semantics, registry hygiene and the
    reuse-not-replace rule: see _GAPFILL_CACHE."""
    cache_key = (id(spark), os.path.realpath(sf_dir))

    def _cached() -> DataFrame | None:
        entry = _GAPFILL_CACHE.get(cache_key)
        if entry is None or entry[0] is not spark:
            # id() collision with a garbage-collected session cannot
            # happen while entry[0] pins the session object, but the
            # identity check keeps the invariant explicit
            return None
        hourly = entry[1]
        lvl = hourly.storageLevel
        if not (lvl.useMemory or lvl.useDisk):
            # an outside spark.catalog.clearCache() dropped the
            # registration out from under the registry — without this
            # re-persist every later call would silently run the
            # three-scan shape for the rest of the session
            hourly = hourly.persist()
            _GAPFILL_CACHE[cache_key] = (spark, hourly)
        return hourly

    with _GAPFILL_LOCK:
        hourly = _cached()
    if hourly is None:
        # build OUTSIDE the lock (load_table does driver-side file
        # I/O; unrelated sf_dirs must not stall behind it), publish
        # under it. A losing racer does NOT unpersist its "duplicate":
        # the CacheManager keys cached data by canonicalized plan, so
        # two identical persists share ONE entry — the loser's persist
        # was a no-op and an unpersist would evict the winner's data
        # out from under every handle already returned.
        ev = load_table(spark, sf_dir, "events").select(
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
            "event_type",
            "value",
        )
        built = (
            ev.groupBy("event_type", "hour_ts")
            .agg(
                F.count("*").alias("n_events"),
                # decimal-exact sum / count in double (the avg_price
                # rule): same IEEE division operands in both engines,
                # hash-stable under any row order
                (
                    F.sum(_dec("value")).cast("double")
                    / F.count(F.lit(1))
                ).alias("reading"),
            )
            .persist()
        )
        with _GAPFILL_LOCK:
            # registry hygiene under session churn: entries whose
            # SparkContext has stopped hold no cached data (the stop
            # freed their blocks) — drop them so short-lived sessions
            # cannot grow the dict monotonically. Live-session entries
            # are never evicted here: with a shared context the
            # CacheManager may serve the SAME plan-keyed entry to
            # sibling sessions, so releasing one could strand them.
            dead = [
                k
                for k, (s, _) in _GAPFILL_CACHE.items()
                if getattr(s.sparkContext, "_jsc", None) is None
            ]
            for k in dead:
                _GAPFILL_CACHE.pop(k, None)
            hourly = _cached()
            if hourly is None:
                _GAPFILL_CACHE[cache_key] = (spark, built)
                hourly = built
    return hourly


@query(
    "gapfill_locf_reading",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
               AS reading
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT min(date_trunc('hour', ts)) AS lo,
             max(date_trunc('hour', ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
      FROM b
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    dense AS (
      SELECT t.event_type, s.hour_ts, h.reading
      FROM spine s
      CROSS JOIN types t
      LEFT JOIN hourly h
        ON h.event_type = t.event_type AND h.hour_ts = s.hour_ts
    )
    SELECT event_type,
           strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_str,
           last_value(reading IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY hour_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS reading
    FROM dense
    """,
    tags=("relational", "partB", "timeseries"),
)
def gapfill_locf_reading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled READING (the timeseries `locf` fill the
    fill_forward/interpolate_linear components exist for, promoted to
    a full-oracle catalog key): mean event value per (event_type,
    hour) over the complete hour spine, with silent hours carrying the
    LAST OBSERVED reading forward instead of a fabricated zero —
    zero-filling a mean would corrupt it, which is exactly the
    count/reading distinction between densify_buckets and
    densify_values (operators/timeseries.py). Hours before a type's
    first observation stay null (locf has nothing to carry).

    Scale shape: shares the ONE persisted per-(session, sf_dir) hourly
    aggregate with `gapfill_hourly` (_gapfill_hourly_agg — the second
    consumer key is why the cache carries both measures), so the
    100 TB corpus is scanned once for the whole gapfill family; the
    densify cross is the bounded |types|×|hours| domain; the locf
    window sorts each type's ~|hours| rows once
    (fill_forward's single-exchange shape). The mean is decimal-exact
    sum / count in double and locf only CARRIES values, so every
    output double is bit-identical to DuckDB's
    `last_value(... IGNORE NULLS)` oracle."""
    from ..operators.timeseries import densify_values, fill_forward

    hourly = _gapfill_hourly_agg(spark, sf_dir)
    dense = densify_values(
        hourly.select("event_type", "hour_ts", "reading"),
        "event_type",
        "hour_ts",
        "reading",
    )
    filled = fill_forward(dense, "event_type", "hour_ts", "reading")
    return filled.select(
        "event_type",
        F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_str"),
        "reading",
    )


@query(
    "gapfill_interp_reading",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
               AS reading
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT min(date_trunc('hour', ts)) AS lo,
             max(date_trunc('hour', ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
      FROM b
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    dense AS (
      SELECT t.event_type, s.hour_ts, h.reading
      FROM spine s
      CROSS JOIN types t
      LEFT JOIN hourly h
        ON h.event_type = t.event_type AND h.hour_ts = s.hour_ts
    ),
    marked AS (
      SELECT event_type, hour_ts, reading,
             last_value(CASE WHEN reading IS NOT NULL
                             THEN epoch_us(hour_ts) END IGNORE NULLS)
               OVER w_back AS prev_t,
             last_value(reading IGNORE NULLS) OVER w_back AS prev_v,
             first_value(CASE WHEN reading IS NOT NULL
                              THEN epoch_us(hour_ts) END IGNORE NULLS)
               OVER w_fwd AS next_t,
             first_value(reading IGNORE NULLS) OVER w_fwd AS next_v
      FROM dense
      WINDOW
        w_back AS (PARTITION BY event_type ORDER BY hour_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_fwd AS (PARTITION BY event_type ORDER BY hour_ts
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type,
           strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_str,
           CASE WHEN reading IS NOT NULL THEN reading
                WHEN prev_v IS NULL THEN next_v
                WHEN next_v IS NULL THEN prev_v
                ELSE prev_v + (next_v - prev_v)
                     * (CAST(epoch_us(hour_ts) - prev_t AS DOUBLE)
                        / CAST(next_t - prev_t AS DOUBLE))
           END AS reading
    FROM marked
    """,
    tags=("relational", "partB", "timeseries"),
)
def gapfill_interp_reading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled reading, LINEAR-INTERPOLATION mode (the third
    standard fill after `gapfill_hourly`'s zero-fill and
    `gapfill_locf_reading`'s locf, completing the fill-mode family as
    catalog keys): silent hours take the value linearly interpolated
    between the surrounding observations in their type's series; head
    gaps extend the first observation backward, tail gaps the last
    forward (interpolate_linear's documented boundary policy).

    Scale shape: third consumer of the ONE persisted
    per-(session, sf_dir) hourly aggregate (_gapfill_hourly_agg), so
    the corpus-scan count for the whole gapfill family stays one; the
    interpolation windows evaluate BOTH frames (backward-last +
    forward-first) over a single partitioning and ascending sort —
    one Exchange, one Sort, one Window node
    (operators/timeseries.py:interpolate_linear, plan-gated).

    Value determinism across engines: time arithmetic runs on
    microsecond longs (unix_micros ≙ DuckDB epoch_us — exact
    integers), the interpolation computes the RATIO first from exact
    integer operands, and the oracle spells the identical IEEE
    operation sequence (sub, div, mul, add on the same operands in
    the same order), so every interpolated double hashes
    bit-identical — the ratio-first rule from interpolate_linear's
    docstring applied to the oracle dialect too."""
    from ..operators.timeseries import densify_values, interpolate_linear

    hourly = _gapfill_hourly_agg(spark, sf_dir)
    dense = densify_values(
        hourly.select("event_type", "hour_ts", "reading"),
        "event_type",
        "hour_ts",
        "reading",
    )
    filled = interpolate_linear(dense, "event_type", "hour_ts", "reading")
    return filled.select(
        "event_type",
        F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_str"),
        "reading",
    )


# --------------------------------------------- incremental maintenance

_MERGE_CUTOFF = "2024-01-16 00:00:00"


@query(
    "merge_upsert",
    oracle=f"""
    WITH latest_pre AS (
      SELECT user_id, event_id, ts, value FROM (
        SELECT user_id, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '{_MERGE_CUTOFF}'
      ) WHERE rn = 1
    ),
    latest_post AS (
      SELECT user_id, event_id, ts, value FROM (
        SELECT user_id, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts >= TIMESTAMP '{_MERGE_CUTOFF}'
      ) WHERE rn = 1
    )
    -- side-based resolution mirroring upsert(): the change side wins
    -- WHOLESALE when present (null change columns included) — user_id
    -- is non-null throughout events, so presence == key non-null here
    SELECT CASE WHEN c.user_id IS NOT NULL THEN c.user_id
                ELSE b.user_id END AS user_id,
           CASE WHEN c.user_id IS NOT NULL THEN c.event_id
                ELSE b.event_id END AS event_id,
           strftime(CASE WHEN c.user_id IS NOT NULL THEN c.ts
                         ELSE b.ts END,
                    '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
           CASE WHEN c.user_id IS NOT NULL THEN c.value
                ELSE b.value END AS value,
           CASE WHEN c.user_id IS NOT NULL AND b.user_id IS NOT NULL
                THEN 'update'
                WHEN c.user_id IS NOT NULL THEN 'insert'
                ELSE 'keep' END AS action
    FROM latest_pre b FULL JOIN latest_post c ON b.user_id = c.user_id
    """,
    tags=("relational", "partB", "merge"),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style incremental maintenance (operators/merge.py upsert):
    the base table is each user's latest state before a cutoff, the
    change set their latest state after it; the merge updates matched
    users, inserts new ones, keeps the rest — with the action labeled
    per row. This is the warehouse MERGE INTO execution shape (one
    full-outer join on the key; broadcast the change set when small),
    the generalization of the reference's incremental summary merge
    (update-contributor-scores.js:252-263)."""
    from ..operators.merge import upsert

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def latest(side: DataFrame) -> DataFrame:
        return (
            side.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "event_id", "ts", "value")
        )

    cutoff = F.to_timestamp(F.lit(_MERGE_CUTOFF))
    base = latest(ev.filter(F.col("ts") < cutoff))
    changes = latest(ev.filter(F.col("ts") >= cutoff))
    out = upsert(base, changes, key="user_id")
    return out.select(
        "user_id",
        "event_id",
        ts_string(F.col("ts")).alias("ts_str"),
        "value",
        "action",
    )


@query(
    "scd2_history",
    oracle="""
    SELECT user_id, event_id, value,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           lead(ts) OVER w IS NULL AS is_current
    FROM events
    WHERE event_type IN ('signup', 'purchase')
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("relational", "partB", "merge"),
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 (operators/merge.py
    scd2_versions): every qualifying event becomes a version row valid
    from its own timestamp until the user's next one (open-ended +
    is_current for the latest). One shuffle into per-user windows;
    event_id breaks exact-timestamp ties so same-instant changes keep
    deterministic zero-length intervals instead of collapsing."""
    from ..operators.merge import scd2_versions

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    out = scd2_versions(
        ev.select("user_id", "event_id", "ts", "value"),
        key="user_id",
        ts_col="ts",
        seq_col="event_id",
    )
    return out.select(
        "user_id",
        "event_id",
        "value",
        ts_string(F.col("valid_from")).alias("valid_from"),
        ts_string(F.col("valid_to")).alias("valid_to"),
        "is_current",
    )
