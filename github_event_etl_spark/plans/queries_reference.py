"""Declared queries — Part A: reference-parity operators (SURVEY.md §2A).

Each query cites the reference behavior it re-expresses and carries an
ANSI-SQL DuckDB oracle. Temp inputs (NDJSON/CSV roundtrips) are derived
*from the events table* so the oracle can be expressed over the same
pre-registered views.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.predicates import is_bot_login_heuristic, is_bot_login_regex
from ..functions.timeutil import hour_bucket, day_bucket, ts_string, next_utc_midnight
from ..operators.dedup import dedup_by_key, dedup_first_by_key
from ..operators.layout import write_day_partitioned
from ..operators.retention import expire_day_partitions, last_n_view
from ..operators.scoring import daily_rollup, hourly_scores, top_contributors
from ..sources.ndjson import CORRUPT_COL, read_ndjson, read_ndjson_with_corrupt
from ..sources.tables import load_table
from ._synth import BOT_REGEX_SQL, bot_heuristic_sql, synth_login, synth_login_sql
from ..scratch import scratch_dir
from .catalog import query

_TS_SQL = "strftime(ts, '%Y-%m-%d %H:%M:%S.%f')"
_SCORING_KINDS = ("purchase", "signup")


# ---------------------------------------------------------------- A1/B1: scans


@query(
    "scan_events",
    oracle=f"""
    SELECT event_id, {_TS_SQL} AS ts_str, user_id, event_type, value, props
    FROM events
    """,
    tags=("scan", "partA"),
)
def scan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: event-stream scan (insert-events.js:8-34). Parquet scan with
    full projection; ts emitted as a fixed-format string for the
    value-hash."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        ts_string(F.col("ts")).alias("ts_str"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


@query(
    "scan_archive",
    oracle=f"""
    SELECT event_id, event_type, user_id, {_TS_SQL} AS ts_str
    FROM events
    """,
    tags=("scan", "partA"),
)
def scan_archive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: GH-Archive-style gzip NDJSON scan
    (update-contributor-scores.js:71-96). The events table is written
    out as .json.gz and read back with an explicit schema — Spark
    gunzips natively, one task per file; no imperative decompress step.
    """
    out = scratch_dir(sf_dir, "archive_ndjson")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", ts_string(F.col("ts")).alias("ts_str")
    )
    ev.write.mode("overwrite").option("compression", "gzip").json(out)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts_str", T.StringType()),
        ]
    )
    return read_ndjson(spark, out, schema).select(
        "event_id", "event_type", "user_id", "ts_str"
    )


@query(
    "scan_python_source",
    oracle="""
    SELECT i AS event_id,
           strftime(TIMESTAMP '2024-03-01 00:00:00' + i * INTERVAL 1 SECOND,
                    '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
           (i * 2654435761) % 97 AS user_id,
           'view' AS event_type,
           CAST(i % 1000 AS DOUBLE) / 10.0 AS value
    FROM range(0, 5000) r(i)
    WHERE i % 5 = 2
    """,
    tags=("scan", "partB1", "pysource"),
)
def scan_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: custom Python Data Source scan (Spark 4
    `pyspark.sql.datasource`) — the first-class stand-in for the
    reference's live HTTP ingest loop (insert-events.js:8-34), which
    fabricates a steady event stream against no upstream. The source
    (sources/pysource.py) generates rows executor-side from contiguous
    range partitions; every column is a pure integer function of the
    row index, which is what lets the DuckDB oracle re-derive the scan
    from `range(0, n)`.

    The `event_type = 'view'` filter lands INSIDE the generator via
    `pushFilters` (plan-gated in tests/test_live_ingest.py — the
    predicate is absent from the post-scan plan), the Python-source
    analog of parquet row-group pruning; the oracle applies the same
    predicate arithmetically (`i % 5 = 2` — 'view' is EVENT_TYPES[2]).
    `sf_dir` is unused: the source IS the data."""
    from ..sources.pysource import register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n", 5000)
        .option("num_partitions", 8)
        .load()
        .filter(F.col("event_type") == "view")
    )
    return df.select(
        "event_id",
        ts_string(F.col("ts")).alias("ts_str"),
        "user_id",
        "event_type",
        "value",
    )


@query(
    "parse_ndjson_corrupt",
    oracle="""
    SELECT event_id, event_type FROM events WHERE event_id % 10 <> 0
    """,
    tags=("scan", "partA"),
)
def parse_ndjson_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A19: per-line error isolation. Every 10th event's JSON line is
    deterministically truncated; the PERMISSIVE reader flags those rows
    in a corrupt-record column and the query keeps the good ones — the
    reference's log-and-skip policy (update-contributor-scores.js:147-150)
    without killing the scan."""
    out = scratch_dir(sf_dir, "corrupt_ndjson")
    ev = load_table(spark, sf_dir, "events")
    line = F.to_json(F.struct("event_id", "event_type"))
    corrupted = F.when(
        F.col("event_id") % 10 == 0, F.substring(line, 1, 10)
    ).otherwise(line)
    ev.select(corrupted.alias("value")).write.mode("overwrite").text(out)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    parsed = read_ndjson_with_corrupt(spark, out, schema)
    return parsed.filter(F.col(CORRUPT_COL).isNull()).select("event_id", "event_type")


# ------------------------------------------------------------------- filters


@query(
    "filter_bot_regex",
    oracle=f"""
    SELECT event_id, login FROM (
      SELECT event_id, {synth_login_sql()} AS login FROM events
    ) t
    WHERE NOT regexp_matches(login, {BOT_REGEX_SQL})
    """,
    tags=("filter", "partA"),
)
def filter_bot_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: ingest-path bot regex /(\\[bot\\]|-bot$)/ (insert-events.js:42,
    49-52) over a deterministic login derived from user_id."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", synth_login().alias("login")
    )
    return ev.filter(~is_bot_login_regex(F.col("login"))).select("event_id", "login")


@query(
    "filter_bot_heuristic",
    oracle=f"""
    SELECT event_id, login FROM (
      SELECT event_id,
             CASE WHEN user_id % 13 = 0 THEN NULL
                  ELSE {synth_login_sql()} END AS login
      FROM events
    ) t
    WHERE NOT {bot_heuristic_sql("login")}
    """,
    tags=("filter", "partA"),
)
def filter_bot_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: batch-path 15-pattern bot heuristic
    (update-contributor-scores.js:45-68); null login counts as bot
    (:46-48) — exercised by nulling every 13th user."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("user_id") % 13 == 0, F.lit(None).cast("string"))
        .otherwise(synth_login())
        .alias("login"),
    )
    return ev.filter(~is_bot_login_heuristic(F.col("login"))).select(
        "event_id", "login"
    )


@query(
    "filter_type_isin",
    oracle="""
    SELECT event_id, event_type, user_id FROM events
    WHERE event_type IN ('purchase', 'signup')
    """,
    tags=("filter", "partA"),
)
def filter_type_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: scoring event-type predicate
    (update-contributor-scores.js:124). isin pushes to the parquet scan
    as an In filter."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type").isin(*_SCORING_KINDS)).select(
        "event_id", "event_type", "user_id"
    )


# --------------------------------------------------------------- projections


@query(
    "project_nested",
    oracle=f"""
    SELECT event_id,
           CASE WHEN user_id % 13 = 0 THEN NULL ELSE {synth_login_sql()} END AS login,
           CASE WHEN user_id % 13 = 0 THEN NULL ELSE user_id END AS actor_id
    FROM events
    """,
    tags=("project", "partA"),
)
def project_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: null-propagating nested-field extraction (the JS `event.actor
    ?.login`, update-contributor-scores.js:126). Builds an actor struct
    (null for every 13th user), then extracts fields — struct access in
    Spark null-propagates exactly like `?.`."""
    ev = load_table(spark, sf_dir, "events")
    actor = F.when(
        F.col("user_id") % 13 != 0,
        F.struct(F.col("user_id").alias("id"), synth_login().alias("login")),
    )  # otherwise NULL struct
    nested = ev.select("event_id", actor.alias("actor"))
    return nested.select(
        "event_id",
        F.col("actor.login").alias("login"),
        F.col("actor.id").alias("actor_id"),
    )


@query(
    "flatten_to_json",
    oracle="""
    SELECT event_id,
           '{"event_id":' || CAST(event_id AS VARCHAR)
             || ',"event_type":"' || event_type
             || '","user_id":' || CAST(user_id AS VARCHAR) || '}' AS payload_json
    FROM events
    """,
    tags=("project", "partA"),
)
def flatten_to_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: flatten/serialize projection — nested record to JSON string
    (insert-events-into-db.lua:17-23's cjson.encode). to_json(struct(...))
    is the Spark-native flattener; the oracle rebuilds the exact string."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_json(F.struct("event_id", "event_type", "user_id")).alias(
            "payload_json"
        ),
    )


# -------------------------------------------------------------------- dedup


@query(
    "dedup_event_id",
    oracle="""
    SELECT DISTINCT event_id, event_type, user_id FROM events
    """,
    tags=("dedup", "partA"),
)
def dedup_event_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: dedup-by-key (insert-events-into-db.lua:8-11). The input is
    the stream delivered twice (union with itself) — the at-least-once
    scenario the Redis event-log guards against; dropDuplicates restores
    exactly-once."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    return dedup_by_key(ev.unionAll(ev), ["event_id"])


@query(
    "dedup_first_wins",
    oracle="""
    SELECT event_id, value FROM events
    """,
    tags=("dedup", "partA"),
)
def dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (deterministic variant): first-insert-wins. A retransmitted
    copy with mutated payload arrives later; keep-first-by-arrival must
    return the originals — the TTL'd event-log SET semantics where the
    second insert is a no-op (insert-events-into-db.lua:8-11)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    first = ev.withColumn("arrival", F.lit(0))
    retx = ev.withColumn("value", F.col("value") + 100.0).withColumn(
        "arrival", F.lit(1)
    )
    out = dedup_first_by_key(
        first.unionByName(retx), ["event_id"], [F.col("arrival").asc()]
    )
    return out.select("event_id", "value")


# ----------------------------------------------------------- sink / retention


@query(
    "sink_append_last_n",
    oracle="""
    SELECT event_id, event_type, user_id FROM events
    ORDER BY event_id DESC LIMIT 1000
    """,
    tags=("sink", "partA"),
)
def sink_append_last_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: capped stream retention — XADD MAXLEN '~' 1000
    (insert-events-into-db.lua:33). Last-1000 view over the append
    table by the monotonic event_id; plans as TakeOrderedAndProject
    (per-partition heap), not a full sort."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    return last_n_view(ev, "event_id", 1000)


@query(
    "retention_expire_partitions",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS bucket_day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS users
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') >=
          (SELECT strftime(date_trunc('day', max(ts)) - INTERVAL 7 DAY,
                           '%Y-%m-%d') FROM events)
    GROUP BY 1
    """,
    tags=("sink", "retention", "partA"),
)
def retention_expire_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: aggregate TTL as partition-drop retention — the reference
    expires each day's score keys at the next UTC midnight
    (update-contributor-scores.js:218-220, EXPIREAT). Engine form:
    events written day-PARTITIONED (redis-key-generator.js key scheme),
    then partitions older than a 7-day horizon are physically dropped —
    a directory-name metadata operation that never reads expired data
    (operators/retention.py:expire_day_partitions). The surviving table
    is re-read through the partitioned path and summarized per day.

    The horizon (newest day − 7) comes from the partition DIRECTORY
    NAMES the write just produced — a pure metadata read, zero Spark
    jobs, zero rows touched. No declared query collects row data."""
    out = scratch_dir(sf_dir, "events_retention")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    write_day_partitioned(ev, out)
    days = sorted(
        e.split("=", 1)[1]
        for e in os.listdir(out)
        if e.startswith("bucket_day=") and os.path.isdir(os.path.join(out, e))
    )
    max_day = datetime.date.fromisoformat(days[-1])
    horizon = (max_day - datetime.timedelta(days=7)).strftime("%Y-%m-%d")
    expire_day_partitions(out, horizon)
    kept = spark.read.parquet(out)
    return kept.groupBy(F.col("bucket_day").cast("string").alias("bucket_day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("users"),
    )


@query(
    "stream_stats_view",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS length,
           CAST(min(event_id) AS BIGINT) AS first_entry_id,
           CAST(max(event_id) AS BIGINT) AS last_entry_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_entry_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_entry_ts,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_producers
    FROM events
    """,
    tags=("sink", "partA", "monitoring"),
)
def stream_stats_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 monitoring: the stream-metadata view — `XINFO STREAM`
    (reference README.md:155): length, first/last entry id and time,
    producer cardinality. One single-pass global aggregate; at scale
    min/max/count fold map-side so the shuffle carries one row per
    partition."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("length"),
        F.min("event_id").alias("first_entry_id"),
        F.max("event_id").alias("last_entry_id"),
        ts_string(F.min("ts")).alias("first_entry_ts"),
        ts_string(F.max("ts")).alias("last_entry_ts"),
        F.countDistinct("user_id").alias("n_producers"),
    )


# ------------------------------------------------------------- aggregations


@query(
    "agg_hourly_count",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d %H') AS bucket_hour, user_id,
           count(*) AS score
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY 1, 2
    """,
    tags=("agg", "partA", "flagship"),
)
def agg_hourly_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: the hourly contributor score — COUNT(*) GROUP BY (hour,
    actor), the reference's per-event ZINCRBY
    (update-contributor-scores.js:131) as one partial+final hash
    aggregate. Buckets by event time, not archive-file hour (declared
    deviation, SURVEY.md §2A)."""
    ev = load_table(spark, sf_dir, "events")
    return hourly_scores(ev, kinds=_SCORING_KINDS)


@query(
    "rollup_daily_sum",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS bucket_day, user_id,
           count(*) AS score
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY 1, 2
    """,
    tags=("agg", "partA"),
)
def rollup_daily_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: daily rollup = ZUNIONSTORE over the day's hourly sets
    (update-contributor-scores.js:252-263): re-aggregates the hourly
    *aggregate* (tiny), never the raw events."""
    ev = load_table(spark, sf_dir, "events")
    return daily_rollup(hourly_scores(ev, kinds=_SCORING_KINDS))


@query(
    "topk_contributors",
    oracle="""
    SELECT user_id, count(*) AS score
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY user_id
    ORDER BY score DESC, user_id ASC
    LIMIT 10
    """,
    tags=("agg", "topk", "partA"),
)
def topk_contributors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: ZREVRANGE 0 9 WITHSCORES (README.md:148-150) — top-10
    contributors over the full range; TakeOrderedAndProject, tie-broken
    on user_id."""
    ev = load_table(spark, sf_dir, "events")
    total = (
        hourly_scores(ev, kinds=_SCORING_KINDS)
        .groupBy("user_id")
        .agg(F.sum("score").alias("score"))
    )
    return top_contributors(total, k=10)


# ------------------------------------------------------- time & incremental


@query(
    "time_bucketing",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d') AS bucket_day,
           extract(hour FROM ts) AS hour_of_day,
           strftime(ts, '%Y-%m-%d %H') AS bucket_hour,
           CAST(floor(epoch(ts)) AS BIGINT) AS unix_sec,
           strftime(date_trunc('day', ts) + INTERVAL 1 DAY,
                    '%Y-%m-%d %H:%M:%S.%f') AS expire_at
    FROM events
    """,
    tags=("time", "partA"),
)
def time_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: UTC time bucketing / partition-key derivation
    (update-contributor-scores.js:12-25) + the EXPIREAT next-midnight
    horizon (:33-42)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        day_bucket(F.col("ts")).alias("bucket_day"),
        F.hour("ts").cast("bigint").alias("hour_of_day"),
        hour_bucket(F.col("ts")).alias("bucket_hour"),
        F.unix_timestamp("ts").alias("unix_sec"),
        ts_string(next_utc_midnight(F.col("ts"))).alias("expire_at"),
    )


@query(
    "incremental_missing_partitions",
    oracle="""
    SELECT bucket_day FROM (
      SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS bucket_day FROM events
      EXCEPT
      SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS bucket_day FROM events
      WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
    ) t
    """,
    tags=("incremental", "partA"),
)
def incremental_missing_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: incremental-scan pruning — process only partitions absent
    from the target (the reference's EXISTS-then-break descending-hour
    loop, update-contributor-scores.js:195-204). Anti-join of the
    partition list against the already-materialized list; at scale both
    sides are partition *metadata*, so this broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    all_parts = ev.select(day_bucket(F.col("ts")).alias("bucket_day")).distinct()
    done = (
        ev.filter(F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        .select(day_bucket(F.col("ts")).alias("bucket_day"))
        .distinct()
    )
    return all_parts.join(done, on="bucket_day", how="left_anti")
