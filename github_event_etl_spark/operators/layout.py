"""Physical table layout: partitioned and bucketed writes (SURVEY.md
§1.4, §4.2; reference key scheme redis-key-generator.js:1-10).

The reference partitions by encoding `{date}:{hour}` into Redis key
names (update-contributor-scores.js:28-30); the Spark-native equivalent
is real partition columns — `write.partitionBy('bucket_day', ...)` —
which buy partition PRUNING at read time: a query filtered on the
partition column opens only the matching directories, the 100 TB
equivalent of the reference's EXISTS-then-skip hour loop (A13).

Bucketing is the second layout lever: two tables bucketed by the same
key into the same bucket count join WITHOUT a shuffle exchange — the
rows are already co-located by bucket id. At 100 TB the facts→dims
join shuffle is usually the single largest cost in a pipeline; a
bucketed fact table pays that shuffle once at write time and amortizes
it over every subsequent join.

The `ensure_*` faces write a layout once per path and serve it on later
calls, in this process or a fresh one. `scratch.materialize_once` is
their only commit: the files count as written when `<path>/_spec.json`
equals the call's spec, which is committed last, so a torn write or a
layout written for another spec is rewritten, never served.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import materialize_once


def write_day_partitioned(
    df: DataFrame, path: str, ts_col: str = "ts", mode: str = "overwrite"
) -> None:
    """Write `df` as parquet partitioned by the UTC day of `ts_col`.

    The partition value is a fixed-format string (yyyy-MM-dd) so the
    directory names are stable lexicographic day keys — same shape the
    reference encodes into its score keys (A16/A18)."""
    out = df.withColumn(
        "bucket_day", F.date_format(F.col(ts_col), "yyyy-MM-dd")
    )
    out.write.mode(mode).partitionBy("bucket_day").parquet(path)


def read_day_partition(
    spark: SparkSession, path: str, day: str
) -> DataFrame:
    """Read exactly one day partition. The equality filter on the
    partition column is resolved against directory names (PartitionFilters
    in the scan) — no data files outside the day are opened."""
    df = spark.read.parquet(path)
    return df.filter(F.col("bucket_day") == day)


def _normalize_location(loc: str) -> str:
    """Canonical comparison form for a storage location. Local paths
    (no scheme, or file: with an EMPTY or 'localhost' authority —
    file:/p, file:///p, file://localhost/p, the forms RFC 8089 defines
    as the local machine) normalize via os.path.realpath; any other
    scheme — and a file: URI naming a REMOTE host (file://hostA/p) —
    canonicalizes textually to `scheme://netloc/path` with percent-
    escapes decoded and the trailing slash dropped — realpath on a raw
    URI string would prepend the cwd and collapse the `//` after the
    scheme, so equivalent non-local URIs differing only by trailing
    slash or escape form would spuriously mismatch. Realpath'ing a
    remote-host file: URI would be worse than a mismatch: it DISCARDS
    the authority, so file://hostA/p and file://hostB/p would compare
    equal — the false-MATCH direction the paragraph below calls the
    dangerous one. ('localhost' is matched exactly, lowercase, per the
    netloc case rule below; an uppercase spelling canonicalizes
    textually and at worst raises the loud mismatch error.)

    The netloc compares CASE-SENSITIVELY, deliberately: DNS hostnames
    are case-insensitive, but object-store authorities carry
    case-SENSITIVE namespaces (legacy S3 bucket names), and the two
    are indistinguishable here. The failure modes are asymmetric — a
    false MISMATCH raises ensure_bucketed_table's loud
    'registered at a different location' error (annoying, safe),
    while a false MATCH would skip that guard and silently
    drop-and-rewrite another caller's registration. Callers on a
    case-insensitive filesystem should spell the authority
    consistently — and note the catalog itself may canonicalize
    authority case (e.g. Hadoop lowercases HDFS hostnames in stored
    locations), in which case a mixed-case caller spelling mismatches
    DESC FORMATTED's lowercased report and raises the loud error on
    the warm path: spell remote authorities lowercase. Only the
    scheme (case-insensitive by RFC 3986 for every registered scheme)
    is folded."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(loc)
    if parsed.scheme == "":
        return os.path.realpath(loc)
    if parsed.scheme == "file" and parsed.netloc in ("", "localhost"):
        return os.path.realpath(unquote(parsed.path))
    path = unquote(parsed.path).rstrip("/")
    return f"{parsed.scheme.lower()}://{parsed.netloc}{path}"


def _table_location(spark: SparkSession, table_name: str) -> str | None:
    """The catalog table's storage location as reported by DESC
    FORMATTED (verbatim URI — compare via `_normalize_location`), or
    None when the catalog exposes none (e.g. a temp view).

    Only rows AFTER the '# Detailed Table Information' marker count:
    DESC FORMATTED lists the schema first, where a data column
    literally named 'Location' would otherwise match and return its
    TYPE string as the path."""
    in_detail = False
    for row in spark.sql(f"DESC FORMATTED {table_name}").collect():
        if row.col_name.startswith("# Detailed Table Information"):
            in_detail = True
        elif in_detail and row.col_name == "Location":
            return row.data_type
    return None


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_col: str,
    num_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Register `df` as a bucketed (and optionally sort-within-bucket)
    parquet table. Bucketing metadata lives in the catalog, so this is
    a `saveAsTable`, not a path write; the explicit `path` keeps the
    files out of the default warehouse.

    Joins between two tables bucketed on the same key with the same
    bucket count skip the shuffle exchange entirely; with matching
    `sort_col` they skip the sort as well (a zip-merge join per
    bucket)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(num_buckets, bucket_col)
    )
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def ensure_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_col: str,
    num_buckets: int,
    sort_col: str | None = None,
) -> DataFrame:
    """Cross-process idempotent face of `write_bucketed_table`: the
    bucketed files materialize ONCE per `path`, and later processes
    re-REGISTER the existing layout instead of re-shuffling and
    re-writing it.

    The files are committed by `scratch.materialize_once` with a spec
    of (bucket col, bucket count, sort col, schema); a tree whose spec
    differs is rewritten (`write_bucketed_table`, which registers the
    table). When the committed tree is served, the table is returned
    as registered in this session, or — in a fresh catalog (new
    process) — re-registered by `CREATE TABLE ... CLUSTERED BY ...
    LOCATION`, the DDL a metastore-backed deployment would persist
    once. A name already registered here must point at `path`: a
    different location or a temp view (no location) under the name is
    a caller collision and raises.

    The spec is what makes the register path SAFE to trust:
    registering bucket metadata the files don't satisfy would make
    Spark skip the join shuffle and silently DROP matches (rows hashed
    into buckets the metadata doesn't predict never meet their join
    partners) — a spec/schema change across code versions must rewrite,
    never re-register. The spec does not hash the DATA: callers must
    use a distinct `path` per source dataset (as the catalog keys do,
    one per sf), since regenerated source files under an unchanged
    path+spec cannot be detected here.

    Live-handle hazard on in-session respec (the same hazard the
    gapfill registry documents): when a same-session caller asks for a
    DIFFERENT spec at an existing `path`, the stale registration is
    dropped and the files at `path` are overwritten — DataFrame
    handles returned by EARLIER calls under the old spec still
    reference the overwritten files and will fail (or read the new
    layout) when next executed. A respec'ing ensure call retires every
    handle the old spec handed out; callers that need both layouts
    live at once must use distinct paths.
    """
    if spark.catalog.tableExists(table_name):
        # A registered table must actually point at THIS call's `path`
        # before the spec at that path can vouch for it — the same name
        # registered at a different location is a caller collision,
        # answered loudly rather than with another location's data (or
        # a silent drop of the other caller's registration).
        loc = _table_location(spark, table_name)
        if loc is None:
            # A catalog entry with no storage location (a temp view
            # sharing the name) cannot be verified against `path` —
            # and rewriting would not help, since `spark.table(name)`
            # resolves the view, not the files. Same loud answer as
            # the wrong-location case, not a silent bypass.
            raise ValueError(
                f"ensure_bucketed_table: {table_name!r} exists in the "
                "catalog without a storage location (temp view?) — it "
                f"would shadow the bucketed table at {path!r}; use a "
                "distinct table name"
            )
        if _normalize_location(loc) != _normalize_location(path):
            raise ValueError(
                f"ensure_bucketed_table: table {table_name!r} is already "
                f"registered at {loc!r}, not the requested {path!r} — "
                "use a distinct table name per layout path"
            )
    spec = {
        "bucket_col": bucket_col,
        "num_buckets": num_buckets,
        "sort_col": sort_col,
        "schema": df.schema.simpleString(),
    }
    wrote = materialize_once(
        path,
        spec,
        lambda p: write_bucketed_table(
            df, table_name, p, bucket_col, num_buckets, sort_col
        ),
    )
    if not wrote and not spark.catalog.tableExists(table_name):
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        sort_clause = (
            f"SORTED BY ({sort_col}) " if sort_col is not None else ""
        )
        spark.sql(
            f"CREATE TABLE {table_name} ({ddl}) USING PARQUET "
            f"CLUSTERED BY ({bucket_col}) {sort_clause}"
            f"INTO {num_buckets} BUCKETS LOCATION '{path}'"
        )
    return spark.table(table_name)


def ensure_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    num_files: int | None = None,
    derivation: str = "",
    normalize: bool = False,
) -> DataFrame:
    """Materialize-once face of `write_zordered`: the Z-ordered files
    land ONCE per `path`, and later calls (same process or a fresh
    one) read the existing layout back instead of re-paying the range
    shuffle + sorted write — the same amortization contract as
    `ensure_bucketed_table`.

    The files are committed by `scratch.materialize_once` with a spec
    of (dims, bits, file count, schema, derivation, normalize). Unlike
    bucket metadata, a stale Z-layout cannot DROP rows — pruning only
    narrows the scan via footer stats, values are layout-invariant —
    but a schema or derived-column change across code versions would
    make the cached files answer with old CONTENT, so a spec mismatch
    rewrites, never trusts. The schema string alone cannot see a
    derived column's DEFINITION change (same name, same type, new
    formula): callers computing columns into `df` must fold the
    formula's constants into `derivation` (as layout_zorder_prune does
    with its day-ordinal epoch) so a definition change rewrites instead
    of serving stale values. Same caveat as the bucketed face: the spec
    does not hash the data; use a distinct `path` per source
    dataset."""
    spec = {
        "col_a": col_a,
        "col_b": col_b,
        "bits": bits,
        "num_files": num_files,
        "schema": df.schema.simpleString(),
        "derivation": derivation,
        "normalize": normalize,
    }
    materialize_once(
        path,
        spec,
        lambda p: write_zordered(
            df, p, col_a, col_b,
            bits=bits, num_files=num_files, normalize=normalize,
        ),
    )
    return df.sparkSession.read.parquet(path)


def pack_layout(
    docs: DataFrame,
    capacity: int = 4000,
    block: int = 100,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """The sequence-packing layout table: for every document its
    (lang, block, toks, shard, offset_in_shard) — shard and starting
    offset are (cumulative tokens before it) divmod capacity in id
    order within the (lang, `block`-doc) packing group. Deterministic,
    no RNG, all-integer (truncating `div` matches DuckDB `//`), so the
    byte layout of a packed training file is reproducible anywhere —
    this is the core the catalog keys llm_pack_offsets /
    llm_token_shards expose, factored out so `write_packed_shards`
    can materialize the same layout physically.

    Scale shape: the running sum windows over (lang, doc-block)
    composite keys — an unbounded number of small independent
    partitions, so parallelism grows with the corpus instead of being
    capped at the language count; token counting is map-side
    regexp_count; one skew-free shuffle total."""
    from pyspark.sql import Window

    from .text_analysis import regex_token_count

    w = (
        Window.partitionBy(lang_col, "block")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = docs.select(
        id_col,
        lang_col,
        # Integer `div`, not double-divide-then-cast: truncating
        # division toward zero is exactly DuckDB's `//`, identical by
        # construction even for ids beyond 2^53.
        F.expr(f"{id_col} div {block}").alias("block"),
        regex_token_count(F.col(text_col)).cast("long").alias("toks"),
    ).withColumn("tok_before", F.sum("toks").over(w) - F.col("toks"))
    return c.select(
        id_col,
        lang_col,
        "block",
        "toks",
        F.expr(f"tok_before div {capacity}").alias("shard"),
        (F.col("tok_before") % capacity).alias("offset_in_shard"),
    )


def write_packed_shards(
    docs: DataFrame,
    path: str,
    capacity: int = 4000,
    block: int = 100,
    mode: str = "overwrite",
) -> None:
    """Materialize the packing layout physically: text joined to its
    `pack_layout` row, written parquet PARTITIONED BY
    (lang, block, shard) — one directory per training shard, the
    packing analog of `ivf_write_index`. A trainer reads exactly one
    shard directory (partition pruning; no other shard's bytes are
    opened), sorts its rows by doc_id — equivalently offset_in_shard,
    which is strictly increasing in doc_id within a shard — and
    concatenates: offsets make the reconstruction order-independent
    of parquet row order, which writers do not preserve.

    The join back to text is an equi-join on the unique doc id (AQE
    picks broadcast vs sort-merge by layout size); the write itself is
    one pass. Directory count = Σ per-(lang, block) shard counts —
    at 100 TB that is exactly the shard inventory a training run
    schedules over, listed by the filesystem instead of a manifest."""
    layout = pack_layout(docs, capacity, block)
    out = docs.select("doc_id", "lang", "text").join(
        layout.select(
            "doc_id", "block", "toks", "shard", "offset_in_shard"
        ),
        "doc_id",
    )
    out.write.mode(mode).partitionBy("lang", "block", "shard").parquet(path)


def zorder_key(col_a, col_b, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative integer columns
    into one locality key: bit i of `col_a` lands at output bit 2i,
    bit i of `col_b` at 2i+1. Sorting by this key clusters rows that
    are close in BOTH dimensions — the multi-column pruning layout
    lakehouse formats expose as OPTIMIZE ZORDER BY.

    Pure JVM bit arithmetic (shiftright/&/shiftleft folded over `bits`
    lanes — a flat ~6·bits-node expression inside whole-stage codegen,
    no UDF). Callers with non-integer dimensions rank them first
    (date→day ordinal, string→dictionary id).

    Out-of-range inputs CLAMP to [0, 2^bits − 1] rather than wrap: a
    low-bits mask would alias v and v+2^bits into the SAME key — rows
    from opposite ends of the domain landing in one file, silently
    erasing the pruning this layout exists for. Clamping collapses the
    oversized tail into the top bucket (coarse but monotone) and
    negatives into bucket 0; size `bits` to the dimension's true width
    to avoid either.
    """
    hi = F.lit((1 << bits) - 1).cast("long")
    zero = F.lit(0).cast("long")

    def clamp(c) -> "F.Column":
        col = (F.col(c) if isinstance(c, str) else c).cast("long")
        return F.least(F.greatest(col, zero), hi)

    a, b = clamp(col_a), clamp(col_b)
    out = zero
    for i in range(bits):
        abit = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b, i).bitwiseAND(F.lit(1))
        out = out + F.shiftleft(abit, 2 * i) + F.shiftleft(bbit, 2 * i + 1)
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    mode: str = "overwrite",
    num_files: int | None = None,
    normalize: bool = False,
) -> None:
    """Write `df` as parquet range-partitioned AND sorted by the
    Z-order key of (`col_a`, `col_b`) — every file (and every row
    group inside it) then holds a contiguous Z-range, so its footer
    min/max stats are TIGHT in both dimensions at once. A predicate on
    EITHER column prunes files/row groups; a linear sort on one column
    gives the other column full-range stats in every file and prunes
    nothing (tests/test_plans.py measures exactly this footer-stat
    difference with pyarrow).

    One range shuffle at write time (repartitionByRange samples the
    key distribution for balanced output files) + in-partition sort —
    the same cost shape as any sorted write, amortized over every
    subsequent pruned scan, exactly like the bucketed-join trade
    above.

    `num_files` pins the range partition count. Leave it None on real
    data and AQE right-sizes the output files to the advisory
    partition size — but note AQE will coalesce a SMALL input to very
    few (even one) partitions, which erases the multi-file layout;
    pass an explicit count whenever file granularity is the point
    (as the footer-stats test does).

    `normalize=True` min/max-scales EACH dimension onto the full
    [0, 2^bits) domain before interleaving (one cheap agg job at write
    time — amortized like the range sampling). This matters whenever
    the dimensions' natural widths differ: interleaving a raw 8-bit
    domain against a raw 5-bit one leaves the key's high bits owned
    entirely by the wide dimension, so the sort clusters ONLY it and
    the narrow dimension's footer stats stay near-full-range per file
    (measured on events (user_id 0–149, day 0–29), 8 files: day width
    28/29 raw vs ~halved normalized, user unchanged-tight). This is
    the min/max flavor of what lakehouse OPTIMIZE ZORDER BY does with
    per-column range-partition ids; rank-based normalization resists
    skewed value distributions better but costs a full sort per
    dimension — min/max is the right default for id-like and
    ordinal-like dims. Scaling is layout-only: written VALUES are
    untouched."""
    if normalize:
        from pyspark.sql.types import NumericType

        for c in (col_a, col_b):
            if not isinstance(df.schema[c].dataType, NumericType):
                raise ValueError(
                    f"write_zordered: normalize=True requires numeric "
                    f"dimensions, but {c!r} is "
                    f"{df.schema[c].dataType.simpleString()} — rank or "
                    "ordinal-encode it first (date → day ordinal, "
                    "string → dictionary id)"
                )
        bounds = df.agg(
            F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
        ).first()
        hi_key = float((1 << bits) - 1)

        def scaled(c: str, lo, hi) -> "F.Column":
            if lo is None or hi is None or hi <= lo:
                # empty input or constant dimension: no spread to make
                return F.lit(0).cast("long")
            # double math: exact for ordinary id/ordinal widths, and a
            # >2^53 span only costs layout precision, never values
            return F.floor(
                (F.col(c).cast("double") - F.lit(float(lo)))
                / F.lit(float(hi - lo))
                * F.lit(hi_key)
            ).cast("long")

        a_key = scaled(col_a, bounds[0], bounds[1])
        b_key = scaled(col_b, bounds[2], bounds[3])
    else:
        a_key, b_key = col_a, col_b
    keyed = df.withColumn("_zkey", zorder_key(a_key, b_key, bits))
    ranged = (
        keyed.repartitionByRange(num_files, "_zkey")
        if num_files is not None
        else keyed.repartitionByRange("_zkey")
    )
    (
        ranged.sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )
