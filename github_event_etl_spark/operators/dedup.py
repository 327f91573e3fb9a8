"""Deduplication operators (reference A9).

Reference: atomic exists-check-then-insert keyed on event id with a
300 s TTL (insert-events-into-db.lua:8-11,36-39). Batch Spark analog is
dropDuplicates on the key; the streaming analog (same 300 s horizon as a
watermark) lives in streaming/stateful.py.

LLM-pipeline document dedup (exact, MinHash/SimHash, semantic) lives in
operators/text_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dedup_by_key(df: DataFrame, keys: list[str]) -> DataFrame:
    """Keep one row per key — reference A9 batch semantics.

    dropDuplicates = partial dedup before shuffle + final after:
    duplicates co-located on one mapper never cross the network.

    Plan note (measured, Spark 4.1): the planner compiles subset-keyed
    dropDuplicates to first()-aggregates whose string buffers are
    hash-agg-ineligible, so both phases are SortAggregate. That is the
    right trade anyway: the sorts run on each side of an exchange that
    carries only deduplicated rows, whereas any hash-friendly rewrite
    (e.g. distinct() over all columns first) would shuffle every
    payload variant. Full-row dedup callers who don't need a keyed
    subset should prefer distinct(), which stays HashAggregate.
    """
    return df.dropDuplicates(keys)


def dedup_first_by_key(df: DataFrame, keys: list[str], order: list) -> DataFrame:
    """Deterministic keep-first dedup: the minimal row per key by
    ``order`` (e.g. earliest ts wins == the reference's first-insert-wins
    TTL log). row_number window, rank-1 filter.

    Scale: one shuffle on the key; the window computes per-partition
    after hash-partitioning by key — no global sort.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

