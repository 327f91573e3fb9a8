"""Physical-plan assertions — the scale-posture gate (SURVEY.md §4.2).

Correctness tests (test_oracle.py) prove the queries compute the right
answer at small SF; these tests prove the PLANS are the ones that
survive a 100 TB scale-up: filters pushed to the parquet scan, columns
pruned, small dimensions broadcast, top-k as TakeOrderedAndProject (no
full sort), partial (map-side) aggregation before every shuffle, and —
critically — no CartesianProduct hiding inside the near-dedup pipeline.

A plan regression here is a performance bug even while every value-hash
still matches, so it is asserted like a correctness bug.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from pyspark.sql import functions as F

from github_event_etl_spark.plans.catalog import query_map


@pytest.fixture(scope="module")
def qmap():
    return query_map()


def plan_of(qmap, spark, sf_dir, name: str, mode: str = "formatted") -> str:
    df = qmap[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def tree_of(plan: str) -> str:
    """The operator-tree header of a formatted explain (each node's
    detail section below it repeats the node name, so counting node
    occurrences must look at the tree only)."""
    return plan.split("\n\n")[0]


# Re-exported here because sibling test modules import it from this file.
from github_event_etl_spark.operators.plan_metrics import (  # noqa: E402
    executed_scan_metrics,
)


# ------------------------------------------------------------ scan hygiene


def test_filter_pushed_to_parquet_scan(qmap, spark, sf_dir):
    """The scoring-type filter (update-contributor-scores.js:124 analog)
    must reach the parquet reader as PushedFilters — at 100 TB this is
    the difference between scanning the corpus and scanning a slice."""
    plan = plan_of(qmap, spark, sf_dir, "agg_hourly_count")
    assert "PushedFilters: [In(event_type," in plan


def test_column_pruning_reaches_scan(qmap, spark, sf_dir):
    """A count-by-(hour, actor) needs 3 of the events table's 6 columns;
    the scan schema must show exactly that projection (ReadSchema), not
    the full row."""
    plan = plan_of(qmap, spark, sf_dir, "agg_hourly_count")
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read, plan
    schema = read[0]
    assert "event_id" not in schema and "props" not in schema and "value" not in schema
    for col in ("ts", "user_id", "event_type"):
        assert col in schema


def test_whole_stage_codegen_covers_agg_pipeline(qmap, spark, sf_dir):
    """scan→filter→project→partial-agg must fuse into whole-stage
    codegen. Under AQE the non-final plan reports no codegen subtrees
    at explain time (stages fuse as they execute), so plan this one
    with AQE off — codegen behavior is identical either way."""
    df = qmap["agg_hourly_count"](spark, sf_dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="codegen")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in plan
    assert "Found 0 WholeStageCodegen" not in plan


# --------------------------------------------------------------- aggregates


def test_partial_aggregation_before_shuffle(qmap, spark, sf_dir):
    """Count-by-key must map-side combine (partial_count) before the
    exchange — the Spark analog of the reference's batched pipelined
    ZINCRBYs (update-contributor-scores.js:137-144)."""
    plan = plan_of(qmap, spark, sf_dir, "agg_hourly_count")
    assert "partial_count" in plan
    assert "hashpartitioning(" in plan


def test_topk_is_take_ordered_not_full_sort(qmap, spark, sf_dir):
    """ZREVRANGE 0 9 (README.md:148-150) compiles to
    TakeOrderedAndProject: each partition keeps its local top-10 and
    only those ship to the driver — a full distributed sort of per-actor
    totals would be O(n log n) shuffle at scale for a 10-row answer."""
    plan = plan_of(qmap, spark, sf_dir, "topk_contributors")
    assert "TakeOrderedAndProject" in plan


def test_rollup_single_pass_expand(qmap, spark, sf_dir):
    """The hour+day rollup (ZUNIONSTORE analog) computes both grouping
    levels in ONE pass over events (Expand operator), not one scan per
    level."""
    plan = plan_of(qmap, spark, sf_dir, "agg_grouping_sets")
    assert "Expand" in plan
    assert tree_of(plan).count("Scan parquet") == 1


# -------------------------------------------------------------------- joins


def test_dimension_join_broadcasts(qmap, spark, sf_dir):
    """fact ⋈ broadcast(dim): the 100 TB lineitem side must not
    shuffle. BroadcastHashJoin with the build side exchanged via
    BroadcastExchange, and no hash-partitioned exchange of the fact
    side before the join."""
    plan = plan_of(qmap, spark, sf_dir, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan
    join_part = plan.split("BroadcastHashJoin")[0]
    assert "Exchange hashpartitioning" not in join_part


def test_equi_join_is_hash_or_merge(qmap, spark, sf_dir):
    """orders⋈customer must plan as an equi-join (broadcast-hash here
    where customer is small; sort-merge when both sides are large —
    same code either way). Never a nested-loop."""
    plan = plan_of(qmap, spark, sf_dir, "join_inner_equi")
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_avoids_cartesian(qmap, spark, sf_dir):
    """The as-of composite (range join + row_number, SURVEY.md §4.3.2)
    must keep an equi component on the key so the planner never falls
    back to a full cartesian product."""
    plan = plan_of(qmap, spark, sf_dir, "join_asof")
    assert "CartesianProduct" not in plan


# ------------------------------------------------------- LLM-pipeline plans


def test_minhash_lsh_has_no_cross_join(qmap, spark, sf_dir):
    """The load-bearing scale property of MinHash-LSH near-dedup: the
    all-pairs comparison is replaced by band-bucket grouping. Any
    cartesian/nested-loop node in this plan means the operator silently
    degenerated to O(n²) — the exact failure LSH exists to prevent."""
    plan = plan_of(qmap, spark, sf_dir, "llm_dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Both Python stages (fused signature+banding, fused pair-Jaccard)
    # must be Arrow-vectorized — a silent fallback to pickled row UDF
    # execution would show as BatchEvalPython.
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_simhash_has_no_cross_join(qmap, spark, sf_dir):
    plan = plan_of(qmap, spark, sf_dir, "llm_dedup_simhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_e2e_pipeline_plan_is_scale_safe(spark, sf_dir):
    """The composed minhash→clusters→curation pipeline must inherit
    every stage's scale posture: no cartesian/nested-loop join and no
    pickled row-at-a-time Python in the final composed plan. (The
    cluster stage's iterative closure runs eagerly behind checkpoints
    during construction; its stages — and the Arrow-fused minhash
    UDFs — are plan-gated by their own tests above.)"""
    import contextlib as _ctx
    import io as _io

    from github_event_etl_spark.plans.pipelines import dedup_e2e_pipeline

    df = dedup_e2e_pipeline(spark, sf_dir)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_cosine_lsh_dedup_has_no_cross_join(qmap, spark, sf_dir):
    """Embedding near-dup via RHP-LSH buckets must never degenerate to
    the all-pairs scan it replaces: candidates come from the
    (table, sig) equi-join path and verification joins by id — no
    cartesian/nested-loop node anywhere in the plan."""
    plan = plan_of(qmap, spark, sf_dir, "llm_dup_cosine_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_list_skew_census_is_mapside_assignment(qmap, spark, sf_dir):
    """The list-skew census must inherit the IVF assignment's scale
    posture (r22): the centroid argmax is ONE Arrow-vectorized pass
    against the driver-collected O(16-row) seed table — no join, no
    n×C expansion, no corpus exchange before the census aggregate —
    and the per-centroid census is a JVM aggregate (map-side partials;
    one row per centroid crosses the shuffle). Row-at-a-time Python
    (BatchEvalPython) and any cartesian over the corpus stay banned."""
    plan = plan_of(qmap, spark, sf_dir, "llm_ivf_list_skew")
    tree = tree_of(plan)
    assert "CartesianProduct" not in tree
    assert "BatchEvalPython" not in plan
    # exactly one Arrow stage: the vectorized centroid assignment
    assert tree.count("ArrowEvalPython") == 1
    # the centroid attach no longer plans ANY join over the corpus
    assert "Join" not in tree
    assert "HashAggregate" in tree or "SortAggregate" in tree


def test_knn_bruteforce_broadcasts_queries(qmap, spark, sf_dir):
    """Brute-force top-k is the one INTENTIONAL nested-loop: the tiny
    query set broadcasts and the corpus streams through exactly once
    with no corpus shuffle. Assert it is the broadcast variant (corpus
    stays put) and not a CartesianProduct (which would shuffle both)."""
    plan = plan_of(qmap, spark, sf_dir, "llm_knn_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_ann_lsh_is_equi_join_on_signature(qmap, spark, sf_dir):
    """The ANN path must probe by (table, signature) equality — a hash
    join — never scan the corpus per query."""
    plan = plan_of(qmap, spark, sf_dir, "llm_ann_lsh")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ann_recall_eval_adds_only_broadcast_joins(qmap, spark, sf_dir):
    """The recall harness layers only broadcast-small joins on top of
    the audited index paths: the bounded 2-row methods grid and the
    Q·k ground-truth side broadcast (BNLJ over broadcast tiny frames is
    allowed — same category as knn's intentional query broadcast), and
    the per-(method, qid) count attaches are hash joins. Nothing may
    degenerate to a CartesianProduct, which would shuffle both sides."""
    plan = plan_of(qmap, spark, sf_dir, "llm_ann_recall_eval")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ann_ivf_pq_probes_lists_by_equi_join(qmap, spark, sf_dir):
    """IVF-PQ's corpus-side scoring must be an equi-join of the code
    lists against the BROADCAST (qid, centroid_id, ADC-tables) probe
    frame — keyed on centroid_id, so only probed lists are read and
    the corpus never shuffles. A CartesianProduct would mean the probe
    degenerated to scanning every list per query. (The tiny
    query×centroid / query×codebook attaches are BNLJ over broadcast
    single-digit-row tables — allowed; the corpus side is the gate.)"""
    plan = plan_of(qmap, spark, sf_dir, "llm_ann_ivf_pq")
    tree = tree_of(plan)
    assert "CartesianProduct" not in tree
    # the list-probe join: broadcast hash join keyed on centroid_id
    assert "BroadcastHashJoin" in tree
    assert "centroid_id" in plan


def test_ann_ivf_pq_refine_fetch_is_broadcast(qmap, spark, sf_dir):
    """Refinement must add EXACTLY two broadcast hash joins to the ADC
    plan — the Q×refine_r candidate shortlist broadcast into an
    equi-join against the embedding scan, and the query-vector attach
    — and NOTHING else: no shuffle join anywhere (r22 — the fused
    Arrow list build removed the corpus-sized SortMergeJoins both keys
    used to share), no cartesian, no NEW Python stage (the only Arrow
    stage is the shared list-encode pass; the exact-cosine re-rank is
    plain column arithmetic), and no row-at-a-time Python at all."""
    base = tree_of(plan_of(qmap, spark, sf_dir, "llm_ann_ivf_pq"))
    tree = tree_of(plan_of(qmap, spark, sf_dir, "llm_ann_ivf_pq_refine"))
    assert "CartesianProduct" not in tree
    assert "BatchEvalPython" not in tree
    assert tree.count("ArrowEvalPython") == base.count("ArrowEvalPython")
    assert tree.count("SortMergeJoin") == 0
    assert base.count("SortMergeJoin") == 0
    assert (
        tree.count("BroadcastHashJoin")
        == base.count("BroadcastHashJoin") + 2
    )
    assert tree.count("BroadcastNestedLoopJoin") == base.count(
        "BroadcastNestedLoopJoin"
    )


def test_kmeans_assign_is_mapside_struct_min(qmap, spark, sf_dir):
    """Each k-means assignment must be a partial-aggregated struct-min
    (one compact row per vector crosses the shuffle), never a
    row_number window — the window form shuffles C copies of every
    quantized vector per iteration."""
    plan = plan_of(qmap, spark, sf_dir, "llm_ivf_kmeans")
    assert "partial_min" in plan
    assert tree_of(plan).count("Window") == 0


def test_exact_dedup_scans_corpus_once(qmap, spark, sf_dir):
    """Exact dedup is one scan + one hash-key shuffle; a second scan of
    documents would mean the plan re-reads the corpus."""
    plan = plan_of(qmap, spark, sf_dir, "llm_dedup_exact")
    assert tree_of(plan).count("Scan parquet") == 1


# ------------------------------------------------------------ AQE contract


def test_session_defaults_enable_aqe(spark):
    """The engine relies on AQE for runtime shuffle coalescing and
    skew-join splitting (SURVEY.md §4.2) — regression-guard the conf."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_salted_agg_is_two_phase(qmap, spark, sf_dir):
    """The skew-safe aggregate must show the salted shape: two
    hash-partitioned exchanges (per-(key,salt) partial, then per-key
    merge), each preceded by its own partial aggregation — and both
    moving only aggregated rows, never the raw table twice (one scan)."""
    plan = plan_of(qmap, spark, sf_dir, "agg_salted_hot_key")
    assert plan.count("hashpartitioning(") >= 2
    assert "partial_count" in plan
    assert tree_of(plan).count("Scan parquet") == 1


# ------------------------------------------------- B10 Python-UDF surface


def test_pandas_udf_is_arrow_evaluated(qmap, spark, sf_dir):
    """The declared query must be PURE ArrowEvalPython — no
    BatchEvalPython (pickled per-row execution) anywhere in its plan.
    If a pandas UDF ever degrades to row execution, the Arrow node
    disappears — a 10-100x regression at scale, so it's a test."""
    tree = tree_of(plan_of(qmap, spark, sf_dir, "udf_pandas_scalar"))
    assert "ArrowEvalPython" in tree
    assert "BatchEvalPython" not in tree


def test_row_udf_contrast_matches_vectorized(spark, sf_dir):
    """The documented slow path (row-at-a-time F.udf) computes the same
    values as the Arrow-vectorized pandas UDF — and really does plan as
    BatchEvalPython, the node the declared queries must never contain.
    This test is the contrast's only call site."""
    from github_event_etl_spark.functions.python_surface import (
        first_token_upper_row,
        head_token_upper_vec,
    )
    from github_event_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(500)
    both = docs.select(
        "doc_id",
        head_token_upper_vec("text").alias("vec"),
        first_token_upper_row("text").alias("row"),
    )
    tree = tree_of_df(both)
    assert "BatchEvalPython" in tree and "ArrowEvalPython" in tree
    assert both.filter(~F.col("vec").eqNullSafe(F.col("row"))).count() == 0


def tree_of_df(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return tree_of(buf.getvalue())


def test_grouped_udaf_shuffles_once(qmap, spark, sf_dir):
    """The pandas UDAF plans as one key shuffle feeding an Arrow
    aggregate — no second exchange, no fallback to row aggregation."""
    plan = plan_of(qmap, spark, sf_dir, "udaf_grouped_pandas")
    tree = tree_of(plan)
    assert "ArrowAggregatePython" in tree or "AggregateInPandas" in tree
    assert tree.count("Exchange") == 1


def test_apply_in_pandas_prunes_and_shuffles_once(qmap, spark, sf_dir):
    """FlatMapGroupsInPandas with exactly one key exchange, and the
    scan pruned to the three columns the transform touches — Arrow
    transfer cost is per-byte, so pruning matters doubly here."""
    # A cached documents relation from another test module would be
    # substituted into this plan by the cache manager and mask the
    # pruned scan — assert against the uncached plan.
    spark.catalog.clearCache()
    plan = plan_of(qmap, spark, sf_dir, "udf_apply_in_pandas")
    tree = tree_of(plan)
    assert "FlatMapGroupsInPandas" in tree
    assert tree.count("Exchange") == 1
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "doc_id" in read[0] and "text" not in read[0]


def test_udtf_is_single_scan_fanout(qmap, spark, sf_dir):
    """The lateral UDTF join plans as a streaming fan-out over one scan
    — no join, no exchange: row → rows inside one stage."""
    tree = tree_of(plan_of(qmap, spark, sf_dir, "udtf_leading_tokens"))
    assert "BatchEvalPythonUDTF" in tree
    assert tree.count("Scan parquet") == 1
    assert "Exchange" not in tree


def test_winnow_is_single_shuffle_single_sort(qmap, spark, sf_dir):
    """Winnowing's window-min selection, full-window filter, and
    per-doc digest must all ride ONE doc_id exchange and ONE sort —
    the frame window's (doc_id, pos) order feeds the count window and
    the aggregation reuses the partitioning. A second exchange or sort
    here doubles the cost of the whole operator at scale."""
    tree = tree_of(plan_of(qmap, spark, sf_dir, "llm_winnow_fingerprint"))
    assert tree.count("Exchange") == 1
    assert tree.count("Sort") == 1
    assert tree.count("Window") == 2


def test_curation_pipeline_shuffles_twice(qmap, spark, sf_dir):
    """The curation composite (language gate → quality gate → bow-dedup
    keep-one → per-language rollup) must compute every per-doc signal
    map-side over ONE documents scan, with exactly two exchanges: the
    fingerprint partitioning (shared by the rank and group-size
    windows, one sort) and the final few-row language rollup. A third
    exchange means a window or the dedup stopped riding the same
    partitioning — a full extra pass over the corpus at scale."""
    tree = tree_of(plan_of(qmap, spark, sf_dir, "llm_corpus_curation"))
    assert tree.count("Exchange") == 2
    assert tree.count("Sort") == 1
    assert tree.count("Window") == 2
    assert tree.count("Scan parquet") == 1


def test_map_side_curation_ops_never_shuffle(qmap, spark, sf_dir):
    """The per-doc curation signals (hash-bucket splitting, repetition
    filtering) must stay pure map-side projections — zero exchanges.
    Any shuffle appearing here means a scalar signal silently became a
    cross-row computation, turning an embarrassingly-parallel scan into
    a repartition of the whole corpus."""
    for name in ("llm_split_sample", "llm_repetition_filter"):
        tree = tree_of(plan_of(qmap, spark, sf_dir, name))
        assert tree.count("Exchange") == 0, name


def test_ivf_probe_is_partition_pruned(qmap, spark, sf_dir):
    """The on-disk IVF probe must scan ONLY the probed centroid
    directories — at a billion vectors this is the difference between
    reading nprobe/C of the index and reading all of it. Gated on the
    EXECUTED index scan's partition count (plan text cannot certify
    pruning), which must stay within Q×nprobe and below the list
    count."""
    from github_event_etl_spark.plans.queries_llm import _KNN_QUERIES

    df = qmap["llm_ann_ivf_partitioned"](spark, sf_dir)
    index = [
        s for s in executed_scan_metrics(df)
        if "numPartitions" in s
        and any(p.endswith("/assigned") for p in s["_location"])
    ]
    assert index, "no index scan in the executed plan"
    # nprobe=4 of 16 lists: Q×nprobe = 32 alone would not bound it, so
    # the fixture's probe set must also leave at least one list unread
    for scan in index:
        assert scan["numPartitions"] <= min(_KNN_QUERIES * 4, 16 - 1), scan


# -------------------------------------------------------- physical layout


def test_partitioned_write_is_pruned_at_read(qmap, spark, sf_dir):
    """Reading one day of the day-partitioned events sink must resolve
    the day filter against directory names (PartitionFilters), never
    open other days' files, and carry no row-level filter on the
    partition column."""
    plan = plan_of(qmap, spark, sf_dir, "sink_partitioned_scan")
    assert "PartitionFilters" in plan
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket_day" in m.group(1)
    # Executed-plan evidence: the run opened exactly one partition
    # directory (one day out of ~31), not the whole FileIndex.
    # inputFiles() is NOT used — it lists the relation's full FileIndex
    # and never reflects pruning.
    df = qmap["sink_partitioned_scan"](spark, sf_dir)
    (scan,) = executed_scan_metrics(df)
    assert scan["numPartitions"] == 1, scan
    assert 1 <= scan["numFiles"] <= 2, scan


def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts
    must sort-merge join with ZERO shuffle exchanges — the write-time
    layout replaces the runtime shuffle (operators/layout.py). The
    non-bucketed control plan shows the two exchanges this saves."""
    from github_event_etl_spark.operators.layout import write_bucketed_table
    from github_event_etl_spark.sources.tables import load_table
    import contextlib, io

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    write_bucketed_table(
        orders, "geetl_orders_b", str(tmp_path / "orders_b"),
        bucket_col="o_custkey", num_buckets=8, sort_col="o_custkey",
    )
    write_bucketed_table(
        customer, "geetl_customer_b", str(tmp_path / "customer_b"),
        bucket_col="c_custkey", num_buckets=8, sort_col="c_custkey",
    )
    try:
        ob = spark.table("geetl_orders_b")
        cb = spark.table("geetl_customer_b")
        joined = ob.hint("merge").join(
            cb, ob.o_custkey == cb.c_custkey
        ).select("o_orderkey", "c_name")

        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain(mode="formatted")
            tree = tree_of(buf.getvalue())
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        assert "SortMergeJoin" in tree
        assert "Exchange" not in tree
        # and the answer is still right: same count as the plain join
        plain = load_table(spark, sf_dir, "orders").join(
            load_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        assert joined.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS geetl_orders_b")
        spark.sql("DROP TABLE IF EXISTS geetl_customer_b")


def test_vocabulary_topk_is_take_ordered(qmap, spark, sf_dir):
    """The vocabulary top-K must plan as TakeOrderedAndProject
    (per-partition heaps over the aggregated token stats), never a
    global sort of the full vocabulary."""
    plan = plan_of(qmap, spark, sf_dir, "llm_vocabulary")
    assert "TakeOrderedAndProject" in plan
    # A full sort would appear as a range-partitioning Exchange feeding
    # a global Sort ("GlobalSort" is not a real plan node name).
    assert "Exchange rangepartitioning" not in plan


def test_rarity_and_tfidf_broadcast_not_shuffle_corpus(qmap, spark, sf_dir):
    """The unigram/df statistics tables must come back to the
    corpus-sized side as BROADCAST joins: a SortMergeJoin on the token
    key would reshuffle every token occurrence of the corpus onto the
    most skewed key imaginable ('the'). Also pins the zero-shuffle
    mixture sampler."""
    for name in ("llm_rarity_score", "llm_tfidf_topk"):
        tree = tree_of(plan_of(qmap, spark, sf_dir, name))
        assert "BroadcastHashJoin" in tree, name
        assert "SortMergeJoin" not in tree, name
    tree = tree_of(plan_of(qmap, spark, sf_dir, "llm_mixture_sample"))
    assert tree.count("Exchange") == 0


def test_rarity_and_tfidf_broadcast_is_capped_table(qmap, spark, sf_dir):
    """The broadcast side of the token-stats join must be the CAPPED
    vocabulary (operators/vocab.py): a LeftOuter broadcast join whose
    build side is the Union of the above-threshold filter and the
    tie-band row_number — bounded at the cap regardless of corpus
    vocabulary. And the cap itself must be threshold-based, never a
    TakeOrderedAndProject (whose driver-side merge of K rows per
    partition is exactly the scale trap the threshold form avoids)."""
    for name in ("llm_rarity_score", "llm_tfidf_topk"):
        tree = tree_of(plan_of(qmap, spark, sf_dir, name))
        # OOV scoring requires the token stream to SURVIVE the join
        # when its token fell out of the capped vocab: left outer.
        assert "BroadcastHashJoin LeftOuter BuildRight" in tree, name
        # The capped table is above-threshold ∪ tie-band.
        assert "Union" in tree, name
        assert "TakeOrderedAndProject" not in tree, name


def test_span_dedup_single_doc_sort(qmap, spark, sf_dir):
    """The span extractor's two windows (lag flag + running group id)
    and the final span aggregation must all ride ONE (doc_id) sort —
    an extra Sort or a per-window Exchange means the island merge
    re-partitions the shared-gram stream once per step."""
    tree = tree_of(plan_of(qmap, spark, sf_dir, "llm_span_dedup"))
    assert tree.count("Window") == 2
    # windows share one sort; the df-count aggregation contributes its
    # own exchange, the window partitioning one more
    assert tree.count("Sort") == 1
    assert "CartesianProduct" not in tree


def test_remove_spans_never_explodes_text(qmap, spark, sf_dir):
    """The span-removal rewrite (llm_span_removed) must keep the corpus
    text un-exploded and un-aggregated: the doc side joins its per-doc
    span ARRAY once by doc_id and the rewrite is map-side array
    functions — no Generate (posexplode) feeding a positional join, no
    collect_list reassembly aggregate ABOVE the span side's own
    collapse. The only Generates allowed in the whole plan are the
    gram-stream derivations inside the span DETECTOR (which never
    carry text, only (doc_id, pos, hash))."""
    plan = plan_of(qmap, spark, sf_dir, "llm_span_removed")
    tree = tree_of(plan)
    # the detector derives its gram stream twice (documented
    # recompute-over-materialize call) — exactly those two Generates,
    # none for the rewrite's tokens
    assert tree.count("Generate") == 2, tree
    assert "CartesianProduct" not in tree
    # exactly ONE collect_list aggregate (one partial_collect_list in
    # the formatted detail): the per-doc span-array collapse (tiny
    # side) — never a token-reassembly aggregate over the corpus, so
    # the collected struct is the span pair, not tokens
    assert plan.count("partial_collect_list") == 1, plan
    cl_lines = [ln for ln in plan.splitlines() if "collect_list" in ln]
    assert cl_lines and all("span_start" in ln for ln in cl_lines), cl_lines


def test_pq_codes_is_single_mapside_arrow_pass(qmap, spark, sf_dir):
    """PQ assignment (r22) is ONE Arrow-vectorized pass against the
    driver-collected O(16-row) codebook: a single corpus scan feeding a
    single ArrowEvalPython — no join, no n×C expansion, no exchange, no
    window, no aggregate. The corpus is touched exactly once and never
    shuffles. (The legacy broadcast-join + struct-min shape survives as
    tests/test_llm.py `_pq_codes_agg`, the encode-parity pytest's value
    reference.)"""
    tree = tree_of(plan_of(qmap, spark, sf_dir, "llm_pq_codes"))
    assert tree.count("ArrowEvalPython") == 1
    assert "Join" not in tree
    assert "Exchange" not in tree
    assert "Window" not in tree
    assert "Aggregate" not in tree
    assert tree.count("Scan parquet") == 1


def test_scan_python_source_pushes_type_filter_into_generator(
    qmap, spark, sf_dir
):
    """The catalog key's event_type equality must be CONSUMED by the
    Python source's pushFilters (pruning inside the generator loop) —
    the plan shows the BatchScan and NO re-applied equality above it."""
    plan = plan_of(qmap, spark, sf_dir, "scan_python_source")
    assert "BatchScan synthetic_events" in plan
    assert "= view" not in plan


def test_bpe_pairs_is_take_ordered(qmap, spark, sf_dir):
    """Top-K merge pairs must plan as TakeOrderedAndProject (per-
    partition heaps) — a global Sort before the limit would shuffle the
    whole pair histogram; and nothing in the factoring may cartesian."""
    plan = plan_of(qmap, spark, sf_dir, "llm_bpe_pairs")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # map-side partial aggregation before both shuffles (word + pair)
    assert "partial_count" in plan or "partial_sum" in plan


def test_multimodal_resize_is_arrow_map(qmap, spark, sf_dir):
    """The resize transform must be one Arrow-batched python map over
    the scan — no pickled row UDF, no shuffle-introducing node."""
    plan = plan_of(qmap, spark, sf_dir, "llm_multimodal_resize")
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in tree_of(plan)


def test_profile_modes_avoid_expand(qmap, spark, sf_dir):
    """NEITHER profile mode may plan an Expand (the multi-distinct
    single-pass form replicates every row N+1 ways — measured 23.7 s
    vs ~2 s on sf0.1 lineitem): exact mode is a union of per-column
    COLUMN-PRUNED aggregates, approx mode one HLL wide pass; schemas
    identical."""
    from github_event_etl_spark.operators.profile import profile_columns
    from github_event_etl_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact = profile_columns(li)
    approx = profile_columns(li, approx=True)
    assert exact.schema == approx.schema

    import contextlib as _ctx
    import io as _io

    def plan(df):
        buf = _io.StringIO()
        with _ctx.redirect_stdout(buf):
            df.explain(mode="formatted")
        return buf.getvalue()

    p_exact = plan(exact)
    assert "Expand" not in p_exact
    assert "Union" in p_exact
    # each exact branch scans ONE column (pruned), not the full width
    assert "ReadSchema: struct<l_orderkey:bigint>" in p_exact
    assert "Expand" not in plan(approx)
    # approx vs exact twin: counts/null-counts/min/max EXACTLY equal
    # (they are not sketched), n_distinct within the HLL error
    # envelope — approx_count_distinct's default rsd is 0.05, and the
    # 2×rsd bound here is ~4 standard errors (the agg_approx_distinct
    # key's 5×rsd precedent, tightened since this data is fixed).
    # This is the value-level hard signal behind the rows-only
    # profile_table_approx driver key.
    rows = {r.col_name: r for r in approx.collect()}
    exact_rows = {r.col_name: r for r in exact.collect()}
    assert set(rows) == set(exact_rows)
    for c, r in rows.items():
        e = exact_rows[c]
        assert r.n_rows == e.n_rows and r.n_nulls == e.n_nulls
        assert abs(r.n_distinct - e.n_distinct) <= max(3, 0.1 * e.n_distinct)
        assert (r.min_num, r.max_num, r.min_str, r.max_str) == (
            e.min_num, e.max_num, e.min_str, e.max_str
        )


def _footer_stat_widths(files, col):
    """Walk the parquet footer statistics of `col` across `files` and
    return (avg per-row-group max-min width, global min, global max) —
    the physical numbers both Z-order layout tests assert on."""
    import pyarrow.parquet as pq

    files = list(files)
    assert files, "no parquet files to read footer stats from"
    widths, lo, hi = [], float("inf"), float("-inf")
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            widths.append(st.max - st.min)
            lo, hi = min(lo, st.min), max(hi, st.max)
    return sum(widths) / len(widths), lo, hi


def test_zorder_layout_tightens_both_dims(spark, tmp_path):
    """The Z-order write must give every parquet file footer TIGHT
    min/max stats in BOTH dimensions (what makes scans filtered on
    either column skip files/row groups), where a linear sort on one
    column leaves the other near-full-range in every file. Asserted
    directly on the pyarrow footer statistics — the physical fact the
    optimizer's pruning consumes."""
    import glob

    from github_event_etl_spark.operators.layout import write_zordered

    n = 1 << 16
    df = spark.range(n).select(
        (F.col("id") % 256).alias("a"),
        ((F.col("id") * 2654435761) % 256).alias("b"),
    )
    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "l")
    write_zordered(df, zpath, "a", "b", bits=8, num_files=8)
    (
        df.repartitionByRange(8, F.col("a"))
        .sortWithinPartitions("a")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    def widths(path, col):
        avg, _, _ = _footer_stat_widths(
            glob.glob(path + "/part*.parquet"), col
        )
        return avg

    # rows round-trip intact
    assert spark.read.parquet(zpath).count() == n
    z_a, z_b = widths(zpath, "a"), widths(zpath, "b")
    l_b = widths(lpath, "b")
    # linear-by-a leaves b full-range per file; zorder halves it at
    # least (typically ~4x tighter), while keeping a far from
    # full-range too
    assert l_b > 200
    assert z_b < l_b / 2, (z_b, l_b)
    assert z_a < 200, z_a


def test_layout_zorder_prune_pushes_both_dims(qmap, spark, sf_dir):
    """The layout_zorder_prune key's both-dims predicates must reach
    the parquet scan of the Z-ordered files as PushedFilters — that is
    the handle the footer stats (tightened per
    test_zorder_layout_tightens_both_dims) prune through — and the
    warm path must READ the materialized layout, not rewrite it."""
    import glob
    import os as _os

    from github_event_etl_spark.scratch import scratch_dir

    plan = plan_of(qmap, spark, sf_dir, "layout_zorder_prune")
    assert "PushedFilters:" in plan
    pushed = [
        ln for ln in plan.splitlines() if "PushedFilters:" in ln
    ][0]
    assert "user_id" in pushed and "day_num" in pushed, pushed
    # materialize-once: a second plan call must leave the files alone.
    # The SAME scratch_dir helper the query uses, not a hand-built
    # path — a scheme change must move the test with it, or the
    # assertions silently validate abandoned files.
    zdir = scratch_dir(sf_dir, "zorder_events_16")
    before = {
        f: _os.path.getmtime(f) for f in glob.glob(zdir + "/*.parquet")
    }
    assert before, zdir
    plan_of(qmap, spark, sf_dir, "layout_zorder_prune")
    after = {
        f: _os.path.getmtime(f) for f in glob.glob(zdir + "/*.parquet")
    }
    assert after == before, "warm path must not rewrite the Z layout"
    # BOTH dimensions' footer stats must be tighter than full-range —
    # the normalized interleave's whole point. The raw (unnormalized)
    # interleave of these unequal-width domains leaves day_num at
    # ~0.97× full range per file (measured), i.e. unprunable; with
    # min/max normalization both dims stay well under 0.75×.
    for col in ("user_id", "day_num"):
        avg, lo, hi = _footer_stat_widths(before, col)
        assert avg < 0.75 * (hi - lo), (col, avg, hi - lo)


def test_zorder_key_is_pure_jvm_expression(spark):
    """The interleave must stay inside whole-stage codegen — no
    Python eval node in a projection using it."""
    import contextlib as _ctx
    import io as _io

    from github_event_etl_spark.operators.layout import zorder_key

    df = spark.range(10).select(
        zorder_key((F.col("id") % 4), (F.col("id") % 8), bits=4).alias("z")
    )
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "EvalPython" not in plan
    assert "codegen id" in plan  # formatted mode's codegen marker
    # interleave of (a%4, b%8) at 4 bits: spot-check the math
    rows = {r[0] for r in df.collect()}
    def morton(a, b):
        return sum(((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1)
                   for i in range(4))
    want = {morton(i % 4, i % 8) for i in range(10)}
    assert rows == want


def test_merge_and_scd2_plans_are_scale_safe(qmap, spark, sf_dir):
    """merge_upsert's full-outer MERGE shape must stay a hash/sort-
    merge equi-join (no cartesian, no nested loop) and scd2_history
    must be one window pass — no join at all."""
    p_merge = plan_of(qmap, spark, sf_dir, "merge_upsert")
    assert "CartesianProduct" not in p_merge
    assert "BroadcastNestedLoopJoin" not in p_merge
    assert "FullOuter" in p_merge or "full_outer" in p_merge.lower()

    p_scd = plan_of(qmap, spark, sf_dir, "scd2_history")
    assert "Window" in p_scd
    assert "Join" not in tree_of(p_scd)


def test_sessionize_gap_single_exchange(qmap, spark, sf_dir):
    """Batch sessionization must pay exactly ONE exchange: the user_id
    hash partitioning serves the lag flag, the running session sum
    (same partitioning AND ordering → one Sort, two Window nodes, no
    re-shuffle) and then the per-session aggregate too — user_id is a
    subset of the grouping keys (user_id, session_id), so the existing
    partitioning satisfies the aggregate's clustered distribution and
    Catalyst plans partial+final HashAggregate with no new exchange.
    No global sort anywhere."""
    plan = plan_of(qmap, spark, sf_dir, "sessionize_gap")
    tree = tree_of(plan)
    assert tree.count("Exchange") == 1, tree
    assert tree.count("Window") == 2 and tree.count("Sort") == 1, tree
    assert "rangepartitioning" not in plan  # no global sort


def test_fn_unpivot_single_scan_no_shuffle(qmap, spark, sf_dir):
    """unpivot plans ONE Expand over ONE scan — map-side melt, no
    shuffle, no self-union re-reading the table four times (the
    oracle's UNION ALL spelling is for DuckDB, not the engine)."""
    plan = plan_of(qmap, spark, sf_dir, "fn_unpivot")
    tree = tree_of(plan)
    assert tree.count("Expand") == 1, tree
    assert "Exchange" not in tree
    assert tree.count("Scan parquet") == 1, tree


def test_profile_drift_expand_free_pruned(qmap, spark, sf_dir):
    """The drift gate inherits the profile operator's plan contract:
    per-column PRUNED aggregate branches on BOTH sides (each reads one
    column plus the ts filter), no Expand anywhere, and the per-column
    join broadcast (a handful of rows must never shuffle)."""
    plan = plan_of(qmap, spark, sf_dir, "profile_drift")
    tree = tree_of(plan)
    assert "Expand" not in tree
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree
    # column pruning: a profiled-column branch reads (col, ts) only
    assert "ReadSchema: struct<ts:timestamp,user_id:bigint>" in plan


def test_gapfill_hourly_scans_corpus_once(qmap, spark, sf_dir):
    """Densification must run on POST-AGGREGATE cardinalities: the
    corpus contributes ONE physical parquet scan (the persisted hourly
    aggregate), and the bounds / type-dimension / probe consumers all
    read that cache — without the persist, column pruning makes the
    three aggregate subtrees unequal and Catalyst re-scans the corpus
    per consumer. The only cross join is the bounded spine×types
    broadcast; the counts come back through an equi-join."""
    import re

    plan = plan_of(qmap, spark, sf_dir, "gapfill_hourly")
    tree = tree_of(plan)
    # one UNIQUE scan node: the cached relation repeats its populating
    # plan under every InMemoryTableScan, so count distinct node ids
    scan_ids = set(re.findall(r"Scan parquet\s*\((\d+)\)", tree))
    assert len(scan_ids) == 1, tree
    assert tree.count("InMemoryTableScan") == 3, tree
    assert "CartesianProduct" not in tree
    assert "BroadcastHashJoin LeftOuter" in tree, tree
    # cache hygiene: a second call REUSES the same persisted entry
    # (replacing it would silently revert the first call's returned
    # plan to the three-scan shape), and the registry holds one entry
    # per (session, canonical sf_dir)
    import os as _os

    from github_event_etl_spark.plans import queries_relational as qr

    key = (id(spark), _os.path.realpath(sf_dir))
    before = qr._GAPFILL_CACHE[key]
    qmap["gapfill_hourly"](spark, sf_dir)
    assert qr._GAPFILL_CACHE[key] is before
    # an outside clearCache must not permanently degrade later calls:
    # the registry re-validates the storage level and re-persists
    spark.catalog.clearCache()
    plan3 = plan_of(qmap, spark, sf_dir, "gapfill_hourly")
    assert tree_of(plan3).count("InMemoryTableScan") == 3, plan3


def test_gapfill_family_shares_one_cached_aggregate(qmap, spark, sf_dir):
    """The gapfill FAMILY scans the corpus once per (session, sf_dir):
    gapfill_locf_reading consumes the SAME persisted hourly aggregate
    as gapfill_hourly (the cache carries both n_events and the
    decimal-exact mean so neither key pays a second corpus pass), its
    plan shows the single-scan shape (one unique parquet scan feeding
    InMemoryTableScans, no cartesian product), and the locf fill stays
    a single Window over the dense grid."""
    import os
    import re

    from github_event_etl_spark.plans import queries_relational as qr

    key = (id(spark), os.path.realpath(sf_dir))
    qmap["gapfill_hourly"](spark, sf_dir)
    before = qr._GAPFILL_CACHE[key]
    plan = plan_of(qmap, spark, sf_dir, "gapfill_locf_reading")
    assert qr._GAPFILL_CACHE[key] is before, (
        "locf key rebuilt the aggregate its sibling already cached"
    )
    tree = tree_of(plan)
    scan_ids = set(re.findall(r"Scan parquet\s*\((\d+)\)", tree))
    assert len(scan_ids) == 1, tree
    assert tree.count("InMemoryTableScan") == 3, tree
    assert "CartesianProduct" not in tree
    assert tree.count("Window") == 1, tree
    # the third family member: linear interpolation rides the same
    # cached aggregate, and its two frames (backward-last +
    # forward-first) share ONE partitioning and sort, so the plan
    # still carries a single Window node (interpolate_linear's
    # one-exchange contract, here verified on the catalog key's
    # full plan)
    plan_i = plan_of(qmap, spark, sf_dir, "gapfill_interp_reading")
    assert qr._GAPFILL_CACHE[key] is before
    tree_i = tree_of(plan_i)
    assert len(set(re.findall(r"Scan parquet\s*\((\d+)\)", tree_i))) == 1
    assert tree_i.count("InMemoryTableScan") == 3, tree_i
    assert tree_i.count("Window") == 1, tree_i


def test_quantile_clip_broadcasts_bounds(qmap, spark, sf_dir):
    """The winsorize key's scale shape: the per-group bounds come back
    over the corpus as a BROADCAST (|types| rows — shuffling the
    corpus to meet its own statistics would be the classic
    normalization anti-plan), and both corpus passes are
    column-pruned to (event_type, value)."""
    plan = plan_of(qmap, spark, sf_dir, "agg_quantile_clip")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    schemas = [
        ln.strip() for ln in plan.splitlines() if "ReadSchema" in ln
    ]
    assert schemas, plan
    for ln in schemas:
        assert "struct<event_type:string,value:double>" in ln, ln


def test_eqdepth_histogram_avoids_global_sort(qmap, spark, sf_dir):
    """The equi-depth histogram must NOT plan the ntile shape (global
    range exchange + full corpus sort just to throw the order away):
    the edges come back as a ONE-ROW broadcast nested loop, there is
    no Sort node anywhere in the plan, and both corpus passes are
    pruned to the value column."""
    import re

    plan = plan_of(qmap, spark, sf_dir, "profile_histogram_eqdepth")
    assert "BroadcastNestedLoopJoin" in plan
    assert re.search(r"\(\d+\) Sort\b", plan) is None, plan
    assert "rangepartitioning" not in plan
    schemas = [
        ln.strip() for ln in plan.splitlines() if "ReadSchema" in ln
    ]
    assert schemas and all(
        "struct<value:double>" in ln for ln in schemas
    ), schemas


def test_gapfill_cache_concurrent_consumers_converge(qmap, spark, sf_dir):
    """The three gapfill keys race the registry from worker threads:
    whatever interleaving occurs, the registry must converge to ONE
    live entry for (session, sf_dir), losers' duplicate builds must
    not unpersist the winner (CacheManager shares plan-keyed entries),
    and every racer's result must be correct — counts sum to the
    corpus size, readings non-null where counts are positive."""
    import os
    import threading

    from github_event_etl_spark.plans import queries_relational as qr

    key = (id(spark), os.path.realpath(sf_dir))
    qr._GAPFILL_CACHE.pop(key, None)  # force everyone onto the build path

    results: dict[int, int] = {}
    errors: list[Exception] = []
    names = ["gapfill_hourly", "gapfill_locf_reading",
             "gapfill_interp_reading"]

    def run(i: int) -> None:
        try:
            results[i] = qmap[names[i % 3]](spark, sf_dir).count()
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    # dense grid size is identical across fill modes
    assert len(set(results.values())) == 1, results
    entry = qr._GAPFILL_CACHE[key]
    assert entry[0] is spark
    lvl = entry[1].storageLevel
    assert lvl.useMemory or lvl.useDisk, "winner's persist was evicted"


def test_gapfill_registry_sweeps_dead_sessions(qmap, spark, sf_dir):
    """The registry must drop entries whose SparkContext has stopped on
    the next build (stop/recreate session churn would otherwise grow
    the dict monotonically) — and the sweep must only POP, never touch
    a live session's entry. Simulated with an injected entry shaped
    like a stopped session (sparkContext._jsc is None), avoiding a
    real stop of the shared fixture session."""
    import os as _os

    from github_event_etl_spark.plans import queries_relational as qr

    class _DeadCtx:
        _jsc = None

    class _DeadSession:
        sparkContext = _DeadCtx()

    dead_key = (-1, "/nonexistent/sf_dir")
    qr._GAPFILL_CACHE[dead_key] = (_DeadSession(), None)
    # force the build path: forget (not unpersist — the registry only
    # ever pops) the live entry so the next call rebuilds and sweeps
    live_key = (id(spark), _os.path.realpath(sf_dir))
    qr._GAPFILL_CACHE.pop(live_key, None)
    qmap["gapfill_hourly"](spark, sf_dir)
    assert dead_key not in qr._GAPFILL_CACHE, "dead entry survived sweep"
    assert live_key in qr._GAPFILL_CACHE, "live entry missing after build"


def test_gapfill_hourly_emits_zero_rows(qmap, spark, sf_dir):
    """The operator's whole point: silent (type, hour) buckets exist
    as explicit zero rows, and the dense grid is exactly
    |types| × |global hour span|."""
    out = qmap["gapfill_hourly"](spark, sf_dir).collect()
    types = {r.event_type for r in out}
    hours = {r.hour_str for r in out}
    assert len(out) == len(types) * len(hours)
    assert any(r.n_events == 0 for r in out), "no gap was filled"
    assert sum(r.n_events for r in out) > 0


def test_profile_histogram_single_exchange(qmap, spark, sf_dir):
    """Equi-width histogram = map-side floor-divide + ONE partial+final
    hash aggregate over the bounded bucket domain; the scan reads only
    the profiled column."""
    plan = plan_of(qmap, spark, sf_dir, "profile_histogram")
    tree = tree_of(plan)
    assert tree.count("Exchange") == 1, tree
    assert tree.count("HashAggregate") == 2, tree
    assert tree.count("Scan parquet") == 1, tree
    assert "ReadSchema: struct<value:double>" in plan


def test_profile_histogram_conserves_and_bounds(qmap, spark, sf_dir):
    """Model-level invariants independent of the DuckDB oracle: bucket
    counts conserve the table's row count, and every bucket's observed
    min/max lies inside its [edge, edge + width) interval."""
    from github_event_etl_spark.sources.tables import load_table

    rows = qmap["profile_histogram"](spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_rows for r in rows) == total
    for r in rows:
        if r.bin is None:
            # null values land in a null bin; conservation above
            # already counts them, and edges are undefined there
            continue
        assert r.lo_edge == r.bin * 50.0
        assert r.lo_edge <= r.min_value <= r.max_value < r.lo_edge + 50.0


def test_interpolate_linear_single_exchange_single_window(spark):
    """Both interpolation frames (backward last, forward first) share
    one partitioning and one ascending sort, so the whole fill must
    plan as ONE Exchange + ONE Sort + ONE Window node — a second
    exchange or sort here would double the operator's cost for no
    semantic difference."""
    from datetime import datetime

    from github_event_etl_spark.operators.timeseries import (
        interpolate_linear,
    )

    df = spark.createDataFrame(
        [
            ("a", datetime(2024, 1, 1, h), float(h) if h % 3 == 0 else None)
            for h in range(12)
        ],
        "grp string, bucket timestamp, val double",
    )
    out = interpolate_linear(df, "grp", "bucket", "val")
    tree = tree_of_df(out)
    assert tree.count("Exchange") == 1, tree
    assert tree.count("Sort") == 1, tree
    assert tree.count("Window") == 1, tree


def test_fn_url_extract_stays_jvm(qmap, spark, sf_dir):
    """parse_url is a JVM builtin — the whole decomposition must stay
    inside whole-stage codegen with no Python eval node and a single
    pruned scan."""
    plan = plan_of(qmap, spark, sf_dir, "fn_url_extract")
    tree = tree_of(plan)
    assert "EvalPython" not in plan
    assert tree.count("Scan parquet") == 1, tree
    assert "codegen id" in plan
    assert "Exchange" not in tree


def test_ensure_bucketed_table_register_path_keeps_layout(
    spark, sf_dir, tmp_path
):
    """The cross-process face: after the files exist, a fresh catalog
    (simulated by dropping the table) must take the CREATE TABLE ...
    CLUSTERED BY ... LOCATION path — no rewrite — and the registered
    table must still join bucket-co-located with ZERO exchanges and
    identical rows."""
    import contextlib
    import io
    import os

    from github_event_etl_spark.operators.layout import (
        ensure_bucketed_table,
    )
    from github_event_etl_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    path = str(tmp_path / "cust_b")
    name = "geetl_ensure_b_test"
    try:
        t1 = ensure_bucketed_table(
            spark, df, name, path, "c_custkey", 8, sort_col="c_custkey"
        )
        n1 = t1.count()
        files1 = {
            f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)
        }
        spark.sql(f"DROP TABLE {name}")  # fresh-process simulation
        t2 = ensure_bucketed_table(
            spark, df, name, path, "c_custkey", 8, sort_col="c_custkey"
        )
        assert t2.count() == n1
        files2 = {
            f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)
        }
        assert files2 == files1, "register path must not rewrite files"
        # the re-registered metadata still carries the bucket spec
        orders = ensure_bucketed_table(
            spark,
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey"
            ),
            "geetl_ensure_b_orders",
            str(tmp_path / "ord_b"),
            "o_custkey",
            8,
            sort_col="o_custkey",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            j = orders.hint("merge").join(
                t2, orders.o_custkey == t2.c_custkey
            )
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                j.explain(mode="formatted")
            tree = tree_of(buf.getvalue())
            assert "Exchange" not in tree, tree
            # VALUE check, not just plan shape: a bucket-id/filename
            # misassignment after re-register would let the shuffle-free
            # join silently DROP matches while keeping the plan clean —
            # the zero-shuffle result must equal a plain (shuffled) join
            # of the same inputs row for row.
            plain = (
                load_table(spark, sf_dir, "orders")
                .select("o_orderkey", "o_custkey")
                .join(
                    load_table(spark, sf_dir, "customer").select(
                        "c_custkey", "c_name"
                    ),
                    on=[F.col("o_custkey") == F.col("c_custkey")],
                )
            )
            assert j.count() == plain.count()
            assert j.exceptAll(plain).count() == 0
            assert plain.exceptAll(j).count() == 0
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.adaptive.enabled", "true")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql("DROP TABLE IF EXISTS geetl_ensure_b_orders")


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime bloom-filter join pruning — the third pruning lever
    after pushdown and partition pruning: a selective filter on the
    dim side injects a might_contain(bloom_filter_agg(...)) predicate
    into the FACT side's scan stage, semi-reducing the big side
    BEFORE its shuffle. Spark's stock thresholds gate this on a
    >= 10 GB application side (right at cluster scale, never at test
    SF), so the test lowers the size gate to simulate the 100 TB size
    ratio and pins that (a) the rewrite fires and (b) it does not
    change the answer."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    join = lambda: li.join(  # noqa: E731
        orders, li.l_orderkey == orders.o_orderkey
    ).select("l_orderkey", "o_orderpriority")
    pins = {
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in pins}
    try:
        baseline = join().count()
        for k, v in pins.items():
            spark.conf.set(k, v)
        df = join()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        assert df.count() == baseline  # the filter only prunes, never drops
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_ensure_bucketed_table_spec_mismatch_rewrites(
    spark, sf_dir, tmp_path
):
    """A spec change across code versions (bucket count here) must make
    the register path REWRITE, never re-register: trusting stale files
    under new bucket metadata would let joins skip the shuffle with
    rows in the wrong buckets — silently dropped matches."""
    import os

    from github_event_etl_spark.operators.layout import (
        ensure_bucketed_table,
    )
    from github_event_etl_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    path = str(tmp_path / "cust_b")
    name = "geetl_spec_mismatch_test"
    try:
        ensure_bucketed_table(
            spark, df, name, path, "c_custkey", 8, sort_col="c_custkey"
        )
        before = {
            f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)
        }
        spark.sql(f"DROP TABLE {name}")
        # same files on disk, DIFFERENT bucket count requested
        t = ensure_bucketed_table(
            spark, df, name, path, "c_custkey", 4, sort_col="c_custkey"
        )
        after = {
            f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)
        }
        assert after != before, "spec mismatch must rewrite the files"
        assert t.count() == df.count()
        # and the rewritten fingerprint admits the new spec next time
        spark.sql(f"DROP TABLE {name}")
        t2 = ensure_bucketed_table(
            spark, df, name, path, "c_custkey", 4, sort_col="c_custkey"
        )
        final = {
            f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)
        }
        assert final == after, "matching spec must re-register, not rewrite"
        assert t2.count() == df.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_ensure_bucketed_table_session_path_checks_spec(
    spark, sf_dir, tmp_path
):
    """The SAME-session fast path is gated by the same fingerprint rule
    as the cross-process register path: a caller asking for a different
    bucket count while the table is still in the session catalog must
    get a rewrite, not the old layout silently returned."""
    import os

    from github_event_etl_spark.operators.layout import (
        ensure_bucketed_table,
    )
    from github_event_etl_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    path = str(tmp_path / "cust_b")
    name = "geetl_session_spec_test"
    try:
        ensure_bucketed_table(
            spark, df, name, path, "c_custkey", 8, sort_col="c_custkey"
        )
        before = {
            f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)
        }
        # NO drop — the table is live in this session's catalog; the
        # matching-spec call stays the zero-IO fast path...
        t_same = ensure_bucketed_table(
            spark, df, name, path, "c_custkey", 8, sort_col="c_custkey"
        )
        same = {
            f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)
        }
        assert same == before, "matching spec must not rewrite in-session"
        assert t_same.count() == df.count()
        # ...and a DIFFERENT bucket count must drop + rewrite, with the
        # catalog metadata reflecting the NEW spec afterwards
        t_new = ensure_bucketed_table(
            spark, df, name, path, "c_custkey", 4, sort_col="c_custkey"
        )
        after = {
            f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)
        }
        assert after != before, "in-session spec mismatch must rewrite"
        assert t_new.count() == df.count()
        ddl = spark.sql(f"SHOW CREATE TABLE {name}").first()[0]
        assert "4 BUCKETS" in ddl, ddl
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_ensure_bucketed_table_rejects_foreign_location(
    spark, sf_dir, tmp_path
):
    """A table name already registered at a DIFFERENT path must raise —
    never return the other location's data just because the requested
    path's fingerprint matches, and never silently drop the other
    caller's registration."""
    import pytest as _pytest

    from github_event_etl_spark.operators.layout import (
        ensure_bucketed_table,
    )
    from github_event_etl_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    path_a, path_b = str(tmp_path / "a"), str(tmp_path / "b")
    name, other = "geetl_loc_a", "geetl_loc_b"
    try:
        ensure_bucketed_table(
            spark, df, name, path_a, "c_custkey", 8, sort_col="c_custkey"
        )
        # materialize matching files+spec at path_b under another name,
        # then ask for `name` (registered at path_a) against path_b
        ensure_bucketed_table(
            spark, df, other, path_b, "c_custkey", 8, sort_col="c_custkey"
        )
        with _pytest.raises(ValueError, match="already registered at"):
            ensure_bucketed_table(
                spark, df, name, path_b, "c_custkey", 8,
                sort_col="c_custkey",
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"DROP TABLE IF EXISTS {other}")


def test_ensure_bucketed_table_rejects_temp_view_collision(
    spark, sf_dir, tmp_path
):
    """A temp VIEW sharing the table name is a catalog entry with no
    storage location — it cannot be verified against `path`, and
    `spark.table(name)` would resolve the view, so the operator must
    raise loudly instead of serving the view's (foreign) data."""
    import pytest as _pytest

    from github_event_etl_spark.operators.layout import (
        ensure_bucketed_table,
    )
    from github_event_etl_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    name = "geetl_view_collision"
    try:
        df.limit(1).createOrReplaceTempView(name)
        with _pytest.raises(ValueError, match="without a storage location"):
            ensure_bucketed_table(
                spark, df, name, str(tmp_path / "v"), "c_custkey", 8,
                sort_col="c_custkey",
            )
    finally:
        spark.catalog.dropTempView(name)


def test_normalize_location_uri_forms():
    """Storage-location comparison must not depend on URI spelling:
    file:/p, file:///p and the bare path are one local location
    (realpath'd); non-local URIs canonicalize textually — trailing
    slash, percent-escapes and scheme case must not make two spellings
    of one s3/hdfs location spuriously mismatch (realpath on a raw URI
    would cwd-join it and collapse the post-scheme //)."""
    from github_event_etl_spark.operators.layout import (
        _normalize_location as n,
    )

    assert n("file:/a/b") == n("/a/b") == n("file:///a/b") == n("/a/b/")
    # file://localhost/p is the RFC 8089 local form — same location
    assert n("file://localhost/a/b") == n("/a/b")
    # a file: URI naming a REMOTE host keeps its authority: realpath
    # would discard it and make file://hostA/p == file://hostB/p — a
    # false MATCH that silently skips the location guard
    assert n("file://hostA/p") != n("file://hostB/p")
    assert n("file://hostA/p") != n("/p")
    assert n("file://hostA/p/") == n("file://hostA/p") == "file://hostA/p"
    assert n("s3://bucket/p/") == n("S3://bucket/p") == "s3://bucket/p"
    assert n("hdfs://nn:8020/x/") == n("hdfs://nn:8020/x")
    assert n("s3://bucket/a%20b") == n("s3://bucket/a b")
    # netloc is deliberately case-SENSITIVE: object-store authorities
    # can be case-sensitive namespaces (legacy S3 buckets), and a
    # false match here would silently drop-and-rewrite another
    # caller's registration where a false mismatch only raises the
    # loud location error
    assert n("s3://Bucket/p") != n("s3://bucket/p")
    # distinct locations stay distinct
    assert n("s3://bucket/p") != n("s3://bucket/q")
    assert n("s3://bucket/p") != n("hdfs://bucket/p")


def test_table_location_skips_schema_column_named_location(
    spark, sf_dir, tmp_path
):
    """DESC FORMATTED lists the schema before the detail section; a
    data column literally named 'Location' must not be mistaken for
    the storage-location row (which would make every warm call raise a
    spurious foreign-location error with the TYPE string as the
    path)."""
    import os

    from github_event_etl_spark.operators.layout import (
        ensure_bucketed_table,
    )
    from github_event_etl_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_name").alias("Location")
    )
    path = str(tmp_path / "loc_col")
    name = "geetl_loc_col"
    try:
        ensure_bucketed_table(spark, df, name, path, "c_custkey", 4)
        before = sorted(os.listdir(path))
        # warm same-spec call: fast path, no spurious location error
        t = ensure_bucketed_table(spark, df, name, path, "c_custkey", 4)
        assert t.count() == df.count()
        assert sorted(os.listdir(path)) == before
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_write_zordered_normalize_rejects_non_numeric(spark, tmp_path):
    """normalize=True min/max-scales with double math, which is
    undefined for date/string dims — the operator must refuse with its
    own descriptive error (telling the caller to ordinal-encode), not
    crash driver-side in float()."""
    import pytest as _pytest

    from github_event_etl_spark.operators.layout import write_zordered

    df = spark.range(10).select(
        F.col("id").alias("a"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int"))
        .alias("d"),
    )
    with _pytest.raises(ValueError, match="requires numeric"):
        write_zordered(
            df, str(tmp_path / "z"), "a", "d", bits=4, normalize=True
        )


def test_ensure_zordered_derivation_change_rewrites(spark, sf_dir, tmp_path):
    """The Z-layout fingerprint must include the caller's derived-column
    DEFINITION: same schema + same dims + a changed derivation string is
    exactly the stale-content case (day_num computed under an old
    epoch), so it must rewrite — and an unchanged derivation must keep
    the warm no-rewrite path."""
    import os

    from github_event_etl_spark.operators.layout import ensure_zordered
    from github_event_etl_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    path = str(tmp_path / "z")

    def mtimes():
        return {
            f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        }

    ensure_zordered(
        ev, path, "user_id", "event_id", bits=8, num_files=2,
        derivation="v1",
    )
    first = mtimes()
    ensure_zordered(
        ev, path, "user_id", "event_id", bits=8, num_files=2,
        derivation="v1",
    )
    assert mtimes() == first, "same derivation must not rewrite"
    ensure_zordered(
        ev, path, "user_id", "event_id", bits=8, num_files=2,
        derivation="v2",
    )
    assert mtimes() != first, "changed derivation must rewrite"


def test_semantic_dedup_clusters_has_no_cross_join(qmap, spark, sf_dir):
    """The composed semantic-dedup plan (LSH pairs → connected
    components → representative labeling) must keep the scale shape at
    BOTH ends of the composition. The star-iteration intermediates are
    checkpointed during construction, so the final explain does NOT
    contain the pair stage — gate the pair plan separately, built
    exactly as the query builds it (same shared tuning constants over
    the planted corpus), then gate the returned labeling plan."""
    from github_event_etl_spark.operators.similarity import (
        cosine_dup_pairs_lsh,
    )
    from github_event_etl_spark.plans.queries_llm import (
        _LSH_DUP_THRESHOLD,
        _SEMANTIC_LSH_PLANES,
        _SEMANTIC_LSH_TABLES,
        _planted_dup_corpus,
    )
    from github_event_etl_spark.sources.tables import load_table

    corpus = _planted_dup_corpus(load_table(spark, sf_dir, "embeddings"))
    pairs = cosine_dup_pairs_lsh(
        corpus, dim=64, threshold=_LSH_DUP_THRESHOLD,
        num_tables=_SEMANTIC_LSH_TABLES,
        planes_per_table=_SEMANTIC_LSH_PLANES,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain(mode="formatted")
    pair_plan = buf.getvalue()
    assert "CartesianProduct" not in pair_plan
    assert "BroadcastNestedLoopJoin" not in pair_plan

    plan = plan_of(qmap, spark, sf_dir, "llm_dedup_semantic")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_filter_funnel_single_scan(qmap, spark, sf_dir):
    """The funnel report must never materialize per-stage frames: ONE
    documents scan feeding a map-side first-failing-gate CASE, the
    6-group fail-stage aggregate, and window arithmetic over the 6-row
    stage report (single broadcast join against the literal stage
    table, no sort-merge join). A second parquet scan means a gate
    became its own pass — N extra corpus scans at 100 TB."""
    tree = tree_of(plan_of(qmap, spark, sf_dir, "llm_filter_funnel"))
    assert tree.count("Scan parquet") == 1
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree
    assert tree.count("BroadcastHashJoin") == 1
    # fail-stage agg exchange + single-partition report exchange; the
    # broadcast of the stage table is not a shuffle.
    assert tree.count("Exchange hashpartitioning") <= 1


def test_incremental_dedup_corpus_never_shuffles(qmap, spark, sf_dir):
    """Incremental dedup's contract at 100 TB: the corpus side is
    semi-filtered map-side against a broadcast of the batch's hashes —
    every join broadcast, every hash-exchange batch-sized. A
    SortMergeJoin or a cartesian here means the corpus started
    shuffling (or worse) for a daily increment."""
    tree = tree_of(plan_of(qmap, spark, sf_dir, "llm_dedup_incremental"))
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree
    assert tree.count("BroadcastHashJoin") == 3
    # one of the three broadcast joins is the corpus semi-filter
    assert "LeftSemi" in tree
    # scans: corpus once + the batch-sized index subtree (documented
    # 3x batch consumption in operators/text_dedup.py)
    assert tree.count("Scan parquet") <= 4


def test_incremental_minhash_corpus_never_shuffles(qmap, spark, sf_dir):
    """Incremental MinHash dedup's 100 TB contract: the corpus side is
    banded map-side and immediately semi-filtered against a broadcast
    of the batch's band keys — NO sort-merge join, NO cartesian, every
    join broadcast. The corpus parquet is scanned exactly twice (band
    keys + verify texts, both streamed against broadcast small sides);
    the remaining scans are the documented increment-sized batch
    subtrees. A SortMergeJoin here means the corpus started shuffling
    for a daily increment."""
    tree = tree_of(plan_of(qmap, spark, sf_dir, "llm_dedup_incremental_minhash"))
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    # the corpus band-key semi-filter survived optimization
    assert "LeftSemi" in tree
    # corpus 2 + batch subtrees (band index 3x, texts 3x, spine 1)
    assert tree.count("Scan parquet") <= 9


def test_stratified_sample_never_sorts_a_stratum(qmap, spark, sf_dir):
    """stratified_sample's 100 TB contract: the corpus is never
    globally sorted per stratum — the only Sort feeds the window over
    the PREFILTERED candidate set (~oversample·quota rows per
    stratum), the threshold table attaches by broadcast, and the
    corpus sees exactly two column-pruned scans (count + prefilter).
    A SortMergeJoin or a third scan means the plan regressed to
    sorting or re-reading the stratum."""
    tree = tree_of(plan_of(qmap, spark, sf_dir, "llm_stratified_sample"))
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree
    assert "BroadcastHashJoin" in tree
    assert tree.count("Scan parquet") == 2


def test_chunk_overlap_is_shuffle_free(qmap, spark, sf_dir):
    """Chunking is a pure map-side explode: one documents scan, no
    exchange of any kind, no join. A shuffle here would mean the
    within-doc windowing grew a cross-row dependency."""
    tree = tree_of(plan_of(qmap, spark, sf_dir, "llm_chunk_overlap"))
    assert tree.count("Scan parquet") == 1
    assert "Exchange" not in tree
    assert "Join" not in tree


def test_leakage_safe_split_adds_no_shuffle_over_clusters(qmap, spark, sf_dir):
    """The split must be a map-side expression on cluster_id: no
    cartesian anywhere, and the exchange census equals the audited
    component path's — hash exchanges for the dup-group aggregate and
    the star rounds, nothing extra for the split itself."""
    t_split = tree_of(plan_of(qmap, spark, sf_dir, "llm_split_leakage_safe"))
    t_clusters = tree_of(plan_of(qmap, spark, sf_dir, "llm_dedup_clusters"))
    assert "CartesianProduct" not in t_split
    assert "BroadcastNestedLoopJoin" not in t_split
    assert t_split.count("Exchange hashpartitioning") == t_clusters.count(
        "Exchange hashpartitioning"
    )


def test_incremental_semantic_corpus_never_shuffles(qmap, spark, sf_dir):
    """Incremental semantic dedup's 100 TB contract, the embedding
    twin of the incremental-minhash gate: the corpus side is signed
    map-side and semi-filtered against a broadcast of the increment's
    signature keys — NO sort-merge join, NO cartesian, every join
    broadcast. The parquet scans are all either streamed corpus
    consumptions (signature keys + verify vectors) or increment-sized
    batch subtrees, doubled by the planted-corpus union's two
    branches; a SortMergeJoin here means the corpus started shuffling
    for a daily increment."""
    tree = tree_of(plan_of(qmap, spark, sf_dir, "llm_dedup_incremental_semantic"))
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    # the corpus signature-key semi-filter survived optimization
    assert "LeftSemi" in tree
    # corpus 2 + batch-index 3 + batch-vector 3 + spine 1 consumptions,
    # each doubled by the union fixture
    assert tree.count("Scan parquet") <= 18


def test_threshold_sweep_runs_candidate_machinery_once(qmap, spark, sf_dir):
    """The sweep report's 100 TB contract: the MinHash candidate+verify
    pipeline runs ONCE — the sweep's parquet scan census equals the
    base near-dup key's exactly (banding + two text attaches; adding a
    grid point must add a literal, not a scan), the only non-equi join
    is the broadcast of the 5-row threshold grid, and no cartesian
    anywhere."""
    t_sweep = tree_of(plan_of(qmap, spark, sf_dir, "llm_dedup_threshold_sweep"))
    t_base = tree_of(plan_of(qmap, spark, sf_dir, "llm_dedup_minhash_lsh"))
    assert t_sweep.count("Scan parquet") == t_base.count("Scan parquet")
    assert "CartesianProduct" not in t_sweep
    assert t_sweep.count("BroadcastNestedLoopJoin") == 1


def test_incremental_e2e_pipeline_plan_is_scale_safe(
    spark, sf_dir, monkeypatch
):
    """The composed exact→MinHash→semantic increment waterfall must
    inherit every twin's scale posture across ALL THREE stages: no
    cartesian/nested-loop join and no pickled row-at-a-time Python
    (the MinHash/RHP signature UDFs are Arrow-vectorized —
    ArrowEvalPython is expected, BatchEvalPython is not). The
    stage-level scale contracts (corpus-never-shuffles, broadcast
    semi-filters) are plan-gated per twin by their own tests; this
    gate guards the composition against a regression that survives
    only when the stages are chained. It swaps `materialize` for the
    identity in both modules that cut the waterfall's lineage: with
    the cuts the exact/MinHash stages execute at construction time and
    the final plan shows only their ExistingRDD stubs — the gate would
    silently cover one stage of three."""
    import contextlib as _ctx
    import io as _io

    from github_event_etl_spark.operators import text_dedup
    from github_event_etl_spark.plans import pipelines

    for mod in (pipelines, text_dedup):
        monkeypatch.setattr(mod, "materialize", lambda df: df)
    df = pipelines.incremental_e2e_pipeline(spark, sf_dir)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    # the gate's own premise: nothing was pre-materialized, so the
    # assertions below really do see all three stages
    assert "Scan ExistingRDD" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_snapshot_diff_plan_is_scale_safe(spark, sf_dir, qmap):
    """llm_corpus_snapshot_diff must be a single equi-join shape: one
    full-outer join on doc_id (co-partitioned at scale — never a
    nested-loop), the per-column comparisons and changed-cols assembly
    pure JVM codegen (no Python evaluation of any kind), and both
    snapshot filters pushed into the parquet scans."""
    plan = plan_of(qmap, spark, sf_dir, "llm_corpus_snapshot_diff")
    t = tree_of(plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert t.count("Join") >= 1
    # both residue filters reach the scans as pushed predicates on
    # doc_id (PushedFilters only carries IsNotNull here — the modulo
    # residues are post-scan Filter nodes, which is expected: parquet
    # cannot evaluate %), so assert they at least stayed pre-join
    assert "FullOuter" in plan or "full_outer" in plan


def test_embed_random_projection_plan_is_scale_safe(spark, sf_dir, qmap):
    """llm_embed_random_projection: the projection is the documented
    Arrow-matmul exception (ArrowEvalPython present), everything else
    JVM — no row-at-a-time Python, and the planted-pair join is an
    equi-join on the derived id, never a nested loop."""
    plan = plan_of(qmap, spark, sf_dir, "llm_embed_random_projection")
    t = tree_of(plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # the key projects AFTER the pair join precisely so both sides'
    # UDF calls fuse into ONE Arrow stage — projecting before the join
    # planned the UDF once per union branch per join side (4 corpus
    # passes); this gate is what pins that plan shape
    n_arrow = t.count("ArrowEvalPython")
    assert n_arrow == 1, t
