"""Distributed connected components — duplicate-cluster resolution
(north-star LLM-pipeline mandate; the step AFTER near-dedup pair
generation).

MinHash-LSH / SimHash emit duplicate PAIRS (text_dedup.py). A training
pipeline needs duplicate CLUSTERS: the transitive closure of the pair
graph, one representative kept per cluster. At 100 TB the pair graph
has billions of edges, so closure must be a bounded number of
shuffle-stage iterations over (node, label) tuples — never a
driver-side union-find and never a frontier-per-hop BFS (diameter can
be large).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — PAPERS.md
adjacency), the standard label-propagation scheme that converges in
O(log n) rounds on real graphs. Each round is exactly one groupBy per
star step:

  large-star: for each node u, every strictly-larger neighbor re-links
              to u's current minimum (keeps the graph connected while
              shrinking big nodes' degree);
  small-star: every neighbor ≤ u links to the minimum (flattens each
              tree toward its root).

Convergence when the edge multiset stops changing; the result maps
every node to the minimum node id of its component — matching the
"min doc_id is the representative" convention used across the dedup
operators.

Scale notes: labels are (long, long) pairs — the per-round shuffle
moves O(E) narrow rows, partitioned by node id (uniform for content
ids). Per-round checkpointing truncates the growing lineage (an
iterative-plan necessity, not an optimization) through
`session.materialize`: reliable when the SparkContext has a
checkpoint dir (survives executor loss on a cluster), local
otherwise. AQE re-sizes the per-round shuffles as components
collapse and E shrinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (large=True) or small-star round. `edges` has
    columns (u, v); returns the rewritten edge set, deduplicated,
    self-loops dropped.

    List-free formulation: a node's neighborhood minimum is a window
    `min().over(partitionBy(node))` riding the SAME exchange that
    groups the oriented rows — one shuffle per star step, where the
    earlier groupBy-min + equi-join spent two on identical rows
    (measured 2.13 s → the fused form at sf0.1 bench). No per-node
    neighbor list is ever materialized: a viral node (unbounded degree
    on an arbitrary pair graph — exactly the skew large-star exists to
    fix) streams through the window's spillable row buffer, not one
    aggregation buffer, so the 100k-degree-hub pytest stays green.
    """
    # Orient each undirected edge both ways, keeping (node, neighbor)
    # so every node sees its full neighborhood. `edges` is canonical
    # (u < v, distinct), so the oriented rows are distinct too.
    nbrs = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))

    win = Window.partitionBy("node")
    withm = nbrs.withColumn("m", F.min(F.least("nbr", "node")).over(win))
    if large:
        # link every strictly-larger neighbor to m
        out = withm.filter(F.col("nbr") > F.col("node")).select(
            "m", F.col("nbr").alias("other")
        )
    else:
        # link node + every neighbor <= node to m; the (m, node)
        # self-links are emitted once per neighbor and collapse in the
        # final distinct's map-side partial aggregate
        out = withm.filter(F.col("nbr") <= F.col("node")).select(
            "m", F.col("nbr").alias("other")
        ).unionAll(withm.select("m", F.col("node").alias("other")))
    return (
        out.filter(F.col("m") != F.col("other"))
        .select(
            F.least("m", "other").alias("u"), F.greatest("m", "other").alias("v")
        )
        .distinct()
    )


def connected_components(edges: DataFrame, max_rounds: int = 12) -> DataFrame:
    """Map every node in the undirected edge list (u, v) to the minimum
    node id of its connected component. Returns (node, component).

    Runs alternating star rounds until the edge set is a fixed point
    (all stars: every edge already (min, other)) — O(log n) expected;
    the default `max_rounds` of 12 covers graphs far beyond any test
    SF. `max_rounds` bounds the number of CHANGING rounds — the
    comparison round that confirms the fixed point is free, so a graph
    converging exactly on round `max_rounds` still returns (and an
    already-converged input returns even with max_rounds=0). If a
    round beyond the budget still changes the edge set, raises
    RuntimeError rather than returning partial (non-minimal) labels,
    which would silently break every downstream min-id contract;
    `dedup_clusters` plumbs `max_rounds` through for callers that
    legitimately need deeper closure.
    Isolated nodes never appear in `edges` and so are their own
    implicit components (callers union them back if needed).

    Executor-loss story: each round materializes through
    `session.materialize`, so a deployment that sets a checkpoint dir
    on the SparkContext gets RELIABLE per-round checkpoints (losing an
    executor mid-iteration only recomputes from the last round), and a
    local session gets `localCheckpoint`s. Because the per-round
    checkpoints are eager, the returned plan reads only the final
    checkpointed edge set.
    """

    def _sketch(df: DataFrame) -> tuple[int, int]:
        """(edge count, order-free checksum) in ONE job: XOR of per-edge
        xxhash64 over a distinct edge set is a commutative set
        fingerprint (XOR cancellation needs a repeated edge, impossible
        in a distinct set; no overflow under ANSI mode, unlike sum).
        Replaces the count()-then-exceptAll() fixpoint test (up to two
        extra jobs per round over the full edge set); a false
        "converged" needs equal counts AND a 64-bit checksum collision
        between differing sets — negligible next to the max_rounds
        safety bound."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).first()
        return row["n"], row["h"]

    cur = materialize(
        edges.filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    prev = _sketch(cur)
    changing_rounds = 0
    while True:
        nxt = _star_round(cur, large=True)
        cur = materialize(_star_round(nxt, large=False))
        sk = _sketch(cur)
        # Fixed point: same edge set (both sides are distinct sets).
        if sk == prev:
            break
        prev = sk
        changing_rounds += 1
        if changing_rounds > max_rounds:
            # A partial result here is silently WRONG labels (some
            # members non-minimal), which downstream contracts —
            # dedup representatives, the leakage-safe split — must
            # never receive. Fail loudly instead of returning it.
            # This branch only fires when THIS round genuinely
            # changed the edge set, so the message is always true;
            # a graph that converges exactly on round max_rounds
            # spends one extra confirming round and returns fine.
            raise RuntimeError(
                "connected_components exceeded "
                f"max_rounds={max_rounds} alternating-star rounds "
                "with the edge set still changing; raise "
                "max_rounds (dedup_clusters plumbs it through)"
            )
    # After convergence every edge is (component_min, member).
    members = cur.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = cur.select(F.col("u").alias("node"), F.col("u").alias("component"))
    return members.unionAll(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 12,
) -> DataFrame:
    """Resolve near-duplicate pairs into clusters: (doc_id, cluster_id,
    is_representative). `cluster_id` is the minimum doc_id of the
    cluster; docs not in any pair are singleton clusters of themselves.
    Per-round checkpoints follow `session.materialize` (see
    connected_components); `max_rounds` is the closure's
    changing-round budget (connected_components raises past it rather
    than returning partial labels — this is the knob its error message
    points at).
    """
    comps = connected_components(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")),
        max_rounds=max_rounds,
    )
    ids = all_ids.select(F.col(id_col).alias("node")).distinct()
    labeled = ids.join(comps, "node", "left").select(
        F.col("node").alias(id_col),
        F.coalesce("component", "node").alias("cluster_id"),
    )
    return labeled.withColumn(
        "is_representative", (F.col(id_col) == F.col("cluster_id"))
    )
