"""Oracle-differential tests: every declared query vs its DuckDB oracle
at sf0.001 (fast), mirroring the driver's sf0.01 correctness gate."""

from __future__ import annotations

import pytest

from github_event_etl_spark.plans.catalog import all_specs

from .oracle_harness import compare_query, duckdb_connection

SPECS = all_specs()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(spark, duck, sf_dir, name):
    spec = SPECS[name]
    result = compare_query(spark, duck, name, spec.fn, spec.oracle, sf_dir)
    assert result.ok, f"{name}: {result.detail}"
    if spec.oracle is None:
        # rows-only queries must still run and return a stable schema
        df = spec.fn(spark, sf_dir)
        assert df.columns


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"user_id", "score"} <= set(df.columns)


def test_contract_shape():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert all(callable(f) for f in q.values())


def test_catalog_staleness_ordering():
    """Pin the registry ordering discipline the driver's 50-key/round
    cap depends on (catalog._load_all): (1) queries changed this round
    first, (2) never-checked keys, (3) everything else stalest-first by
    last green round — so no key's verification ever goes staler than
    it has to, and a changed query is always re-hash-verified in the
    round it changed."""
    from github_event_etl_spark.plans import catalog

    last_green = catalog._rounds_checked_green()
    names = list(SPECS)

    def expected_rank(key: str) -> tuple[int, int]:
        if (
            key in catalog._CHANGED_THIS_ROUND
            and last_green.get(key, 0) <= catalog._CHANGED_AFTER_ROUND
        ):
            return (0, 0)
        return (1, last_green.get(key, 0))

    ranks = [expected_rank(n) for n in names]
    assert ranks == sorted(ranks), (
        "registry not ordered changed-first / stalest-first: "
        + str([
            (n, r) for n, r, prev in zip(names[1:], ranks[1:], ranks)
            if r < prev
        ])
    )
    # Changed-this-round keys (not yet re-verified) must sit inside the
    # driver's 50-key window.
    for key in catalog._CHANGED_THIS_ROUND:
        if key in SPECS and last_green.get(key, 0) <= catalog._CHANGED_AFTER_ROUND:
            assert names.index(key) < 50, f"{key} outside the 50-key window"
    # Never-checked keys must also make the window.
    never = [n for n in names if n not in last_green]
    for key in never:
        assert names.index(key) < 50, f"new key {key} outside the 50-key window"


def test_resolve_covers_every_benched_name():
    """`catalog.resolve` is the one name lookup bench.py and tools/
    share: every benched name resolves to a callable, while the two
    slot-less indexed twins and the two pipelines stay out of the
    registry that `queries()` exposes."""
    import bench
    from github_event_etl_spark.plans import catalog

    for name in bench.HEADLINE + bench.OPTIONAL + bench.COMPONENTS + bench.PIPELINES:
        assert callable(catalog.resolve(name)), name
    qmap = catalog.query_map()
    for name in (
        "llm_dedup_incremental_indexed",
        "llm_dedup_incremental_semantic_indexed",
        "dedup_e2e",
        "incremental_e2e",
    ):
        assert name not in qmap, name
    with pytest.raises(KeyError):
        catalog.resolve("no_such_key")


def test_staleness_bound_documented_matches_arithmetic():
    """The catalog's documented worst-case staleness bound must equal
    the arithmetic reality of the registry size vs the driver's 50-key
    window — if the registry grows past another multiple of 50, this
    fails until the documentation (and consolidation policy) catches
    up."""
    from github_event_etl_spark.plans import catalog

    n = len(SPECS)
    expected = -(-n // catalog._DRIVER_KEYS_PER_ROUND)
    assert catalog.staleness_bound_rounds() == expected
    # Current design point: 3 rounds (101..150 keys). Growing into a
    # 4-round bound is a deliberate decision, not an accident.
    assert expected <= 3, (
        f"registry at {n} keys pushes staleness past 3 rounds — "
        "consolidate projection keys or raise this pin deliberately"
    )


def test_token_shards_is_projection_of_pack_offsets(spark, sf_dir):
    """llm_token_shards holds no catalog slot because it is a strict
    projection of the hash-verified llm_pack_offsets; pin that
    equivalence so the public function can never drift from the
    verified superset."""
    from github_event_etl_spark.plans.queries_llm import (
        llm_pack_offsets,
        llm_token_shards,
    )

    shards = {tuple(r) for r in llm_token_shards(spark, sf_dir).collect()}
    proj = {
        tuple(r)
        for r in llm_pack_offsets(spark, sf_dir)
        .drop("offset_in_shard")
        .collect()
    }
    assert shards == proj and shards
    assert "llm_token_shards" not in SPECS
    assert "llm_pack_offsets" in SPECS
