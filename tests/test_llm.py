"""Unit + property tests for the LLM-pipeline operators (SURVEY.md §5.2
items 2/4 applied to B11). The oracle-differential check in
test_oracle.py covers value-parity; these tests cover semantics the
oracle can't: ANN recall floors, SimHash locality, stub behavior, and
idempotence properties."""

from __future__ import annotations

import pytest

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import conftest

from github_event_etl_spark.operators.multimodal import (
    attach_fake_media,
    decode_media,
    extract_features,
    sample_frames,
)
from github_event_etl_spark.operators.similarity import (
    _subsq_l2_sql,
    ann_ivf,
    ann_lsh,
    ann_recall,
    cosine,
    cosine_cols,
    knn_bruteforce,
)
from github_event_etl_spark.operators.text_analysis import quality_score
from github_event_etl_spark.operators.text_dedup import (
    dedup_exact,
    minhash_candidate_pairs,
    simhash64,
    verify_pairs_jaccard,
)
from github_event_etl_spark.sources.tables import load_table


def _fmt_plan(df):
    """Formatted physical plan as text — ONE capture helper for every
    plan-shape assertion in this module, so a change to how plans are
    captured can never make two gates silently diverge."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()



@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    # Unpersist at teardown: a lingering cached documents relation gets
    # substituted into OTHER tests' plans by the cache manager, hiding
    # the pruned parquet scan test_plans.py asserts on.
    df = load_table(spark, sf_dir, "documents").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings").cache()
    yield df
    df.unpersist()


# ------------------------------------------------------------------- dedup


def test_dedup_exact_idempotent_and_doubling(docs):
    """Running dedup over docs ∪ docs doubles every copy count but
    keeps the same representatives — the A9-style idempotence property
    applied to content hashing."""
    once = {r.content_hash: (r.rep_doc_id, r.n_copies) for r in dedup_exact(docs).collect()}
    twice = {
        r.content_hash: (r.rep_doc_id, r.n_copies)
        for r in dedup_exact(docs.unionAll(docs)).collect()
    }
    assert set(once) == set(twice)
    for h, (rep, n) in once.items():
        assert twice[h] == (rep, 2 * n)


def test_simhash_locality(spark):
    """Identical text ⇒ identical fingerprint; a one-token edit moves
    few bits; unrelated text moves many."""
    rows = [
        ("a", "the quick brown fox jumps over the lazy dog again and again"),
        ("b", "the quick brown fox jumps over the lazy cat again and again"),
        ("c", "completely different words about spark shuffles and parquet"),
        ("a2", "the quick brown fox jumps over the lazy dog again and again"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    fp = {r.id: r.fp for r in df.select("id", simhash64(F.col("text")).alias("fp")).collect()}

    def hamming(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    assert fp["a"] == fp["a2"]
    assert hamming(fp["a"], fp["b"]) <= 16
    assert hamming(fp["a"], fp["c"]) > 16


def test_simhash_fingerprints_match_per_row_column(docs):
    """The codegen-friendly relational SimHash (explode → 64 vote
    aggregates) must equal the per-row column fold bit-for-bit.
    `simhash64` is the xxhash64 witness, so compare the xxhash64
    family."""
    from github_event_etl_spark.operators.text_dedup import simhash_fingerprints

    rel = {
        r.doc_id: r.fp
        for r in simhash_fingerprints(docs, hash_family="xxhash64").collect()
    }
    col = {
        r.doc_id: r.fp
        for r in docs.select("doc_id", simhash64(F.col("text")).alias("fp")).collect()
    }
    assert rel == col


def test_simhash_md5_family_matches_duckdb(docs):
    """The default md5 hash family is the oracle-checked path: DuckDB
    must recompute the identical 64-bit fingerprints from the same md5
    hex halves (this is the parity the driver's value oracle rests
    on). Also sanity-check locality survives the hash swap: identical
    texts collide exactly."""
    import duckdb

    from github_event_etl_spark.operators.text_dedup import simhash_fingerprints

    pdf = docs.select("doc_id", "text").toPandas()
    spark_fp = {
        r.doc_id: r.fp for r in simhash_fingerprints(docs).collect()
    }
    con = duckdb.connect()
    con.register("documents", pdf)
    duck_fp = dict(
        con.sql(
            r"""
            WITH tok AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(text), '\s+')) AS t
              FROM documents
            ),
            h AS (
              SELECT doc_id,
                     ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
                     ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
              FROM tok
            ),
            votes AS (
              SELECT doc_id, b.b AS bit,
                     SUM(CASE WHEN (CASE WHEN b.b < 32 THEN lo >> b.b
                                         ELSE hi >> (b.b - 32) END) & 1 = 1
                              THEN 1 ELSE -1 END) AS v
              FROM h, (SELECT unnest(range(0, 64)) AS b) b
              GROUP BY 1, 2
            )
            SELECT doc_id,
                   SUM(CASE WHEN v > 0 THEN
                         CASE WHEN bit = 63 THEN -9223372036854775807 - 1
                              ELSE 1::BIGINT << bit END
                       ELSE 0 END)::BIGINT AS fp
            FROM votes GROUP BY 1
            """
        ).fetchall()
    )
    assert spark_fp == duck_fp
    texts = pdf.set_index("doc_id")["text"].to_dict()
    for a, ta in texts.items():
        for b, tb in texts.items():
            if a < b and ta == tb:
                assert spark_fp[a] == spark_fp[b]


def test_minhash_vec_bands_match_expression_form(spark, docs):
    """The Arrow-fused band UDF (hashlib md5 + numpy K-M lanes) must
    equal the HOF expression twin value-for-value — including the
    edge rows the synthetic corpus lacks (NULL text, empty text,
    sub-k-token docs, multi-space runs, tab/newline separators)."""
    from github_event_etl_spark.operators.text_dedup import (
        lsh_band_buckets,
        minhash_band_buckets_vec,
        minhash_signature,
    )

    edge = spark.createDataFrame(
        [
            (10_001, None),
            (10_002, ""),
            (10_003, "   "),
            (10_004, "one two"),
            (10_005, "a  b\tc\nd   e"),
            (10_006, " padded   tokens here "),
        ],
        "doc_id long, text string",
    )
    sample = docs.select("doc_id", "text").limit(200).unionByName(edge)
    expr = lsh_band_buckets(minhash_signature(F.col("text")), 4, 3)
    vec = minhash_band_buckets_vec(4, 3)(F.col("text"))
    rows = sample.select(
        "doc_id", expr.alias("e"), vec.alias("v")
    ).collect()
    for r in rows:
        assert [tuple(x) for x in r.e] == [tuple(x) for x in r.v], r.doc_id


def test_jaccard_vec_matches_expression_form(spark, docs):
    """The Arrow-fused pair-Jaccard must equal `jaccard_ngram`
    value-for-value, edge rows included."""
    from github_event_etl_spark.operators.text_dedup import (
        jaccard_ngram,
        jaccard_pairs_vec,
    )

    edge = spark.createDataFrame(
        [
            (None, None),
            (None, "three word doc"),
            ("", "   "),
            ("one two", "one two"),
            ("a b c d", "a  b\tc\nd"),
            ("x y z", "x y z"),
        ],
        "ta string, tb string",
    )
    base = docs.limit(150)
    pairs = (
        base.select(F.col("text").alias("ta"))
        .withColumn("_r", F.monotonically_increasing_id())
        .join(
            base.select(F.col("text").alias("tb")).withColumn(
                "_r", F.monotonically_increasing_id() + 1
            ),
            "_r",
        )
        .select("ta", "tb")
        .unionByName(edge)
    )
    rows = pairs.select(
        jaccard_ngram(F.col("ta"), F.col("tb")).alias("e"),
        jaccard_pairs_vec(3)(F.col("ta"), F.col("tb")).alias("v"),
    ).collect()
    for r in rows:
        assert r.e == r.v, (r.e, r.v)


def test_jaccard_split_verify_matches_expression_form(spark, docs):
    """The split verify path (per-doc `shingle_sets_vec` — hashed int64
    shingles — scored by `jaccard_shingle_sets`) must equal the
    `jaccard_ngram` expression twin value-for-value on real docs AND
    the whitespace/None edge rows: same tokenization, same set
    semantics (a 64-bit shingle collision would break this exactly
    here), same F.round HALF_UP policy (ADVICE r21 — the direct parity
    the docstrings promise)."""
    from github_event_etl_spark.operators.text_dedup import (
        jaccard_ngram,
        jaccard_shingle_sets,
        shingle_sets_vec,
    )

    edge = spark.createDataFrame(
        [
            (None, None),
            (None, "three word doc"),
            ("", "   "),
            ("one two", "one two"),
            ("a b c d", "a  b\tc\nd"),
            ("x y z", "x y z"),
        ],
        "ta string, tb string",
    )
    base = docs.limit(150)
    pairs = (
        base.select(F.col("text").alias("ta"))
        .withColumn("_r", F.monotonically_increasing_id())
        .join(
            base.select(F.col("text").alias("tb")).withColumn(
                "_r", F.monotonically_increasing_id() + 1
            ),
            "_r",
        )
        .select("ta", "tb")
        .unionByName(edge)
    )
    sh = shingle_sets_vec(3)
    rows = pairs.select(
        jaccard_ngram(F.col("ta"), F.col("tb")).alias("e"),
        jaccard_shingle_sets(sh(F.col("ta")), sh(F.col("tb"))).alias("s"),
    ).collect()
    for r in rows:
        assert r.e == r.s, (r.e, r.s)


def test_jaccard_rounding_policy_on_tie_denominators(spark):
    """Documents ADVICE r21's rounding-policy finding: on reduced-ratio
    denominators 128·5^b (union 640, 3200, …) Spark's BigDecimal
    HALF_UP (`F.round` — the policy of EVERY production verify path
    and of the DuckDB oracle) differs from floor(x·1e6 + 0.5) (the
    `jaccard_pairs_vec` witness policy) by EXACTLY 1e-6, and only at
    half-ulp ties; on power-of-two denominators they are identical."""
    import math

    rows = [
        (i, d) for d in (128, 640, 3200, 1024) for i in range(0, d + 1, 7)
    ]
    got = (
        spark.createDataFrame(rows, "i long, d long")
        .select(
            "i",
            "d",
            F.round(
                F.col("i").cast("double") / F.col("d").cast("double"), 6
            ).alias("r"),
        )
        .collect()
    )
    n_diff = 0
    for r in got:
        floor_pol = math.floor(r.i / r.d * 1e6 + 0.5) / 1e6
        if r.d in (128, 1024):
            assert floor_pol == r.r, (r.i, r.d, r.r, floor_pol)
        elif floor_pol != r.r:
            n_diff += 1
            assert abs(floor_pol - r.r) <= 1.0000001e-06, (r.i, r.d)
    assert n_diff > 0, "expected half-ulp divergences on 640/3200"


def test_cosine_sql_twins_match_column_api(spark):
    """`cosine_cols` / `_subsq_l2_sql` (the single-parse construction
    fast paths) must equal the Column-API reference forms value-for-
    value — the direct parity ADVICE r21 asked for — and must resolve
    column names containing backticks (the `_bq` escaping fix)."""
    from github_event_etl_spark.operators.similarity import (
        _as_double,
        _subsq_l2_sql,
        cosine,
        cosine_cols,
    )

    vecs = [
        (
            [float((i * 13 + j * 5) % 17) - 8.0 for j in range(8)],
            [float((i * 11 + j * 7) % 19) - 9.0 for j in range(8)],
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(
        vecs, "va array<float>, vb array<float>"
    )
    rows = df.select(
        cosine(F.col("va"), F.col("vb")).alias("ref"),
        cosine_cols("va", "vb").alias("fast"),
        F.aggregate(
            F.zip_with(
                F.slice(_as_double(F.col("va")), 3, 4),
                F.slice(_as_double(F.col("vb")), 3, 4),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sref"),
        F.expr(_subsq_l2_sql("va", "vb", 3, 4)).alias("sfast"),
    ).collect()
    for r in rows:
        assert r.ref == r.fast, (r.ref, r.fast)
        assert r.sref == r.sfast, (r.sref, r.sfast)
    # backtick-bearing column names must parse and resolve
    odd = df.withColumnRenamed("va", "a`b")
    got = odd.select(cosine_cols("a`b", "vb").alias("c")).first()
    assert got.c is not None


def test_minhash_catches_all_planted_near_dups(docs):
    """Every pair with Jaccard ≥ 0.9 must appear among the LSH
    candidates (4 bands × 3 rows ⇒ miss probability ≈ (1−j³)⁴ < 1e-4
    at j=0.9; the fixed md5 family makes the outcome deterministic)."""
    verified = verify_pairs_jaccard(
        minhash_candidate_pairs(docs), docs, threshold=0.9
    )
    got = {(r.doc_a, r.doc_b) for r in verified.collect()}
    # Exact ground truth: precompute each doc's distinct shingle set
    # ONCE, then brute-force the pair join over the small arrays.
    # (Computing the shingle expression inside the pair join would
    # re-evaluate it 125k times inside one nested-loop task.)
    from github_event_etl_spark.operators.text_dedup import word_shingles

    sh = docs.select(
        "doc_id", F.array_distinct(word_shingles(F.col("text"))).alias("s")
    ).repartition(8).cache()
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size(F.array_union(F.col("sa"), F.col("sb")))
    exact = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.round(inter.cast("double") / union.cast("double"), 6).alias("j"),
        )
        .filter(F.col("j") >= 0.9)
    )
    want = {(r.doc_a, r.doc_b) for r in exact.collect()}
    sh.unpersist()
    assert want == got


def test_degenerate_bucket_is_capped(spark):
    """A planted giant bucket (mass-identical boilerplate) must not go
    quadratic: with max_bucket_size below the clique size, its pairs
    are dropped before the member list materializes, while genuine
    near-dups elsewhere in the corpus still surface. The uncapped
    control shows the quadratic blow-up the guard prevents."""
    from github_event_etl_spark.operators.text_dedup import (
        simhash_candidate_pairs,
    )

    boiler = [(i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed")
              for i in range(120)]
    near = [
        (1000, "spark shuffles partition data across executors by key hash order"),
        (1001, "spark shuffles partition data across executors by key hash rank"),
    ]
    df = spark.createDataFrame(boiler + near, ["doc_id", "text"])

    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_candidate_pairs(df, max_bucket_size=50).collect()
    }
    assert (1000, 1001) in capped
    assert all(a >= 1000 for a, _ in capped), "giant-clique pairs leaked"

    uncapped = minhash_candidate_pairs(df).count()
    assert uncapped >= 120 * 119 // 2

    sim_capped = {
        (r.doc_a, r.doc_b)
        for r in simhash_candidate_pairs(df, max_bucket_size=50).collect()
    }
    assert all(a >= 1000 for a, _ in sim_capped), "giant-clique pairs leaked"


# -------------------------------------------------------------- similarity


def test_ann_recall_floors(emb):
    qs = emb.filter(F.col("vec_id") < 8)
    bf = {(r.qid, r.nid) for r in knn_bruteforce(emb, qs, k=10).collect()}
    lsh = {
        (r.qid, r.nid)
        for r in ann_lsh(emb, qs, dim=64, k=10, num_tables=12, planes_per_table=6).collect()
    }
    ivf = {
        (r.qid, r.nid)
        for r in ann_ivf(emb, qs, k=10, num_centroids=16, nprobe=4).collect()
    }
    assert len(bf) == 8 * 10
    assert len(bf & lsh) / len(bf) >= 0.30
    assert len(bf & ivf) / len(bf) >= 0.30


def test_ann_recall_eval_matches_set_intersections(emb):
    """The recall harness's counted hits must equal the literal set
    intersection |ANN ∩ GT| per method — an independent recomputation
    of what the operator derives through joins — and a query or method
    with no ANN rows must still appear with recall 0 (the grid
    guarantee), exercised here with a planted empty method."""
    from github_event_etl_spark.operators.similarity import ann_ivf_pq_refine

    qs = emb.filter(F.col("vec_id") < 8)
    gt = knn_bruteforce(emb, qs, k=10)
    bf = {(r.qid, r.nid) for r in gt.collect()}
    ivf_df = ann_ivf(emb, qs, k=10, num_centroids=16, nprobe=4)
    lsh_df = ann_lsh(emb, qs, dim=64, k=10, num_tables=12, planes_per_table=6)
    # the catalog key's third method (r19): the IVFADC+refine path's
    # recall is reported through the same harness
    rf_df = ann_ivf_pq_refine(
        emb, qs, k=10, refine_r=30, num_centroids=16, nprobe=4,
        num_subspaces=8, num_codewords=16, dim=64,
    )
    ivf = {(r.qid, r.nid) for r in ivf_df.collect()}
    lsh = {(r.qid, r.nid) for r in lsh_df.collect()}
    rf = {(r.qid, r.nid) for r in rf_df.collect()}
    ann = (
        ivf_df.select(F.lit("ivf").alias("method"), "qid", "nid")
        .unionAll(lsh_df.select(F.lit("lsh").alias("method"), "qid", "nid"))
        .unionAll(
            rf_df.select(
                F.lit("ivfpq_refine").alias("method"), "qid", "nid"
            )
        )
    )
    out = ann_recall(
        ann,
        gt.select("qid", "nid"),
        qs.select(F.col("vec_id").alias("qid")),
        k=10,
        methods=("ivf", "lsh", "ivfpq_refine", "absent"),
    ).collect()
    rows = {(r.method, r.qid): r for r in out}
    assert len(rows) == 4 * 8
    for r in out:
        assert 0 <= r.hits <= r.ann_k <= 10
        assert abs(r.recall_r - r.hits / 10) < 1e-9
    for method, pairs in (("ivf", ivf), ("lsh", lsh), ("ivfpq_refine", rf)):
        assert sum(rows[(method, q)].hits for q in range(8)) == len(bf & pairs)
        assert sum(rows[(method, q)].ann_k for q in range(8)) == len(pairs)
    assert all(
        rows[("absent", q)].ann_k == 0
        and rows[("absent", q)].hits == 0
        and rows[("absent", q)].recall_r == 0.0
        for q in range(8)
    )
    # the inverse guarantee: a method tag present in `ann` but NOT
    # declared must still surface (full-outer grid), not vanish — an
    # eval harness must never silently drop an evaluated index
    undeclared = ann_recall(
        ann,
        gt.select("qid", "nid"),
        qs.select(F.col("vec_id").alias("qid")),
        k=10,
        methods=("ivf",),
    ).collect()
    u = {(r.method, r.qid): r for r in undeclared}
    lsh_qids = {q for q, _ in lsh}
    assert lsh_qids, "lsh returned nothing; fixture broken"
    assert {m for m, _ in u} == {"ivf", "lsh", "ivfpq_refine"}
    assert sum(u[("lsh", q)].hits for q in lsh_qids) == len(bf & lsh)
    for q in range(8):  # declared grid still pins every query
        assert ("ivf", q) in u
    # and the query dimension pins in BOTH directions: evaluating on a
    # held-out subset must not leak the index's other answers
    subset = ann_recall(
        ann,
        gt.select("qid", "nid"),
        qs.filter(F.col("vec_id") < 4).select(F.col("vec_id").alias("qid")),
        k=10,
        methods=("ivf", "lsh", "ivfpq_refine"),
    ).collect()
    assert {r.qid for r in subset} == set(range(4))
    assert len(subset) == 3 * 4
    for r in subset:  # counts over the subset match the full run
        full = rows[(r.method, r.qid)]
        assert (r.ann_k, r.hits) == (full.ann_k, full.hits)


def test_ivf_partitioned_index_equals_in_memory(spark, emb, tmp_path):
    """The on-disk partitioned IVF index (ivf_write_index +
    ann_ivf_partitioned) must return exactly the in-memory ann_ivf
    results — same centroids, same ranking — while its lists scan
    opens only the driver-planned probe directories."""
    from github_event_etl_spark.operators.similarity import (
        ann_ivf_partitioned,
        ivf_write_index,
    )

    ivf_write_index(emb, str(tmp_path / "ivf"), num_centroids=16)
    qs = emb.filter(F.col("vec_id") < 8)
    disk = sorted(
        map(tuple, ann_ivf_partitioned(spark, str(tmp_path / "ivf"), qs, k=10, nprobe=4).collect())
    )
    mem = sorted(map(tuple, ann_ivf(emb, qs, k=10, nprobe=4, num_centroids=16).collect()))
    assert disk == mem
    # the lists scan provably opens <= Q*nprobe directories
    from .test_plans import executed_scan_metrics

    df_sp = ann_ivf_partitioned(
        spark, str(tmp_path / "ivf"), emb.filter(F.col("vec_id") < 2),
        k=5, nprobe=2,
    )
    pruned = [s for s in executed_scan_metrics(df_sp)
              if "numPartitions" in s]
    assert pruned and all(s["numPartitions"] <= 4 for s in pruned), pruned


def test_rhp_dot_products_clear_sign_margin():
    """The ANN value oracles rest on sign(V @ M.T) matching DuckDB's
    sequential-fold dot product bit-for-bit; numpy's blocked/SIMD
    summation order differs, so a dot product near zero could flip a
    signature bit between engines and turn the oracle red flakily.
    Enforce the margin on the actual oracle data (sf0.001 AND the
    driver's sf0.01), for every declared plane set — the plain corpus
    (llm_ann_lsh, 12×6) and the planted-duplicate corpus
    (llm_dup_cosine_lsh, 12×8; llm_dedup_semantic, its shared
    _SEMANTIC_LSH_* constants). A future
    data regeneration that lands
    a boundary case fails HERE as a data issue, not as a confusing
    oracle mismatch."""
    import numpy as np
    import pyarrow.parquet as pq

    from github_event_etl_spark.operators.similarity import _plane_matrix
    from github_event_etl_spark.plans.queries_llm import (
        _SEMANTIC_LSH_PLANES,
        _SEMANTIC_LSH_TABLES,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        tbl = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()
        ids = tbl["vec_id"].to_numpy()
        V = np.asarray(list(tbl["embedding"]), dtype=np.float64)
        # planted-duplicate corpus: component i × (1.05 if (vec_id+i)
        # even else 0.95), mirroring queries_llm._planted_dup_corpus
        par = (ids[:, None] + np.arange(V.shape[1])[None, :]) % 2 == 0
        planted = np.vstack([V, V * np.where(par, 1.05, 0.95)])
        for corpus, tables, planes in (
            (V, 12, 6),
            (planted, 12, 8),
            (planted, _SEMANTIC_LSH_TABLES, _SEMANTIC_LSH_PLANES),
        ):
            M = _plane_matrix(64, tables, planes)
            margin = np.abs(corpus @ M.T).min()
            assert margin > 1e-9, (
                f"{sf}: |dot| = {margin} too close to the sign boundary"
            )


def test_rhp_jl_seed_namespaces_disjoint():
    """The RHP/JL seed-namespace guard (ADVICE r16): every declared RHP
    geometry stays below the JL seed floor, and a hypothetical retune
    past num_tables=20 trips _plane_matrix loudly instead of silently
    correlating the projection with the banding planes."""
    import pytest as _pytest

    from github_event_etl_spark.operators.similarity import (
        _JL_SEED_BASE,
        _plane_matrix,
        jl_plane_rows,
    )
    from github_event_etl_spark.plans.queries_llm import (
        _SEMANTIC_LSH_PLANES,
        _SEMANTIC_LSH_TABLES,
    )

    for tables, planes in ((12, 6), (12, 8), (12, 12),
                           (_SEMANTIC_LSH_TABLES, _SEMANTIC_LSH_PLANES)):
        assert (tables - 1) * 1000 + (planes - 1) < _JL_SEED_BASE
        _plane_matrix(8, tables, planes)  # must not raise
    with _pytest.raises(ValueError, match="JL"):
        _plane_matrix(8, num_tables=21, planes_per_table=2)
    # the JL rows really live in the guarded namespace: first JL row ==
    # the hyperplane an RHP table 20 plane 0 WOULD have collided with
    from github_event_etl_spark.operators.similarity import _hyperplane

    assert jl_plane_rows(8, 1)[0] == _hyperplane(_JL_SEED_BASE, 8)


def test_cosine_self_similarity(emb):
    sims = (
        emb.limit(20)
        .select(F.round(cosine(F.col("embedding"), F.col("embedding")), 9).alias("s"))
        .collect()
    )
    assert all(abs(r.s - 1.0) < 1e-9 for r in sims)


# -------------------------------------------------------------- text quality


def test_quality_score_bounds(docs):
    stats = docs.select(quality_score(F.col("text")).alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).collect()[0]
    assert 0.0 <= stats.lo <= stats.hi <= 1.0


# -------------------------------------------------------------- multimodal


def test_decode_media_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG", "image")


def test_media_features_deterministic(docs):
    media = attach_fake_media(docs)
    a = sorted(map(tuple, extract_features(media).collect()))
    b = sorted(map(tuple, extract_features(media).collect()))
    assert a == b
    row = dict(zip(
        ["doc_id", "media_type", "byte_len", "checksum16", "width", "height", "n_frames"],
        a[0],
    ))
    assert 1 <= row["width"] <= 64 and 1 <= row["height"] <= 64


def test_sample_frames_reassemble(docs):
    """Concatenating a video's sampled frames in index order must
    reconstruct the full payload byte-for-byte."""
    media = attach_fake_media(docs).filter(F.col("media_type") == "video")
    payloads = {r.doc_id: bytes(r.payload) for r in media.limit(5).collect()}
    frames = sample_frames(media.limit(5), every_n_bytes=64).collect()
    by_doc: dict[int, list] = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append((r.frame_idx, bytes(r.frame_bytes)))
    for doc_id, payload in payloads.items():
        got = b"".join(b for _, b in sorted(by_doc[doc_id]))
        assert got == payload


def test_dedup_e2e_pipeline_accounting(spark, sf_dir):
    """The composed minhash→clusters→curation→span-dedup pipeline must
    conserve both granularities: per language, docs_in = docs_kept +
    dups_removed + low_quality_removed (document level) and
    tokens_kept + span_tokens_removed = whitespace tokens of the kept
    documents (substring level), totals match the corpus, and at least
    one duplicate is actually removed (the corpus plants near-dups)."""
    from github_event_etl_spark.plans.pipelines import (
        _QUALITY_MIN,
        dedup_e2e_pipeline,
    )
    from github_event_etl_spark.operators.graph import dedup_clusters
    from github_event_etl_spark.operators.text_analysis import quality_score
    from github_event_etl_spark.operators.text_dedup import (
        minhash_candidate_pairs,
        verify_pairs_jaccard,
        words,
    )
    from github_event_etl_spark.sources.tables import load_table

    rows = dedup_e2e_pipeline(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    assert sum(r.docs_in for r in rows) == n_docs
    for r in rows:
        assert r.docs_in == r.docs_kept + r.dups_removed + r.low_quality_removed
        assert r.tokens_kept >= 0
        assert r.span_tokens_removed >= 0
    assert sum(r.dups_removed for r in rows) > 0

    # Substring-level conservation: recompute the kept corpus the same
    # way the pipeline does and compare its pre-span token mass.
    pairs = minhash_candidate_pairs(docs)
    verified = verify_pairs_jaccard(pairs, docs, 0.8).select("doc_a", "doc_b")
    clusters = dedup_clusters(verified, docs.select("doc_id"))
    kept_tokens = {
        r.lang: r.toks
        for r in docs.join(clusters, "doc_id")
        .filter(
            F.col("is_representative")
            & (quality_score(F.col("text")) >= _QUALITY_MIN)
        )
        .groupBy("lang")
        .agg(
            F.sum(
                F.when(F.trim(F.col("text")) == "", F.lit(0))
                .otherwise(F.size(words(F.col("text"))))
                .cast("long")
            ).alias("toks")
        )
        .collect()
    }
    for r in rows:
        assert r.tokens_kept + r.span_tokens_removed == kept_tokens.get(
            r.lang, 0
        ), r.lang


def test_pii_redaction_scrubs_planted_and_leaves_clean(spark):
    """Planted emails/IPs/long ids all leave; clean text is untouched;
    counts match what was planted."""
    from github_event_etl_spark.operators.text_analysis import (
        pii_counts,
        redact_pii,
    )

    rows = [
        (1, "reach me at alice.smith+x@mail.example.org or 192.168.10.20"),
        (2, "order 123456789012 shipped"),
        (3, "no personal data in this sentence at all"),
        (4, "two mails a@b.io c@d.co and ip 8.8.8.8 and id 987654321"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id", redact_pii(F.col("text")).alias("clean"),
            *pii_counts(F.col("text")),
        ).collect()
    }
    assert out[1].clean == "reach me at [EMAIL] or [IP]"
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_long_id) == (1, 1, 0)
    assert out[2].clean == "order [ID] shipped"
    assert out[3].clean == rows[2][1]
    assert out[4].clean == "two mails [EMAIL] [EMAIL] and ip [IP] and id [ID]"
    assert (out[4].n_email, out[4].n_ipv4, out[4].n_long_id) == (2, 1, 1)


def test_contamination_flags_benchmark_members_fully(spark, sf_dir):
    """Every benchmark member must self-report overlap 1.0 (its own
    shingles are in the benchmark set), and overall some non-member
    should remain clean — the planted near-dups are the only expected
    cross-contamination."""
    from github_event_etl_spark.plans.catalog import query_map

    rows = query_map()["llm_contamination"](spark, sf_dir).collect()
    by_id = {r.doc_id: r for r in rows}
    members = [r for r in rows if r.doc_id % 97 == 0 and r.n_shingles > 0]
    assert members, "benchmark subset unexpectedly empty"
    assert all(r.overlap_frac == 1.0 and r.contaminated == 1 for r in members)
    clean = [r for r in rows if r.doc_id % 97 != 0 and r.contaminated == 0]
    assert clean, "every document flagged — broadcast set must be wrong"
    assert set(by_id) == {r.doc_id for r in rows}


def test_span_dedup_finds_planted_passage(spark, sf_dir):
    """Substring-level dedup: every 20th doc carries the deterministic
    planted 13-token passage (queries_llm._SPAN_PASSAGE), so each such
    doc must report a span that reaches the end of its planted token
    stream and covers at least the passage's 9 interior 5-grams."""
    from github_event_etl_spark.plans.catalog import query_map
    from github_event_etl_spark.plans.queries_llm import (
        _SPAN_K,
        _SPAN_PASSAGE,
    )
    from github_event_etl_spark.sources.tables import load_table

    spans = query_map()["llm_span_dedup"](spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append(r)

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = {
        r.doc_id: r.n
        for r in docs.filter(F.col("doc_id") % 20 == 0)
        .select(
            "doc_id",
            F.size(
                F.split(
                    F.trim(F.concat(F.col("text"), F.lit(" " + _SPAN_PASSAGE))),
                    r"\s+",
                )
            ).alias("n"),
        )
        .collect()
    }
    assert n_tokens, "no planted docs at this SF"
    passage_len = len(_SPAN_PASSAGE.split())
    for doc_id, n in n_tokens.items():
        tail = [
            s
            for s in by_doc.get(doc_id, [])
            if s.span_end == n - 1 and s.span_start <= n - passage_len
        ]
        assert tail, f"doc {doc_id}: planted passage span missing"
        assert tail[0].n_grams >= passage_len - _SPAN_K + 1

    # Every span must be internally consistent in token coordinates.
    for r in spans:
        assert r.span_start <= r.span_end
        assert r.n_grams >= 3


def test_url_and_boilerplate_gate_helpers(spark):
    """url_domain extracts the first URL's host ('' when none);
    boilerplate_hits counts distinct marker phrases case-insensitively."""
    from github_event_etl_spark.operators.text_analysis import (
        boilerplate_hits,
        url_domain,
    )

    rows = [
        (1, "see https://spam.example/offer and http://ok.example/x"),
        (2, "no links here at all"),
        (3, "Click HERE to Subscribe — All Rights Reserved"),
        (4, "terms of service mentioned once only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            url_domain(F.col("text")).alias("d"),
            boilerplate_hits(F.col("text")).alias("b"),
        ).collect()
    }
    assert out[1].d == "spam.example"
    assert out[2].d == ""
    assert out[3].b == 3  # click here + subscribe + all rights reserved
    assert out[4].b == 1


def test_curation_gates_drop_planted_negatives(spark, sf_dir):
    """Every doc_id%10==7 doc (blocked-domain URL) and doc_id%10==3 doc
    (boilerplate footer) must be excluded from the curated corpus: the
    per-language totals must equal the same pipeline computed over only
    the surviving docs."""
    from github_event_etl_spark.plans.catalog import query_map
    from github_event_etl_spark.sources.tables import load_table

    out = {r.lang: r for r in
           query_map()["llm_corpus_curation"](spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    total = docs.count()
    survivors = docs.filter(
        (F.col("doc_id") % 10 != 7) & (F.col("doc_id") % 10 != 3)
    ).count()
    assert survivors < total
    # Gate arithmetic: curated doc count can never exceed the survivor
    # pool (planted docs are guaranteed dropped).
    assert sum(r.n_docs for r in out.values()) <= survivors


def test_mixture_sample_hits_target_rates(spark, sf_dir):
    """The md5-threshold sampler must land near each language's target
    rate (exact-threshold Bernoulli over a uniform 32-bit hash — at
    n>=50 per lang a ±0.25 absolute tolerance is ~4+ sigma) and be
    idempotent across runs (pure function of doc_id)."""
    from github_event_etl_spark.plans.catalog import query_map
    from github_event_etl_spark.plans.queries_llm import (
        _MIXTURE_DEFAULT_RATE,
        _MIXTURE_RATES,
    )

    fn = query_map()["llm_mixture_sample"]
    rows = fn(spark, sf_dir).collect()
    again = fn(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    from collections import defaultdict

    n = defaultdict(int)
    kept = defaultdict(int)
    for r in rows:
        n[r.lang] += 1
        kept[r.lang] += r.sampled
    for lang, total in n.items():
        rate = _MIXTURE_RATES.get(lang, _MIXTURE_DEFAULT_RATE)
        got = kept[lang] / total
        assert abs(got - rate) <= 0.25, (lang, got, rate, total)
        if rate == 1.0:
            assert kept[lang] == total, (lang, "rate-1.0 must keep all")


def test_pq_codes_match_python_model(spark, sf_dir):
    """PQ assignment must agree exactly with a sequential model: same
    md5-rank codebook, same left-to-right double fold for the squared
    L2, same (distance, rank) argmin tie-break, same packing."""
    import hashlib

    from github_event_etl_spark.plans.catalog import query_map
    from github_event_etl_spark.plans.queries_llm import (
        _PQ_CODEWORDS,
        _PQ_DSUB,
        _PQ_SUBSPACES,
    )
    from github_event_etl_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}

    ranked = sorted(
        vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    codebook = [(rank, vecs[i]) for rank, i in enumerate(ranked[:_PQ_CODEWORDS])]

    def sub_dist(v, cv, s):
        acc = 0.0
        for i in range(s * _PQ_DSUB, (s + 1) * _PQ_DSUB):
            d = v[i] - cv[i]
            acc = acc + d * d
        return acc

    def model_code(v):
        packed = 0
        for s in range(_PQ_SUBSPACES):
            best = min(
                (sub_dist(v, cv, s), rank) for rank, cv in codebook
            )[1]
            packed += best * (_PQ_CODEWORDS ** s)
        return packed

    got = {
        r.vec_id: r.pq_code
        for r in query_map()["llm_pq_codes"](spark, sf_dir).collect()
    }
    assert set(got) == set(vecs)
    bad = [i for i in vecs if got[i] != model_code(vecs[i])]
    assert not bad, f"{len(bad)} mismatched codes, first: {bad[:3]}"


def test_remove_spans_rewrites_exactly(spark):
    """remove_spans must drop exactly the covered token ranges, keep
    order, pass span-free docs through unchanged, and count removals."""
    from github_event_etl_spark.operators.text_dedup import remove_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "x  y\tz "),   # irregular whitespace must survive verbatim
            (3, "p q r s t"),
        ],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [
            (1, 2, 4),   # drop c d e
            (1, 6, 7),   # drop g h
            (3, 0, 4),   # drop everything
        ],
        "doc_id long, span_start long, span_end long",
    )
    out = {r.doc_id: r for r in remove_spans(docs, spans).collect()}
    assert out[1].text == "a b f"
    assert out[1].n_removed_tokens == 5
    # span-free doc passes through byte-for-byte, not whitespace-normalized
    assert out[2].text == "x  y\tz "
    assert out[2].n_removed_tokens == 0
    assert out[3].text == ""
    assert out[3].n_removed_tokens == 5


def test_remove_spans_composes_with_duplicated_spans(spark):
    """End-to-end substring dedup: after removing the spans reported by
    duplicated_spans, re-running span detection on the rewritten corpus
    finds nothing — the rewrite is a fixpoint."""
    from github_event_etl_spark.operators.text_dedup import (
        duplicated_spans,
        remove_spans,
    )

    shared = "one two three four five six seven"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma"),
            (2, f"delta {shared} epsilon zeta"),
            (3, "unrelated text entirely here now"),
        ],
        "doc_id long, text string",
    )
    spans = duplicated_spans(docs, k=3, min_grams=2, max_df=10)
    assert {r.doc_id for r in spans.collect()} == {1, 2}
    clean = remove_spans(docs, spans)
    again = duplicated_spans(clean, k=3, min_grams=2, max_df=10)
    assert again.count() == 0
    kept = {r.doc_id: r.text for r in clean.collect()}
    assert kept[3] == "unrelated text entirely here now"
    assert "three" not in kept[1] and "three" not in kept[2]


def test_ann_pq_adc_matches_python_model(spark, sf_dir):
    """PQ-ADC search must agree exactly with a sequential model: same
    codebook, same per-subspace lookup tables, same Σ-of-lookups
    approximate distance, same (adist, nid) top-k tie-break."""
    import hashlib

    from github_event_etl_spark.operators.similarity import (
        ann_pq_adc,
        pq_codebook,
        pq_codes,
    )
    from github_event_etl_spark.plans.queries_llm import (
        _PQ_CODEWORDS,
        _PQ_DSUB,
        _PQ_SUBSPACES,
    )
    from github_event_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n_queries, k = 4, 5
    queries = emb.filter(F.col("vec_id") < n_queries)
    codes = pq_codes(emb, _PQ_SUBSPACES, _PQ_CODEWORDS,
                     _PQ_SUBSPACES * _PQ_DSUB)
    cb = pq_codebook(emb, _PQ_CODEWORDS)
    got = ann_pq_adc(codes, cb, queries, k=k,
                     num_subspaces=_PQ_SUBSPACES,
                     num_codewords=_PQ_CODEWORDS,
                     dim=_PQ_SUBSPACES * _PQ_DSUB).collect()

    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    ranked = sorted(
        vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    book = [vecs[i] for i in ranked[:_PQ_CODEWORDS]]
    code_rows = {r.vec_id: r.pq_code for r in codes.collect()}

    def sub_dist(a, b, s):
        acc = 0.0
        for i in range(s * _PQ_DSUB, (s + 1) * _PQ_DSUB):
            d = a[i] - b[i]
            acc = acc + d * d
        return acc

    model = {}
    for qid in range(n_queries):
        qv = vecs[qid]
        tables = [
            [sub_dist(qv, cw, s) for cw in book] for s in range(_PQ_SUBSPACES)
        ]
        scored = []
        for nid, code in code_rows.items():
            if nid == qid:
                continue
            adist = 0.0
            for s in range(_PQ_SUBSPACES):
                adist = adist + tables[s][(code // _PQ_CODEWORDS**s)
                                          % _PQ_CODEWORDS]
            scored.append((adist, nid))
        scored.sort()
        model[qid] = [
            (rnk + 1, nid, ad) for rnk, (ad, nid) in enumerate(scored[:k])
        ]

    got_by_q = {}
    for r in got:
        got_by_q.setdefault(r.qid, []).append((r.rnk, r.nid, r.adist))
    for qid in model:
        assert sorted(got_by_q[qid]) == model[qid], f"qid {qid}"


# ----------------------------------------------- capped-vocab broadcast path


def test_top_count_vocab_matches_order_by_limit(spark):
    """top_count_vocab's threshold-based selection must return exactly
    the rows of orderBy(count DESC, tok).limit(cap) — including caps
    landing inside tie bands, cap == 1, and cap >= vocabulary size."""
    from github_event_etl_spark.operators.vocab import top_count_vocab

    rows = [
        ("a", 10), ("b", 10), ("c", 10),   # 3-way tie band at 10
        ("d", 7),
        ("e", 5), ("f", 5),                # 2-way tie at 5
        ("g", 1), ("h", 1), ("i", 1), ("j", 1),  # singleton band
    ]
    tf = spark.createDataFrame(rows, "tok string, tf long")
    model_sorted = sorted(rows, key=lambda r: (-r[1], r[0]))
    for cap in (1, 2, 3, 4, 6, 7, 8, 10, 25):
        got = sorted(
            (r.tok, r.tf)
            for r in top_count_vocab(tf, "tf", cap).collect()
        )
        assert got == sorted(model_sorted[:cap]), f"cap={cap}"


def test_top_count_vocab_empty_and_invalid_cap(spark):
    from github_event_etl_spark.operators.vocab import top_count_vocab

    empty = spark.createDataFrame([], "tok string, tf long")
    assert top_count_vocab(empty, "tf", 5).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        top_count_vocab(empty, "tf", 0)


def test_unigram_rarity_capped_matches_python_model(spark):
    """The capped rarity path must agree with a sequential model:
    full-vocab total, top-cap vocabulary by (tf DESC, tok), OOV floor =
    max(1, tail_mass // tail_types), score = (total*1e6) // count."""
    from github_event_etl_spark.operators.vocab import unigram_rarity

    docs = {
        1: "the the the cat sat on the mat".split(),
        2: "the dog ate my homework homework".split(),
        3: "zz yy xx ww vv".split(),  # all-rare doc -> all OOV at small cap
    }
    toks = spark.createDataFrame(
        [(d, t) for d, ts in docs.items() for t in ts],
        "doc_id long, tok string",
    )
    from collections import Counter

    tf = Counter(t for ts in docs.values() for t in ts)
    total = sum(tf.values())
    for cap in (2, 4, 8, None):
        if cap is None:
            kept = dict(tf)
        else:
            kept = dict(
                sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[:cap]
            )
        tail_mass = total - sum(kept.values())
        tail_types = len(tf) - len(kept)
        floor = max(1, tail_mass // tail_types) if tail_types else 1
        expect = {}
        for d, ts in docs.items():
            scores = [
                (total * 1_000_000) // kept.get(t, floor) for t in ts
            ]
            expect[d] = (len(ts), sum(scores))
        got = {
            r.doc_id: (r.n_toks, r.rarity_sum)
            for r in unigram_rarity(toks, vocab_cap=cap).collect()
        }
        assert got == expect, f"cap={cap}"


def test_tfidf_capped_oov_ranks_rare_tokens_high(spark):
    """With a df cap, out-of-vocab (rare) tokens take the tail-average
    df floor and must outrank common in-vocab terms per doc, and the
    capped result must agree with a sequential model."""
    from github_event_etl_spark.operators.vocab import tfidf_topk

    corpus = {
        1: ["common"] * 3 + ["shared", "rareone"],
        2: ["common", "shared", "raretwo", "raretwo"],
        3: ["common", "shared", "other"],
    }
    tfd_rows = []
    from collections import Counter

    for d, ts in corpus.items():
        for t, c in Counter(ts).items():
            tfd_rows.append((d, t, c))
    tfd = spark.createDataFrame(tfd_rows, "doc_id long, tok string, tf long")
    n = spark.createDataFrame([(len(corpus),)], "n_docs long")

    dfc = Counter(t for d, ts in corpus.items() for t in set(ts))
    cap = 2  # keeps {common:3, shared:3}; other/rareone/raretwo are OOV
    kept = dict(sorted(dfc.items(), key=lambda kv: (-kv[1], kv[0]))[:cap])
    tail_mass = sum(dfc.values()) - sum(kept.values())
    tail_types = len(dfc) - len(kept)
    floor = max(1, tail_mass // tail_types)
    model = {}
    for d, t, c in tfd_rows:
        score = c * ((len(corpus) * 1_000_000) // kept.get(t, floor))
        model.setdefault(d, []).append((score, t))
    k = 2
    expect = set()
    for d, scored in model.items():
        scored.sort(key=lambda st: (-st[0], st[1]))
        for rnk, (score, t) in enumerate(scored[:k], start=1):
            expect.add((d, t, score, rnk))
    got = {
        (r.doc_id, r.tok, r.score_micros, r.rnk)
        for r in tfidf_topk(tfd, n, k, vocab_cap=cap).collect()
    }
    assert got == expect
    # OOV (rare) tokens take the floor idf and rank high: raretwo tops
    # doc 2 outright; rareone ties doc 1's top score and loses only
    # the deterministic token tie-break.
    assert (2, "raretwo", 6_000_000, 1) in got
    assert (1, "rareone", 3_000_000, 2) in got


def test_ann_ivf_pq_recall_floor_and_subset(emb):
    """IVF-PQ composes two lossy prunings (list pruning + code
    quantization), so its recall floor sits below plain IVF's, and its
    candidate set must be a subset of the IVF probe set (PQ changes
    the ranking inside the probed lists, never the lists)."""
    from github_event_etl_spark.operators.similarity import ann_ivf_pq

    qs = emb.filter(F.col("vec_id") < 8)
    bf = {(r.qid, r.nid) for r in knn_bruteforce(emb, qs, k=10).collect()}
    ivfpq_rows = ann_ivf_pq(
        emb, qs, k=10, num_centroids=16, nprobe=4,
        num_subspaces=8, num_codewords=16, dim=64,
    ).collect()
    ivfpq = {(r.qid, r.nid) for r in ivfpq_rows}
    assert len(bf) == 8 * 10
    # Floor calibration: the codebook is md5-seeded (not k-means-
    # trained) and ADC ranks by L2 while brute force ranks by cosine,
    # so recall is structurally modest; the floor guards the WIRING
    # (a broken probe/ADC join lands near 0), not retrieval quality.
    assert len(bf & ivfpq) / len(bf) >= 0.15
    # widen k on the IVF side to its whole candidate pool: every IVF-PQ
    # hit must come from a probed list
    ivf_all = {
        (r.qid, r.nid)
        for r in ann_ivf(emb, qs, k=10**6, num_centroids=16, nprobe=4).collect()
    }
    assert ivfpq <= ivf_all
    # adist ascending, deterministic ranks 1..k per query
    by_q = {}
    for r in ivfpq_rows:
        by_q.setdefault(r.qid, []).append((r.rnk, r.adist))
    for qid, rows in by_q.items():
        rows.sort()
        assert [rk for rk, _ in rows] == list(range(1, len(rows) + 1))
        dists = [d for _, d in rows]
        assert dists == sorted(dists), f"adist not ascending for {qid}"


def test_ann_ivf_pq_refine_recall_dominates_adc(emb):
    """Exact re-rank refinement (the FAISS IVFADC+refine shape):
    (a) recall@k(refined) ≥ recall@k(straight ADC top-k) against
    brute-force ground truth — guaranteed, not just empirical: a true
    top-k neighbor that makes the ADC shortlist cannot be outranked by
    ten shortlist members under EXACT cosine (they would be true
    top-k themselves), so every ADC-top-k hit survives refinement;
    (b) the refined set ⊆ the ADC top-refine_r shortlist (refinement
    reorders candidates, never fabricates them); (c) sim_r values
    agree with brute force's exact cosine on shared pairs; (d) ranks
    are dense 1..k with sim descending."""
    from github_event_etl_spark.operators.similarity import (
        ann_ivf_pq,
        ann_ivf_pq_refine,
    )

    qs = emb.filter(F.col("vec_id") < 8)
    kw = dict(num_centroids=16, nprobe=4, num_subspaces=8,
              num_codewords=16, dim=64)
    bf_rows = knn_bruteforce(emb, qs, k=10).collect()
    bf = {(r.qid, r.nid) for r in bf_rows}
    adc = {(r.qid, r.nid) for r in ann_ivf_pq(emb, qs, k=10, **kw).collect()}
    shortlist = {
        (r.qid, r.nid) for r in ann_ivf_pq(emb, qs, k=30, **kw).collect()
    }
    refined_rows = ann_ivf_pq_refine(
        emb, qs, k=10, refine_r=30, **kw
    ).collect()
    refined = {(r.qid, r.nid) for r in refined_rows}

    assert len(bf & refined) >= len(bf & adc), (
        "refinement lowered recall vs the straight ADC top-k"
    )
    assert len(bf & refined) > 0
    assert refined <= shortlist, "refinement fabricated candidates"
    # exact-cosine agreement with brute force on shared pairs
    bf_sim = {(r.qid, r.nid): r.sim_r for r in bf_rows}
    for r in refined_rows:
        if (r.qid, r.nid) in bf_sim:
            assert abs(r.sim_r - bf_sim[(r.qid, r.nid)]) < 1e-9
    by_q = {}
    for r in refined_rows:
        by_q.setdefault(r.qid, []).append((r.rnk, r.sim_r))
    for qid, rows in by_q.items():
        rows.sort()
        assert [rk for rk, _ in rows] == list(range(1, len(rows) + 1))
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True), (
            f"sim not descending for {qid}"
        )
    # a shortlist smaller than k silently under-returns — fail fast
    import pytest as _pytest

    with _pytest.raises(ValueError, match="refine_r"):
        ann_ivf_pq_refine(emb, qs, k=10, refine_r=5, **kw)


def test_ann_ivf_pq_partitioned_serving_layout(emb, spark, tmp_path):
    """The on-disk IVF-PQ serving layout (ivf_pq_write_index →
    ann_ivf_pq_partitioned[+refine]) must return EXACTLY the
    in-memory flagship's results — same shared probe/ADC/rank and
    re-rank tails, only the table source differs — with the PQ
    geometry taken from the sidecar, and its probe scan must open only
    the probed centroid directories (the whole point of partitioning
    the packed-code lists) with no shuffle join anywhere in the read
    path."""
    import contextlib
    import io

    from github_event_etl_spark.operators.similarity import (
        ann_ivf_pq,
        ann_ivf_pq_partitioned,
        ann_ivf_pq_partitioned_refine,
        ann_ivf_pq_refine,
        ivf_pq_write_index,
    )

    qs = emb.filter(F.col("vec_id") < 8)
    path = str(tmp_path / "ivfpq")
    ivf_pq_write_index(emb, path)
    kw = dict(nprobe=4, num_subspaces=8, num_codewords=16, dim=64)

    mem = {
        tuple(r)
        for r in ann_ivf_pq(emb, qs, k=10, num_centroids=16, **kw).collect()
    }
    disk_df = ann_ivf_pq_partitioned(spark, path, qs, k=10, nprobe=4)
    disk = {tuple(r) for r in disk_df.collect()}
    assert disk == mem
    assert len(disk) == 8 * 10

    mem_r = {
        tuple(r)
        for r in ann_ivf_pq_refine(
            emb, qs, k=10, refine_r=30, num_centroids=16, **kw
        ).collect()
    }
    disk_r = {
        tuple(r)
        for r in ann_ivf_pq_partitioned_refine(
            spark, path, emb, qs, k=10, refine_r=30, nprobe=4
        ).collect()
    }
    assert disk_r == mem_r

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        disk_df.explain(mode="formatted")
    tree = buf.getvalue().split("\n\n")[0]
    assert "SortMergeJoin" not in tree, tree
    assert "CartesianProduct" not in tree

    # the lists scan provably opens <= Q*nprobe of the 16 list
    # directories (executed-plan metrics, the honest probe)
    from .test_plans import executed_scan_metrics

    qs2 = emb.filter(F.col("vec_id") < 2)
    df_sp = ann_ivf_pq_partitioned(spark, path, qs2, k=5, nprobe=2)
    pruned = [s for s in executed_scan_metrics(df_sp)
              if "numPartitions" in s]
    assert pruned, "no partitioned scan found in the executed plan"
    assert all(s["numPartitions"] <= 4 for s in pruned), pruned

    with pytest.raises(ValueError, match="refine_r"):
        ann_ivf_pq_partitioned_refine(
            spark, path, emb, qs, k=10, refine_r=3, nprobe=4
        )


def test_partitioned_probes_run_one_eager_action(emb, spark, tmp_path):
    """Calling an on-disk probe runs exactly one Spark action before
    the caller's own: the collect of the driver-planned probe set (AQE
    may split that one SQL execution into stage jobs). The only other
    jobs in the call are Spark's parquet schema reads of the layout's
    tables. Pins the eager contract the `similarity` module note
    documents."""
    from github_event_etl_spark.operators.similarity import (
        ann_ivf_partitioned,
        ann_ivf_pq_partitioned,
        ivf_pq_write_index,
        ivf_write_index,
    )

    pq_path, ivf_path = str(tmp_path / "ivfpq"), str(tmp_path / "ivf")
    ivf_pq_write_index(emb, pq_path)
    ivf_write_index(emb, ivf_path, num_centroids=16)
    qs = emb.filter(F.col("vec_id") < 2)
    sc = spark.sparkContext
    jobs = sc._jsc.sc().statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()

    def executions_of(job_ids):
        found = set()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            ids = e.jobs().keySet().toSeq()
            if {ids.apply(j) for j in range(ids.size())} & job_ids:
                found.add(e.executionId())
        return found

    for name, call in [
        ("ann_ivf_pq_partitioned",
         lambda: ann_ivf_pq_partitioned(spark, pq_path, qs, k=5, nprobe=2)),
        ("ann_ivf_partitioned",
         lambda: ann_ivf_partitioned(spark, ivf_path, qs, k=5, nprobe=2)),
    ]:
        group = f"eager-{name}"
        sc.setJobGroup(group, name)
        try:
            df = call()
        finally:
            sc._jsc.clearJobGroup()
        job_ids = set(sc.statusTracker().getJobIdsForGroup(group))
        names = {i: jobs.job(i).name() for i in job_ids}
        action = {i for i, n in names.items() if not n.startswith("parquet at")}
        assert action, (name, names)
        assert {names[i].split(" at ")[0] for i in action} == {"collect"}, names
        assert len(executions_of(action)) == 1, (name, names)
        assert df.count() == 2 * 5


def test_ivf_pq_geometry_error_names_the_entry_point(
    emb, spark, tmp_path
):
    """A missing-sidecar (geometry) error raised on the REFINE read
    path must blame ann_ivf_pq_partitioned_refine, not the inner ADC
    stage it delegates to (ADVICE r19) — an operator chasing the error
    message to a function they never called is chasing the wrong call
    site."""
    import os

    from github_event_etl_spark.operators.similarity import (
        ann_ivf_pq_partitioned_refine,
        ivf_pq_write_index,
    )

    path = str(tmp_path / "ivfpq")
    ivf_pq_write_index(emb, path)
    os.remove(os.path.join(path, "_params.json"))
    qs = emb.filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError,
                       match="ann_ivf_pq_partitioned_refine: no _params"):
        ann_ivf_pq_partitioned_refine(
            spark, path, emb, qs, k=5, refine_r=10
        )


def test_ivf_pq_sidecar_commit_ordering_detects_torn_rebuild(
    emb, spark, tmp_path
):
    """The sidecar is the layout's commit record (ADVICE r18): an
    in-place rebuild deletes it FIRST and rewrites it LAST, so a
    rebuild that crashes between the table overwrites and the sidecar
    commit leaves a layout that probes REFUSE (no sidecar ⇒ the tables
    may mix two geometries) instead of one that validates against the
    OLD geometry and unpacks half-new codes at the wrong base — the
    silent-garbage-distance failure the sidecar exists to prevent."""
    import os
    from unittest import mock

    from github_event_etl_spark.operators import similarity as sim

    path = str(tmp_path / "ivfpq")
    sim.ivf_pq_write_index(emb, path)
    sidecar = os.path.join(path, "_params.json")
    assert os.path.exists(sidecar)
    qs = emb.filter(F.col("vec_id") < 2)

    # a rebuild that fails PLAN CONSTRUCTION (typo'd args — no table
    # byte touched) must NOT brick the healthy layout: the sidecar is
    # deleted only after the build head succeeds
    with mock.patch.object(
        sim,
        "_ivf_pq_build_tables",
        side_effect=RuntimeError("bad rebuild arguments"),
    ):
        with pytest.raises(RuntimeError, match="bad rebuild"):
            sim.ivf_pq_write_index(
                emb, path, num_subspaces=4, num_codewords=16, dim=64
            )
    assert os.path.exists(sidecar)
    assert (
        sim.ann_ivf_pq_partitioned(spark, path, qs, k=5, nprobe=2).count()
        == 2 * 5
    )

    # a rebuild with DIFFERENT geometry that dies DURING the table
    # overwrites: the old sidecar must already be gone (deleted before
    # the first write), so the possibly-mixed tables are unreadable
    from pyspark.sql.readwriter import DataFrameWriter

    with mock.patch.object(
        DataFrameWriter,
        "parquet",
        side_effect=RuntimeError("rebuild crashed mid-overwrite"),
    ):
        with pytest.raises(RuntimeError, match="crashed"):
            sim.ivf_pq_write_index(
                emb, path, num_subspaces=4, num_codewords=16, dim=64
            )
    assert not os.path.exists(sidecar)
    # the torn layout fails LOUDLY at probe time, under either geometry
    with pytest.raises(ValueError, match="no _params.json"):
        sim.ann_ivf_pq_partitioned(spark, path, qs, k=5, nprobe=2)
    # a completed re-run recommits the sidecar and the layout serves
    sim.ivf_pq_write_index(emb, path)
    assert os.path.exists(sidecar)
    got = sim.ann_ivf_pq_partitioned(spark, path, qs, k=5, nprobe=2)
    assert got.count() == 2 * 5


def test_kmeans_refine_matches_python_model(spark, sf_dir):
    """The fixed-point Lloyd refinement must agree exactly with a
    sequential model: same floor-micros quantization, same md5-rank
    seeds, same (d2, centroid_id) argmin tie-break, same truncating
    integer centroid means, same empty-cluster carry-forward."""
    import hashlib
    import math

    from github_event_etl_spark.operators.similarity import kmeans_refine_int

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = {
        r.vec_id: [int(math.floor(float(x) * 1_000_000)) for x in r.embedding]
        for r in emb.collect()
    }
    seeds = sorted(
        vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:16]
    cents = {i: list(vecs[i]) for i in seeds}

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def assign(cents):
        out = {}
        for vid, v in vecs.items():
            out[vid] = min(
                (d2(v, c), cid) for cid, c in sorted(cents.items())
            )
        return out  # vid -> (d2, cid)

    for _ in range(2):
        asg = assign(cents)
        members = {}
        for vid, (_, cid) in asg.items():
            members.setdefault(cid, []).append(vecs[vid])
        new = {}
        for cid, prev in cents.items():
            ms = members.get(cid)
            if not ms:
                new[cid] = prev  # empty cluster keeps its centroid
                continue
            n = len(ms)

            def tdiv(a: int) -> int:
                # truncation toward zero, matching Spark div / DuckDB //
                return abs(a) // n if a >= 0 else -(abs(a) // n)

            new[cid] = [tdiv(sum(col)) for col in zip(*ms)]
        cents = new
    model = {vid: (cid, dd) for vid, (dd, cid) in assign(cents).items()}

    got = {
        r.vec_id: (r.centroid_id, r.d2)
        for r in kmeans_refine_int(emb, 16, iters=2).collect()
    }
    assert got == model


def test_write_packed_shards_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    """The physical shard writer must land every doc exactly once in
    its (lang, block, shard) directory, with offsets that reconstruct
    the packing order regardless of parquet row order, agreeing with
    the llm_pack_offsets layout; and reading one shard partition must
    prune to that directory's files only."""
    import os

    from github_event_etl_spark.operators.layout import (
        pack_layout,
        write_packed_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "packed")
    write_packed_shards(docs, out, capacity=4000, block=100)

    landed = spark.read.parquet(out)
    assert landed.count() == docs.count()
    assert landed.select("doc_id").distinct().count() == docs.count()

    # Layout parity with the oracle-verified catalog computation.
    want = {
        r.doc_id: (r.lang, r.block, r.toks, r.shard, r.offset_in_shard)
        for r in pack_layout(docs, 4000, 100).collect()
    }
    got = {
        r.doc_id: (r.lang, int(r.block), r.toks, int(r.shard),
                   r.offset_in_shard)
        for r in landed.collect()
    }
    assert got == want

    # Within each shard, offset is strictly increasing in doc_id (the
    # reconstruction-order invariant) and always below capacity.
    by_shard = {}
    for doc_id, (lang, block, toks, shard, off) in got.items():
        assert 0 <= off < 4000
        by_shard.setdefault((lang, block, shard), []).append((doc_id, off))
    for rows in by_shard.values():
        rows.sort()
        offs = [o for _, o in rows]
        assert offs == sorted(offs)
        assert len(set(offs)) == len(offs) or all(
            t == 0 for _, t in rows
        )  # equal offsets only possible for zero-token docs

    # Partition pruning: a (lang, block, shard) filter opens only that
    # directory's files.
    one = next(iter(by_shard))
    lang, block, shard = one
    pruned = landed.filter(
        (F.col("lang") == lang)
        & (F.col("block") == block)
        & (F.col("shard") == shard)
    )
    files = pruned.inputFiles()  # listing; the real check is the rows
    assert {r.doc_id for r in pruned.collect()} == {
        d for d, _ in by_shard[one]
    }
    assert all(f"shard={shard}" in f for f in files) or files == []


def test_resize_media_plumbing(spark):
    """Resize plumbing: visual payloads come out at exactly
    target_w*target_h bytes (deterministic nearest-neighbor byte
    stride, zero-padded), audio passes through untouched, and the
    transform is pure per-row (same results at any partitioning)."""
    from github_event_etl_spark.operators.multimodal import (
        attach_fake_media,
        resize_media,
    )

    docs = spark.createDataFrame(
        [(i, "word " * (i + 1)) for i in range(9)],
        "doc_id long, text string",
    )
    media = attach_fake_media(docs)
    out = {r.doc_id: r for r in resize_media(media, 8, 4).collect()}
    src = {r.doc_id: r for r in media.collect()}
    assert set(out) == set(src)
    for i, r in out.items():
        if src[i].media_type in ("image", "video"):
            assert len(r.payload) == 32
            assert (r.width, r.height) == (8, 4)
            n = len(src[i].payload)
            expect = bytes(
                src[i].payload[(j * n) // 32] for j in range(min(32, n))
            )
            expect = expect + bytes(32 - len(expect))
            assert bytes(r.payload) == expect
        else:
            assert bytes(r.payload) == bytes(src[i].payload)
            assert (r.width, r.height) == (0, 0)
    # partitioning-invariance: per-row purity
    out2 = {
        r.doc_id: bytes(r.payload)
        for r in resize_media(media.repartition(7), 8, 4).collect()
    }
    assert out2 == {i: bytes(r.payload) for i, r in out.items()}


def _ref_bpe(word_freqs, n_merges):
    """Pure-Python reference BPE trainer (greedy, (count DESC, a, b)
    tie-break, left-to-right non-overlapping application) — the ground
    truth learn_bpe must reproduce."""
    syms = {w: list(w) for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, f in word_freqs.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((a, b, cnt))
        for w in syms:
            acc = []
            for s in syms[w]:
                if acc and acc[-1] == a and s == b:
                    acc[-1] = a + b
                else:
                    acc.append(s)
            syms[w] = acc
    return merges, syms


def test_learn_bpe_matches_reference(spark):
    """The distributed trainer must reproduce the reference BPE merge
    sequence exactly — order, pairs, and weighted counts — on a corpus
    with repeated words and a deliberate tie."""
    from github_event_etl_spark.operators.text_analysis import learn_bpe

    corpus = [
        (0, "low low low lower lowest"),
        (1, "new newer newest new"),
        (2, "low new low"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    wf = {}
    for _, t in corpus:
        for w in t.split():
            wf[w] = wf.get(w, 0) + 1
    want, _ = _ref_bpe(wf, 6)
    got = [
        (r.pair_a, r.pair_b, r.pair_count)
        for r in learn_bpe(docs, 6).orderBy("iteration").collect()
    ]
    assert got == want


def test_learn_bpe_rejects_zero_merges(spark):
    from github_event_etl_spark.operators.text_analysis import learn_bpe

    docs = spark.createDataFrame([(0, "ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_merges"):
        learn_bpe(docs, 0)


# ------------------------------------------------- semantic dedup clusters


def test_semantic_dedup_planted_clusters(spark, sf_dir):
    """End-to-end semantic dedup on the planted index-parity corpus:
    every true cluster is exactly {v, v + _PLANT_OFFSET} (planted sim
    ≥ 0.99875 vs ~0.5 organic max — see _planted_dup_corpus), so the
    composed LSH-pairs → connected-components → representative plan
    must recover N two-node clusters with the base vec_id as
    representative. Checks the structural truth the DuckDB oracle
    re-derives via transitive closure; a recall miss (orphan
    singleton), a false merge (cluster > 2), or a wrong representative
    each fail a distinct assertion."""
    from github_event_etl_spark.plans.queries_llm import (
        _PLANT_OFFSET,
        llm_dedup_semantic,
    )

    rows = llm_dedup_semantic(spark, sf_dir).collect()
    n_base = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == 2 * n_base
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert len(by_cluster) == n_base, "recall miss or false merge"
    for cid, members in by_cluster.items():
        ids = sorted(m.vec_id for m in members)
        assert ids == [cid, cid + _PLANT_OFFSET], f"bad cluster {cid}: {ids}"
        reps = {m.vec_id for m in members if m.is_representative}
        assert reps == {cid}, f"wrong representative in cluster {cid}"


def test_semantic_dedup_transitive_chain(spark):
    """Multi-hop closure through the semantic-dedup composition: a
    chain a≈b≈c where a·c ALSO clears the threshold transitively only —
    cos(a,b) ≈ cos(b,c) ≈ 0.999 but cos(a,c) ≈ 0.996 < 0.998 — must
    resolve to ONE cluster via the pair graph's transitivity, not
    because every pair is an edge. Uses the same operators the catalog
    key composes (cosine_dup_pairs_lsh + dedup_clusters) on synthetic
    64-dim vectors; an unrelated orthogonal-ish vector must stay a
    singleton."""
    import math

    from github_event_etl_spark.operators.graph import dedup_clusters
    from github_event_etl_spark.operators.similarity import (
        cosine,
        cosine_dup_pairs_lsh,
    )

    dim = 64

    def unit(theta, plane=(0, 1)):
        v = [0.0] * dim
        v[plane[0]] = math.cos(theta)
        v[plane[1]] = math.sin(theta)
        return v

    # Angles chosen so adjacent pairs pass 0.998 and the a–c pair fails:
    # cos(0.05) = 0.99875 ≥ 0.998, cos(0.10) = 0.99500 < 0.998.
    rows = [
        (1, unit(0.00)),
        (2, unit(0.05)),
        (3, unit(0.10)),
        (9, unit(math.pi / 2, plane=(2, 3))),  # unrelated singleton
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    threshold = 0.998
    pairs = cosine_dup_pairs_lsh(
        vecs, dim=dim, threshold=threshold, num_tables=12, planes_per_table=4
    )
    got_pairs = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got_pairs == {(1, 2), (2, 3)}, got_pairs  # (1,3) correctly absent

    clusters = dedup_clusters(
        pairs, vecs.select("vec_id"), id_col="vec_id", a_col="id_a", b_col="id_b"
    ).collect()
    label = {r.vec_id: r.cluster_id for r in clusters}
    reps = {r.vec_id for r in clusters if r.is_representative}
    assert label == {1: 1, 2: 1, 3: 1, 9: 9}, label  # 3 joins via 2 only
    assert reps == {1, 9}


def test_incremental_dedup_status_partition(spark, sf_dir):
    """Planted-geometry invariants of llm_dedup_incremental the value
    oracle can't articulate: statuses partition the batch correctly
    against the 80/20 split, first_seen ids live on the right side of
    the split per status, and every planted group behaves (the
    batch-only doc_id%20==8 group elects exactly its min as 'new')."""
    from github_event_etl_spark.plans.queries_llm import (
        llm_dedup_incremental,
        _INCR_BATCH_SPLIT,
    )

    rows = llm_dedup_incremental(spark, sf_dir).collect()
    assert rows, "batch empty"
    by_status = {}
    for r in rows:
        assert r.doc_id % 10 >= _INCR_BATCH_SPLIT, "non-batch doc in output"
        by_status.setdefault(r.status, []).append(r)
    # all three statuses fire at every SF (planted geometry)
    assert set(by_status) == {"new", "dup_batch", "dup_corpus"}
    for r in by_status["dup_corpus"]:
        assert r.first_seen_doc_id is not None
        assert r.first_seen_doc_id % 10 < _INCR_BATCH_SPLIT, (
            "dup_corpus first_seen must be a corpus doc"
        )
    for r in by_status["dup_batch"]:
        assert r.first_seen_doc_id is not None
        assert r.first_seen_doc_id % 10 >= _INCR_BATCH_SPLIT, (
            "dup_batch first_seen must be a batch doc"
        )
        assert r.first_seen_doc_id < r.doc_id, "first-wins violated"
    for r in by_status["new"]:
        assert r.first_seen_doc_id is None
    # the batch-only planted group (doc_id % 20 == 8): min is 'new',
    # every other member 'dup_batch' pointing at the min.
    grp = sorted(
        (r for r in rows if r.doc_id % 20 == 8), key=lambda r: r.doc_id
    )
    assert len(grp) >= 2, "planted batch-only group too small"
    assert grp[0].status == "new"
    for r in grp[1:]:
        assert r.status == "dup_batch"
        assert r.first_seen_doc_id == grp[0].doc_id
    # first-wins is per-hash consistent: one 'new' per content_hash at
    # most, and dup_batch rows share their hash with that 'new' row.
    firsts = {r.content_hash for r in by_status["new"]}
    assert len(firsts) == len(by_status["new"]), "two 'new' rows share a hash"
    for r in by_status["dup_batch"]:
        assert r.content_hash in firsts


def test_filter_funnel_conservation(spark, sf_dir):
    """Funnel arithmetic invariants: stage 1 sees the whole corpus,
    each stage's output feeds the next stage's input, in − dropped =
    out everywhere, and every gate drops at least one doc (the planted
    negatives fire)."""
    from github_event_etl_spark.plans.queries_llm import (
        llm_filter_funnel,
        _FUNNEL_STAGES,
    )

    docs = load_table(spark, sf_dir, "documents")
    total = docs.count()
    rows = sorted(llm_filter_funnel(spark, sf_dir).collect(),
                  key=lambda r: r.stage_id)
    assert [r.stage for r in rows] == list(_FUNNEL_STAGES)
    assert rows[0].docs_in == total
    for prev, nxt in zip(rows, rows[1:]):
        assert nxt.docs_in == prev.docs_out, "funnel stages not contiguous"
    for r in rows:
        assert r.docs_in - r.docs_dropped == r.docs_out
        assert r.docs_dropped >= 1, f"gate {r.stage} never fired"
        assert r.docs_out >= 0


def test_incremental_minhash_statuses_and_plants(spark, sf_dir):
    """Planted-geometry invariants of llm_dedup_incremental_minhash the
    value oracle can't articulate: statuses partition the batch against
    the 80/20 split, matched ids live on the right side per status,
    every verified match clears the threshold, and the whitespace-
    variant plants behave — the batch-only doc_id%20==8 group elects
    its min as 'new' with the rest 'dup_batch' at Jaccard exactly 1.0
    (identical token sequences), and every cross-split shared group's
    batch members report 'dup_corpus' matched to the group's smallest
    corpus member."""
    from github_event_etl_spark.plans.queries_llm import (
        _INCR_BATCH_SPLIT,
        _JACCARD_THRESHOLD,
        llm_dedup_incremental_minhash,
    )

    rows = llm_dedup_incremental_minhash(spark, sf_dir).collect()
    assert rows, "batch empty"
    n_docs = load_table(spark, sf_dir, "documents").count()
    by_status = {}
    for r in rows:
        assert r.doc_id % 10 >= _INCR_BATCH_SPLIT, "non-batch doc in output"
        by_status.setdefault(r.status, []).append(r)
    assert set(by_status) == {"new", "dup_batch", "dup_corpus"}
    for r in by_status["dup_corpus"]:
        assert r.matched_doc_id is not None
        assert r.matched_doc_id % 10 < _INCR_BATCH_SPLIT
        assert r.jaccard_r >= _JACCARD_THRESHOLD
    for r in by_status["dup_batch"]:
        assert r.matched_doc_id is not None
        assert r.matched_doc_id % 10 >= _INCR_BATCH_SPLIT
        assert r.matched_doc_id < r.doc_id, "first-wins violated"
        assert r.jaccard_r >= _JACCARD_THRESHOLD
    for r in by_status["new"]:
        assert r.matched_doc_id is None and r.jaccard_r is None
    by_id = {r.doc_id: r for r in rows}
    # batch-only plant: min member 'new', rest 'dup_batch' → min at J=1.0
    grp = sorted(d for d in by_id if d % 20 == 8)
    assert len(grp) >= 2
    assert by_id[grp[0]].status == "new"
    for d in grp[1:]:
        assert by_id[d].status == "dup_batch"
        assert by_id[d].matched_doc_id == grp[0]
        assert by_id[d].jaccard_r == 1.0
    # cross-split plants: every batch member of a %33 shared group
    # matches the group's smallest corpus-side member at J=1.0
    for d, r in by_id.items():
        if d % 20 == 8 or d % 3 != 2:
            continue
        holders = [
            x
            for x in range(d % 33, n_docs, 33)
            if x % 10 < _INCR_BATCH_SPLIT and x % 20 != 8
        ]
        assert holders, f"shared group {d % 33} has no corpus member"
        assert r.status == "dup_corpus"
        assert r.matched_doc_id == min(holders)
        assert r.jaccard_r == 1.0


def test_stratified_sample_is_true_per_stratum_topk(spark, sf_dir):
    """The prefilter-then-rank plan must return EXACTLY the quota
    smallest-md5 docs per language — recomputed here brute force with
    hashlib over the full table, independently of both engines' SQL.
    Also pins the contract: ranks are contiguous 1..quota and every
    stratum with >= quota docs is filled exactly."""
    import hashlib

    from github_event_etl_spark.plans.queries_llm import (
        _STRAT_QUOTA,
        llm_stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    by_lang = {}
    for r in docs:
        h = hashlib.md5(str(r.doc_id).encode()).hexdigest()
        by_lang.setdefault(r.lang, []).append((h, r.doc_id))
    expected = {}
    for lang, members in by_lang.items():
        top = sorted(members)[: _STRAT_QUOTA]
        for rank, (_, doc_id) in enumerate(top, start=1):
            expected[(lang, doc_id)] = rank

    rows = llm_stratified_sample(spark, sf_dir).collect()
    got = {(r.lang, r.doc_id): r.rank_r for r in rows}
    assert got == expected
    for lang, members in by_lang.items():
        n_got = sum(1 for (lg, _) in got if lg == lang)
        assert n_got == min(_STRAT_QUOTA, len(members))
    # stratum_n carries the TRUE stratum size, making the shortfall
    # post-check (rows < least(quota, stratum_n)) computable from the
    # output alone; here no stratum is short, so it must come up empty
    for r in rows:
        assert r.stratum_n == len(by_lang[r.lang])
        n_got = sum(1 for (lg, _) in got if lg == r.lang)
        assert n_got >= min(_STRAT_QUOTA, r.stratum_n)


def test_chunk_overlap_covers_and_reconstructs(spark, sf_dir):
    """Chunking invariants the value oracle can't articulate: chunk 0
    starts at token 0; consecutive starts differ by exactly the
    stride; the final window reaches the document tail; no window is
    fully contained in its predecessor; and re-joining each chunk's
    text equals the corresponding token slice recomputed here with a
    plain Python split — so offsets, lengths, and text agree."""
    from github_event_etl_spark.plans.queries_llm import (
        _CHUNK_SIZE,
        _CHUNK_STRIDE,
        llm_chunk_overlap,
    )

    import re

    # mirror BOTH engines' tokenization exactly: ASCII-space-only trim
    # + the Java \s class — .strip().split() would diverge on texts
    # with leading tabs/newlines (same rule as jaccard_pairs_vec)
    ws = re.compile(r"[ \t\n\x0B\f\r]+")

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    rows = llm_chunk_overlap(spark, sf_dir).collect()
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        toks = ws.split(docs[doc_id].strip(" "))
        chunks.sort(key=lambda r: r.chunk_id)
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            assert c.start_tok == c.chunk_id * _CHUNK_STRIDE
            assert c.n_tok == min(_CHUNK_SIZE, len(toks) - c.start_tok)
            assert c.n_tok >= 1
            expect = " ".join(toks[c.start_tok : c.start_tok + _CHUNK_SIZE])
            assert c.chunk_text == expect
        last = chunks[-1]
        assert last.start_tok + last.n_tok == len(toks), "tail uncovered"
        if len(chunks) > 1:
            # no window fully contained in its predecessor: the tail
            # must end strictly past the previous window's end
            prev = chunks[-2]
            assert last.start_tok + last.n_tok > prev.start_tok + prev.n_tok
            assert prev.n_tok == _CHUNK_SIZE, "non-final window not full"
            assert len(toks) > _CHUNK_SIZE


def test_chunk_tokens_rejects_gapped_stride(spark):
    """stride > chunk_size would emit windows past the document end
    (negative n_tok) instead of subsampling — rejected loudly."""
    import pytest as _pytest

    from github_event_etl_spark.operators.text_analysis import chunk_tokens

    docs = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="stride"):
        chunk_tokens(docs, chunk_size=8, stride=24)
    with _pytest.raises(ValueError, match="stride"):
        chunk_tokens(docs, chunk_size=8, stride=0)


def test_leakage_safe_split_never_straddles(spark, sf_dir):
    """The leakage-safe split's contract: no duplicate cluster
    straddles splits; every planted group (doc_id%7==3, keyed %35)
    resolves to one cluster rooted at its min member with one split;
    singletons keep exactly their per-doc llm_split_sample assignment
    (strict refinement); and the key is non-vacuous — at least one
    planted doc's per-doc assignment differs from its cluster's, i.e.
    a per-doc split WOULD have leaked that cluster across splits."""
    import hashlib

    from github_event_etl_spark.plans.queries_llm import (
        llm_split_leakage_safe,
        llm_split_sample,
    )

    rows = llm_split_leakage_safe(spark, sf_dir).collect()
    per_doc = {r.doc_id: r.split for r in llm_split_sample(spark, sf_dir).collect()}
    assert len(rows) == len(per_doc)

    def nib_split(key: int) -> str:
        hx = hashlib.md5(str(key).encode()).hexdigest()[0]
        return "train" if hx <= "b" else ("val" if hx in "cd" else "test")

    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
        assert r.split == nib_split(r.cluster_id)
    for cid, members in by_cluster.items():
        assert len({m.split for m in members}) == 1, f"cluster {cid} straddles"
        assert min(m.doc_id for m in members) == cid
    # planted groups: every %7==3 doc clusters at its %35 residue
    planted = [r for r in rows if r.doc_id % 7 == 3]
    assert planted
    for r in planted:
        assert r.cluster_id == r.doc_id % 35
    assert all(len(by_cluster[g]) >= 2 for g in {r.cluster_id for r in planted})
    # singletons keep the per-doc assignment (refinement, not reshuffle)
    for r in rows:
        if len(by_cluster[r.cluster_id]) == 1:
            assert r.split == per_doc[r.doc_id]
    # non-vacuous: a per-doc split would have straddled some cluster
    assert any(per_doc[r.doc_id] != r.split for r in planted)


def test_path_graph_edges_survives_hot_duplicate_group(spark):
    """_path_graph_edges' 100 TB contract: a hot duplicate group (one
    hash shared by 10^5 docs — empty docs / boilerplate at corpus
    scale) must stream through as rows, never materialize as one
    group-sized array on a single task. Asserts the physical plan is
    the window-lag form (no collect_list aggregate) and that the edge
    set is exactly the consecutive-sorted-id path per group: k-1 edges
    for the hot group, 1 for the pair, 0 for singletons."""
    from github_event_etl_spark.plans.queries_llm import _path_graph_edges

    hot_n = 100_000
    hot = spark.range(hot_n).select(
        F.col("id").alias("doc_id"), F.lit("hot").alias("ch")
    )
    pair = spark.range(2).select(
        (F.col("id") + hot_n).alias("doc_id"), F.lit("pair").alias("ch")
    )
    single = spark.range(3).select(
        (F.col("id") + hot_n + 2).alias("doc_id"),
        F.concat(F.lit("solo"), F.col("id")).alias("ch"),
    )
    edges = _path_graph_edges(hot.unionAll(pair).unionAll(single))

    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    assert "Window" in plan

    assert edges.count() == (hot_n - 1) + 1
    # the path chains consecutive sorted ids: every edge is (i, i+1)
    bad = edges.filter(F.col("doc_b") != F.col("doc_a") + 1).count()
    assert bad == 0
    lo, hi = edges.agg(F.min("doc_a"), F.max("doc_b")).first()
    assert (lo, hi) == (0, hot_n + 1)


def test_incremental_minhash_cap_mirror_binds_identically(spark, sf_dir):
    """The degenerate-bucket cap must mean the SAME thing in both
    engines where it actually drops buckets — the planted dup groups
    grow with corpus size, so at large SFs the production cap
    genuinely binds and an unmirrored oracle would report dup where
    Spark says new. Runs the registered fixture at cap=2 (which the
    ~n/20-member plants blow through at every SF) through Spark AND
    `_incrm_oracle(2)`, asserts they still value-match, and that the
    capped answer differs from the registered uncapped-at-this-SF one
    (i.e. the test is non-vacuous: the cap fired)."""
    from github_event_etl_spark.plans.queries_llm import (
        _incrm_classified,
        _incrm_oracle,
        llm_dedup_incremental_minhash,
    )
    from .oracle_harness import compare_query, duckdb_connection

    con = duckdb_connection(sf_dir)
    result = compare_query(
        spark,
        con,
        "incrm_cap2",
        lambda s, d: _incrm_classified(s, d, max_bucket_size=2),
        _incrm_oracle(2),
        sf_dir,
    )
    assert result.ok, result.detail

    capped = {
        r.doc_id: (r.status, r.matched_doc_id) for r in result.spark_result
    }
    uncapped = {
        r.doc_id: (r.status, r.matched_doc_id)
        for r in llm_dedup_incremental_minhash(spark, sf_dir).collect()
    }
    assert capped != uncapped, "cap=2 never fired: test is vacuous"
    # the cap only ever suppresses matches, never invents them
    rank = {"new": 0, "dup_batch": 1, "dup_corpus": 1}
    for d, (st, _m) in capped.items():
        assert rank[st] <= rank[uncapped[d][0]]


def test_incremental_semantic_statuses_and_plants(spark, sf_dir):
    """Planted-geometry invariants of llm_dedup_incremental_semantic
    the value oracle can't articulate: statuses partition the batch
    against the _incr_sem_is_batch split; matched ids live on the
    right side per status; every match clears the threshold; and each
    planted pair behaves per its residue — residue 0 (both members in
    batch) elects the original 'new' and its plant 'dup_batch' matched
    to it; residue 1 (plant in batch) and residue 2 (original in
    batch) report 'dup_corpus' matched to the pair's corpus member —
    all at a cosine far above the 0.98 threshold (the planted
    construction floors it around 0.99875; asserted at 0.9987 to
    absorb the 6-decimal output rounding)."""
    from github_event_etl_spark.plans.queries_llm import (
        _LSH_DUP_THRESHOLD,
        _PLANT_OFFSET,
        _incr_sem_is_batch,
        _planted_dup_corpus,
        llm_dedup_incremental_semantic,
    )

    rows = llm_dedup_incremental_semantic(spark, sf_dir).collect()
    assert rows, "batch empty"

    # membership derived from the PRODUCTION split helper over the
    # production fixture — never a third hand-written copy of the rule
    batch_ids = {
        r.vec_id
        for r in _planted_dup_corpus(load_table(spark, sf_dir, "embeddings"))
        .select("vec_id")
        .filter(_incr_sem_is_batch(F.col("vec_id")))
        .collect()
    }

    def is_batch(vid: int) -> bool:
        return vid in batch_ids

    by_id = {r.vec_id: r for r in rows}
    assert all(is_batch(v) for v in by_id), "non-batch vector in output"
    statuses = {r.status for r in rows}
    assert statuses == {"new", "dup_batch", "dup_corpus"}
    for r in rows:
        if r.status == "new":
            assert r.matched_vec_id is None and r.cosine_r is None
            continue
        assert r.cosine_r >= _LSH_DUP_THRESHOLD
        if r.status == "dup_corpus":
            assert not is_batch(r.matched_vec_id)
        else:
            assert is_batch(r.matched_vec_id)
            assert r.matched_vec_id < r.vec_id, "first-wins violated"
    for vid, r in by_id.items():
        base, plant = vid % _PLANT_OFFSET, vid % _PLANT_OFFSET + _PLANT_OFFSET
        res = base % 10
        if res == 0:
            if vid == base:  # original: the pair's min member
                assert r.status == "new"
            else:  # its plant, first-wins against the original
                assert r.status == "dup_batch"
                assert r.matched_vec_id == base
                assert r.cosine_r >= 0.9987
        elif res in (1, 2):
            assert r.status == "dup_corpus"
            assert r.matched_vec_id == (base if vid != base else plant)
            assert r.cosine_r >= 0.9987


@pytest.mark.parametrize(
    # conftest's canonical locations, NOT hardcoded paths — a test-data
    # relocation must move this test with the rest of the suite
    # (ADVICE r15 item 2)
    "band_sf_dir",
    [conftest.SF_SMOKE, conftest.SF_CORRECT],
    ids=["sf_smoke", "sf_correct"],
)
def test_incremental_semantic_bands_mirror_exact(spark, band_sf_dir):
    """The oracle's DuckDB-recomputed RHP banding (interpolated-plane
    list_inner_product, queries_llm._incr_sem_bands_cte) must
    reproduce Spark's numpy banding (similarity.rhp_signatures)
    BIT-EXACTLY on real data — bucket membership drives both candidate
    generation and the cap's occupancy counts, so a single disagreeing
    signature could silently shift which buckets the cap drops. The
    only cross-engine hazard is float summation order in the dot
    products (the ±1 planes themselves are md5-derived integers from
    the shared _plane_matrix): numpy's pairwise matmul summation and
    DuckDB's sequential list_inner_product could in principle round a
    near-cancelling dot to opposite signs. Parity is therefore pinned
    at BOTH the smoke SF and the driver's sf0.01 gate input — a flip
    would need |dot| within ~1e-13 of zero while typical |dot| is
    O(1), and a planted pair additionally survives via its other 11
    tables, so result-level divergence needs compounded
    astronomically-unlikely flips. Set-equality over every (vec_id,
    band, bucket) of the planted corpus is the strongest possible
    parity check."""
    from github_event_etl_spark.operators.similarity import rhp_signatures
    from github_event_etl_spark.plans.queries_llm import (
        _PLANTED_CORPUS_CTE,
        _SEMANTIC_LSH_PLANES,
        _SEMANTIC_LSH_TABLES,
        _incr_sem_bands_cte,
        _planted_dup_corpus,
    )
    from github_event_etl_spark.sources.tables import load_table

    from .oracle_harness import duckdb_connection

    corpus = _planted_dup_corpus(
        load_table(spark, band_sf_dir, "embeddings")
    )
    sig_fn = rhp_signatures(64, _SEMANTIC_LSH_TABLES, _SEMANTIC_LSH_PLANES)
    spark_bands = {
        (r.vec_id, r.band, r.bucket)
        for r in corpus.select(
            "vec_id",
            F.posexplode(sig_fn(F.col("embedding"))).alias("band", "bucket"),
        ).collect()
    }
    con = duckdb_connection(band_sf_dir)
    duck_bands = {
        (int(v), int(b), s)
        for v, b, s in con.sql(
            f"WITH {_PLANTED_CORPUS_CTE}, {_incr_sem_bands_cte()} "
            "SELECT vec_id, band, bucket FROM bands"
        ).fetchall()
    }
    assert duck_bands == spark_bands
    # exactly one bucket per (vector, table): nothing collapsed away
    assert len(spark_bands) == corpus.count() * _SEMANTIC_LSH_TABLES


def test_incremental_semantic_cap_mirror_binds_identically(spark, sf_dir):
    """The degenerate-bucket cap must mean the SAME thing in both
    engines where it actually drops buckets (the MinHash twin's
    cap-mirror test applied to the semantic twin). The production cap
    first binds near ~sf20000 on this fixture, so the test runs the
    registered fixture at cap=1 — every bucket holding a planted pair
    is oversized, the intra (dup_batch) path collapses entirely, and
    dup_corpus survival depends on which (band, bucket) keys are
    SINGLETON on both sides, i.e. on the mirror's exact occupancy
    counts — through Spark AND `_incr_sem_oracle(1)`, asserts they
    still value-match, and that the capped answer differs from the
    registered uncapped-at-this-SF one (the cap fired)."""
    from github_event_etl_spark.plans.queries_llm import (
        _incr_sem_classified,
        _incr_sem_oracle,
        llm_dedup_incremental_semantic,
    )

    from .oracle_harness import compare_query, duckdb_connection

    con = duckdb_connection(sf_dir)
    result = compare_query(
        spark,
        con,
        "incrsem_cap1",
        lambda s, d: _incr_sem_classified(s, d, max_bucket_size=1),
        _incr_sem_oracle(1),
        sf_dir,
    )
    assert result.ok, result.detail

    capped = {
        r.vec_id: (r.status, r.matched_vec_id) for r in result.spark_result
    }
    uncapped = {
        r.vec_id: (r.status, r.matched_vec_id)
        for r in llm_dedup_incremental_semantic(spark, sf_dir).collect()
    }
    assert capped != uncapped, "cap=1 never fired: test is vacuous"
    # the cap only ever suppresses matches, never invents them
    rank = {"new": 0, "dup_batch": 1, "dup_corpus": 1}
    for d, (st, _m) in capped.items():
        assert rank[st] <= rank[uncapped[d][0]]


def test_planted_corpus_guards_id_space(spark):
    """ADVICE r15: the planted-dup fixture's residue arithmetic assumes
    every base vec_id < _PLANT_OFFSET; past that the plant-id space
    collides with real ids and the split rules misclassify while both
    engines agree (the oracle shares the arithmetic). The fixture must
    therefore fail LOUDLY, not degrade: a vec_id at the offset raises
    at run time, and an in-range corpus still plants cleanly."""
    from github_event_etl_spark.plans.queries_llm import (
        _PLANT_OFFSET,
        _planted_dup_corpus,
    )

    ok = spark.createDataFrame(
        [(0, [1.0] * 64), (_PLANT_OFFSET - 1, [2.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    ids = {r.vec_id for r in _planted_dup_corpus(ok).collect()}
    assert ids == {0, _PLANT_OFFSET - 1, _PLANT_OFFSET, 2 * _PLANT_OFFSET - 1}

    bad = spark.createDataFrame(
        [(0, [1.0] * 64), (_PLANT_OFFSET, [2.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    # collect vec_id specifically: every real consumer reads vec_id
    # (splits, banding, matched ids), so the guard sits on a column
    # that cannot be pruned out of a declared query's plan — but a
    # bare count() WOULD prune it, which is fine (a count alone can't
    # misclassify anything).
    with pytest.raises(Exception, match="_PLANT_OFFSET"):
        _planted_dup_corpus(bad).select("vec_id").collect()


def test_incremental_e2e_conservation(spark, sf_dir):
    """The composed exact → MinHash → semantic increment waterfall must
    give every batch doc EXACTLY one final (stage, status) row — a doc
    resolved at one stage must not reappear at a later one, and a doc
    no stage resolves must still surface as ('none', 'new'). Checked on
    the real tables at the test SF, plus report-level totals."""
    from github_event_etl_spark.plans.pipelines import (
        _INCR_E2E_BATCH_SPLIT,
        incremental_e2e_classify,
        incremental_e2e_pipeline,
    )
    from github_event_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    doc_is_batch = (F.col("doc_id") % 10) >= _INCR_E2E_BATCH_SPLIT
    vec_is_batch = (F.col("vec_id") % 10) >= _INCR_E2E_BATCH_SPLIT
    n_batch = docs.filter(doc_is_batch).count()

    per_doc = incremental_e2e_classify(
        corpus_docs=docs.filter(~doc_is_batch),
        batch_docs=docs.filter(doc_is_batch),
        corpus_emb=emb.filter(~vec_is_batch),
        batch_emb=emb.filter(vec_is_batch),
    )
    rows = per_doc.collect()
    assert len(rows) == n_batch
    assert len({r.doc_id for r in rows}) == n_batch
    valid = {
        ("exact", "dup_corpus"), ("exact", "dup_batch"),
        ("minhash", "dup_corpus"), ("minhash", "dup_batch"),
        ("semantic", "dup_corpus"), ("semantic", "dup_batch"),
        ("none", "new"),
    }
    for r in rows:
        assert (r.stage, r.status) in valid
        assert (r.matched_id is None) == (r.status == "new")

    report = incremental_e2e_pipeline(spark, sf_dir).collect()
    assert sum(r.n_docs for r in report) == n_batch


def test_incremental_e2e_catalog_fixture_fires_all_stages(spark, sf_dir):
    """The CATALOG key's cross-stage planted fixture (r16, VERDICT r15
    item 5) must fire every one of the seven (stage, status) report
    rows, and each plant class must resolve at ITS stage — the classes
    are re-derived here from doc_ids alone (the same residue rules the
    fixture builders use), so the expected attribution is model-driven
    rather than hand-written counts. Matched-id asserts are scaled to
    what each stage structurally guarantees: exact classes pin the
    precise first-wins/min-corpus id (hash equality is certain);
    minhash classes pin only class membership and first-wins ordering
    (WHICH candidate pairs survive 4×3 md5 banding at Jaccard 0.92 is
    per-table deterministic but not structural — a testdata
    regeneration or band retune may shift the specific match);
    semantic matched ids are banding-luck across 12 tables and stay
    with the value-checking DuckDB oracle test entirely."""
    from github_event_etl_spark.plans.pipelines import (
        _INCR_E2E_BATCH_SPLIT,
        incremental_e2e_classify,
    )
    from github_event_etl_spark.plans.queries_llm import (
        _e2e_planted_docs,
        _e2e_planted_emb,
        llm_incremental_e2e_report,
    )
    from github_event_etl_spark.sources.tables import load_table

    docs = _e2e_planted_docs(load_table(spark, sf_dir, "documents"))
    emb = _e2e_planted_emb(load_table(spark, sf_dir, "embeddings"))
    doc_is_batch = (F.col("doc_id") % 10) >= _INCR_E2E_BATCH_SPLIT
    vec_is_batch = (F.col("vec_id") % 10) >= _INCR_E2E_BATCH_SPLIT
    per_doc = incremental_e2e_classify(
        corpus_docs=docs.filter(~doc_is_batch),
        batch_docs=docs.filter(doc_is_batch),
        corpus_emb=emb.filter(~vec_is_batch),
        batch_emb=emb.filter(vec_is_batch),
    )
    rows = {r.doc_id: r for r in per_doc.collect()}
    all_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    batch_ids = sorted(i for i in all_ids if i % 10 >= _INCR_E2E_BATCH_SPLIT)
    assert sorted(rows) == batch_ids

    # The fixture builders' class rules, re-derived from ids alone
    # (CASE priority order matters: an id in two classes takes the
    # FIRST matching branch in both engines).
    def text_planted(i):
        return i % 200 in (8, 9) or i % 53 in (3, 7)

    exact_b = [i for i in all_ids if i % 200 == 8]
    exact_c = [i for i in all_ids if i % 53 == 3 and i % 200 != 8]
    mh_b = [i for i in all_ids if i % 200 == 9 and i % 53 != 3]
    mh_c = [i for i in all_ids if i % 53 == 7 and i % 200 not in (8, 9)]
    sem_b = [i for i in all_ids if i % 200 == 19 and not text_planted(i)]
    sem_c = [
        i for i in all_ids
        if i % 53 == 11 and not text_planted(i) and i % 200 != 19
    ]
    corpus = lambda cls: [i for i in cls if i % 10 < _INCR_E2E_BATCH_SPLIT]
    batch = lambda cls: [i for i in cls if i % 10 >= _INCR_E2E_BATCH_SPLIT]

    # Batch-only classes: every member ≡ 8/9 (mod 10); cross classes
    # must have members on BOTH sides at every test SF (53 ⊥ 10).
    for cls in (exact_b, mh_b, sem_b):
        assert cls and not corpus(cls)
    for cls in (exact_c, mh_c, sem_c):
        assert len(corpus(cls)) >= 1 and len(batch(cls)) >= 2

    # Non-min members of batch-only classes resolve at their stage,
    # first-wins against the class min; the min member itself falls
    # through that stage (nothing earlier can catch a unique text).
    for cls, stage in ((exact_b, "exact"), (mh_b, "minhash"),
                       (sem_b, "semantic")):
        for i in sorted(cls)[1:]:
            r = rows[i]
            assert (r.stage, r.status) == (stage, "dup_batch"), (i, r)
            if stage == "exact":  # hash equality: the exact match set
                # is the whole class, so first-wins pins the min id
                assert r.matched_id == min(cls)
            elif stage == "minhash":  # candidates are banding-
                # dependent; membership + first-wins are structural
                assert r.matched_id in cls and r.matched_id < i
    # Batch members of cross classes resolve dup_corpus at their stage
    # (corpus-match precedence over the intra-batch pair).
    for cls, stage in ((exact_c, "exact"), (mh_c, "minhash"),
                       (sem_c, "semantic")):
        for i in batch(cls):
            r = rows[i]
            assert (r.stage, r.status) == (stage, "dup_corpus"), (i, r)
            if stage == "exact":
                assert r.matched_id == min(corpus(cls))
            elif stage == "minhash":
                assert r.matched_id in corpus(cls)

    # And the published report fires the full grid.
    report = llm_incremental_e2e_report(spark, sf_dir).collect()
    assert {(r.stage, r.status) for r in report} == {
        ("exact", "dup_batch"), ("exact", "dup_corpus"),
        ("minhash", "dup_batch"), ("minhash", "dup_corpus"),
        ("semantic", "dup_batch"), ("semantic", "dup_corpus"),
        ("none", "new"),
    }
    assert sum(r.n_docs for r in report) == len(batch_ids)


def test_incremental_e2e_planted_stages(spark):
    """Planted frames fire every (stage, status) cell of the waterfall
    exactly once, pinning stage ATTRIBUTION (cheapest test wins) and
    the no-embedding fall-through. Statuses are model-derived from the
    three twins' already-differentially-tested semantics; only the
    STRUCTURE (which doc lands where) is hand-specified:
      - b10 copies corpus text            → exact/dup_corpus
      - b12 copies b11's (batch) text     → exact/dup_batch, b11 moves on
      - b13 whitespace-variant of corpus  → minhash/dup_corpus
      - b15 whitespace-variant of b14     → minhash/dup_batch
      - b11's embedding ∥ a corpus vector → semantic/dup_corpus
      - b17's embedding ∥ b16's           → semantic/dup_batch
      - b14 (no embedding), b16 (orthogonal embedding) → none/new
      - b18 NULL text, no embedding → none/new: a NULL content hash
        falls out of the exact twin's equi-join entirely, so only the
        anti-join remainder derivation keeps the doc in the waterfall
        (the conservation contract this test pins)"""
    from github_event_etl_spark.plans.pipelines import (
        incremental_e2e_classify,
    )

    t_c0 = "alpha beta gamma delta epsilon zeta eta theta"
    t_c1 = "one two three four five six seven eight"
    t_b11 = "unique text eleven aa bb cc dd ee"
    t_b14 = "red green blue cyan magenta yellow black white"
    corpus_docs = spark.createDataFrame(
        [(0, t_c0), (1, t_c1)], "doc_id long, text string"
    )
    batch_docs = spark.createDataFrame(
        [
            (10, t_c0),                              # exact dup of corpus
            (11, t_b11),                             # → semantic stage
            (12, t_b11),                             # exact dup of b11
            (13, t_c1.replace("one ", "one  ", 1)),  # near-dup of corpus
            (14, t_b14),                             # → none (no embedding)
            (15, t_b14.replace("red ", "red  ", 1)),  # near-dup of b14
            (16, "totally fresh sixteen ff gg hh ii jj"),   # → none
            (17, "totally fresh seventeen kk ll mm nn oo"),  # → semantic
            (18, None),                               # NULL text → none
        ],
        "doc_id long, text string",
    )

    def basis(i, scale=1.0):
        v = [0.0] * 64
        v[i] = scale
        return v

    corpus_emb = spark.createDataFrame(
        [(0, basis(1)), (1, basis(0))],
        "vec_id long, embedding array<double>",
    )
    batch_emb = spark.createDataFrame(
        [
            (10, basis(0, 5.0)),  # resolved at exact: must be ignored
            (11, basis(0, 2.0)),  # ∥ corpus vec 1
            (16, basis(2)),       # orthogonal to everything
            (17, basis(2, 3.0)),  # ∥ b16
        ],
        "vec_id long, embedding array<double>",
    )

    got = {
        r.doc_id: (r.stage, r.status, r.matched_id)
        for r in incremental_e2e_classify(
            corpus_docs, batch_docs, corpus_emb, batch_emb
        ).collect()
    }
    assert got == {
        10: ("exact", "dup_corpus", 0),
        11: ("semantic", "dup_corpus", 1),
        12: ("exact", "dup_batch", 11),
        13: ("minhash", "dup_corpus", 1),
        14: ("none", "new", None),
        15: ("minhash", "dup_batch", 14),
        16: ("none", "new", None),
        17: ("semantic", "dup_batch", 16),
        18: ("none", "new", None),
    }


def test_cosine_lsh_cap_mirror_binds_identically(spark, sf_dir):
    """The degenerate-bucket cap must mean the SAME thing in both
    engines for the pair key (the MinHash/semantic twins' cap-mirror
    test applied to llm_dup_cosine_lsh). At this key's 12×8 geometry
    the test SFs give ~4 vectors per bucket, so cap=2 drops a large,
    occupancy-dependent subset of buckets (simulated: 139 of 500
    planted pairs at sf0.001) while the survivors still pair through
    their other tables — survival depends on exact per-bucket counts,
    the richest possible exercise of the mirror. Runs the registered
    fixture at cap=2 through Spark AND `_cosine_lsh_oracle(2)`,
    asserts value-parity, that the capped answer lost pairs (the cap
    fired), and that it only ever SUPPRESSES pairs."""
    from github_event_etl_spark.plans.queries_llm import (
        _PLANT_OFFSET,
        _cosine_lsh_oracle,
        _dup_cosine_lsh_pairs,
        llm_dup_cosine_lsh,
    )

    from .oracle_harness import compare_query, duckdb_connection

    con = duckdb_connection(sf_dir)
    result = compare_query(
        spark,
        con,
        "coslsh_cap2",
        lambda s, d: _dup_cosine_lsh_pairs(s, d, max_bucket_size=2),
        _cosine_lsh_oracle(2),
        sf_dir,
    )
    assert result.ok, result.detail

    capped = {(r.id_a, r.id_b) for r in result.spark_result}
    uncapped = {
        (r.id_a, r.id_b) for r in llm_dup_cosine_lsh(spark, sf_dir).collect()
    }
    assert capped < uncapped, (
        "cap=2 must strictly suppress pairs: "
        f"{len(capped)} capped vs {len(uncapped)} uncapped"
    )
    # RECALL floor: the mirrored oracle shares the banding with the
    # engine, so it can no longer catch a config change that loses
    # true pairs (the old all-pairs oracle did). This assertion takes
    # over that duty: at the production cap every planted pair
    # (v, v + _PLANT_OFFSET) must be found.
    from github_event_etl_spark.sources.tables import load_table

    base_ids = {
        r.vec_id
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .collect()
    }
    assert {(v, v + _PLANT_OFFSET) for v in base_ids} <= uncapped


def test_dedup_semantic_cap_mirror_binds_identically(spark, sf_dir):
    """Cap mirror for the semantic CLUSTERS key: its oracle shares the
    capped pair chain with llm_dup_cosine_lsh verbatim but feeds the
    recursive closure, so the differential must hold end-to-end
    through the clustering. At the 12×12 geometry planted-pair buckets
    are so sparse that cap=2 drops nothing (simulated), so the test
    runs cap=1 — every bucket holding any pair is oversized, no
    candidates survive, and BOTH engines must independently degrade to
    the all-singletons labeling (every vector its own representative),
    which differs maximally from the uncapped 500-pair clustering."""
    from github_event_etl_spark.plans.queries_llm import (
        _dedup_semantic_clusters,
        _dedup_semantic_oracle,
        llm_dedup_semantic,
    )

    from .oracle_harness import compare_query, duckdb_connection

    con = duckdb_connection(sf_dir)
    result = compare_query(
        spark,
        con,
        "sem_cap1",
        lambda s, d: _dedup_semantic_clusters(s, d, max_bucket_size=1),
        _dedup_semantic_oracle(1),
        sf_dir,
    )
    assert result.ok, result.detail

    capped = {r.vec_id: r.cluster_id for r in result.spark_result}
    assert all(v == c for v, c in capped.items()), (
        "cap=1 leaves no candidate pairs: every vector must be its own "
        "cluster representative"
    )
    uncapped = {
        r.vec_id: r.cluster_id
        for r in llm_dedup_semantic(spark, sf_dir).collect()
    }
    assert capped != uncapped, "cap=1 never fired: test is vacuous"


def test_incremental_indexed_equals_in_memory(spark, sf_dir):
    """The indexed classify (pre-materialized band index,
    `minhash_write_index` → `corpus_index=`) must return EXACTLY the
    in-memory twin's answer — same fixture, same skeleton, the index
    only replaces where the corpus banding comes from. Frame-level
    set equality over every column pins it directly (the shared
    oracle alone would pass if both keys drifted together)."""
    from github_event_etl_spark.plans.queries_llm import (
        llm_dedup_incremental_indexed,
        llm_dedup_incremental_minhash,
    )

    indexed = {
        tuple(r)
        for r in llm_dedup_incremental_indexed(spark, sf_dir).collect()
    }
    in_mem = {
        tuple(r)
        for r in llm_dedup_incremental_minhash(spark, sf_dir).collect()
    }
    assert indexed == in_mem
    assert len(indexed) > 0
    # slot-less public twin since the r19 indexed-twin consolidation:
    # the in-memory member holds the verified catalog slot; THIS
    # equality is what certifies the indexed path (catalog.py note)
    from github_event_etl_spark.plans.catalog import all_specs

    assert "llm_dedup_incremental_indexed" not in all_specs()
    assert "llm_dedup_incremental_minhash" in all_specs()


def test_incremental_indexed_skips_corpus_banding(spark, sf_dir):
    """The index's entire point at 100 TB: the per-increment corpus
    banding (Arrow shingle+minhash over every corpus doc) must be GONE
    from the indexed classify plan — replaced by a scan of the
    band-partitioned index parquet. Gated structurally: the indexed
    plan reads the minhash_index path and evaluates strictly fewer
    Arrow-batched Python stages than the in-memory plan (only the
    batch side still bands)."""
    from github_event_etl_spark.plans.queries_llm import (
        llm_dedup_incremental_indexed,
        llm_dedup_incremental_minhash,
    )

    indexed_plan = _fmt_plan(llm_dedup_incremental_indexed(spark, sf_dir))
    in_mem_plan = _fmt_plan(llm_dedup_incremental_minhash(spark, sf_dir))
    assert "minhash_index" in indexed_plan
    n_indexed = indexed_plan.count("ArrowEvalPython")
    n_in_mem = in_mem_plan.count("ArrowEvalPython")
    assert n_indexed < n_in_mem, (indexed_plan.count("ArrowEvalPython"),
                                  n_in_mem)
    assert "CartesianProduct" not in indexed_plan
    assert "BatchEvalPython" not in indexed_plan


def test_mixture_weights_properties(spark, sf_dir):
    """The mixture-weight arithmetic, model-checked against a brute
    recount: rates are in (0, 1] and equal 1 exactly for under-target
    groups; expected_tokens = min(lang_tokens, target) (the
    integer-only capped-rate identity); the target is the uniform
    per-group share; totals conserve. Plan gate: ONE documents scan —
    the total must come from the post-aggregate window, never a second
    corpus pass."""
    import contextlib as _ctx
    import io as _io

    from github_event_etl_spark.operators.text_dedup import words
    from github_event_etl_spark.plans.queries_llm import llm_mixture_weights
    from github_event_etl_spark.sources.tables import load_table

    df = llm_mixture_weights(spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 1

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        F.when(
            F.col("text").isNull() | (F.trim(F.col("text")) == ""), F.lit(0)
        )
        .otherwise(F.size(words(F.col("text"))))
        .cast("long")
    )
    brute = {
        r.lang: (r.n, r.t)
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(tok).alias("t"))
        .collect()
    }
    total = sum(t for _, t in brute.values())
    target = total // len(brute)
    for r in rows:
        n, t = brute[r.lang]
        assert (r.n_docs, r.lang_tokens, r.target_tokens) == (n, t, target)
        assert r.expected_tokens == min(t, target)
        assert 0.0 < r.sample_rate_r <= 1.0
        assert (r.sample_rate_r == 1.0) == (t <= target)
    assert sum(r.expected_tokens for r in rows) <= total

    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    # the final-plan TREE only: formatted output under AQE repeats
    # every node in the initial plan and the per-node details section
    tree = plan.split("== Initial Plan ==")[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==")[1]
    assert tree.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan


def test_incremental_semantic_indexed_equals_in_memory(spark, sf_dir):
    """The RHP-indexed semantic classify must return EXACTLY the
    in-memory twin's answer (the indexed-MinHash equality test applied
    to the embedding-space pair), and its plan must carry strictly
    fewer Arrow stages — the corpus signature matmul is gone, replaced
    by the rhp_index scan."""
    from github_event_etl_spark.plans.queries_llm import (
        llm_dedup_incremental_semantic,
        llm_dedup_incremental_semantic_indexed,
    )

    indexed_df = llm_dedup_incremental_semantic_indexed(spark, sf_dir)
    in_mem_df = llm_dedup_incremental_semantic(spark, sf_dir)
    indexed = {tuple(r) for r in indexed_df.collect()}
    in_mem = {tuple(r) for r in in_mem_df.collect()}
    assert indexed == in_mem
    assert len(indexed) > 0

    indexed_plan = _fmt_plan(indexed_df)
    assert "rhp_doc_index" in indexed_plan
    assert indexed_plan.count("ArrowEvalPython") < _fmt_plan(in_mem_df).count(
        "ArrowEvalPython"
    )
    assert "CartesianProduct" not in indexed_plan
    assert "BatchEvalPython" not in indexed_plan
    # slot-less public twin since the r19 consolidation (see the
    # MinHash twin's test for the contract)
    from github_event_etl_spark.plans.catalog import all_specs

    assert "llm_dedup_incremental_semantic_indexed" not in all_specs()
    assert "llm_dedup_incremental_semantic" in all_specs()


def test_corpus_snapshot_diff_matches_id_model(spark, sf_dir):
    """The snapshot-diff key against a pure-Python model of its own
    residue fixture: change_type and changed_cols are both fully
    determined by doc_id (the fixture edits are id-keyed), so the
    expected frame is re-derived here from ids alone — unchanged docs
    must emit no row (change-log semantics)."""
    from github_event_etl_spark.plans.catalog import get_spec
    from github_event_etl_spark.plans.queries_llm import (
        _SNAP_ADDED,
        _SNAP_EDIT,
        _SNAP_LANG_EXTRA,
        _SNAP_REMOVED,
    )
    from github_event_etl_spark.sources.tables import load_table

    ids = [
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    expected: dict[int, tuple[str, str | None]] = {}
    for i in ids:
        in_prev = i % _SNAP_ADDED[0] != _SNAP_ADDED[1]
        in_cur = i % _SNAP_REMOVED[0] != _SNAP_REMOVED[1]
        if not in_prev and not in_cur:
            continue
        if not in_prev:
            expected[i] = ("added", None)
        elif not in_cur:
            expected[i] = ("removed", None)
        elif i % _SNAP_EDIT[0] == _SNAP_EDIT[1]:
            expected[i] = (
                "changed",
                "text,lang"
                if i % _SNAP_LANG_EXTRA[0] == _SNAP_LANG_EXTRA[1]
                else "text",
            )
    got = {
        r.doc_id: (r.change_type, r.changed_cols)
        for r in get_spec("llm_corpus_snapshot_diff")
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == expected
    assert {t for t, _ in expected.values()} == {
        "added", "removed", "changed"
    }, "fixture must fire all three change types at every test SF"


def test_index_apply_diff_equals_rebuild(spark, sf_dir):
    """The maintenance key's identity, pinned Spark-side (the DuckDB
    oracle pins the same equality cross-engine): the maintained index
    equals a from-scratch banding of the current snapshot, and the
    underlying diff is non-vacuous — it fires all three change types,
    so rows were really dropped AND really re-banded."""
    from github_event_etl_spark.operators.merge import snapshot_diff
    from github_event_etl_spark.operators.text_dedup import (
        _band_keys,
        minhash_band_buckets_vec,
    )
    from github_event_etl_spark.plans.catalog import get_spec
    from github_event_etl_spark.plans.queries_llm import (
        _NUM_BANDS,
        _ROWS_PER_BAND,
        _snap_cur,
        _snap_prev,
    )
    from github_event_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    bands_vec = minhash_band_buckets_vec(_NUM_BANDS, _ROWS_PER_BAND, k=3)
    rebuilt = {
        tuple(r)
        for r in _band_keys(
            _snap_cur(docs).select("doc_id", "text"), bands_vec
        ).collect()
    }
    maintained = {
        tuple(r)
        for r in get_spec("llm_index_apply_diff").fn(spark, sf_dir).collect()
    }
    assert maintained == rebuilt
    assert len(maintained) > 0
    kinds = {
        r.change_type
        for r in snapshot_diff(
            _snap_prev(docs).select("doc_id", "text"),
            _snap_cur(docs).select("doc_id", "text"),
            "doc_id",
            ["text"],
        ).collect()
    }
    assert kinds == {"added", "removed", "changed"}, kinds


def test_index_apply_diff_plan_gates(spark, sf_dir):
    """The key's scale shape: reads the materialized prev index (the
    scratch minhash_prev_index tree), joins the checkpointed change
    log via broadcast only (no sort-merge join anywhere — the diff's
    full-outer join is materialized out of the maintenance plan), and
    runs exactly ONE Arrow banding stage, over the semi-filtered
    upserts rather than the corpus."""
    from github_event_etl_spark.plans.catalog import get_spec

    df = get_spec("llm_index_apply_diff").fn(spark, sf_dir)
    plan = _fmt_plan(df)
    assert "minhash_prev_index" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("ArrowEvalPython") == 1, tree
    assert tree.count("BroadcastHashJoin") == 2, tree


def test_index_apply_diff_rewrites_format1_tree(spark, sf_dir):
    """A `minhash_prev_index` tree left by an older checkout (a
    format-1 manifest without key/partition_col, a spec without
    `manifest_format`) is rewritten by the key's first call and left
    alone by the next; the key returns the same rows throughout."""
    import json
    import os

    from github_event_etl_spark.operators.index_maintenance import (
        _MANIFEST_FORMAT,
        _read_manifest,
    )
    from github_event_etl_spark.plans.catalog import get_spec
    from github_event_etl_spark.scratch import scratch_dir

    key = get_spec("llm_index_apply_diff").fn

    def rows():
        return sorted(tuple(r) for r in key(spark, sf_dir).collect())

    def mtimes(tree):
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _dirs, files in os.walk(tree)
            for f in files
        }

    expected = rows()
    index = scratch_dir(sf_dir, "minhash_prev_index")
    m = _read_manifest(index)
    assert m["format"] == _MANIFEST_FORMAT
    old = {k: v for k, v in m.items() if k not in ("key", "partition_col")}
    old["format"] = 1
    with open(os.path.join(index, "_manifest.json"), "w") as f:
        json.dump(old, f)
    spec_path = os.path.join(index, "_spec.json")
    with open(spec_path) as f:
        spec = json.load(f)
    spec.pop("manifest_format", None)
    with open(spec_path, "w") as f:
        json.dump(spec, f)

    assert rows() == expected
    m = _read_manifest(index)
    assert m["format"] == _MANIFEST_FORMAT
    assert (m["key"], m["partition_col"]) == ("doc_id", "band")
    with open(spec_path) as f:
        assert json.load(f)["manifest_format"] == _MANIFEST_FORMAT
    before = mtimes(index)
    assert rows() == expected
    assert mtimes(index) == before


@pytest.mark.parametrize("key,tree,kind", [
    ("llm_index_apply_diff", "minhash_prev_index", "minhash"),
    ("llm_ivf_apply_diff", "ivf_prev_index/assigned", "ivf"),
    ("llm_ivf_pq_apply_diff", "ivf_pq_prev_lists/lists", "ivf_pq"),
])
def test_apply_diff_key_serves_its_builders_index(
    spark, sf_dir, key, tree, kind
):
    """Each apply-diff key maintains an index its family's builder
    committed: the scratch tree holds a format-3 manifest of that
    kind, and a second call serves it untouched (every file's mtime
    unchanged)."""
    import os

    from github_event_etl_spark.operators.index_maintenance import (
        _MANIFEST_FORMAT,
        _read_manifest,
    )
    from github_event_etl_spark.plans.catalog import get_spec
    from github_event_etl_spark.scratch import scratch_dir

    fn = get_spec(key).fn
    root = scratch_dir(sf_dir, tree.split("/")[0])

    def mtimes():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _dirs, files in os.walk(root)
            for f in files
        }

    rows = fn(spark, sf_dir).count()
    m = _read_manifest(scratch_dir(sf_dir, *tree.split("/")))
    assert (m["format"], m["kind"]) == (_MANIFEST_FORMAT, kind)
    before = mtimes()
    assert fn(spark, sf_dir).count() == rows > 0
    assert mtimes() == before


def test_ivf_apply_diff_equals_rebuild(spark, sf_dir):
    """The IVF maintenance key's identity, Spark-side (the oracle pins
    it cross-engine): the maintained (vec_id, centroid_id) index equals
    a from-scratch assignment of the current snapshot against the SAME
    frozen centroid table, and the fixture is non-vacuous — the diff
    fires all three change types AND at least one re-embedded vector
    genuinely changes its list membership (the negated-vector rule's
    whole point; a same-centroid re-embed would leave the anti-join
    and re-assignment paths untested)."""
    from pyspark.sql import functions as F

    from github_event_etl_spark.operators.merge import snapshot_diff
    from github_event_etl_spark.operators.similarity import (
        ivf_assign_with_centroids,
        ivf_seed_centroids,
    )
    from github_event_etl_spark.plans.catalog import get_spec
    from github_event_etl_spark.plans.queries_llm import (
        _IVF_APPLY_CENTROIDS,
        _SNAP_EDIT,
        _emb_snap_cur,
        _emb_snap_prev,
    )
    from github_event_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    centroids = ivf_seed_centroids(emb, _IVF_APPLY_CENTROIDS)
    # the key's own snapshot builders — one fixture, zero drift
    prev = _emb_snap_prev(emb)
    cur = _emb_snap_cur(emb)
    edit = F.col("vec_id") % _SNAP_EDIT[0] == _SNAP_EDIT[1]
    rebuilt = {
        tuple(r)
        for r in ivf_assign_with_centroids(cur, centroids)
        .select("vec_id", "centroid_id")
        .collect()
    }
    maintained = {
        tuple(r)
        for r in get_spec("llm_ivf_apply_diff").fn(spark, sf_dir).collect()
    }
    assert maintained == rebuilt
    assert len(maintained) > 0
    kinds = {
        r.change_type
        for r in snapshot_diff(prev, cur, "vec_id", ["embedding"]).collect()
    }
    assert kinds == {"added", "removed", "changed"}, kinds
    # membership really moved: prev's assignment of the edit-class
    # vectors disagrees with cur's for at least one vec_id
    prev_asg = ivf_assign_with_centroids(
        prev.filter(edit), centroids
    ).select("vec_id", F.col("centroid_id").alias("prev_cid"))
    cur_asg = ivf_assign_with_centroids(
        cur.filter(edit), centroids
    ).select("vec_id", F.col("centroid_id").alias("cur_cid"))
    moved = (
        prev_asg.join(cur_asg, "vec_id")
        .filter(F.col("prev_cid") != F.col("cur_cid"))
        .count()
    )
    assert moved > 0, "edit-class re-embeds never changed a list"


def test_ivf_apply_diff_plan_gates(spark, sf_dir):
    """The IVF maintenance key's scale shape (r22): reads the
    materialized prev lists (the `assigned` tree of the scratch
    ivf_prev_index layout, partitioned by centroid_id), joins the
    checkpointed change log via broadcast only, and re-assigns the change-sized upserts in ONE
    Arrow-vectorized pass against the driver-collected frozen centroid
    table — no centroid join, no argmin window, no row-at-a-time
    Python. The corpus-sized index side never exchanges."""
    from github_event_etl_spark.plans.catalog import get_spec

    df = get_spec("llm_ivf_apply_diff").fn(spark, sf_dir)
    plan = _fmt_plan(df)
    assert "ivf_prev_index" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    # exactly one Arrow stage: the vectorized re-assignment of upserts
    assert tree.count("ArrowEvalPython") == 1, tree
    assert "BatchEvalPython" not in tree, tree
    assert "Window" not in tree, tree
    # anti (stale rows out of the index scan) + semi (upserts into the
    # assignment) — both broadcast; the frozen-centroid table no longer
    # appears as a join at all (collected into the Arrow stage)
    assert tree.count("BroadcastHashJoin") == 2, tree
    assert tree.count("BroadcastNestedLoopJoin") == 0, tree


def test_ivf_pq_apply_diff_equals_rebuild_and_plan_gates(spark, sf_dir):
    """The IVF-PQ maintenance key's identity, Spark-side (the oracle
    pins it cross-engine): the maintained (nid, centroid_id, pq_code)
    serving lists equal a from-scratch re-encode of the current
    snapshot against the SAME frozen centroid/codebook artifacts; the
    fixture fires all three change types AND at least one re-embedded
    vector changes its packed CODE (not just its list) — a re-embed
    that kept its code would leave the re-encode path untested. Plan
    gates: the materialized prev lists tree is read (not re-encoded),
    no cartesian product, and exactly one Arrow stage — the fused
    assignment + encode of the change-sized upserts."""
    from pyspark.sql import functions as F

    from github_event_etl_spark.operators.merge import snapshot_diff
    from github_event_etl_spark.operators.similarity import (
        ivf_pq_encode_fn,
        ivf_seed_centroids,
        pq_codebook,
    )
    from github_event_etl_spark.plans.catalog import get_spec
    from github_event_etl_spark.plans.queries_llm import (
        _IVF_APPLY_CENTROIDS,
        _PQ_CODEWORDS,
        _PQ_SUBSPACES,
        _SNAP_EDIT,
        _emb_snap_cur,
        _emb_snap_prev,
    )
    from github_event_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    centroids = ivf_seed_centroids(emb, _IVF_APPLY_CENTROIDS)
    codebook = pq_codebook(emb, _PQ_CODEWORDS)
    encode = ivf_pq_encode_fn(
        centroids, codebook, _PQ_SUBSPACES, _PQ_CODEWORDS, 64
    )

    def nidify(df):
        return df.select(F.col("vec_id").alias("nid"), "embedding")

    prev = _emb_snap_prev(emb)
    cur = _emb_snap_cur(emb)
    cols = ["nid", "centroid_id", "pq_code"]
    rebuilt = {tuple(r) for r in encode(nidify(cur)).select(*cols).collect()}
    df = get_spec("llm_ivf_pq_apply_diff").fn(spark, sf_dir)
    maintained = {tuple(r) for r in df.select(*cols).collect()}
    assert maintained == rebuilt
    assert len(maintained) > 0
    kinds = {
        r.change_type
        for r in snapshot_diff(prev, cur, "vec_id", ["embedding"]).collect()
    }
    assert kinds == {"added", "removed", "changed"}, kinds
    # the re-encode path is non-vacuous: an edit-class re-embed
    # changes its packed code, not just its list membership
    edit = F.col("nid") % _SNAP_EDIT[0] == _SNAP_EDIT[1]
    prev_codes = encode(nidify(prev)).filter(edit).select(
        "nid", F.col("pq_code").alias("prev_code")
    )
    cur_codes = encode(nidify(cur)).filter(edit).select(
        "nid", F.col("pq_code").alias("cur_code")
    )
    recoded = (
        prev_codes.join(cur_codes, "nid")
        .filter(F.col("prev_code") != F.col("cur_code"))
        .count()
    )
    assert recoded > 0, "edit-class re-embeds never changed a code"

    plan = _fmt_plan(df)
    assert "ivf_pq_prev_lists" in plan
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    # exactly one Arrow stage (r22): the fused assignment+encode of the
    # change-sized upserts against the driver-collected frozen
    # centroid/codebook tables — the centroid/codebook broadcast
    # nested-loops AND the assigned⋈codes sort-merge attach are gone
    assert tree.count("ArrowEvalPython") == 1, tree
    assert "BatchEvalPython" not in tree, tree
    # anti (stale rows out of the lists scan) + semi (upserts into the
    # re-encode) — both broadcast
    assert tree.count("BroadcastHashJoin") == 2, tree
    assert tree.count("BroadcastNestedLoopJoin") == 0, tree
    assert tree.count("SortMergeJoin") == 0, tree


# Broadcast-join + grouped-aggregate encoders: the r21 shapes the
# vectorized encode replaced, kept here as its value reference.


def _pq_codes_agg(
    corpus: DataFrame,
    codebook: DataFrame,
    num_subspaces: int,
    d_sub: int,
    num_codewords: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The legacy broadcast-join + grouped struct-min PQ assignment —
    the reference implementation the vectorized UDF is parity-tested
    against."""
    joined = corpus.select(id_col, vec_col).join(F.broadcast(codebook))
    # min(struct(d, r)).r per subspace as ONE SQL parse each (r21, see
    # _dot_sql — construction round trips); tree identical to the
    # F.min(F.struct(sub_dist, code_rank))["r"] form it replaces.
    codes = joined.groupBy(id_col).agg(
        *[
            F.expr(
                f"min(struct({_subsq_l2_sql(vec_col, 'c_vec', s * d_sub + 1, d_sub)}"
                " AS d, code_rank AS r)).r"
            ).alias(f"c{s}")
            for s in range(num_subspaces)
        ]
    )
    packed = None
    for s in range(num_subspaces):
        term = F.col(f"c{s}").cast("long") * F.lit(num_codewords**s).cast("long")
        packed = term if packed is None else packed + term
    return codes.select(F.col(id_col), packed.alias("pq_code"))


def _pq_qerr_agg(
    corpus: DataFrame,
    codebook: DataFrame,
    num_subspaces: int,
    d_sub: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Legacy broadcast-join + grouped-min quantization error — the
    vectorized UDF's parity reference."""
    joined = corpus.select(id_col, vec_col).join(F.broadcast(codebook))
    per_sub = joined.groupBy(id_col).agg(
        *[
            F.min(
                F.expr(_subsq_l2_sql(vec_col, "c_vec", s * d_sub + 1, d_sub))
            ).alias(f"_d{s}")
            for s in range(num_subspaces)
        ]
    )
    total = None
    for s in range(num_subspaces):
        term = F.col(f"_d{s}")
        total = term if total is None else total + term
    return per_sub.select(F.col(id_col), total.alias("qerr"))


def _ivf_assign_agg(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The legacy broadcast-join + grouped struct-max assignment (r21
    shape) — the vectorized UDF's parity reference. Struct MAX compares (_csim, -centroid_id) with
    Spark's double ordering (NaN largest, null smallest); the payload
    fields after the unique centroid id are never compared."""
    scored = corpus.join(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(vec_col),
        "centroid_id",
        cosine_cols(vec_col, "c_vec").alias("_csim"),
    )
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(
                F.col("_csim"),
                (-F.col("centroid_id")).alias("_ncid"),
                F.col("centroid_id"),
                F.col(vec_col).alias("_vec"),
            )
        ).alias("_b")
    )
    return best.select(
        F.col(id_col),
        F.col("_b._vec").alias(vec_col),
        F.col("_b.centroid_id").alias("centroid_id"),
    )


def test_vectorized_encode_parity_with_legacy_agg(spark):
    """The r22 Arrow-vectorized encode paths (PQ code assignment, IVF
    centroid assignment, quantization error) must be VALUE-IDENTICAL to
    the legacy broadcast-join aggregations they replaced — on ordinary
    vectors AND the adversarial corners the struct-min/max tie-break
    rules exist for: exact ties (duplicate vectors, a vector that IS a
    codeword), zero vectors (all-NaN cosine ⇒ NaN wins the max, lowest
    centroid id), NaN elements (NaN distance loses every min, wins
    every max), null vectors and wrong-dimension vectors (all-null
    folds ⇒ lowest id / code 0 / null qerr).

    Zero-norm vectors are compared on the PQ paths only: the legacy
    cosine ASSIGNMENT raises DIVIDE_BY_ZERO under Spark 4 ANSI for a
    0/0 norm product, while the vectorized path implements the
    ordering the operators document (NaN cosine wins the max ⇒ lowest
    centroid id) — asserted separately below."""
    import math

    from pyspark.sql import types as T

    from github_event_etl_spark.operators.similarity import (
        ivf_assign_with_centroids,
        ivf_seed_centroids,
        pq_codebook,
        pq_codes,
        pq_quantization_error,
    )

    dim, subs, cw = 8, 2, 4
    base = [
        [float((i * 7 + j * 3) % 11) - 5.0 for j in range(dim)]
        for i in range(12)
    ]
    vecs = (
        [(i, v) for i, v in enumerate(base)]
        + [
            (100, base[0]),              # duplicate of a seed → exact ties
            (101, [0.0] * dim),          # zero vector → NaN cosine everywhere
            (102, [float("nan")] + [1.0] * (dim - 1)),  # NaN element
            (103, None),                 # null vector
            (104, [1.0] * (dim // 2)),   # wrong dimension
            (105, [-0.0] * dim),         # negative zeros
        ]
    )
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    df = spark.createDataFrame(vecs, schema)
    cents = ivf_seed_centroids(df.filter(F.col("vec_id") < 50), cw)
    cb = pq_codebook(df.filter(F.col("vec_id") < 50), cw)

    nonzero = df.filter(~F.col("vec_id").isin(101, 105))
    new_asg = {
        r[0]: r[2]
        for r in ivf_assign_with_centroids(nonzero, cents).collect()
    }
    old_asg = {r[0]: r[2] for r in _ivf_assign_agg(nonzero, cents).collect()}
    assert new_asg == old_asg
    # zero-norm vectors: the documented NaN-wins-the-max outcome
    min_cid = min(r[0] for r in cents.collect())
    zeros = {
        r[0]: r[2]
        for r in ivf_assign_with_centroids(
            df.filter(F.col("vec_id").isin(101, 105)), cents
        ).collect()
    }
    assert zeros == {101: min_cid, 105: min_cid}

    new_codes = {
        r[0]: r[1]
        for r in pq_codes(df, subs, cw, dim, codebook=cb).collect()
    }
    old_codes = {
        r[0]: r[1]
        for r in _pq_codes_agg(
            df, cb, subs, dim // subs, cw, "vec_id", "embedding"
        ).collect()
    }
    assert new_codes == old_codes

    new_q = {
        r[0]: r[1] for r in pq_quantization_error(df, cb, subs, dim).collect()
    }
    old_q = {
        r[0]: r[1]
        for r in _pq_qerr_agg(
            df, cb, subs, dim // subs, "vec_id", "embedding"
        ).collect()
    }
    assert set(new_q) == set(old_q)
    for k in new_q:
        a, b = new_q[k], old_q[k]
        assert (a == b) or (a is None and b is None) or (
            isinstance(a, float) and isinstance(b, float)
            and math.isnan(a) and math.isnan(b)
        ), (k, a, b)


def test_qerr_null_element_is_null_and_long_vector_is_invalid(spark):
    """Two encode-contract corners (ADVICE r22). A vector with a null
    ELEMENT gets a NULL qerr, as the `_pq_qerr_agg` reference gives —
    Arrow hands the element to the UDF as NaN, so without the JVM-side
    guard its qerr was NaN and one such vector made the `_qerr_stats`
    mean and p95 NaN. A vector LONGER than the model dimension is
    invalid like a shorter one: NULL qerr, code 0, lowest centroid —
    the contract, where the legacy slice folds scored its first `dim`
    elements."""
    import math

    from pyspark.sql import types as T

    from github_event_etl_spark.operators.similarity import (
        _qerr_stats,
        ivf_assign_with_centroids,
        ivf_seed_centroids,
        pq_codebook,
        pq_codes,
        pq_quantization_error,
    )

    dim, subs, cw = 8, 2, 4
    base = [
        [float((i * 5 + j * 3) % 11) - 5.0 for j in range(dim)]
        for i in range(12)
    ]
    null_elem = list(base[1])
    null_elem[3] = None
    vecs = [(i, v) for i, v in enumerate(base)] + [
        (200, null_elem),
        (201, base[2] + [1.0, 2.0]),  # longer than dim
    ]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    df = spark.createDataFrame(vecs, schema)
    train = df.filter(F.col("vec_id") < 50)
    cb = pq_codebook(train, cw)
    cents = ivf_seed_centroids(train, cw)

    new_q = {
        r[0]: r[1] for r in pq_quantization_error(df, cb, subs, dim).collect()
    }
    old_q = {
        r[0]: r[1]
        for r in _pq_qerr_agg(
            df, cb, subs, dim // subs, "vec_id", "embedding"
        ).collect()
    }
    # the legacy slice folds ignored a longer vector's tail and scored
    # it; the encode contract marks it invalid instead
    assert old_q.pop(201) is not None
    assert new_q.pop(201) is None
    assert new_q == old_q
    assert new_q[200] is None
    stats = _qerr_stats(df, cb, subs, dim, "vec_id", "embedding")
    assert math.isfinite(stats["qerr_mean"]), stats
    assert math.isfinite(stats["qerr_p95"]), stats

    codes = {
        r[0]: r[1] for r in pq_codes(df, subs, cw, dim, codebook=cb).collect()
    }
    assert codes[201] == 0
    min_cid = min(r[0] for r in cents.collect())
    asg = {
        r[0]: r[2]
        for r in ivf_assign_with_centroids(
            df.filter(F.col("vec_id") == 201), cents
        ).collect()
    }
    assert asg == {201: min_cid}


def test_empty_model_table_gives_empty_reference_schema(spark):
    """An EMPTY codebook or centroid table yields an empty frame with
    the schema of the broadcast-join references above — the inner join
    against an empty model table returned no rows, and neither may the
    vectorized encode."""
    from github_event_etl_spark.operators.similarity import (
        _ivf_pq_build_tables,
        ivf_assign,
        ivf_assign_with_centroids,
        ivf_seed_centroids,
        pq_codebook,
        pq_codes,
        pq_quantization_error,
    )

    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [0.5] * 8)], "vec_id long, embedding array<float>"
    )
    cb = pq_codebook(df, 4).limit(0)
    cents = ivf_seed_centroids(df, 2).limit(0)
    empty = df.limit(0)

    def ref_lists():
        asg = _ivf_assign_agg(df, cents).select(
            F.col("vec_id").alias("nid"), "centroid_id"
        )
        codes = _pq_codes_agg(df, cb, 2, 4, 4, "vec_id", "embedding")
        return asg.join(
            codes.select(F.col("vec_id").alias("nid"), "pq_code"), "nid"
        )

    cases = [
        (
            pq_codes(df, 2, 4, 8, codebook=cb),
            _pq_codes_agg(df, cb, 2, 4, 4, "vec_id", "embedding"),
        ),
        (
            pq_quantization_error(df, cb, 2, 8),
            _pq_qerr_agg(df, cb, 2, 4, "vec_id", "embedding"),
        ),
        (ivf_assign_with_centroids(df, cents), _ivf_assign_agg(df, cents)),
        (
            ivf_assign(empty, 2)[0],
            _ivf_assign_agg(empty, ivf_seed_centroids(empty, 2)),
        ),
        (
            _ivf_pq_build_tables(
                df, 2, 2, 4, 8, "vec_id", "embedding",
                centroids=cents, codebook=cb,
            )[0],
            ref_lists(),
        ),
    ]
    for got, ref in cases:
        assert got.collect() == [] == ref.collect()
        assert got.schema == ref.schema, (got.schema, ref.schema)


def test_embed_random_projection_distortion_bounds(spark, sf_dir):
    """The JL report key: one row per base vector, full-space cosine at
    the planted-pair level (≥ 0.998 — the fixture's documented floor),
    and the 16-dim projected cosine within a loose distortion band of
    the full-space value (JL at out_dim=16 keeps near-parallel pairs
    near-parallel; the observed error on this corpus is O(1e-3), the
    bound leaves 50× headroom before it would mask a real break). The
    numeric VALUES are pinned by the DuckDB oracle differential; this
    pins the semantic claim the operator exists for."""
    from github_event_etl_spark.plans.catalog import get_spec
    from github_event_etl_spark.sources.tables import load_table

    n_base = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .count()
    )
    rows = get_spec("llm_embed_random_projection").fn(spark, sf_dir).collect()
    assert len(rows) == n_base
    for r in rows:
        assert r.cos_full_r >= 0.998, r
        assert r.abs_err_r <= 0.05, r
        # the three columns are rounded independently, so the
        # recomputed error can differ from abs_err_r by two grains
        assert abs(abs(r.cos_proj_r - r.cos_full_r) - r.abs_err_r) <= 2e-4, r


def test_jl_projection_preserves_near_dup_top1(spark, sf_dir):
    """The JL projection's fitness-for-purpose claim, end to end: in
    PROJECTED space (64 → 16), every sampled base vector's exact top-1
    neighbor is still its planted ≈0.999-cosine twin — the ~0.5 cosine
    gap to organic neighbors dwarfs the 16-dim distortion, so the
    near-dup retrieval the operator exists for survives the 4×
    memory cut intact. (Fine-grained ORDER among near-tie organic
    neighbors deliberately does NOT survive at this out_dim — measured
    top-10 overlap vs full-dim ≈ 0.1 — which is the documented trade;
    see jl_projection's docstring. Asserting that low overlap would
    pin noise, so only the preserved property is pinned.)"""
    from github_event_etl_spark.operators.similarity import (
        jl_projection,
        knn_bruteforce,
    )
    from github_event_etl_spark.plans.queries_llm import (
        _JL_OUT_DIM,
        _PLANT_OFFSET,
        _planted_dup_corpus,
    )
    from github_event_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    proj = jl_projection(64, _JL_OUT_DIM)
    projected = (
        _planted_dup_corpus(emb)
        .select("vec_id", proj("embedding").alias("embedding"))
        .localCheckpoint()  # one Arrow pass; reused as corpus AND queries
    )
    queries = projected.filter(
        (F.col("vec_id") < _PLANT_OFFSET) & (F.col("vec_id") % 37 == 0)
    )
    top1 = knn_bruteforce(projected, queries, k=1).collect()
    assert len(top1) >= 10, "sample unexpectedly small"
    for r in top1:
        assert r.nid == r.qid + _PLANT_OFFSET, (
            f"projected top-1 of {r.qid} is {r.nid}, not its plant"
        )


def test_snapshot_diff_routes_increment_into_waterfall(spark, sf_dir):
    """Integration of the two r16 operators with the established
    incremental waterfall — the daily-refresh composition the
    snapshot-diff docstring describes: diff yesterday's snapshot
    against today's, route ONLY the added+changed docs through the
    exact → MinHash → semantic classify against the unchanged corpus,
    and leave removed docs out entirely. Pins the wiring contract:
    every routed doc gets exactly one verdict, no unchanged or removed
    doc is ever classified, and the routed set is change-sized."""
    from github_event_etl_spark.operators.merge import snapshot_diff
    from github_event_etl_spark.plans.pipelines import (
        incremental_e2e_classify,
    )
    from github_event_etl_spark.plans.queries_llm import _snap_cur, _snap_prev
    from github_event_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    # the catalog fixture's snapshots, from the same builders the key
    # and its oracle consume (one source of truth per ADVICE r16)
    prev, cur = _snap_prev(docs), _snap_cur(docs)
    diff = snapshot_diff(prev, cur, "doc_id", ["text", "lang", "source"])
    routed_ids = {
        r.doc_id
        for r in diff.filter(
            F.col("change_type").isin("added", "changed")
        ).collect()
    }
    removed_ids = {
        r.doc_id
        for r in diff.filter(F.col("change_type") == "removed").collect()
    }
    assert routed_ids and removed_ids

    routed = F.col("doc_id").isin(list(routed_ids))
    vec_routed = F.col("vec_id").isin(list(routed_ids))
    emb = load_table(spark, sf_dir, "embeddings")
    per_doc = incremental_e2e_classify(
        corpus_docs=cur.filter(~routed),
        batch_docs=cur.filter(routed),
        corpus_emb=emb.filter(~vec_routed),
        batch_emb=emb.filter(vec_routed),
    ).collect()
    verdicts = {r.doc_id for r in per_doc}
    assert verdicts == routed_ids, "conservation: one verdict per routed doc"
    assert not (verdicts & removed_ids)
    valid = {
        ("exact", "dup_corpus"), ("exact", "dup_batch"),
        ("minhash", "dup_corpus"), ("minhash", "dup_batch"),
        ("semantic", "dup_corpus"), ("semantic", "dup_batch"),
        ("none", "new"),
    }
    assert {(r.stage, r.status) for r in per_doc} <= valid


@pytest.mark.parametrize(
    "sf", [conftest.SF_SMOKE, conftest.SF_CORRECT], ids=["sf_smoke", "sf_correct"]
)
def test_ivf_pq_fixture_vectors_are_well_formed(spark, sf):
    """The vector contract every IVF/PQ key assumes but never checks
    at run time: in the `embeddings` table and in each frame the IVF/PQ
    keys derive from it, `vec_id` is non-null and unique, and every
    vector is non-null, 64 long, free of null elements and non-zero
    (cosine divides by its norm)."""
    from github_event_etl_spark.plans.queries_llm import (
        _emb_snap_cur,
        _emb_snap_prev,
        _planted_dup_corpus,
    )

    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    frames = {
        "embeddings": emb,
        "_emb_snap_prev": _emb_snap_prev(emb),
        "_emb_snap_cur": _emb_snap_cur(emb),
        "_planted_dup_corpus": _planted_dup_corpus(emb),
    }
    for name, df in frames.items():
        v = F.col("embedding")
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("vec_id").alias("ids"),
            F.count_distinct("vec_id").alias("distinct_ids"),
            F.count(v).alias("vectors"),
            F.min(F.size(v)).alias("min_len"),
            F.max(F.size(v)).alias("max_len"),
            F.sum(F.exists(v, lambda x: x.isNull()).cast("int")).alias(
                "with_null_element"
            ),
            F.min(F.aggregate(v, F.lit(0.0), lambda s, x: s + x * x)).alias(
                "min_sq_norm"
            ),
        ).first()
        assert r.n > 0, name
        assert r.ids == r.distinct_ids == r.n, (name, r)
        assert r.vectors == r.n, (name, r)
        assert r.min_len == r.max_len == 64, (name, r)
        assert r.with_null_element == 0, (name, r)
        assert r.min_sq_norm > 0, (name, r)
