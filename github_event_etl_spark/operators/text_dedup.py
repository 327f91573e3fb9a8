"""Document deduplication operators (SURVEY.md §2 B11; north-star
LLM-pipeline mandate).

The reference's only dedup is an exact-id existence check with a TTL
(insert-events-into-db.lua:8-11,36-39 — re-expressed in
operators/dedup.py). A training-data pipeline needs *content* dedup:
exact text hashing, MinHash/LSH and SimHash near-dedup, and n-gram
Jaccard verification. Everything here is built from JVM-side column
expressions — no Python UDFs in any hot path — so the whole pipeline
stays inside whole-stage codegen and scales by partitioning alone.

Scale posture (100 TB):
- Exact dedup shuffles on a 256-bit content hash: uniformly distributed
  keys, no skew, partial aggregation map-side.
- MinHash signatures are computed map-side (per-row expressions only);
  the only shuffle is the band-bucket exchange, whose fan-out is
  n_docs × n_bands small rows. Candidate verification joins docs twice
  by doc_id (sort-merge on a unique key). The full-corpus cross join
  never appears in any plan.
- All hashes are md5 hex strings: deterministic, engine-portable (the
  DuckDB oracle computes the identical value), and uniform enough for
  MinHash order statistics. Numeric min over the 128-bit value equals
  lexicographic min over fixed-width lowercase hex, so `array_min`
  on strings implements the MinHash minimum exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from ..session import materialize
from .index_maintenance import _build_index, _require_derivation, read_index

# ---------------------------------------------------------- expression tools


def _let(bound: Column, body) -> Column:
    """Evaluate `bound` once and feed the result to `body` (classic
    let-binding via a single-element `transform`). Higher-order
    functions run interpreted (outside whole-stage codegen), so a
    sub-expression referenced N times in one projection is EVALUATED N
    times; this caps any expensive sub-expression at one evaluation per
    row."""
    return F.transform(F.array(bound), body)[0]


# ------------------------------------------------------------- tokenization


def words(text: Column) -> Column:
    """Whitespace word tokens. `trim` first so leading/trailing blanks
    never produce empty tokens — keeps Spark's split() and the oracle's
    string_split_regex() in exact agreement."""
    return F.split(F.trim(text), r"\s+")


def word_shingles_tokens(w: Column, k: int = 3) -> Column:
    """Contiguous k-grams over an already-split token array `w`,
    space-joined. Token lists shorter than k yield an empty array
    (sequence(1, n-k+1) is empty when n < k). The array-parameterized
    half of `word_shingles`, public so a caller that already holds the
    token array (a fused multi-gate projection, e.g. the filter-funnel
    CASE) never re-splits the text."""
    return F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(text: Column, k: int = 3) -> Column:
    """Contiguous word k-grams of `text`, space-joined.

    The token array is let-bound (`_let`, defined below) so the text is
    split once per row, not once per shingle — interpreted higher-order
    lambdas re-evaluate captured sub-expressions per element."""
    return _let(words(text), lambda w: word_shingles_tokens(w, k))


# ------------------------------------------------------------- exact dedup


def normalized_text_hash(text: Column) -> Column:
    """Content identity: sha2-256 of lowercase/trimmed text. 256-bit ⇒
    collision-free for practical corpus sizes; uniformly distributed ⇒
    skew-free shuffle key at any scale."""
    return F.sha2(F.lower(F.trim(text)), 256)


def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact near-duplicate grouping: one representative (min doc_id)
    per normalized content hash, plus the duplicate count.

    groupBy on the hash → map-side partial agg, one skew-free shuffle.
    """
    return (
        docs.withColumn("content_hash", normalized_text_hash(F.col(text_col)))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup an incoming batch against an already-indexed corpus — the
    operation a continuously-fed pipeline actually runs (nobody
    re-deduplicates 100 TB for a daily increment). One row per batch
    doc: `status` is 'dup_corpus' (content already indexed),
    'dup_batch' (an earlier batch doc — smaller id — has the same
    content, first-wins), or 'new'; `first_seen_doc_id` is the
    earliest holder of the content (corpus min wins over batch min),
    NULL for 'new'.

    Scale shape — the corpus is consumed exactly once and NEVER fully
    shuffled: its rows are semi-filtered map-side against a broadcast
    of the batch's distinct hashes, so only corpus rows whose content
    actually recurs in the batch (≤ |batch| hashes) reach the tiny
    min-id aggregate; that aggregate then broadcasts back onto the
    batch. Every shuffle in the plan is batch-sized. Catalyst plans the
    batch-side min-id index twice (semi-filter source + final join are
    identically-derived subtrees), so the BATCH is scanned three times
    — a deliberate trade: the duplicated subtree is the increment-sized
    index, which must be broadcast-small anyway, while an eager
    materialization would put a collect barrier in an otherwise fully
    declarative plan. When the increment is too large for its hash set
    to broadcast, drop the two broadcast hints and the same plan
    degrades to shuffle joins keyed on the uniform 256-bit hash; in
    production the corpus index (content_hash, first doc_id) is a
    pre-materialized table and the semi-filter stage disappears
    entirely.
    """
    ch = normalized_text_hash(F.col(text_col)).alias("content_hash")
    b = batch.select(F.col(id_col), ch)
    c = corpus.select(F.col(id_col), ch)
    batch_idx = b.groupBy("content_hash").agg(
        F.min(id_col).alias("batch_first")
    )
    corpus_idx = (
        c.join(
            F.broadcast(batch_idx.select("content_hash")),
            "content_hash",
            "left_semi",
        )
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("corpus_first"))
    )
    enriched = b.join(F.broadcast(corpus_idx), "content_hash", "left").join(
        batch_idx, "content_hash"
    )
    status = (
        F.when(F.col("corpus_first").isNotNull(), F.lit("dup_corpus"))
        .when(F.col(id_col) > F.col("batch_first"), F.lit("dup_batch"))
        .otherwise(F.lit("new"))
    )
    first_seen = F.when(
        F.col("corpus_first").isNotNull(), F.col("corpus_first")
    ).when(F.col(id_col) > F.col("batch_first"), F.col("batch_first"))
    return enriched.select(
        F.col(id_col),
        "content_hash",
        status.alias("status"),
        first_seen.cast("long").alias("first_seen_doc_id"),
    )


def _incremental_classify_lsh(
    corpus: DataFrame,
    batch: DataFrame,
    banded,
    score,
    threshold: float,
    id_col: str,
    payload_col: str,
    matched_col: str,
    score_out: str,
    max_bucket_size: int,
    finalize=None,
    corpus_index: str | None = None,
    prepare=None,
    materialize_batch_bands: bool = False,
) -> DataFrame:
    """The shared classify skeleton of `incremental_dedup_minhash` and
    `similarity.incremental_dedup_semantic` — ONE copy of the
    first-wins / cap / semi-filter / status logic so a fix can never
    land in one twin and not the other (the `_path_graph_edges`
    sharing rule applied to the incremental pair). The twins differ
    only in how rows are bucketed and verified:

      banded(df, spread) -> (doc_id, band, bucket) exploded LSH keys
        (MinHash band digests or RHP table signatures); `spread` is
        True for the increment so a single small split still
        parallelizes the signature work.
      score(a, b) -> Column — the exact verification metric (n-gram
        Jaccard / cosine) over two `payload_col` values.
      finalize(col) -> Column — optional output formatting of the
        matched score (e.g. round to 6); default identity.

    Scale contract (shared): the corpus side is banded map-side and
    immediately semi-filtered against a broadcast of the increment's
    distinct (band, bucket) keys — never pair-expanded, never fully
    shuffled; both cross-candidate sides are independently
    `_cap_buckets`-capped; every remaining shuffle is
    batch/candidate-sized. See each twin's docstring for its
    scan-count accounting and production pre-materialization note.

    `corpus_index` is that pre-materialization made real: the path of
    a (doc_id, band, bucket) index, read through `read_index`, replaces
    `banded(corpus, False)` — the per-increment corpus banding (the
    dominant CPU at scale) disappears, while the verify stage still
    re-attaches only candidate-matched corpus payloads, column-pruned
    as before. The twins first check the index's recorded derivation
    against their own (`_require_derivation`).

    `prepare(df, col)` is the r21 verify split (guide §4: per-ROW
    Python work hoisted to per-DOC): it maps the payload column of a
    per-doc frame to the representation `score` consumes (e.g. text →
    distinct shingle array), so expensive payload decoding runs ONCE
    per candidate document instead of once per candidate PAIR — at
    mega-bucket candidate volumes (B×C pairs from one hot bucket) the
    per-pair formulation re-tokenized every text O(bucket) times.
    Verify-join orientation (r21): WITH a `prepare` hook, the pair
    list grouped per corpus id (ids only) and the prepared BATCH
    payloads broadcast separately — both strictly smaller than the
    pairs×payload product frame — while the corpus side joins the
    grouped pair list ONCE (restrict + attach in one broadcast join,
    corpus still scanned once, `cross_cand` planned once) and the
    matched rows are round-robined (`_spread`) before prepare, so the
    per-doc prepare and the per-pair scoring parallelize regardless
    of how few input splits the corpus scan produced. WITHOUT
    `prepare` (the semantic twin: fixed-size embedding payloads, JVM
    cosine) there is no per-doc work to hoist and the reorientation's
    extra planning+broadcast round trips are a measured net LOSS
    (A/B at sf0.1: 6.6 s vs 5.1 s median), so the original single
    product-broadcast shape is kept for that case.

    Both verify orientations BROADCAST a candidate-pair-derived frame
    (the grouped pair lists / the pairs×payload product) through a
    static hint, which assumes the candidate set fits a broadcast —
    `_cap_buckets` bounds any one bucket, but a batch hitting MANY hot
    buckets still aggregates all cross-candidates into one broadcast
    relation. Leaving the choice to AQE was measured and rejected: at
    sf0.1 (local[4]) both twins plan SMJ 0 / BHJ 8 initially and
    finally with or without the hint, so no A/B at this scale can tell
    them apart; at scale, without the hint, a size estimate above the
    broadcast threshold plans a sort-merge join whose corpus-side
    shuffle runs before AQE can demote it, breaking the
    corpus-never-shuffles contract above. The hint stays static.

    `materialize_batch_bands` (r22, VERDICT r21 item 5): the batch's
    banded keys are referenced by THREE consumers (the corpus
    semi-filter's distinct keys, the cross-candidate join, the
    in-batch pairs), and Catalyst re-plans the banding subtree into
    each — deliberate for a standalone increment (the subtrees run
    concurrently as independent broadcast jobs; checkpointing a single
    twin measured a LOSS in r21). Inside a COMPOSED waterfall the
    trade flips: each stage's batch subtree nests the previous stage's
    anti-join remainder, so the re-planned banding multiplies the
    whole upstream — there an eager scalars-only checkpoint
    (`session.materialize`) of the (doc_id, band, bucket) keys wins
    (interleaved order-rotated A/B on incremental_e2e: 8.23 vs 8.72 s
    median). Default False
    keeps every standalone key's plan unchanged; the e2e pipeline
    passes True."""

    def capped(df: DataFrame) -> DataFrame:
        return _cap_buckets(df, ["band", "bucket"], max_bucket_size)

    def payload(df: DataFrame, out_id: str, out_val: str) -> DataFrame:
        sel = df.select(
            F.col(id_col).alias(out_id), F.col(payload_col).alias(out_val)
        )
        return prepare(sel, out_val) if prepare else sel

    bb = banded(batch, True)
    if materialize_batch_bands:
        bb = materialize(bb)
    cb_src = (
        read_index(corpus.sparkSession, corpus_index).select(
            "doc_id", "band", "bucket"
        )
        if corpus_index is not None
        else banded(corpus, False)
    )
    cb = cb_src.join(
        F.broadcast(bb.select("band", "bucket").distinct()),
        ["band", "bucket"],
        "left_semi",
    )
    cross_cand = (
        capped(bb)
        .alias("b")
        .join(capped(cb).alias("c"), ["band", "bucket"])
        .select(
            F.col("b.doc_id").alias("batch_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .distinct()
    )

    if prepare is not None:
        # corpus payloads, prepared ONCE PER DOC: the pair list is
        # grouped per corpus id (an int list — candidate-sized, the
        # same broadcastability assumption the pair frame already
        # carries) and broadcast into ONE inner join against the
        # corpus scan, which restricts AND attaches in a single step —
        # the corpus is still scanned exactly once here (the ≤2-scans
        # plan gate holds) and `cross_cand` is planned exactly once.
        # The matched rows (candidate-sized) are round-robined
        # (`_spread`) BEFORE prepare, so the per-doc payload work and
        # the per-pair scoring run at full parallelism regardless of
        # how few input splits the corpus scan produced; the pair
        # expansion happens AFTER prepare via explode, so a corpus doc
        # colliding with many batch docs still prepares once.
        by_corpus = cross_cand.groupBy("corpus_id").agg(
            F.collect_list("batch_id").alias("_bids")
        )
        matched = corpus.join(
            F.broadcast(by_corpus), F.col(id_col) == F.col("corpus_id")
        ).select("corpus_id", F.col(payload_col).alias("_pc"), "_bids")
        cross_ver = (
            prepare(_spread(matched), "_pc")
            .select("corpus_id", "_pc", F.explode("_bids").alias("batch_id"))
            .join(F.broadcast(payload(batch, "batch_id", "_pb")), "batch_id")
            .select(
                "batch_id",
                "corpus_id",
                score(F.col("_pb"), F.col("_pc")).alias("_s"),
            )
            .filter(F.col("_s") >= threshold)
        )
    else:
        # no per-doc prepare to hoist: corpus on the streamed side,
        # candidates×payload broadcast (see docstring for the A/B)
        cand_bt = cross_cand.join(payload(batch, "batch_id", "_pb"), "batch_id")
        cross_ver = (
            payload(corpus, "corpus_id", "_pc")
            .join(F.broadcast(cand_bt), "corpus_id")
            .select(
                "batch_id",
                "corpus_id",
                score(F.col("_pb"), F.col("_pc")).alias("_s"),
            )
            .filter(F.col("_s") >= threshold)
        )
    cross_best = cross_ver.groupBy("batch_id").agg(
        F.min("corpus_id").alias("_cm"),
        F.min_by("_s", "corpus_id").alias("_cj"),
    )

    intra_ver = (
        _bucket_pairs(bb, ["band", "bucket"], max_bucket_size)
        .join(payload(batch, "doc_a", "_pa"), "doc_a")
        .join(payload(batch, "doc_b", "_pb"), "doc_b")
        .select("doc_a", "doc_b", score(F.col("_pa"), F.col("_pb")).alias("_s"))
        .filter(F.col("_s") >= threshold)
    )
    intra_best = intra_ver.groupBy("doc_b").agg(
        F.min("doc_a").alias("_bm"),
        F.min_by("_s", "doc_a").alias("_bj"),
    )

    matched_score = F.when(F.col("_cm").isNotNull(), F.col("_cj")).otherwise(
        F.col("_bj")
    )
    return (
        batch.select(F.col(id_col).alias("doc_id"))
        .join(
            F.broadcast(cross_best.withColumnRenamed("batch_id", "doc_id")),
            "doc_id",
            "left",
        )
        .join(
            F.broadcast(intra_best.withColumnRenamed("doc_b", "doc_id")),
            "doc_id",
            "left",
        )
        .select(
            F.col("doc_id").alias(id_col),
            F.when(F.col("_cm").isNotNull(), F.lit("dup_corpus"))
            .when(F.col("_bm").isNotNull(), F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.coalesce("_cm", "_bm").cast("long").alias(matched_col),
            (finalize(matched_score) if finalize else matched_score).alias(
                score_out
            ),
        )
    )


def incremental_dedup_minhash(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float,
    num_bands: int = 4,
    rows_per_band: int = 3,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 10_000,
    corpus_index: str | None = None,
    materialize_batch_bands: bool = False,
) -> DataFrame:
    """Near-duplicate flavor of `incremental_dedup`: classify an
    incoming batch against an indexed corpus by MinHash-LSH banding +
    exact Jaccard verification — the dedup a continuously-fed pipeline
    runs daily (checking the increment against the corpus' band index,
    never re-near-deduplicating the full corpus). One row per batch
    doc: `status` is 'dup_corpus' (a verified corpus near-dup exists;
    `matched_doc_id` is the smallest such corpus id), 'dup_batch'
    (first-wins within the increment: the smallest verified earlier
    batch near-dup), or 'new'; `jaccard_r` is the Jaccard with the
    matched doc (NULL for 'new').

    Scale shape — the corpus is never pair-expanded and never
    all-shuffled: its band keys are computed map-side (the same
    Arrow-fused `minhash_band_buckets_vec` as the full-corpus path)
    and immediately semi-filtered against a broadcast of the batch's
    distinct band keys, so only corpus rows colliding with the
    increment survive to the candidate join and the degenerate-bucket
    window; every remaining shuffle is batch/candidate-sized. The
    corpus parquet is scanned twice (band keys + candidate texts for
    the verify — both joins stream the corpus against a broadcast
    small side); the batch subtree is planned ~3× (band-key index,
    in-batch pairs, text re-attach) — the `incremental_dedup` trade,
    deliberate: the duplicated subtrees are increment-sized and an
    eager materialization would break the declarative plan. In
    production the corpus band index is a pre-materialized table and
    the corpus banding scan disappears: pass a `minhash_write_index`
    path as `corpus_index`. An index banded at other bands × rows × k
    raises ValueError naming each differing field (its buckets could
    never meet the batch's).

    Degenerate buckets: both sides of the cross-candidate join are
    independently capped at `max_bucket_size` members per (band,
    bucket) (the `_bucket_pairs` guard, which also caps the in-batch
    expansion) — a boilerplate-flooded bucket yields B×C pairs under
    any candidate formulation, and true mass-duplicates belong to
    exact dedup upstream. The cap drops WHOLE oversized buckets
    deterministically, so the DuckDB oracle (queries_llm) mirrors it
    exactly (b_ok/c_ok HAVING clauses) — unlike the full-corpus
    MinHash key, whose fixture can't grow a bucket past the cap, this
    key's planted groups scale ~N/20 with the corpus, so the cap
    genuinely binds at large SFs and must live in both engines.

    Verify split (r21, guide §4.1): texts are shingled ONCE per
    candidate document (`shingle_sets_vec`, the skeleton's `prepare`
    hook) and pairs are scored with JVM set built-ins
    (`jaccard_shingle_sets`) — the old per-pair Arrow UDF re-tokenized
    both texts for every candidate pair, which at mega-bucket volumes
    (hundreds of thousands of pairs over ~10³ distinct docs) was
    O(pairs) Python tokenization on a single task. Values are
    identical (same shingle definition, same HALF-UP rounding — the
    jaccard parity tests and the DuckDB oracle pin it)."""
    if corpus_index is not None:
        _require_derivation(
            corpus_index, "minhash",
            {"num_bands": num_bands, "rows_per_band": rows_per_band, "k": k},
            "incremental_dedup_minhash",
        )
    bands_vec = minhash_band_buckets_vec(num_bands, rows_per_band, k)
    sh_vec = shingle_sets_vec(k)

    def banded(df: DataFrame, spread: bool) -> DataFrame:
        # _spread only the batch: it may arrive as one small split,
        # while the corpus' own input splits already parallelize it —
        # and repartitioning the corpus would be exactly the full
        # shuffle this operator exists to avoid.
        return _band_keys(
            _spread(df) if spread else df, bands_vec, id_col, text_col
        )

    return _incremental_classify_lsh(
        corpus,
        batch,
        banded,
        jaccard_shingle_sets,
        threshold,
        id_col=id_col,
        payload_col=text_col,
        matched_col="matched_doc_id",
        score_out="jaccard_r",
        max_bucket_size=max_bucket_size,
        corpus_index=corpus_index,
        prepare=lambda df, col: df.withColumn(col, sh_vec(F.col(col))),
        materialize_batch_bands=materialize_batch_bands,
    )


# ------------------------------------------------------------- MinHash / LSH

# Deterministic MinHash: permutation j is the md5 hash family member
# keyed by the prefix "<j>|". min over shingles of a uniform 128-bit
# hash is the classic MinHash order statistic.
#
# Physical-plan notes (these shaped the implementation):
# - Higher-order functions run interpreted (outside whole-stage
#   codegen), so an expression referenced N times in one projection is
#   EVALUATED N times. The `_let` combinator (transform over a 1-element
#   array) binds an expensive sub-expression to a lambda variable so it
#   is computed exactly once per row no matter how many times the body
#   uses it.
# - The signature is a single fold over the shingle array that advances
#   all `num_hashes` lanes per shingle (zip_with + least), instead of
#   `num_hashes` independent array traversals that would each rebuild
#   the shingle array.

# Fold sentinel: strictly greater than any lane value (lanes are
# h1 + j*h2 < 2^56 + 11*2^56 < 2^60); survives only for docs with no
# shingles, where it is mapped back to NULL (matching min-over-empty
# semantics in SQL engines).
_MINHASH_SENTINEL = 1 << 62


def minhash_signature(text: Column, num_hashes: int = 12, k: int = 3) -> Column:
    """Array of `num_hashes` MinHash values (int64) over word k-gram
    shingles; all-NULL when the doc has no shingles. Pure per-row
    expression — computed map-side, one pass over the shingles.

    Hash family: Kirsch–Mitzenmacher double hashing. ONE md5 per
    shingle; lane j's hash is h1 + j·h2, where h1/h2 are the digest's
    two 56-bit hex halves. Versus the earlier per-lane
    md5(j || '|' || s) family this removes 11 of every 12 md5
    evaluations — at 100 TB the signature stage is pure map-side CPU,
    so the hash count IS the cost — while staying engine-portable
    (DuckDB parses the same hex halves; the K-M construction is the
    published two-hash simulation of an independent family). 56-bit
    halves keep h1 + 11·h2 < 2^60: no int64 overflow, ANSI-safe."""
    lane_ids = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    null_sig = F.array(*[F.lit(None).cast("long")] * num_hashes)

    def lanes(s: Column) -> Column:
        # _let-bind digest and halves: md5 runs once per shingle, conv
        # once per half — the per-lane work is one multiply-add.
        return _let(
            F.md5(s),
            lambda m: _let(
                F.conv(F.substring(m, 1, 14), 16, 10).cast("long"),
                lambda h1: _let(
                    F.conv(F.substring(m, 15, 14), 16, 10).cast("long"),
                    lambda h2: F.transform(
                        lane_ids, lambda j: h1 + j.cast("long") * h2
                    ),
                ),
            ),
        )

    def fold(shingles: Column) -> Column:
        return F.aggregate(
            shingles,
            F.array_repeat(F.lit(_MINHASH_SENTINEL).cast("long"), num_hashes),
            lambda acc, s: F.zip_with(acc, lanes(s), lambda a, b: F.least(a, b)),
        )

    return _let(
        word_shingles(text, k),
        lambda sh: F.when(F.size(sh) > 0, fold(sh)).otherwise(null_sig),
    )


def lsh_band_buckets(sig: Column, num_bands: int, rows_per_band: int) -> Column:
    """Array of (band_id, bucket_hash) structs: the signature cut into
    bands, each band hashed to one bucket key. Docs sharing any band
    bucket are candidate near-duplicates. `sig` is evaluated once."""

    def bands_of(s: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(s, b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                )
                for b in range(num_bands)
            ]
        )

    return _let(sig, bands_of)


def minhash_band_buckets_vec(num_bands: int = 4, rows_per_band: int = 3, k: int = 3):
    """Arrow-vectorized text → LSH band buckets: the fused fast path for
    `lsh_band_buckets(minhash_signature(text))`, value-identical to the
    expression form (asserted in tests/test_llm.py parity test; the
    DuckDB oracle checks the same values end-to-end).

    Why a pandas UDF here (same documented exception as
    similarity.rhp_signatures): the expression form is a ~10³-node
    interpreted HOF tree — its catalyst analysis + codegen alone costs
    ~1.5 s per fresh plan, and evaluation runs outside whole-stage
    codegen. This UDF is one ArrowEvalPython node: md5 via hashlib (C
    speed, one digest per shingle — the same Kirsch–Mitzenmacher family)
    and the 12 lanes as one numpy broadcast-min per doc. Map-side only,
    no shuffle; the expression twin stays as the semantic
    reference/parity witness.

    Tokenization mirrors `words()` exactly: trim = ASCII-space strip
    (Spark `trim` removes spaces only), split on Java's `\\s` class
    `[ \\t\\n\\x0B\\f\\r]+`."""
    import hashlib
    import re

    num_hashes = num_bands * rows_per_band
    ws = re.compile(r"[ \t\n\x0B\f\r]+")
    j_ids = np.arange(num_hashes, dtype=np.int64)
    empty_bucket = hashlib.md5(b"").hexdigest()
    empty_bands = [
        {"band": b, "bucket": empty_bucket} for b in range(num_bands)
    ]

    @pandas_udf(
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("band", T.IntegerType()),
                    T.StructField("bucket", T.StringType()),
                ]
            )
        )
    )
    def bands_vec(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if t is None:
                out.append(empty_bands)
                continue
            toks = ws.split(t.strip(" "))
            n_sh = len(toks) - (k - 1)
            if n_sh <= 0:
                out.append(empty_bands)
                continue
            halves = np.empty((n_sh, 2), dtype=np.int64)
            for i in range(n_sh):
                d = hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()
                halves[i, 0] = int(d[:14], 16)
                halves[i, 1] = int(d[14:28], 16)
            # lane j over shingles: min(h1 + j*h2) — one broadcast + min
            lanes = (halves[:, :1] + j_ids * halves[:, 1:]).min(axis=0)
            out.append(
                [
                    {
                        "band": b,
                        "bucket": hashlib.md5(
                            ",".join(
                                str(x)
                                for x in lanes[
                                    b * rows_per_band : (b + 1) * rows_per_band
                                ]
                            ).encode()
                        ).hexdigest(),
                    }
                    for b in range(num_bands)
                ]
            )
        return pd.Series(out)

    return bands_vec


def _band_keys(
    docs: DataFrame,
    bands_vec,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, band, bucket) keys from the Arrow-fused banding UDF —
    the single projection BOTH MinHash paths bucket on (the
    full-corpus `minhash_candidate_pairs` and the incremental
    `incremental_dedup_minhash`), shared so the bucket definition can
    never diverge between them."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(bands_vec(F.col(text_col))).alias("bk"),
    ).select(
        "doc_id",
        F.col("bk.band").alias("band"),
        F.col("bk.bucket").alias("bucket"),
    )


def minhash_write_index(
    corpus: DataFrame,
    path: str,
    num_bands: int = 4,
    rows_per_band: int = 3,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize the corpus MinHash band-key index — the
    (doc_id, band, bucket) table both incremental twins' docstrings
    promise as the production layout ("the corpus band index is a
    pre-materialized table and the corpus banding scan disappears").
    One shuffle-free Arrow-banding map pass over the corpus, written
    partitioned by band (num_bands directories): the classify probes
    every band, so the partitioning buys scan parallelism and per-band
    maintenance (re-band one band after a parameter change), not
    probe-time pruning. At 100 TB this runs on the index's own
    schedule (per corpus snapshot), not per increment — the daily
    classify then reads ~corpus/|bands| narrow rows per band instead
    of re-shingling and re-hashing every document. Pass the path to
    `incremental_dedup_minhash(..., corpus_index=...)`. The last write
    is the maintenance manifest (`index_maintenance._commit_base`):
    the index is born committed, recording its kind ("minhash"),
    source columns and bands × rows × k, which the classify checks
    against its own and `write_index_delta` derives appends from."""
    _build_index(corpus, path, {
        "kind": "minhash", "key": "doc_id", "partition_col": "band",
        "id_col": id_col, "payload_col": text_col,
        "derivation": {"num_bands": num_bands,
                       "rows_per_band": rows_per_band, "k": k},
    })


_PAIR_CHUNK = 64


def _pair_explode(grouped: DataFrame, members: str, a_name: str, b_name: str):
    """All (a, b) pairs with a before b from each row's sorted
    `members` array, emitted as a CHUNKED two-stage explode (r22):
    explode one row per `_PAIR_CHUNK`-member slice of the array, then
    build and explode that slice's pair structs in one HOF pass.

    Why this shape (both predecessors measured): the r20 form built a
    bucket's COMPLETE quadratic pair array as one interpreted-HOF cell
    before exploding — ~5·10⁷ structs in a single value at the 10k cap
    (guide §5 giant rows) — but was the fastest for the tiny cliques
    real LSH buckets mostly are (one cheap pass per bucket). The r21
    form streamed per-member suffixes (posexplode + slice), bounding
    memory at O(n) per row, but pays two Generate stages at MEMBER
    grain — measured ~7-11% slower on the semantic incremental twins,
    whose buckets are small (the r21-verdict item-2 regression).
    Chunking gives both: a bucket with ≤ 64 members (the common case)
    is exactly ONE chunk row whose pair build is the r20 single-pass
    expression, while a cap-sized degenerate bucket emits n/64 rows
    whose cells are bounded at O(64·n) structs (~6·10⁵ at the 10k cap,
    80× below the r20 hazard) instead of O(n²). Same pair set:
    members are sorted; chunk c contributes `a` indices [64c, 64c+64)
    each paired with its strict suffix."""
    ids = F.col(members)
    n_chunks = F.ceil(F.size(ids) / F.lit(_PAIR_CHUNK)).cast("int")
    base = (F.col("_c") * _PAIR_CHUNK).cast("int")
    pairs = F.flatten(
        F.transform(
            F.slice(ids, base + 1, _PAIR_CHUNK),
            lambda a, i: F.transform(
                F.slice(ids, base + i + 2, F.size(ids)),
                lambda b: F.struct(a.alias(a_name), b.alias(b_name)),
            ),
        )
    )
    return (
        grouped.select(
            members,
            F.explode(
                F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - 1)
            ).alias("_c"),
        )
        .select(F.explode(pairs).alias("_p"))
        .select(f"_p.{a_name}", f"_p.{b_name}")
    )


def _cap_buckets(
    df: DataFrame, key_cols: list, max_bucket_size: int
) -> DataFrame:
    """The shared degenerate-bucket guard of every LSH candidate path:
    drop all rows of buckets larger than `max_bucket_size` BEFORE any
    member list or pair expansion materializes (see `_bucket_pairs`'
    docstring for the full quadratic-blowup rationale). The window
    count partitions on the bucket key itself, so a downstream groupBy
    on the same key reuses one exchange."""
    w = Window.partitionBy(*key_cols)
    return (
        df.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= max_bucket_size)
        .drop("_bsz")
    )


def _bucket_pairs(
    keyed: DataFrame, key_cols: list, max_bucket_size: int = 10_000
) -> DataFrame:
    """(doc_a < doc_b) candidate pairs from a (key..., doc_id) relation:
    group by bucket key, sort members, expand in-bucket pairs, distinct.

    One shuffle on the bucket key, then pure map-side expansion — the
    bucket pipeline upstream is computed ONCE (a self-join formulation
    would execute it twice). Bucket member lists are near-duplicate
    cliques — small by construction.

    Degenerate-bucket guard: a pathological corpus (mass-produced
    boilerplate, empty-ish docs) can collide a large fraction of docs
    into ONE bucket, whose pair expansion is quadratic under ANY
    candidate formulation — at 10⁶ members that is 5·10¹¹ pairs from a
    single task. Buckets larger than `max_bucket_size` are dropped
    BEFORE their member list is materialized: the size check is a
    window count over the same partitioning as the groupBy (the
    planner reuses one exchange), so the giant `collect_list` never
    builds. Docs in a dropped bucket still pair through their other
    (band, bucket) keys; true mass-duplicates belong to exact dedup
    upstream, not the near-dup path."""
    bounded = _cap_buckets(keyed, key_cols, max_bucket_size)
    grouped = (
        bounded.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return _pair_explode(grouped, "ids", "doc_a", "doc_b").distinct()


def _spread(docs: DataFrame) -> DataFrame:
    """Round-robin the rows across all cores. The signature stage is
    CPU-bound interpreted expression work; a small input (one parquet
    split) would otherwise pin it to one task. One narrow shuffle of the
    raw rows is negligible next to the hashing it parallelizes; on a
    real cluster with many input splits it still only rebalances."""
    return docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_bands: int = 4,
    rows_per_band: int = 3,
    k: int = 3,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Candidate near-duplicate pairs (doc_a < doc_b) via MinHash-LSH
    banding.

    Plan shape (the 100 TB path — NO cross join anywhere):
      map-side: signature + band buckets per doc (expressions only,
                one signature evaluation per doc)
      explode bands → shuffle on (band, bucket)  [n_docs × n_bands rows]
      collect_list per bucket → in-bucket pair expansion → distinct

    Signature+banding run as ONE Arrow-vectorized pandas UDF
    (`minhash_band_buckets_vec`) rather than the HOF expression twin —
    measured A/Bs at sf0.1, in order tried: (1) relational explode →
    12 per-lane min aggregates: ~2× slower than the HOF fold (row
    fan-out through a 12-buffer agg hash table); (2) HOF fold with
    per-lane md5: the interpreter tax and a ~1.5 s catalyst
    analysis/codegen cost per fresh plan dominate; (3) this UDF: one
    ArrowEvalPython node, hashlib+numpy per batch — fastest cold AND
    warm. The expression form (`minhash_signature` +
    `lsh_band_buckets`) remains the semantic reference, parity-tested
    against this UDF and mirrored by the DuckDB oracle.
    """
    bands_vec = minhash_band_buckets_vec(num_bands, rows_per_band, k)
    buckets = _band_keys(_spread(docs), bands_vec, text_col=text_col)
    return _bucket_pairs(buckets, ["band", "bucket"], max_bucket_size)


# --------------------------------------------------------- n-gram Jaccard


def jaccard_ngram(text_a: Column, text_b: Column, k: int = 3) -> Column:
    """Exact Jaccard similarity of the word k-gram *sets* of two texts,
    rounded to 6 decimals (a small-integer ratio — rounding is stable
    across engines). Used to verify LSH candidates."""
    def ratio(sa: Column, sb: Column) -> Column:
        inter = F.size(F.array_intersect(sa, sb))
        union = F.size(F.array_union(sa, sb))
        return F.round(
            F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
                F.lit(0.0)
            ),
            6,
        )

    # let-bind each shingle set: referenced twice (intersect + union),
    # which would otherwise double the interpreted shingle build per pair
    return _let(
        F.array_distinct(word_shingles(text_a, k)),
        lambda sa: _let(
            F.array_distinct(word_shingles(text_b, k)), lambda sb: ratio(sa, sb)
        ),
    )


def jaccard_pairs_vec(k: int = 3):
    """Arrow-vectorized two-text k-gram Jaccard — the fused verify-step
    twin of `jaccard_ngram`, value-identical (parity test in
    tests/test_llm.py). Same rationale as `minhash_band_buckets_vec`:
    the expression form's HOF tree costs more in per-plan catalyst
    analysis than the whole verify costs to execute; this is one
    ArrowEvalPython projection over the (tiny) candidate-pair set.

    Rounding: round-HALF-UP at 6 decimals via floor(x·1e6 + 0.5). On
    power-of-two unions the double arithmetic is exact and this is
    bit-identical to Spark's BigDecimal HALF_UP / DuckDB's round; for
    reduced-ratio denominators of the form 128·5^b (union 640, 3200,
    …) the two policies CAN differ by exactly 1e-6 at half-ulp ties
    (ADVICE r21 — the rounding-policy fuzz test documents this). The
    PRODUCTION verify paths all use the F.round policy
    (`jaccard_ngram` / `jaccard_shingle_sets`, the one the DuckDB
    oracle mirrors); this UDF is the per-pair parity witness for
    tokenization, kept out of any declared plan."""
    import re

    ws = re.compile(r"[ \t\n\x0B\f\r]+")

    def shingle_set(t):
        if t is None:
            return frozenset()
        toks = ws.split(t.strip(" "))
        n = len(toks) - (k - 1)
        if n <= 0:
            return frozenset()
        return {" ".join(toks[i : i + k]) for i in range(n)}

    @pandas_udf(T.DoubleType())
    def jac(ta: pd.Series, tb: pd.Series) -> pd.Series:
        import math

        out = np.empty(len(ta), dtype=np.float64)
        for i, (a, b) in enumerate(zip(ta, tb)):
            sa, sb = shingle_set(a), shingle_set(b)
            union = len(sa | sb)
            j = (len(sa & sb) / union) if union else 0.0
            out[i] = math.floor(j * 1e6 + 0.5) / 1e6
        return pd.Series(out)

    return jac


def shingle_sets_vec(k: int = 3):
    """Arrow-vectorized text → DISTINCT word-k-gram set as an INT64
    array: the per-DOC half of the split candidate verification (r21;
    hashed r22). Tokenization is byte-identical to
    `jaccard_pairs_vec`'s (ASCII-space strip, Java `\\s` class split);
    each distinct shingle string is then mapped to a deterministic
    64-bit hash (pandas' SipHash — stable across workers, retries and
    sessions, independent of PYTHONHASHSEED), so what travels through
    the verify joins/broadcasts is 8 bytes per shingle instead of the
    ~3-word string (guide §2.3 "shuffle keys and metadata instead of
    payloads") and the per-pair `array_intersect`/`array_union` run as
    long comparisons. Jaccard is a set-SIZE ratio, so scores are
    unchanged unless two distinct shingles of one compared pair collide
    in 64 bits (~2⁻⁶⁴ per pair — the jaccard parity pytest and the
    DuckDB string-based oracle both pin that this never bites on real
    fixtures). Element order inside the array is unspecified — only
    set membership matters downstream."""
    import re

    ws = re.compile(r"[ \t\n\x0B\f\r]+")

    @pandas_udf(T.ArrayType(T.LongType()))
    def shingle_sets(text: pd.Series) -> pd.Series:
        sets = []
        for t in text:
            if t is None:
                sets.append(())
                continue
            toks = ws.split(t.strip(" "))
            n = len(toks) - (k - 1)
            if n <= 0:
                sets.append(())
                continue
            sets.append(tuple({" ".join(toks[i : i + k]) for i in range(n)}))
        flat = np.array([s for doc in sets for s in doc], dtype=object)
        hashed = (
            pd.util.hash_array(flat).view(np.int64)
            if len(flat)
            else np.empty(0, dtype=np.int64)
        )
        out, pos = [], 0
        for doc in sets:
            out.append(hashed[pos : pos + len(doc)])
            pos += len(doc)
        return pd.Series(out)

    return shingle_sets


def jaccard_shingle_sets(sa: Column, sb: Column) -> Column:
    """Exact Jaccard of two pre-distinct shingle arrays — the per-PAIR
    half of the split verification, pure JVM set built-ins
    (`array_intersect`/`array_union` run under whole-stage codegen, no
    Python boundary, no per-pair re-tokenization). Rounding is
    `F.round(_, 6)` — Spark's BigDecimal HALF_UP, the same policy as
    the expression twin `jaccard_ngram` (and as the DuckDB oracle's
    round). vs `jaccard_pairs_vec`'s floor(x·1e6 + 0.5): the two agree
    whenever the 6th-decimal tie digit is exactly representable, which
    covers power-of-two unions; for reduced-ratio denominators of the
    form 128·5^b (union 640, 3200, …) the double is inexact and the
    two policies could in principle differ by 1e-6 at an exact
    half-ulp tie — HALF_UP on the double Spark actually computed is
    the one the oracle mirrors, and the jaccard parity tests fuzz
    these denominators to document the agreement on real ratios."""
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return F.round(
        F.when(
            union > 0, inter.cast("double") / union.cast("double")
        ).otherwise(F.lit(0.0)),
        6,
    )


def verify_pairs_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Join candidate pairs back to their shingle sets and keep those
    with n-gram Jaccard ≥ threshold. Two equi-joins on the unique
    doc_id — sort-merge (or broadcast if the doc side is small; AQE
    decides).

    Verify split (r21, guide §4.1): each doc is shingled once PER JOIN
    SIDE, map-side over the docs frame (`shingle_sets_vec`), and the
    per-pair score is JVM set arithmetic (`jaccard_shingle_sets`) —
    the old shape shipped raw texts to every pair and re-tokenized
    both sides per pair in a Python UDF, i.e. O(pairs) tokenization
    instead of O(2·docs); with LSH mega-buckets pairs ≫ docs.
    (Semi-joining each side down to the ids that appear in `pairs`
    was measured and rejected: it re-plans — and re-executes — the
    candidate-generation subtree once per side, which costs more than
    shingling the non-candidate docs saves; see OPTIMIZATION_r22.md.)
    The joined payload is the doc's HASHED shingle set (int64 per
    shingle, r22 — see `shingle_sets_vec`), so the pair joins shuffle
    8 bytes per shingle instead of strings (`jaccard_pairs_vec` stays
    as the per-pair parity witness)."""
    sh_vec = shingle_sets_vec(k)
    sets = docs.select(F.col("doc_id"), sh_vec(F.col(text_col)).alias("_s"))
    return (
        pairs.join(sets.withColumnRenamed("_s", "_sa"), pairs.doc_a == sets.doc_id)
        .drop("doc_id")
        .join(
            sets.withColumnRenamed("_s", "_sb").withColumnRenamed("doc_id", "_idb"),
            F.col("doc_b") == F.col("_idb"),
        )
        .select(
            "doc_a",
            "doc_b",
            jaccard_shingle_sets(F.col("_sa"), F.col("_sb")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# -------------------------------------------------- benchmark decontamination


def shingle_overlap(
    docs: DataFrame,
    bench: DataFrame,
    k: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Per-document word-k-gram overlap against a benchmark corpus —
    the decontamination step of a training pipeline (flag training
    documents that leak evaluation data). Returns one row per doc:
    (doc_id, n_shingles, n_overlap).

    Scale shape: the benchmark's distinct shingle set is broadcast
    (eval suites are thousands of documents — MBs of shingles — even
    when the corpus is 100 TB), so the overlap check is a map-side
    broadcast semi join on the exploded corpus shingles; the only
    shuffle is the per-doc count aggregation, keyed by unique doc_id
    (skew-free). Docs with fewer than k words have zero shingles and
    report (0, 0)."""
    doc_sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col(text_col), k))).alias("sh"),
    )
    bench_sh = bench.select(
        F.explode(F.array_distinct(word_shingles(F.col(text_col), k))).alias("sh")
    ).distinct()
    totals = doc_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
        )
    )


def duplicated_spans(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 5,
    min_grams: int = 3,
    max_df: int = 10_000,
) -> DataFrame:
    """Substring-level duplicate detection: maximal token spans of each
    document that are fully covered by word k-grams shared with other
    documents (2..max_df distinct docs). Returns (doc_id, span_start,
    span_end, n_grams) in token coordinates — the doc-internal
    passages (license headers, quoted articles, templated sections)
    that doc-level MinHash/SimHash can never flag.

    Shape: positioned k-gram md5 → grouped df count on the hash
    (two-phase, hot grams collapse map-side; the df cap bounds any
    boilerplate gram's downstream fan-out) → equi-join back on the
    hash (membership counting — never a doc×doc pair expansion) → one
    doc_id window whose sort feeds the island merge: a gap > k between
    consecutive shared positions is a coverage hole, so it starts a
    new span; the final span groupBy reuses the window's partitioning
    with no further exchange.

    The gram stream is derived twice (df-count branch + probe branch)
    rather than shuffled once by hash: recomputing a map-side
    explode+md5 costs CPU, while materializing/exchanging the exploded
    stream (~10× corpus bytes) costs IO that dwarfs it at 100 TB — the
    classic recompute-vs-materialize call. A cluster run that must scan
    pricey remote storage can insert a checkpoint of `grams` instead;
    the plan composes unchanged."""
    grams = docs.select(
        "doc_id",
        F.posexplode(word_shingles(F.col(text_col), k)).alias("pos", "sh"),
    ).select("doc_id", "pos", F.md5("sh").alias("h"))
    dfc = (
        grams.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("h")
    )
    shared = grams.join(dfc, "h").select("doc_id", "pos")
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        shared.withColumn(
            "newgrp",
            F.when(
                F.col("pos") - F.lag("pos").over(w_ord) <= k, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn("g", F.sum("newgrp").over(run))
        .groupBy("doc_id", "g")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .filter(F.col("n_grams") >= min_grams)
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


def remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """The rewrite stage that consumes `duplicated_spans` output: drop
    every token covered by a span and rebuild each document's text —
    the final step of substring-level dedup (keep one copy of a
    duplicated passage corpus-wide is a policy layered on top; this
    operator removes the flagged ranges it is given). Returns
    (doc_id, text, n_removed_tokens).

    Shape: the doc's spans collapse to ONE small array row per doc_id
    (a per-doc aggregate over the span table — tiny, only docs that
    contain duplicated passages appear), joined back to the corpus by
    a single equi-join on the unique doc id; the rewrite itself is
    pure map-side higher-order functions — `filter((tok, i) -> no
    span covers i)` over the token array preserves original token
    order, so reassembly is one concat_ws with no window, no sort, no
    second pass. The TEXT never explodes and never shuffles: the only
    movement of corpus bytes is the one doc_id join, and AQE
    broadcasts the span-array side whenever it is small (at 100 TB
    the alternative — posexplode to ~10× corpus rows, a positional
    range join, an anti join, and a collect_list re-assembly shuffle —
    moves the whole corpus through the shuffle three times; measured
    3.4 s → 0.6 s at sf0.1 for the identical output).

    Docs with no removed tokens keep their ORIGINAL text
    byte-for-byte (whitespace included): reassembly is inherently
    whitespace-normalizing, so the final projection switches on the
    removal count — only rewritten docs pay the normalization. The
    switch is a column expression, not a join: a span always removes
    >= min_grams tokens, so removed == 0 identifies span-free docs."""
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_sp")
    )
    base = docs.select(
        "doc_id",
        F.col(text_col).alias("_orig"),
        words(F.col(text_col)).alias("_toks"),
    )
    j = base.join(sp, "doc_id", "left")
    # span-free docs (null _sp) keep every token — the when() guard
    # matters because a null array would make the filter predicate
    # null, which filter() treats as drop-everything
    kept = F.when(F.col("_sp").isNull(), F.col("_toks")).otherwise(
        F.filter(
            F.col("_toks"),
            lambda tok, i: ~F.exists(
                F.col("_sp"),
                lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
            ),
        )
    )
    removed = (F.size("_toks") - F.size(kept)).cast("long")
    return j.select(
        "doc_id",
        F.when(removed > F.lit(0), F.concat_ws(" ", kept))
        .otherwise(F.col("_orig"))
        .alias(text_col),
        removed.alias("n_removed_tokens"),
    )


# ----------------------------------------------------------------- SimHash


# Bit weights 2^0..2^62, then Long.MIN_VALUE for bit 63 (two's complement).
_BIT_WEIGHTS = [1 << b for b in range(63)] + [-(1 << 63)]


def simhash64(text: Column) -> Column:
    """64-bit SimHash over whitespace tokens, using Spark's JVM-side
    xxhash64 per token (no Python in the loop).

    Per bit b: vote = Σ_tokens (+1 if bit set else −1); bit b of the
    fingerprint is 1 when the vote is positive. Near-identical documents
    land within a few bits of Hamming distance.

    Single pass over the token array: the fold accumulator is the
    64-wide vote vector (`aggregate` with an array accumulator), then
    the sign vector is folded into one long via per-bit weights. Pure
    map-side column expressions — scales with no shuffle.
    """
    hashes = F.transform(words(text), lambda t: F.xxhash64(t))
    weights = F.array(*[F.lit(w).cast("long") for w in _BIT_WEIGHTS])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                weights,
                lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
            ),
            lambda a, v: a + v,
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            weights,
            lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, w: acc.bitwiseOR(w),
    )


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", hash_family: str = "md5"
) -> DataFrame:
    """(doc_id, fp): 64-bit SimHash computed relationally so the whole
    pass stays inside whole-stage codegen:

      explode tokens → per-token hash bits (JVM) →
      groupBy(doc_id) with 64 `sum(CASE WHEN bit b set THEN 1 ELSE -1)`
      vote aggregates → fold votes into the fingerprint long.

    `hash_family="md5"` (default) derives token bits from the first 16
    hex chars of md5(tok), parsed as two 32-bit halves (hi = chars
    1-8, lo = chars 9-16) so neither engine ever left-shifts into the
    sign bit: bit b < 32 lives in lo, bit b ≥ 32 in hi. DuckDB mirrors
    this exactly with `('0x'||substr(md5(t),1,8))::BIGINT` — that
    portability is what buys SimHash a full value oracle (the same
    trick that gave MinHash/RHP/IVF theirs). The halves are projected
    ONCE per token before the aggregation, so the 64 vote expressions
    are plain bit tests on two long columns — one md5 and two hex
    parses per token by construction, not by codegen subexpression
    elimination. `hash_family="xxhash64"` is the faster JVM-native
    twin (one 64-bit hash per token), parity-tested against
    `simhash64` in pytest; use it when no cross-engine check is
    needed.

    All of a doc's tokens sit in one partition after explode, so
    partial aggregation collapses them map-side — the shuffle carries
    one row per doc, not one per token. This replaces an interpreted
    per-row array fold that was ~100× slower (higher-order lambdas run
    outside codegen)."""
    exploded = _spread(docs).select(
        "doc_id", F.explode(words(F.col(text_col))).alias("tok")
    )
    if hash_family == "md5":
        hx = F.md5(F.col("tok"))
        hashed = exploded.select(
            "doc_id",
            F.conv(F.substring(hx, 1, 8), 16, 10).cast("long").alias("h_hi"),
            F.conv(F.substring(hx, 9, 8), 16, 10).cast("long").alias("h_lo"),
        )

        def bit(b: int) -> Column:
            half = F.col("h_lo") if b < 32 else F.col("h_hi")
            return half.bitwiseAND(F.lit(1 << (b % 32))) != 0

    elif hash_family == "xxhash64":
        hashed = exploded.select("doc_id", F.xxhash64("tok").alias("h"))

        def bit(b: int) -> Column:
            return F.col("h").bitwiseAND(F.lit(_BIT_WEIGHTS[b])) != 0

    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    votes = [
        F.sum(F.when(bit(b), 1).otherwise(-1)).alias(f"v{b}")
        for b in range(64)
    ]
    fp = F.lit(0).cast("long")
    for b, w in enumerate(_BIT_WEIGHTS):
        fp = fp.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, F.lit(w).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return (
        hashed.groupBy("doc_id")
        .agg(*votes)
        .select("doc_id", fp.alias("fp"))
    )


def simhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_blocks: int = 4,
    hamming_threshold: int = 3,
    max_bucket_size: int = 10_000,
    hash_family: str = "md5",
) -> DataFrame:
    """Near-dup candidates by SimHash block matching: split the 64-bit
    fingerprint into `num_blocks` 16-bit blocks; pairs agreeing on any
    block are candidates (pigeonhole: every pair with Hamming distance
    < num_blocks shares at least one block — full recall at the
    threshold), then the cheap Hamming check `bit_count(fp_a ^ fp_b) <=
    hamming_threshold` discards the block-collision false positives
    BEFORE any expensive text-level verification. On corpora with a
    shared vocabulary, block collisions vastly outnumber true near-dups
    (hundreds of thousands vs hundreds at sf0.1) — the precision filter
    is what makes the downstream Jaccard verify affordable.

    Same explode→bucket shape as MinHash LSH: no cross join; the
    shuffle is n_docs × num_blocks rows, and fingerprints ride along in
    the bucket groups so nothing is recomputed or re-joined. The same
    `max_bucket_size` guard as `_bucket_pairs` drops degenerate
    (block, val) buckets before their member list materializes."""
    width = 64 // num_blocks
    fp = F.col("fp")
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("block"),
                F.shiftrightunsigned(fp, b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("val"),
            )
            for b in range(num_blocks)
        ]
    )
    keyed = (
        simhash_fingerprints(docs, text_col, hash_family=hash_family)
        .select("doc_id", "fp", F.explode(blocks).alias("kb"))
        .select("doc_id", "fp", "kb.block", "kb.val")
    )
    keyed = _cap_buckets(keyed, ["block", "val"], max_bucket_size)
    grouped = (
        keyed.groupBy("block", "val")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "fp"))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    return (
        _pair_explode(grouped, "ms", "a", "b")
        .filter(
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
            <= hamming_threshold
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
