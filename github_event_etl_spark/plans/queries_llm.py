"""Declared queries — Part B11: LLM-data-pipeline operators
(SURVEY.md §2 B11; north-star mandate in BASELINE.json).

Everything the reference lacks but a 100 TB training-data pipeline
needs: content dedup (exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine), similarity search (brute-force + LSH + IVF), text
analysis (tokens, quality, language ID, fingerprints), and multimodal
column plumbing.

Oracle discipline: every hash used on an oracle-checked path is md5 /
sha256 hex — engine-portable, so the MinHash-LSH, SimHash, RHP-LSH,
and IVF *pipelines* are all checked value-for-value against DuckDB
(each oracle recomputes the same signatures/fingerprints/buckets in
SQL). The one rows-only key is the HLL `agg_approx_distinct`
(approximate by design, pinned by an error-bound pytest instead).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.multimodal import (
    attach_fake_media,
    extract_features,
    resize_media,
    sample_frames,
)
from ..operators.sampling import stratified_sample
from ..operators.merge import snapshot_diff
from ..operators.similarity import (
    ann_ivf,
    ann_ivf_partitioned,
    ivf_assign,
    ann_ivf_pq,
    ann_ivf_pq_refine,
    ann_lsh,
    ann_recall,
    cosine,
    cosine_dup_pairs,
    cosine_dup_pairs_lsh,
    incremental_dedup_semantic,
    ivf_pq_write_index,
    ivf_seed_centroids,
    jl_plane_rows,
    jl_projection,
    rhp_write_index,
    ann_pq_adc,
    ivf_write_index,
    kmeans_refine_int,
    knn_bruteforce,
    pq_codebook,
    pq_codes,
)
from ..operators.text_analysis import (
    LANG_MARKERS,
    BLOCKED_DOMAINS,
    BOILERPLATE_MARKERS,
    STOPWORDS,
    TOKEN_REGEX,
    URL_DOMAIN_REGEX,
    boilerplate_hits,
    bow_fingerprint,
    chunk_tokens,
    dup_word_fraction,
    dup_word_fraction_tokens,
    lang_id,
    lang_id_tokens,
    mean_word_len,
    bpe_merge_pairs,
    quality_score,
    quality_score_tokens,
    regex_token_count,
    top_bigram_fraction,
    top_bigram_fraction_tokens,
    url_domain,
    winnow_fingerprints,
    ws_token_count,
)
from ..operators.index_maintenance import (
    _MANIFEST_FORMAT, apply_index_diff,
)
from ..operators.text_dedup import (
    _let,
    dedup_exact,
    duplicated_spans,
    incremental_dedup,
    incremental_dedup_minhash,
    jaccard_ngram,
    minhash_candidate_pairs,
    minhash_write_index,
    remove_spans,
    simhash_candidate_pairs,
    verify_pairs_jaccard,
    word_shingles_tokens,
    words,
)
from ..operators.vocab import tfidf_topk, unigram_rarity
from ..scratch import materialize_once, scratch_dir
from ..sources.tables import load_table
from .catalog import query


# The indexed-fixture keys below materialize their index tree once per
# dataset through `scratch.materialize_once`. Each spec carries the
# key's ORACLE SQL next to the geometry and the input schema: the
# oracle is the complete public description of the expected output
# (plant literals, residue classes, split rule, banding geometry), so
# any fixture edit either changes the spec — the tree is rewritten —
# or desynchronizes fixture from oracle, which the sf0.001
# differential pytest fails loudly on the spot (ADVICE r15 item 3;
# hand-picked constants alone silently missed the residue moduli).
# A tree served as an index (`read_index`, `apply_index_diff`) also
# carries the manifest format.

# --------------------------------------------------------------------------
# Shared SQL fragments (DuckDB dialect), kept in lockstep with the Spark
# column functions they mirror. md5/sha256 hex and explicit DOUBLE
# arithmetic make the two engines value-identical.

_TOK = r"string_split_regex(trim(text), '\s+')"
_TOK_LOWER = r"string_split_regex(trim(lower(text)), '\s+')"
def _shingles_sql(k: int) -> str:
    """Word k-gram shingles of token list `w` (empty when < k words) —
    ONE formula, parameterized; `_SHINGLES` is its k=3 instance (the
    repo-wide shingle size), byte-identical to the literal it
    replaced so every registered oracle's text is unchanged."""
    return (
        f"CASE WHEN len(w) >= {k} THEN list_transform(range(1, len(w)-{k - 2}),"
        f" i -> array_to_string(w[i:i+{k - 1}], ' ')) ELSE [] END"
    )


# word 3-gram shingles of token list w (empty when < 3 words)
_SHINGLES = _shingles_sql(3)

_NUM_HASHES = 12
_NUM_BANDS = 4
_ROWS_PER_BAND = 3
_JACCARD_THRESHOLD = 0.8


def _minhash_sig_sql(num_hashes: int) -> str:
    """The Kirsch-Mitzenmacher MinHash signature formula over a
    `shingles` column — ONE copy shared by every oracle that
    recomputes MinHash (the full-corpus key, the incremental twin, and
    the composed e2e report), so a fix to the lane arithmetic can
    never land in one oracle and silently not the others. Lane j's
    hash is h1 + j*h2 on the md5 digest's 56-bit hex halves
    (text_dedup.py minhash_signature); identical hex parse both
    engines."""
    return f"""list_transform(range(0, {num_hashes}),
             j -> list_aggregate(list_transform(shingles,
                      s -> ('0x' || substr(md5(s), 1, 14))::BIGINT
                           + j * ('0x' || substr(md5(s), 15, 14))::BIGINT),
                  'min'))"""


def _minhash_bucket_sql(rows_per_band: int) -> str:
    """The per-band bucket digest over a `sig` column and band index
    `b.band` — the second half of the shared MinHash formula pair (see
    `_minhash_sig_sql`)."""
    return f"""md5(array_to_string(list_transform(
             sig[b.band*{rows_per_band}+1 : b.band*{rows_per_band}+{rows_per_band}],
             x -> x::VARCHAR), ','))"""
_COSINE_THRESHOLD = 0.4
_KNN_QUERIES = 8
_KNN_K = 10

def _dot_sql_dim(a: str, b: str, dim: int) -> str:
    """Sequential-fold dot product of two DuckDB list columns at an
    arbitrary dimensionality — THE dot spelling every cosine oracle
    derives from (one source of truth; a stability tweak made here
    reaches all of them, per the r16 review)."""
    return (
        f"list_aggregate(list_transform(range(1, {dim + 1}),"
        f" i -> {a}[i]*{b}[i]), 'sum')"
    )


def _cos_sql_dim(a: str, b: str, dim: int) -> str:
    na = f"sqrt({_dot_sql_dim(a, a, dim)})"
    nb = f"sqrt({_dot_sql_dim(b, b, dim)})"
    return f"({_dot_sql_dim(a, b, dim)} / ({na} * {nb}))"


def _cos_sql(a: str, b: str) -> str:
    """The embedding table's native 64-dim cosine, used by most
    oracles."""
    return _cos_sql_dim(a, b, 64)


def _in_list(items) -> str:
    return ", ".join(f"'{x}'" for x in items)


# ------------------------------------------------------------- exact dedup


@query(
    "llm_dedup_exact",
    oracle="""
    SELECT sha256(lower(trim(text))) AS content_hash,
           min(doc_id) AS rep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("llm", "dedup"),
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: group by sha256 of normalized text, keep the
    min-doc_id representative + copy count. One skew-free shuffle on a
    uniform 256-bit key; map-side partial agg (operators/text_dedup.py)."""
    return dedup_exact(load_table(spark, sf_dir, "documents"))


# -------------------------------------------------------- incremental dedup

# Deterministic planted duplicates (the documents table has no natural
# exact copies — same fixture style as the PII/span/curation plants,
# identical construction in both engines). The 80/20 corpus/batch split
# keys on doc_id % 10 ∈ {8, 9}; the two plants are chosen against it:
# - doc_id % 20 == 8  ⇒ one shared literal. Every member has
#   doc_id % 10 == 8, so the whole group sits INSIDE the batch: its
#   min-id member exercises 'new', the rest 'dup_batch'.
# - doc_id % 3 == 2 (and not the above) ⇒ literal keyed by
#   doc_id % 33. 33 ⊥ 10, so each group's members sweep every doc_id
#   % 10 residue — guaranteed corpus members, exercising 'dup_corpus'.
# Un-planted docs keep their (corpus-unique) text ⇒ 'new'.
_INCR_BATCH_SPLIT = 8  # doc_id % 10 >= 8 ⇒ incoming batch
# Degenerate-bucket cap for the incremental MinHash key, passed
# explicitly to incremental_dedup_minhash AND mirrored in the oracle's
# b_ok/c_ok HAVING clauses (the cap drops WHOLE oversized buckets
# deterministically, so the two engines stay value-identical at every
# SF — the planted dup groups grow ~N/20 with corpus size, so past
# ~200k docs the cap genuinely binds and an uncapped oracle would
# diverge).
_INCR_MAX_BUCKET = 10_000
_INCR_PLANT = """CASE WHEN doc_id % 20 = 8
         THEN 'planted batch-only passage'
         WHEN doc_id % 3 = 2
         THEN 'planted shared passage ' || CAST(doc_id % 33 AS VARCHAR)
         ELSE text END"""

_INCR_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
         sha256(lower(trim({_INCR_PLANT}))) AS content_hash,
         doc_id % 10 >= {_INCR_BATCH_SPLIT} AS is_batch
  FROM documents
),
corpus_idx AS (
  SELECT content_hash, min(doc_id) AS corpus_first
  FROM h WHERE NOT is_batch GROUP BY 1
),
batch_idx AS (
  SELECT content_hash, min(doc_id) AS batch_first
  FROM h WHERE is_batch GROUP BY 1
)
SELECT b.doc_id, b.content_hash,
       CASE WHEN c.corpus_first IS NOT NULL THEN 'dup_corpus'
            WHEN b.doc_id > bi.batch_first THEN 'dup_batch'
            ELSE 'new' END AS status,
       CAST(CASE WHEN c.corpus_first IS NOT NULL THEN c.corpus_first
                 WHEN b.doc_id > bi.batch_first THEN bi.batch_first
            END AS BIGINT) AS first_seen_doc_id
FROM h b
LEFT JOIN corpus_idx c USING (content_hash)
JOIN batch_idx bi USING (content_hash)
WHERE b.is_batch
"""


@query("llm_dedup_incremental", oracle=_INCR_ORACLE, tags=("llm", "dedup"))
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: classify an incoming 20% batch of documents
    against the already-indexed 80% corpus — 'dup_corpus' (content
    already indexed, with the corpus' first holder), 'dup_batch'
    (first-wins within the increment), or 'new'. This is the dedup a
    continuously-fed training pipeline actually runs: the daily
    increment is checked against a content-hash index, never by
    re-deduplicating the full 100 TB corpus.

    Scale shape (operators/text_dedup.py::incremental_dedup): the
    corpus side is consumed once and never fully shuffled — a broadcast
    semi-join against the batch's distinct hashes map-side-filters it
    to recurring content before the only corpus-touching aggregate;
    everything else is batch-sized. Planted duplicates (header comment)
    make all three statuses fire deterministically at every SF."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 20 == 8, F.lit("planted batch-only passage")
        )
        .when(
            F.col("doc_id") % 3 == 2,
            F.concat(
                F.lit("planted shared passage "),
                (F.col("doc_id") % 33).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    is_batch = F.col("doc_id") % 10 >= _INCR_BATCH_SPLIT
    return incremental_dedup(
        corpus=planted.filter(~is_batch), batch=planted.filter(is_batch)
    )


# Near-dup plants for the incremental MinHash key. The whitespace trick
# makes "near-but-not-exact" DETERMINISTIC: variants differ only by one
# internal double space, which `\s+` tokenization collapses — identical
# token sequence ⇒ identical shingles, signatures, and band buckets
# (guaranteed LSH candidates, Jaccard exactly 1.0 ≥ threshold at every
# SF) while the raw texts (and exact-dedup hashes) differ. Group
# geometry mirrors llm_dedup_incremental: doc_id % 20 == 8 is a
# batch-only group (variant split %40, since %20==8 ids are all even);
# doc_id % 3 == 2 keys shared groups by doc_id % 33 (33 ⊥ 10 ⇒ members
# on both sides of the 80/20 split; variant split by parity). The
# group number brackets the passage (first AND last token) so two
# DIFFERENT groups differ in 4 of 12 shingles — cross-group Jaccard is
# exactly 8/12 < 0.8, keeping groups isolated at the threshold (a
# trailing-only number leaves 8/10 = the threshold itself).
_INCRM_SHARED = "planted minhash shared passage kappa lambda mu nu xi omicron"
_INCRM_SHARED_WIDE = _INCRM_SHARED.replace("planted ", "planted  ", 1)
_INCRM_BATCH = "planted minhash batch passage alpha beta gamma delta epsilon"
_INCRM_BATCH_WIDE = _INCRM_BATCH.replace("planted ", "planted  ", 1)

def _incrm_oracle(max_bucket: int) -> str:
    """The incremental-MinHash oracle with the degenerate-bucket cap
    interpolated — parameterized so the cap-binding differential test
    (tests/test_llm.py) can run BOTH engines at a tiny cap and prove
    the b_ok/c_ok mirror is exact where it actually drops buckets."""
    return f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 20 = 8 THEN
                CASE WHEN doc_id % 40 = 8
                     THEN '{_INCRM_BATCH_WIDE}' ELSE '{_INCRM_BATCH}' END
              WHEN doc_id % 3 = 2 THEN
                CAST(doc_id % 33 AS VARCHAR) || ' ' ||
                (CASE WHEN doc_id % 2 = 0
                      THEN '{_INCRM_SHARED_WIDE}' ELSE '{_INCRM_SHARED}' END)
                || ' ' || CAST(doc_id % 33 AS VARCHAR)
              ELSE text END AS text,
         doc_id % 10 >= {_INCR_BATCH_SPLIT} AS is_batch
  FROM documents
),
tok AS (SELECT doc_id, is_batch, {_TOK} AS w FROM planted),
sh AS (SELECT doc_id, is_batch, {_SHINGLES} AS shingles FROM tok),
sig AS (
  SELECT doc_id, is_batch,
         {_minhash_sig_sql(_NUM_HASHES)} AS sig
  FROM sh
),
bands AS (
  SELECT doc_id, is_batch, b.band,
         {_minhash_bucket_sql(_ROWS_PER_BAND)} AS bucket
  FROM sig, (SELECT unnest(range(0, {_NUM_BANDS})) AS band) b
),
-- Degenerate-bucket guard, mirroring _cap_buckets exactly: a bucket
-- with more than {max_bucket} members ON ITS SIDE is dropped
-- WHOLE from that side's candidate join (members still pair through
-- their other bands). Spark caps the corpus side after semi-filtering
-- it against the batch's band keys, but the semi-filter keeps whole
-- buckets, so per-bucket counts over the full corpus banding are
-- identical for every bucket that can produce a candidate.
b_ok AS (
  SELECT d.* FROM bands d
  JOIN (SELECT band, bucket FROM bands WHERE is_batch
        GROUP BY 1, 2 HAVING count(*) <= {max_bucket}) k
  USING (band, bucket)
  WHERE d.is_batch
),
c_ok AS (
  SELECT d.* FROM bands d
  JOIN (SELECT band, bucket FROM bands WHERE NOT is_batch
        GROUP BY 1, 2 HAVING count(*) <= {max_bucket}) k
  USING (band, bucket)
  WHERE NOT d.is_batch
),
sets AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
cross_ver AS (
  SELECT * FROM (
    SELECT cc.batch_id, cc.corpus_id,
           round(CASE WHEN len(list_distinct(x.s || y.s)) > 0
                 THEN len(list_intersect(x.s, y.s))::DOUBLE
                      / len(list_distinct(x.s || y.s))::DOUBLE
                 ELSE 0.0 END, 6) AS jaccard
    FROM (
      SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
      FROM b_ok b JOIN c_ok c ON b.band = c.band AND b.bucket = c.bucket
    ) cc
    JOIN sets x ON cc.batch_id = x.doc_id
    JOIN sets y ON cc.corpus_id = y.doc_id
  ) WHERE jaccard >= {_JACCARD_THRESHOLD}
),
intra_ver AS (
  SELECT * FROM (
    SELECT ic.doc_a, ic.doc_b,
           round(CASE WHEN len(list_distinct(x.s || y.s)) > 0
                 THEN len(list_intersect(x.s, y.s))::DOUBLE
                      / len(list_distinct(x.s || y.s))::DOUBLE
                 ELSE 0.0 END, 6) AS jaccard
    FROM (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM b_ok l JOIN b_ok r ON l.band = r.band AND l.bucket = r.bucket
                           AND l.doc_id < r.doc_id
    ) ic
    JOIN sets x ON ic.doc_a = x.doc_id
    JOIN sets y ON ic.doc_b = y.doc_id
  ) WHERE jaccard >= {_JACCARD_THRESHOLD}
),
cross_best AS (
  SELECT batch_id, min(corpus_id) AS corpus_match,
         arg_min(jaccard, corpus_id) AS corpus_jaccard
  FROM cross_ver GROUP BY 1
),
intra_best AS (
  SELECT doc_b, min(doc_a) AS batch_match,
         arg_min(jaccard, doc_a) AS batch_jaccard
  FROM intra_ver GROUP BY 1
)
SELECT p.doc_id,
       CASE WHEN cb.corpus_match IS NOT NULL THEN 'dup_corpus'
            WHEN ib.batch_match IS NOT NULL THEN 'dup_batch'
            ELSE 'new' END AS status,
       CAST(coalesce(cb.corpus_match, ib.batch_match) AS BIGINT)
         AS matched_doc_id,
       CASE WHEN cb.corpus_match IS NOT NULL THEN cb.corpus_jaccard
            ELSE ib.batch_jaccard END AS jaccard_r
FROM planted p
LEFT JOIN cross_best cb ON p.doc_id = cb.batch_id
LEFT JOIN intra_best ib ON p.doc_id = ib.doc_b
WHERE p.is_batch
"""


_INCRM_ORACLE = _incrm_oracle(_INCR_MAX_BUCKET)


@query(
    "llm_dedup_incremental_minhash", oracle=_INCRM_ORACLE, tags=("llm", "dedup")
)
def llm_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dedup: classify the incoming 20% batch against
    the indexed 80% corpus by MinHash-LSH banding + exact Jaccard
    verification — the production counterpart of `llm_dedup_minhash_lsh`
    (which near-dedups a whole corpus at once): a daily increment is
    checked against the corpus band index, never by re-near-deduping
    100 TB. One row per batch doc: dup_corpus (smallest verified corpus
    near-dup) / dup_batch (first-wins within the increment) / new, with
    the matched doc's Jaccard.

    Scale shape (operators/text_dedup.py::incremental_dedup_minhash):
    corpus band keys are computed map-side and semi-filtered against a
    broadcast of the batch's band keys before anything else touches
    them — the corpus never pair-expands and never fully shuffles; both
    cross-candidate sides are capped per (band, bucket) against
    degenerate buckets; every shuffle is batch/candidate-sized.

    Plants (header comment): whitespace-variant passages give
    deterministic near-not-exact duplicates (identical shingles ⇒
    guaranteed candidates, Jaccard 1.0) in a batch-only group and in
    cross-split groups, so all three statuses fire at every SF. The
    md5 hash family keeps the whole chain engine-portable: DuckDB
    recomputes identical signatures, buckets, candidates, and
    verdicts, so status, matched id, AND Jaccard are value-checked."""
    return _incrm_classified(spark, sf_dir)


def _incrm_split(spark: SparkSession, sf_dir: str):
    """The incremental-MinHash planted fixture's (corpus, batch)
    split — ONE copy, shared by the in-memory key, the indexed key,
    and the cap-binding differential test (fixture-lives-once rule)."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 20 == 8,
            F.when(
                F.col("doc_id") % 40 == 8, F.lit(_INCRM_BATCH_WIDE)
            ).otherwise(F.lit(_INCRM_BATCH)),
        )
        .when(
            F.col("doc_id") % 3 == 2,
            F.concat(
                (F.col("doc_id") % 33).cast("string"),
                F.lit(" "),
                F.when(
                    F.col("doc_id") % 2 == 0, F.lit(_INCRM_SHARED_WIDE)
                ).otherwise(F.lit(_INCRM_SHARED)),
                F.lit(" "),
                (F.col("doc_id") % 33).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    is_batch = F.col("doc_id") % 10 >= _INCR_BATCH_SPLIT
    return planted.filter(~is_batch), planted.filter(is_batch)


def _incrm_classified(
    spark: SparkSession, sf_dir: str, max_bucket_size: int = _INCR_MAX_BUCKET
) -> DataFrame:
    """llm_dedup_incremental_minhash's body with the bucket cap
    exposed, so the cap-binding differential test can run the SAME
    fixture at a tiny cap against `_incrm_oracle(cap)` — the fixture
    lives once; tests must not rebuild it by hand."""
    corpus, batch = _incrm_split(spark, sf_dir)
    return incremental_dedup_minhash(
        corpus=corpus,
        batch=batch,
        threshold=_JACCARD_THRESHOLD,
        num_bands=_NUM_BANDS,
        rows_per_band=_ROWS_PER_BAND,
        max_bucket_size=max_bucket_size,
    )


def llm_dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash near-dedup against a PRE-MATERIALIZED
    signature index — the production layout every incremental twin's
    docstring promises ("the corpus band index is a pre-materialized
    table and the corpus banding scan disappears"), made physical: the
    (doc_id, band, bucket) index is written band-partitioned to the
    dataset's scratch tree (`minhash_write_index`, one shuffle-free
    Arrow-banding pass — in production this runs per corpus SNAPSHOT,
    not per increment), and the classify reads it back (`read_index`)
    instead of re-shingling and re-minhashing every corpus document on
    every daily run. At 100 TB the per-increment corpus work drops from
    an O(corpus × shingles × hashes) CPU pass to a column-pruned
    narrow-row index scan that is immediately broadcast-semi-filtered
    to the increment's band keys.

    Same fixture (`_incrm_split`), same skeleton (the shared
    `_incremental_classify_lsh` with `corpus_index` supplied), same
    statuses and first-wins/min-corpus contract — so results are
    IDENTICAL to `llm_dedup_incremental_minhash`, whose catalog slot
    (full `_INCRM_ORACLE` DuckDB oracle, cap mirror included) verifies
    this computation too. Public API but deliberately NOT a catalog
    slot since r19 (the `llm_token_shards` precedent, executed per the
    catalog's indexed-twin consolidation note): the pair held two slots
    for one verified result, and the registry sat at the 150-key
    staleness boundary. Pytest pins the in-memory/indexed frame
    equality directly (so this path cannot drift from the verified
    slot) and plan-gates that the indexed classify carries strictly
    fewer Arrow banding UDF evaluations (the corpus banding is gone);
    bench.py keeps its component census seat."""
    corpus, batch = _incrm_split(spark, sf_dir)
    # built per corpus SNAPSHOT in production: once per dataset here
    index = scratch_dir(sf_dir, "minhash_index")
    materialize_once(
        index,
        {
            "num_bands": _NUM_BANDS, "rows_per_band": _ROWS_PER_BAND,
            "k": 3, "oracle": _INCRM_ORACLE,
            "schema": corpus.schema.simpleString(),
            "manifest_format": _MANIFEST_FORMAT,
        },
        lambda p: minhash_write_index(
            corpus, p, num_bands=_NUM_BANDS, rows_per_band=_ROWS_PER_BAND,
        ),
    )
    return incremental_dedup_minhash(
        corpus=corpus,
        batch=batch,
        threshold=_JACCARD_THRESHOLD,
        num_bands=_NUM_BANDS,
        rows_per_band=_ROWS_PER_BAND,
        max_bucket_size=_INCR_MAX_BUCKET,
        corpus_index=index,
    )


# ----------------------------------------------------------- MinHash + LSH


# The candidate+verify CTE chain (tokens → shingles → KM signatures →
# band buckets → candidate pairs → exact Jaccard), shared by the
# near-dup key's oracle and the threshold-sweep report's so the SQL
# pipeline can never drift from itself: `ver` has no threshold filter,
# each consumer applies its own.
_MINHASH_VER_CTES = f"""
WITH tok AS (
  SELECT doc_id, {_TOK} AS w FROM documents
),
sh AS (
  SELECT doc_id, {_SHINGLES} AS shingles FROM tok
),
sig AS (
  -- Kirsch-Mitzenmacher lanes: ONE md5 per shingle, lane j's hash is
  -- h1 + j*h2 on the digest's 56-bit hex halves (text_dedup.py
  -- minhash_signature); identical hex parse both engines
  SELECT doc_id,
         {_minhash_sig_sql(_NUM_HASHES)} AS sig
  FROM sh
),
bands AS (
  SELECT doc_id, b.band,
         {_minhash_bucket_sql(_ROWS_PER_BAND)} AS bucket
  FROM sig, (SELECT unnest(range(0, {_NUM_BANDS})) AS band) b
),
cand AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l
  JOIN bands r ON l.band = r.band AND l.bucket = r.bucket
              AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
sets AS (
  SELECT doc_id, list_distinct(shingles) AS s FROM sh
),
ver AS (
  SELECT c.doc_a, c.doc_b,
         round(CASE WHEN len(list_distinct(x.s || y.s)) > 0
               THEN len(list_intersect(x.s, y.s))::DOUBLE
                    / len(list_distinct(x.s || y.s))::DOUBLE
               ELSE 0.0 END, 6) AS jaccard
  FROM cand c
  JOIN sets x ON c.doc_a = x.doc_id
  JOIN sets y ON c.doc_b = y.doc_id
)"""

_MINHASH_ORACLE = f"""{_MINHASH_VER_CTES}
SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= {_JACCARD_THRESHOLD}
"""


@query("llm_dedup_minhash_lsh", oracle=_MINHASH_ORACLE, tags=("llm", "dedup"))
def llm_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup via MinHash-LSH banding + exact Jaccard verification
    (operators/text_dedup.py). The md5 hash family makes the whole
    pipeline deterministic and oracle-checkable — DuckDB recomputes the
    identical signatures, bands, candidates, and verdicts.

    Scale shape: signatures map-side; the only shuffles are the
    (band, bucket) exchange (n_docs × n_bands rows) and two doc_id
    equi-joins for verification. No cross join at any size."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(
        docs,
        num_bands=_NUM_BANDS,
        rows_per_band=_ROWS_PER_BAND,
    )
    return verify_pairs_jaccard(pairs, docs, _JACCARD_THRESHOLD)


# The verify-threshold grid the sweep report evaluates. The lowest
# point doubles as the verify filter: banding candidates with Jaccard
# below it never enter the report.
_SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)

_SWEEP_ORACLE = f"""{_MINHASH_VER_CTES},
grid AS (
  SELECT unnest([{", ".join(str(t) for t in _SWEEP_THRESHOLDS)}]::DOUBLE[])
    AS threshold
),
members AS (
  SELECT g.threshold, m.doc_id
  FROM grid g
  JOIN ver v ON v.jaccard >= g.threshold
  CROSS JOIN (SELECT unnest([v.doc_a, v.doc_b]) AS doc_id) m
),
rep AS (
  SELECT threshold,
         count(*) // 2 AS pairs_kept,
         count(DISTINCT doc_id) AS docs_flagged
  FROM members GROUP BY 1
)
SELECT g.threshold,
       CAST(coalesce(r.pairs_kept, 0) AS BIGINT) AS pairs_kept,
       CAST(coalesce(r.docs_flagged, 0) AS BIGINT) AS docs_flagged
FROM grid g LEFT JOIN rep r ON g.threshold = r.threshold
"""


@query(
    "llm_dedup_threshold_sweep", oracle=_SWEEP_ORACLE, tags=("llm", "dedup")
)
def llm_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verify-threshold sweep report: pairs kept and distinct docs
    flagged at each candidate Jaccard threshold (0.5–0.9) — the
    observability query a pipeline owner runs before moving the
    near-dup threshold, answering "how much MORE would 0.7 remove than
    0.8?" without re-running dedup per candidate value. The banding
    config is held fixed: the sweep tunes the VERIFY threshold for the
    existing (bands × rows) recall curve; re-banding is a different
    (and far more expensive) experiment.

    Plan shape — the MinHash candidate+verify machinery runs ONCE, not
    once per threshold: candidates verified at the grid's minimum, a
    5-row threshold grid broadcast against the verified pairs (bounded
    non-equi join: |ver| × ≤5 rows), pairs exploded to member grain so
    ONE 5-group aggregate yields both counts (pairs = member rows / 2
    exactly — every pair contributes two members; distinct docs via
    count_distinct). Adding a grid point adds a literal, not a scan.
    The oracle shares the `ver` CTE chain with `llm_dedup_minhash_lsh`
    verbatim and re-derives the same report in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(
        docs, num_bands=_NUM_BANDS, rows_per_band=_ROWS_PER_BAND
    )
    ver = verify_pairs_jaccard(pairs, docs, min(_SWEEP_THRESHOLDS))
    grid = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], "threshold double"
    )
    members = (
        ver.join(F.broadcast(grid), F.col("jaccard") >= F.col("threshold"))
        .select("threshold", F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
    )
    rep = members.groupBy("threshold").agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("pairs_kept"),
        F.count_distinct("doc_id").cast("long").alias("docs_flagged"),
    )
    return (
        grid.join(rep, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("pairs_kept", F.lit(0)).cast("long").alias("pairs_kept"),
            F.coalesce("docs_flagged", F.lit(0))
            .cast("long")
            .alias("docs_flagged"),
        )
    )


# Mirrors simhash_candidate_pairs(max_bucket_size=...) — the oracle
# must drop the same degenerate (block, val) buckets the Spark side
# drops, or a capped bucket at a larger SF would silently diverge.
_SIMHASH_MAX_BUCKET = 10_000

_SIMHASH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK}) AS t FROM documents
),
h AS (
  -- token hash = first 16 hex chars of md5, parsed as two 32-bit
  -- halves so neither engine left-shifts into the sign bit
  -- (text_dedup.py simhash_fingerprints, md5 family)
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
),
fp AS (
  -- weights are distinct powers of two, so SUM == bitwise OR; bit 63's
  -- weight is Long.MIN_VALUE (two's complement), matching Spark's fold
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN
               CASE WHEN bit = 63 THEN -9223372036854775807 - 1
                    ELSE 1::BIGINT << bit END
             ELSE 0 END)::BIGINT AS fp
  FROM votes GROUP BY 1
),
blocks AS (
  -- 4 × 16-bit blocks; arithmetic >> then mask == Spark's
  -- shiftrightunsigned then mask
  SELECT doc_id, fp, b.b AS block, (fp >> (b.b * 16)) & 65535 AS val
  FROM fp, (SELECT unnest(range(0, 4)) AS b) b
  -- same degenerate-bucket cap as the Spark side (max_bucket_size):
  -- without it a capped bucket at larger SFs would keep its oracle
  -- candidates while Spark drops them
  QUALIFY COUNT(*) OVER (PARTITION BY block, val) <= {_SIMHASH_MAX_BUCKET}
),
cand AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM blocks l
  JOIN blocks r ON l.block = r.block AND l.val = r.val
              AND l.doc_id < r.doc_id
  WHERE bit_count(xor(l.fp, r.fp)) <= 3
  GROUP BY 1, 2
),
tokw AS (SELECT doc_id, {_TOK} AS w FROM documents),
sets AS (SELECT doc_id, list_distinct({_SHINGLES}) AS s FROM tokw),
ver AS (
  SELECT c.doc_a, c.doc_b,
         round(CASE WHEN len(list_distinct(x.s || y.s)) > 0
               THEN len(list_intersect(x.s, y.s))::DOUBLE
                    / len(list_distinct(x.s || y.s))::DOUBLE
               ELSE 0.0 END, 6) AS jaccard
  FROM cand c
  JOIN sets x ON c.doc_a = x.doc_id
  JOIN sets y ON c.doc_b = y.doc_id
)
SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= {_JACCARD_THRESHOLD}
"""


@query("llm_dedup_simhash", oracle=_SIMHASH_ORACLE, tags=("llm", "dedup"))
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup via 64-bit SimHash block matching (Hamming ≤ 3
    precision filter), verified with exact Jaccard. The fingerprint's
    per-token bits come from md5 hex halves (text_dedup.py
    `simhash_fingerprints` md5 family), so DuckDB recomputes identical
    blocks, candidates, and verdicts — a full value oracle, the same
    trick that upgraded MinHash/RHP/IVF. The xxhash64 twin
    (`hash_family="xxhash64"`) stays as the faster non-oracle path,
    parity-tested in pytest.

    Scale shape: explode→16 hex-parse bit tests per token, map-side
    partial agg (one row per doc crosses the shuffle), one
    (block, val) exchange, capped degenerate buckets, no cross join."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_candidate_pairs(docs, max_bucket_size=_SIMHASH_MAX_BUCKET)
    return verify_pairs_jaccard(pairs, docs, _JACCARD_THRESHOLD)


@query(
    "llm_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, list_distinct({_SHINGLES}) AS s
      FROM (SELECT doc_id, {_TOK} AS w FROM documents)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CASE WHEN len(list_distinct(a.s || b.s)) > 0
                 THEN len(list_intersect(a.s, b.s))::DOUBLE
                      / len(list_distinct(a.s || b.s))::DOUBLE
                 ELSE 0.0 END, 6) AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
    tags=("llm", "dedup"),
)
def llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise word-3-gram Jaccard on consecutive doc ids — the exact
    similarity kernel the LSH paths verify with, exercised standalone."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    return a.join(b, F.col("doc_b") == F.col("doc_a") + 1).select(
        "doc_a",
        "doc_b",
        jaccard_ngram(F.col("ta"), F.col("tb")).alias("jaccard"),
    )


# ------------------------------------------------------- embedding near-dup


@query(
    "llm_dup_cosine_exact",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_cos_sql('a.v', 'b.v')}, 6) AS sim_r
    FROM e a, e b
    WHERE a.vec_id < b.vec_id
      AND {_cos_sql('a.v', 'b.v')} >= {_COSINE_THRESHOLD}
    """,
    tags=("llm", "dedup", "embedding"),
)
def llm_dup_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: exact all-pairs cosine ≥ 0.4
    (the synthetic corpus' planted-neighbor threshold — the nearest
    non-dup pair sits far below). O(N²) baseline; `llm_ann_lsh` /
    `llm_ann_ivf` are the sub-linear paths with the same verify math."""
    return cosine_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), _COSINE_THRESHOLD
    )


_PLANT_OFFSET = 1_000_000  # planted-duplicate id space, clear of any real vec_id
_LSH_DUP_THRESHOLD = 0.98
# llm_dedup_semantic's RHP tuning — module-level so the plan-gate
# (tests/test_plans.py) and sign-margin (tests/test_llm.py) tests gate
# the SAME plane set the query runs; retune here, never inline.
_SEMANTIC_LSH_TABLES = 12
_SEMANTIC_LSH_PLANES = 12

# DuckDB spelling of `_planted_dup_corpus` below — shared by every
# oracle that checks the planted-duplicate fixture (`llm_dup_cosine_lsh`,
# `llm_dedup_semantic`) so the SQL corpus can never drift from the
# Spark one in only one of them. NOTE the index bases: DuckDB
# `list_transform` is 1-based, Spark `transform` is 0-based, hence
# `(vec_id + i - 1)` here ≙ `(vec_id + i)` in the Spark fixture.
_PLANTED_CORPUS_CTE = f"""
    base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    corpus AS (
      SELECT vec_id, v FROM base
      UNION ALL
      SELECT vec_id + {_PLANT_OFFSET} AS vec_id,
             list_transform(range(1, 65),
               i -> v[i] * (CASE WHEN (vec_id + i - 1) % 2 = 0
                            THEN 1.05 ELSE 0.95 END)) AS v
      FROM base
    )"""


def _planted_dup_corpus(emb: DataFrame) -> DataFrame:
    """The base embeddings plus one planted near-duplicate per vector:
    component i scaled by 1.05 when (vec_id + i) is even else 0.95
    (deterministic, index-parity — no RNG, expressible identically in
    SQL). Every planted pair's cosine is ≈ (0.95+0.1α)/√(0.9025+0.2α)
    ≈ 0.99875 under the even-index mass-fraction model (observed min
    0.99874 on the synthetic corpus — the model is a hair loose),
    while the corpus' strongest organic pair sits near 0.5 — a clean
    planted/organic gap for the 0.98 near-dup threshold.

    Id-space guard: every rule downstream of this fixture (the
    `% _PLANT_OFFSET` residue splits, plant-vs-base classification,
    `matched_vec_id` expectations) assumes base vec_ids never reach
    _PLANT_OFFSET — a corpus that outgrows it would COLLIDE planted
    ids with real ones and silently misclassify while both engines
    agree. The plant branch therefore refuses loudly: any input
    vec_id ≥ _PLANT_OFFSET raises at run time (one JVM-side
    comparison per row, codegen-friendly) instead of degrading."""
    guarded_id = F.when(
        F.col("vec_id") < _PLANT_OFFSET, F.col("vec_id")
    ).otherwise(
        F.raise_error(
            F.format_string(
                "planted-dup fixture: vec_id %s >= _PLANT_OFFSET "
                f"{_PLANT_OFFSET} — the planted id space collides with "
                "real ids at this SF; raise _PLANT_OFFSET past "
                "max(vec_id)",
                F.col("vec_id"),
            )
        )
    )
    pert = emb.select(
        (guarded_id + F.lit(_PLANT_OFFSET)).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x
            * F.when((F.col("vec_id") + i) % 2 == 0, F.lit(1.05)).otherwise(
                F.lit(0.95)
            ),
        ).alias("embedding"),
    )
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionAll(pert)


def _rhp_bucket_exprs(num_tables: int, planes: int) -> list[str]:
    """One DuckDB bucket expression per RHP table: the `planes`-char
    sign-bit string `concat(CASE WHEN list_inner_product(v, plane) > 0
    ...)`, with the ±1 hyperplanes interpolated as literals from the
    SAME `_plane_matrix` the Spark `rhp_signatures` UDF
    closure-captures — the planes are md5-derived
    (similarity.py::_hyperplane, no RNG state), so the banding is
    engine-portable and there is exactly ONE source of truth for the
    plane constants. Bit order matches the numpy path: bit p of table
    t is `dot(v, plane[t,p]) > 0`, MSB = plane 0. Shared by all three
    RHP-LSH oracles (pair, cluster, incremental) at their respective
    geometries."""
    from ..operators.similarity import _plane_matrix

    M = _plane_matrix(64, num_tables, planes)
    exprs = []
    for t in range(num_tables):
        bits = []
        for p in range(planes):
            plane = (
                "["
                + ",".join(str(int(x)) for x in M[t * planes + p])
                + "]::DOUBLE[]"
            )
            bits.append(
                f"CASE WHEN list_inner_product(v, {plane}) > 0"
                " THEN '1' ELSE '0' END"
            )
        exprs.append("concat(" + ",\n        ".join(bits) + ")")
    return exprs


def _rhp_sigs_sql(num_tables: int, planes: int) -> str:
    """The per-vector signature LIST literal (one bucket string per
    table), indexable as `sigs[band + 1]`."""
    return (
        "[\n      "
        + ",\n      ".join(_rhp_bucket_exprs(num_tables, planes))
        + "\n      ]"
    )


def _rhp_pairs_cte(num_tables: int, planes: int, max_bucket: int) -> str:
    """Single-side RHP candidate generation over the planted `corpus`
    CTE, mirroring `cosine_dup_pairs_lsh` exactly: per-vector
    signatures → exploded (band, bucket) keys → whole-bucket drop at
    `max_bucket` (`_bucket_pairs`' `_cap_buckets` rule) → distinct
    in-bucket (ia < ib) pairs → exact-cosine verification column.
    Yields the `ver(ia, ib, cs)` CTE; the caller applies its own
    threshold/projection. ONE copy shared by the `llm_dup_cosine_lsh`
    oracle and the pair stage of the `llm_dedup_semantic` oracle (at
    their respective geometries), so the cap mirror can never drift
    between them."""
    return f"""sigv AS (
      -- NULL-vector guard, mirroring rhp_signatures' vecs.notna()
      -- handling: Spark emits NO bands for a NULL embedding, while an
      -- unguarded CASE chain would put it in the all-zeros bucket
      -- here (NULL > 0 is not true), inflating that bucket's
      -- occupancy count in one engine only
      SELECT vec_id, {_rhp_sigs_sql(num_tables, planes)} AS sigs
      FROM corpus WHERE v IS NOT NULL
    ),
    bands AS (
      SELECT vec_id, b.band, sigs[b.band + 1] AS bucket
      FROM sigv, (SELECT unnest(range(0, {num_tables})) AS band) b
    ),
    bounded AS (
      SELECT d.* FROM bands d
      JOIN (SELECT band, bucket FROM bands
            GROUP BY 1, 2 HAVING count(*) <= {max_bucket}) k
      USING (band, bucket)
    ),
    cand AS (
      SELECT DISTINCT l.vec_id AS ia, r.vec_id AS ib
      FROM bounded l JOIN bounded r ON l.band = r.band
         AND l.bucket = r.bucket AND l.vec_id < r.vec_id
    ),
    ver AS (
      SELECT ia, ib, {_cos_sql('x.v', 'y.v')} AS cs
      FROM cand
      JOIN corpus x ON cand.ia = x.vec_id
      JOIN corpus y ON cand.ib = y.vec_id
    )"""




# llm_dup_cosine_lsh's RHP geometry + degenerate-bucket cap, passed
# explicitly to cosine_dup_pairs_lsh AND interpolated into the oracle's
# banding/HAVING mirror (the incremental twins' convention, r15): both
# engines carry the identical whole-bucket drop rule at every SF, so
# the key can never silently diverge when the cap first binds.
_COSINE_LSH_TABLES = 12
_COSINE_LSH_PLANES = 8
_COSINE_LSH_MAX_BUCKET = 10_000


def _cosine_lsh_oracle(max_bucket: int) -> str:
    """The near-dup-pairs oracle with DuckDB-recomputed 12×8 RHP
    banding and the cap interpolated — parameterized so the
    cap-binding differential test can run BOTH engines at cap=2, where
    this geometry's occupancy (~4 vectors/bucket at the test SFs)
    makes survival genuinely per-bucket-count-dependent (simulated:
    139 of 500 planted pairs drop at sf0.001)."""
    return f"""
    WITH {_PLANTED_CORPUS_CTE},
    {_rhp_pairs_cte(_COSINE_LSH_TABLES, _COSINE_LSH_PLANES, max_bucket)}
    SELECT ia AS id_a, ib AS id_b, round(cs, 6) AS sim_r
    FROM ver WHERE cs >= {_LSH_DUP_THRESHOLD}
    """


@query(
    "llm_dup_cosine_lsh",
    oracle=_cosine_lsh_oracle(_COSINE_LSH_MAX_BUCKET),
    tags=("llm", "dedup", "embedding"),
)
def llm_dup_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection the way it runs at 100 TB: RHP-LSH
    bucketing (one (table, sig) shuffle, in-bucket pair expansion with
    the degenerate-bucket cap) followed by exact-cosine verification —
    never an all-pairs scan (operators/similarity.py:
    cosine_dup_pairs_lsh). Run over the corpus with one planted
    index-parity near-duplicate per vector (sim ≥ 0.99875 by
    construction vs ~0.5 for the strongest organic pair).

    The oracle recomputes the SAME 12×8 RHP banding in DuckDB
    (md5-derived planes interpolated from the shared `_plane_matrix`)
    and carries the identical whole-bucket cap (`_rhp_pairs_cte`), so
    candidates, drops, and verdicts are value-checked engine-to-engine
    at every SF — since r15, when the cap mirror closed the former
    all-pairs oracle's silent-divergence window at cap-binding scales.
    Recall remains a fixture property (a planted pair escapes all 12
    tables with p ≈ 1e-11), and precision is exact in both engines."""
    return _dup_cosine_lsh_pairs(spark, sf_dir)


def _dup_cosine_lsh_pairs(
    spark: SparkSession, sf_dir: str,
    max_bucket_size: int = _COSINE_LSH_MAX_BUCKET,
) -> DataFrame:
    """llm_dup_cosine_lsh's body with the bucket cap exposed (the
    `_incrm_classified` convention) for the cap-binding differential
    test — the fixture lives once."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_dup_pairs_lsh(
        _planted_dup_corpus(emb),
        dim=64,
        threshold=_LSH_DUP_THRESHOLD,
        num_tables=_COSINE_LSH_TABLES,
        planes_per_table=_COSINE_LSH_PLANES,
        max_bucket_size=max_bucket_size,
    )


# --------------------------------------------------------- similarity search


@query(
    "llm_knn_bruteforce",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_KNN_QUERIES}),
    s AS (
      SELECT q.qid, e.vec_id AS nid, {_cos_sql('q.qv', 'e.v')} AS sim
      FROM q, e WHERE q.qid <> e.vec_id
    ),
    r AS (
      SELECT qid, nid, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
      FROM s
    )
    SELECT qid, rnk, nid, round(sim, 6) AS sim_r FROM r WHERE rnk <= {_KNN_K}
    """,
    tags=("llm", "similarity"),
)
def llm_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the first 8 vectors as queries. The query
    side is broadcast; the corpus streams through one
    BroadcastNestedLoopJoin scan — no corpus shuffle
    (operators/similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_QUERIES)
    return knn_bruteforce(emb, queries, k=_KNN_K)


@query(
    "llm_ann_lsh",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    planes AS (
      -- the engine's hyperplanes, re-derived from the same recipe:
      -- sign of component d of plane (t,p) is bit 0 of byte 0 of
      -- md5('rhp|' || (t*1000+p) || '|' || d)  (similarity.py
      -- _hyperplane) == parity of the md5 hex digest's 2nd character
      SELECT t.range AS t, p.range AS p,
             list_transform(range(0, 64), d ->
               CASE WHEN substr(md5('rhp|' ||
                        CAST(t.range * 1000 + p.range AS VARCHAR) ||
                        '|' || CAST(d AS VARCHAR)), 2, 1)
                    IN ('1','3','5','7','9','b','d','f')
                    THEN 1.0 ELSE -1.0 END) AS pl
      FROM range(0, 12) t, range(0, 6) p
    ),
    sigs AS (
      -- bit p of table t's signature: '1' iff v . plane > 0, MSB = p0
      SELECT e.vec_id, planes.t,
             string_agg(CASE WHEN {_dot_sql_dim('e.v', 'planes.pl', 64)} > 0
                        THEN '1' ELSE '0' END, '' ORDER BY planes.p) AS sig
      FROM e, planes
      GROUP BY e.vec_id, planes.t
    ),
    qsig AS (SELECT * FROM sigs WHERE vec_id < {_KNN_QUERIES}),
    cand AS (
      SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
      FROM qsig q JOIN sigs c ON c.t = q.t AND c.sig = q.sig
      WHERE c.vec_id <> q.vec_id
    ),
    s AS (
      SELECT cand.qid, cand.nid, {_cos_sql('a.v', 'b.v')} AS sim
      FROM cand
      JOIN e a ON a.vec_id = cand.qid
      JOIN e b ON b.vec_id = cand.nid
    ),
    r AS (
      SELECT qid, nid, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
      FROM s
    )
    SELECT qid, rnk, nid, round(sim, 6) AS sim_r FROM r WHERE rnk <= {_KNN_K}
    """,
    tags=("llm", "similarity"),
)
def llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH: only
    candidates sharing a table bucket are scored. Full value oracle:
    the hyperplanes are md5-derived (no RNG), so DuckDB re-derives the
    identical planes, signatures, candidate set, and ranking — the
    whole pipeline is hash-checked, not just row counts. (Sign bits
    compare a ±1-coefficient dot against 0; a flip would need
    |dot| ≲ 1e-12 on O(1)-magnitude data — not observed at any test
    SF.) Recall vs brute force is additionally asserted in pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_QUERIES)
    return ann_lsh(emb, queries, dim=64, k=_KNN_K, num_tables=12, planes_per_table=6)


# The IVF pipeline is deterministic end-to-end (md5 seeding, cosine
# assignment with id tie-breaks), so it carries a FULL value oracle:
# DuckDB re-derives the same 16 centroids, the same inverted lists, the
# same nprobe=4 probe sets, and the same ranked neighbors.
_IVF_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    cent AS (
      -- the engine's seeding: C smallest md5(id) hex strings
      SELECT vec_id AS centroid_id, v AS cv FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16
    ),
    asg AS (
      -- every vector to its nearest centroid (cosine, id tie-break)
      SELECT vec_id, v, centroid_id FROM (
        SELECT e.vec_id, e.v, cent.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.v', 'cent.cv')} DESC,
                          cent.centroid_id) AS rn
        FROM e, cent
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_KNN_QUERIES}),
    probes AS (
      SELECT qid, qv, centroid_id FROM (
        SELECT q.qid, q.qv, cent.centroid_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY {_cos_sql('q.qv', 'cent.cv')} DESC,
                          cent.centroid_id) AS rn
        FROM q, cent
      ) WHERE rn <= 4
    ),
    s AS (
      SELECT p.qid, a.vec_id AS nid, {_cos_sql('p.qv', 'a.v')} AS sim
      FROM probes p JOIN asg a ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.qid
    ),
    r AS (
      SELECT qid, nid, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
      FROM s
    )
    SELECT qid, rnk, nid, round(sim, 6) AS sim_r FROM r WHERE rnk <= {_KNN_K}
"""


@query("llm_ann_ivf", oracle=_IVF_ORACLE, tags=("llm", "similarity"))
def llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via an IVF index: corpus partitioned by nearest
    of 16 deterministic md5-seeded centroids, queries probe the top-4
    centroid partitions. Full value oracle (see _IVF_ORACLE); recall vs
    brute force additionally asserted in pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_QUERIES)
    return ann_ivf(emb, queries, k=_KNN_K, num_centroids=16, nprobe=4)


@query("llm_ann_ivf_partitioned", oracle=_IVF_ORACLE, tags=("llm", "similarity"))
def llm_ann_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF scale path made physical: the assigned corpus is WRITTEN
    partitioned by centroid_id (one directory per inverted list); the
    probe set is planned on the driver (one small collect when the
    plan is built) and the scan is statically partition-pruned to the
    probed centroids only (operators/similarity.py:ann_ivf_partitioned;
    the executed scan's partition count is gated in
    tests/test_plans.py). Results are identical to llm_ann_ivf — same
    centroids, same ranking — so it shares the same full value oracle
    (_IVF_ORACLE), and pytest asserts the in-memory/on-disk equality
    directly."""
    index = scratch_dir(sf_dir, "ivf_index")
    emb = load_table(spark, sf_dir, "embeddings")
    ivf_write_index(emb, index, num_centroids=16)
    queries = emb.filter(F.col("vec_id") < _KNN_QUERIES)
    return ann_ivf_partitioned(spark, index, queries, k=_KNN_K, nprobe=4)


# Same deterministic assignment chain as _IVF_ORACLE (seeds, cosine
# argmin, id tie-break), aggregated to per-list sizes instead of being
# probed — integer basis-point ratios so the value hash never touches a
# float.
_IVF_SKEW_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS centroid_id, v AS cv FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16
    ),
    asg AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, cent.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.v', 'cent.cv')} DESC,
                          cent.centroid_id) AS rn
        FROM e, cent
      ) WHERE rn = 1
    ),
    sizes AS (
      SELECT centroid_id, COUNT(*) AS list_size
      FROM asg GROUP BY centroid_id
    )
    SELECT centroid_id,
           CAST(list_size AS BIGINT) AS list_size,
           CAST(list_size * 10000 // SUM(list_size) OVER () AS BIGINT)
             AS bp_of_total,
           CAST(list_size * 10000 // MAX(list_size) OVER () AS BIGINT)
             AS bp_of_max
    FROM sizes
"""


@query(
    "llm_ivf_list_skew",
    oracle=_IVF_SKEW_ORACLE,
    tags=("llm", "similarity", "maintenance"),
)
def llm_ivf_list_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-centroid inverted-list size distribution of the IVF
    assignment — the LIST-SKEW monitor as a value-checked report
    (VERDICT r19 item 3): real embedding corpora concentrate mass in
    few cells, and this is the stat a refresh pipeline thresholds to
    re-derive the quantizer (`index_maintenance.maybe_retrain`).
    Columns are the list size
    plus integer basis-point shares of the total and of the hottest
    list (bp_of_max = 10000 marks the hot cell), so the hash compares
    pure integers. The disk-layout twin is
    `index_maintenance.ivf_list_stats` (same derivation over a
    maintained layout's folded state, driver-side dict), covered by
    the planted-hot-cell pytest. Scale shape: the assignment is the
    shared broadcast-centroids cosine argmin (corpus never shuffles);
    the report aggregate moves one row per centroid.

    (Reference analog: the read-side leaderboard summary the scorer
    maintains per hour, update-contributor-scores.js:210-219 — a small
    per-bucket census over a large keyed table.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = ivf_assign(emb, num_centroids=16)
    sizes = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("list_size")
    )
    return sizes.select(
        "centroid_id",
        F.col("list_size").cast("long").alias("list_size"),
        F.expr("list_size * 10000 div sum(list_size) over ()")
        .cast("long")
        .alias("bp_of_total"),
        F.expr("list_size * 10000 div max(list_size) over ()")
        .cast("long")
        .alias("bp_of_max"),
    )


_KM_SCALE = 1_000_000
_KM_DIM = 64
_KM_ITERS = 2
_KM_CENTROIDS = 16


def _km_d2(vq: str, cq: str) -> str:
    """Integer squared L2 between two micro-quantized DuckDB lists."""
    return (
        f"list_aggregate(list_transform(range(1, {_KM_DIM + 1}),"
        f" j -> ({vq}[j] - {cq}[j]) * ({vq}[j] - {cq}[j])), 'sum')"
    )


def _kmeans_oracle() -> str:
    """Unrolled {_KM_ITERS}-iteration fixed-point Lloyd refinement —
    the SQL mirror of operators/similarity.py::kmeans_refine_int
    (same floor-micros quantization, same (d2, centroid_id) argmin
    tie-break, same truncating integer mean, same empty-cluster
    carry-forward)."""
    ctes = [
        f"""WITH e AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * {_KM_SCALE}) AS BIGINT)) AS vq
      FROM embeddings
    ),
    c0 AS (
      SELECT vec_id AS centroid_id, vq AS cq FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_KM_CENTROIDS}
    )"""
    ]
    for i in range(1, _KM_ITERS + 1):
        prev = f"c{i - 1}"
        ctes.append(f"""a{i} AS (
      SELECT vec_id, vq, centroid_id FROM (
        SELECT e.vec_id, e.vq, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_km_d2('e.vq', 'c.cq')}, c.centroid_id) AS rn
        FROM e, {prev} c
      ) WHERE rn = 1
    ),
    m{i} AS (
      SELECT centroid_id, p.pos,
             CAST(SUM(vq[CAST(p.pos AS INT)]) AS BIGINT) // COUNT(*) AS m
      FROM a{i}, (SELECT unnest(range(1, {_KM_DIM + 1})) AS pos) p
      GROUP BY 1, 2
    ),
    n{i} AS (SELECT centroid_id, list(m ORDER BY pos) AS cq
             FROM m{i} GROUP BY 1),
    c{i} AS (
      SELECT c.centroid_id, COALESCE(n.cq, c.cq) AS cq
      FROM {prev} c LEFT JOIN n{i} n USING (centroid_id)
    )""")
    ctes.append(f"""fin AS (
      SELECT vec_id, centroid_id, d2 FROM (
        SELECT e.vec_id, c.centroid_id,
               {_km_d2('e.vq', 'c.cq')} AS d2,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_km_d2('e.vq', 'c.cq')}, c.centroid_id) AS rn
        FROM e, c{_KM_ITERS} c
      ) WHERE rn = 1
    )""")
    return (
        ",\n    ".join(ctes)
        + """
    SELECT centroid_id, COUNT(*)::BIGINT AS n_members,
           CAST(SUM(d2) AS BIGINT) AS sse
    FROM fin GROUP BY 1
    """
    )


@query("llm_ivf_kmeans", oracle=_kmeans_oracle(), tags=("llm", "similarity"))
def llm_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means refinement of the IVF seed centroids — the Lloyd sweep
    the IVF/PQ seeding docstrings name as the production next step,
    run for 2 iterations in exact FIXED-POINT arithmetic so the whole
    iterative computation (quantization, argmin assignment, integer
    centroid means, empty-cluster carry-forward) is bit-identical in
    DuckDB and carries a full value oracle — something float k-means
    cannot do (operators/similarity.py:kmeans_refine_int, scale notes
    there: per iteration one broadcast-assign corpus pass plus a
    C×D-row partial-sum shuffle). Output is the refined clustering
    summary (centroid_id, n_members, sse)."""
    emb = load_table(spark, sf_dir, "embeddings")
    asg = kmeans_refine_int(
        emb,
        num_centroids=_KM_CENTROIDS,
        iters=_KM_ITERS,
        scale=_KM_SCALE,
    )
    return asg.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d2").alias("sse"),
    )


_PQ_SUBSPACES = 8
_PQ_CODEWORDS = 16
_PQ_DSUB = 8  # 64-dim / 8 subspaces


def _pq_ctes() -> str:
    """Shared oracle CTE chain: corpus → md5-rank codebook → all
    (vector, codeword) subspace distances → per-subspace argmin codes.
    llm_pq_codes packs the codes; llm_ann_pq reuses `dists` rows as the
    query-side ADC lookup tables (a query's table IS its dists rows)."""

    def dist(s: int) -> str:
        off = s * _PQ_DSUB
        sq = f"(v[{off} + i] - cv[{off} + i]) * (v[{off} + i] - cv[{off} + i])"
        return (
            f"list_aggregate(list_transform(range(1, {_PQ_DSUB + 1}),"
            f" i -> {sq}), 'sum')"
        )

    dist_cols = ",\n             ".join(
        f"{dist(s)} AS d{s}" for s in range(_PQ_SUBSPACES)
    )
    code_cols = ",\n             ".join(
        f"min({{'d': d{s}, 'r': code_rank}}).r AS c{s}"
        for s in range(_PQ_SUBSPACES)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cb AS (
      -- engine codebook seeding: C smallest md5(id), rank 0-based in
      -- the same order (window is evaluated before LIMIT)
      SELECT vec_id AS code_id, v AS cv,
             CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                     vec_id) - 1 AS INTEGER) AS code_rank
      FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_PQ_CODEWORDS}
    ),
    dists AS (
      SELECT e.vec_id, cb.code_rank,
             {dist_cols}
      FROM e, cb
    ),
    codes AS (
      SELECT vec_id,
             {code_cols}
      FROM dists GROUP BY vec_id
    )
    """


def _pq_oracle() -> str:
    packed = " + ".join(
        f"c{s} * CAST({_PQ_CODEWORDS ** s} AS BIGINT)"
        for s in range(_PQ_SUBSPACES)
    )
    return (
        _pq_ctes()
        + f"SELECT vec_id, CAST({packed} AS BIGINT) AS pq_code FROM codes"
    )


def _ann_pq_oracle() -> str:
    # adist = Σ_s dists[qid][c_s]: the scalar subqueries pick the
    # query's own precomputed subspace distances, added left-to-right
    # in the same order the Spark loop accumulates them.
    adist = " + ".join(
        f"(SELECT d.d{s} FROM dists d"
        f" WHERE d.vec_id = q.vec_id AND d.code_rank = c.c{s})"
        for s in range(_PQ_SUBSPACES)
    )
    return (
        _pq_ctes()
        + f"""
    , scored AS (
      SELECT q.vec_id AS qid, c.vec_id AS nid, ({adist}) AS adist
      FROM codes c, (SELECT vec_id FROM e WHERE vec_id < {_KNN_QUERIES}) q
      WHERE c.vec_id <> q.vec_id
    ),
    r AS (
      SELECT qid, nid, adist,
             row_number() OVER (PARTITION BY qid
                                ORDER BY adist, nid) AS rnk
      FROM scored
    )
    SELECT qid, CAST(rnk AS INTEGER) AS rnk, nid, adist
    FROM r WHERE rnk <= {_KNN_K}
    """
    )


@query("llm_pq_codes", oracle=_pq_oracle(), tags=("llm", "similarity"))
def llm_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization compression of the embedding corpus: 8
    subspaces × 16 codewords → one packed BIGINT per vector, the
    IVF-PQ building block that makes billion-vector search memory
    hold (operators/similarity.py:pq_codes — deterministic md5-seeded
    codebook, broadcast + map-side argmin, struct-min tie-break
    identical in both engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return pq_codes(
        emb,
        num_subspaces=_PQ_SUBSPACES,
        num_codewords=_PQ_CODEWORDS,
        dim=_PQ_SUBSPACES * _PQ_DSUB,
    )


@query("llm_ann_pq", oracle=_ann_pq_oracle(), tags=("llm", "similarity"))
def llm_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search over the compressed corpus: PQ asymmetric
    distance computation — each query's 8×16 lookup table scores every
    vector via 8 array lookups on its packed code, never touching the
    float embeddings (operators/similarity.py:ann_pq_adc; sequential
    model diff in pytest). Same deterministic codebook as
    llm_pq_codes; top-k per query with an (adist, nid) tie-break."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _PQ_SUBSPACES * _PQ_DSUB
    cb = pq_codebook(emb, _PQ_CODEWORDS)
    codes = pq_codes(emb, _PQ_SUBSPACES, _PQ_CODEWORDS, dim, codebook=cb)
    queries = emb.filter(F.col("vec_id") < _KNN_QUERIES)
    return ann_pq_adc(
        codes,
        cb,
        queries,
        k=_KNN_K,
        num_subspaces=_PQ_SUBSPACES,
        num_codewords=_PQ_CODEWORDS,
        dim=dim,
    )


def _ivf_pq_rank_ctes() -> str:
    # IVF probe set composed over the PQ CTE chain: candidates come
    # from the probed inverted lists only, scored by ADC lookups into
    # the query's own precomputed subspace distances (same scalar-
    # subquery form as _ann_pq_oracle, same left-to-right addition).
    # Shared by the straight ADC top-k oracle (llm_ann_ivf_pq) and the
    # exact-re-rank refinement oracle (llm_ann_ivf_pq_refine) — one
    # chain, so the two keys can never drift on the candidate stage;
    # hoisted byte-identically from the r17 _ann_ivf_pq_oracle body.
    adist = " + ".join(
        f"(SELECT d.d{s} FROM dists d"
        f" WHERE d.vec_id = p.qid AND d.code_rank = c.c{s})"
        for s in range(_PQ_SUBSPACES)
    )
    return (
        _pq_ctes()
        + f"""
    , cent AS (
      SELECT vec_id AS centroid_id, v AS cv FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16
    ),
    asg AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, cent.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.v', 'cent.cv')} DESC,
                          cent.centroid_id) AS rn
        FROM e, cent
      ) WHERE rn = 1
    ),
    qv AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < {_KNN_QUERIES}),
    probes AS (
      SELECT qid, centroid_id FROM (
        SELECT q.qid, cent.centroid_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY {_cos_sql('q.v', 'cent.cv')} DESC,
                          cent.centroid_id) AS rn
        FROM qv q, cent
      ) WHERE rn <= 4
    ),
    scored AS (
      SELECT p.qid, a.vec_id AS nid, ({adist}) AS adist
      FROM probes p
      JOIN asg a ON a.centroid_id = p.centroid_id
      JOIN codes c ON c.vec_id = a.vec_id
      WHERE a.vec_id <> p.qid
    ),
    r AS (
      SELECT qid, nid, adist,
             row_number() OVER (PARTITION BY qid
                                ORDER BY adist, nid) AS rnk
      FROM scored
    )"""
    )


def _ann_ivf_pq_oracle() -> str:
    return (
        _ivf_pq_rank_ctes()
        + f"""
    SELECT qid, CAST(rnk AS INTEGER) AS rnk, nid, adist
    FROM r WHERE rnk <= {_KNN_K}
    """
    )


_REFINE_R = 30  # ADC shortlist per query; 3×k, the FAISS refine habit


def _ann_ivf_pq_refine_oracle() -> str:
    # exact re-rank tail over the SAME ADC ranking chain: the top
    # refine_r ADC candidates join back to their true embeddings and
    # re-rank by exact cosine — the knn_bruteforce output convention
    # (qid, rnk, nid, sim_r), because refinement's claim is measured
    # against exact search.
    return (
        _ivf_pq_rank_ctes()
        + f""",
    cand AS (SELECT qid, nid FROM r WHERE rnk <= {_REFINE_R}),
    rescored AS (
      SELECT cand.qid, cand.nid, {_cos_sql('a.v', 'b.v')} AS sim
      FROM cand
      JOIN e a ON a.vec_id = cand.qid
      JOIN e b ON b.vec_id = cand.nid
    ),
    rr AS (
      SELECT qid, nid, sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY sim DESC, nid) AS rnk
      FROM rescored
    )
    SELECT qid, CAST(rnk AS INTEGER) AS rnk, nid, round(sim, 6) AS sim_r
    FROM rr WHERE rnk <= {_KNN_K}
    """
    )


@query("llm_ann_ivf_pq", oracle=_ann_ivf_pq_oracle(), tags=("llm", "similarity"))
def llm_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ similarity search — the flagship ANN composition for a
    100 TB embedding corpus: IVF prunes WHICH vectors are scored
    (top-4 of 16 inverted lists per query) and PQ-ADC prunes WHAT is
    read per vector (8 lookups on a packed BIGINT code)
    (operators/similarity.py:ann_ivf_pq — the FAISS IVFADC layout
    expressed relationally). Deterministic end-to-end (md5 seeding,
    id tie-breaks), so centroids, inverted lists, codebook, codes,
    probe sets, and ADC ranking all carry one full value oracle.
    Recall floor vs llm_knn_bruteforce asserted in pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_QUERIES)
    return ann_ivf_pq(
        emb,
        queries,
        k=_KNN_K,
        num_centroids=16,
        nprobe=4,
        num_subspaces=_PQ_SUBSPACES,
        num_codewords=_PQ_CODEWORDS,
        dim=_PQ_SUBSPACES * _PQ_DSUB,
    )


@query(
    "llm_ann_ivf_pq_refine",
    oracle=_ann_ivf_pq_refine_oracle(),
    tags=("llm", "similarity"),
)
def llm_ann_ivf_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact re-rank refinement — the FAISS IVFADC+refine
    deployment shape (operators/similarity.py:ann_ivf_pq_refine):
    ADC's quantized ranking shortlists the top-30 candidates per
    query, and ONLY that Q×30 frame joins back to true embeddings for
    an exact-cosine final top-10. Corpus cost is unchanged from
    llm_ann_ivf_pq (one probe over the packed inverted lists) plus one
    broadcast-semi-sized embedding fetch; recall@k moves toward brute
    force — recall@k(refined) ≥ recall@k(straight ADC top-k), pinned
    in pytest against llm_knn_bruteforce ground truth. Output is the
    knn_bruteforce shape (qid, rnk, nid, sim_r), full value oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_QUERIES)
    return ann_ivf_pq_refine(
        emb,
        queries,
        k=_KNN_K,
        refine_r=_REFINE_R,
        num_centroids=16,
        nprobe=4,
        num_subspaces=_PQ_SUBSPACES,
        num_codewords=_PQ_CODEWORDS,
        dim=_PQ_SUBSPACES * _PQ_DSUB,
    )


# Recall@k harness over the three in-memory ANN flavors. The LSH, IVF,
# and ground-truth chains are re-derived verbatim inside this oracle
# (free-standing oracle text, so an edit here can never silently
# change what an already-verified key is checked against); the
# IVFADC+refine method composes over the SHARED `_ivf_pq_rank_ctes`
# chain instead — the r18 hoist precedent: the refine stage being
# EVALUATED here must be the byte-identical chain `llm_ann_ivf_pq` /
# `llm_ann_ivf_pq_refine` are hash-verified against, or the recall
# report could green-light a drifted ranking. Name discipline for the
# composition: the chain owns e/cent/qv/probes/asg/r, so the recall
# harness's own full-vector assignment and probe CTEs are asg_v /
# probes_v and its query frame is q.
def _recall_oracle() -> str:
    return (
        _ivf_pq_rank_ctes()
        + f""",
    cand_rf AS (SELECT qid, nid FROM r WHERE rnk <= {_REFINE_R}),
    rescored_rf AS (
      SELECT cand_rf.qid, cand_rf.nid, {_cos_sql('a.v', 'b.v')} AS sim
      FROM cand_rf
      JOIN e a ON a.vec_id = cand_rf.qid
      JOIN e b ON b.vec_id = cand_rf.nid
    ),
    rf AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, nid) AS rnk
        FROM rescored_rf
      ) WHERE rnk <= {_KNN_K}
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e
          WHERE vec_id < {_KNN_QUERIES}),
    gt AS (
      SELECT qid, nid FROM (
        SELECT q.qid, e.vec_id AS nid,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY {_cos_sql('q.qv', 'e.v')} DESC, e.vec_id) AS rnk
        FROM q, e WHERE q.qid <> e.vec_id
      ) WHERE rnk <= {_KNN_K}
    ),
    planes AS (
      SELECT t.range AS t, p.range AS p,
             list_transform(range(0, 64), d ->
               CASE WHEN substr(md5('rhp|' ||
                        CAST(t.range * 1000 + p.range AS VARCHAR) ||
                        '|' || CAST(d AS VARCHAR)), 2, 1)
                    IN ('1','3','5','7','9','b','d','f')
                    THEN 1.0 ELSE -1.0 END) AS pl
      FROM range(0, 12) t, range(0, 6) p
    ),
    sigs AS (
      SELECT e.vec_id, planes.t,
             string_agg(CASE WHEN {_dot_sql_dim('e.v', 'planes.pl', 64)} > 0
                        THEN '1' ELSE '0' END, '' ORDER BY planes.p) AS sig
      FROM e, planes
      GROUP BY e.vec_id, planes.t
    ),
    qsig AS (SELECT * FROM sigs WHERE vec_id < {_KNN_QUERIES}),
    cand AS (
      SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
      FROM qsig q JOIN sigs c ON c.t = q.t AND c.sig = q.sig
      WHERE c.vec_id <> q.vec_id
    ),
    lsh AS (
      SELECT qid, nid FROM (
        SELECT cand.qid, cand.nid,
               row_number() OVER (PARTITION BY cand.qid
                 ORDER BY {_cos_sql('a.v', 'b.v')} DESC, cand.nid) AS rnk
        FROM cand
        JOIN e a ON a.vec_id = cand.qid
        JOIN e b ON b.vec_id = cand.nid
      ) WHERE rnk <= {_KNN_K}
    ),
    asg_v AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT e.vec_id, e.v, cent.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.v', 'cent.cv')} DESC,
                          cent.centroid_id) AS rn
        FROM e, cent
      ) WHERE rn = 1
    ),
    probes_v AS (
      SELECT qid, qv, centroid_id FROM (
        SELECT q.qid, q.qv, cent.centroid_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY {_cos_sql('q.qv', 'cent.cv')} DESC,
                          cent.centroid_id) AS rn
        FROM q, cent
      ) WHERE rn <= 4
    ),
    ivf AS (
      SELECT qid, nid FROM (
        SELECT p.qid, a.vec_id AS nid,
               row_number() OVER (PARTITION BY p.qid
                 ORDER BY {_cos_sql('p.qv', 'a.v')} DESC, a.vec_id) AS rnk
        FROM probes_v p JOIN asg_v a ON a.centroid_id = p.centroid_id
        WHERE a.vec_id <> p.qid
      ) WHERE rnk <= {_KNN_K}
    ),
    ann AS (
      SELECT 'ivf' AS method, qid, nid FROM ivf
      UNION ALL
      SELECT 'lsh' AS method, qid, nid FROM lsh
      UNION ALL
      SELECT 'ivfpq_refine' AS method, qid, nid FROM rf
    ),
    meth AS (SELECT 'ivf' AS method UNION ALL SELECT 'lsh'
             UNION ALL SELECT 'ivfpq_refine'),
    per AS (
      SELECT meth.method, q.qid,
             COUNT(a.nid) AS ann_k, COUNT(g.nid) AS hits
      FROM meth CROSS JOIN q
      LEFT JOIN ann a ON a.method = meth.method AND a.qid = q.qid
      LEFT JOIN gt g ON g.qid = a.qid AND g.nid = a.nid
      GROUP BY meth.method, q.qid
    )
    SELECT method, qid, ann_k::BIGINT AS ann_k, hits::BIGINT AS hits,
           round(hits / {_KNN_K}.0, 6) AS recall_r
    FROM per
"""
    )


@query(
    "llm_ann_recall_eval", oracle=_recall_oracle(), tags=("llm", "similarity")
)
def llm_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k evaluation harness (operators/similarity.py
    ann_recall): all three in-memory ANN flavors — IVF (16 centroids,
    nprobe 4), RHP-LSH (12 tables × 6 planes), and IVFADC+refine
    (the deployment shape: ADC shortlist, exact re-rank; joined the
    harness in r19 so the refine path's recall is REPORTED, not just
    floor-pinned in pytest) — measured per query against the exact
    brute-force top-k ground truth, the acceptance gate a
    vector-search deployment runs before trusting an index. Output is
    one row per (method, query): neighbors returned, ground-truth
    hits, recall@k.

    Full value oracle: every stage on every side is deterministic
    (md5-derived hyperplanes, centroid and codebook seeds, id
    tie-breaks), so DuckDB re-derives ground truth, all three
    candidate sets, all three rankings, and the per-query hit counts —
    the recall NUMBERS are hash-checked, not just bounded. The
    refine method re-derives through the SAME `_ivf_pq_rank_ctes`
    chain its own key is verified against (see `_recall_oracle`); the
    pytest twin cross-checks hits against literal set intersections
    of the collected result sets for all three methods.

    Scale shape: the corpus-sized work is exactly the
    already-audited index paths (broadcast-query scan, signature
    equi-join, probed inverted lists, ADC + broadcast-semi refine
    fetch); the eval itself joins only Q·k-row frames with a
    broadcast ground truth and a bounded 3×Q methods grid."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_QUERIES)
    gt = knn_bruteforce(emb, queries, k=_KNN_K)
    dim = _PQ_SUBSPACES * _PQ_DSUB
    ann = (
        ann_ivf(emb, queries, k=_KNN_K, num_centroids=16, nprobe=4)
        .select(F.lit("ivf").alias("method"), "qid", "nid")
        .unionAll(
            ann_lsh(
                emb,
                queries,
                dim=64,
                k=_KNN_K,
                num_tables=12,
                planes_per_table=6,
            ).select(F.lit("lsh").alias("method"), "qid", "nid")
        )
        .unionAll(
            ann_ivf_pq_refine(
                emb,
                queries,
                k=_KNN_K,
                refine_r=_REFINE_R,
                num_centroids=16,
                nprobe=4,
                num_subspaces=_PQ_SUBSPACES,
                num_codewords=_PQ_CODEWORDS,
                dim=dim,
            ).select(F.lit("ivfpq_refine").alias("method"), "qid", "nid")
        )
    )
    return ann_recall(
        ann,
        gt.select("qid", "nid"),
        queries.select(F.col("vec_id").alias("qid")),
        k=_KNN_K,
        methods=("ivf", "lsh", "ivfpq_refine"),
    )


# -------------------------------------------------------------- text analysis


@query(
    "llm_text_stats",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, text, {_TOK} AS w, {_TOK_LOWER} AS wl
      FROM documents
    )
    SELECT doc_id,
           len(w) AS ws_tokens,
           len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS regex_tokens,
           round(list_aggregate(list_transform(w, x -> length(x)), 'sum')::DOUBLE
                 / len(w)::DOUBLE, 6) AS mean_word_len,
           round(0.4 * least(length(text)::DOUBLE / 500.0, 1.0)
               + 0.4 * least(4.0 * (len(list_filter(wl, x -> x IN ({_in_list(STOPWORDS)})))::DOUBLE
                                    / len(w)::DOUBLE), 1.0)
               + 0.2 * (1.0 - least(10.0 * (length(regexp_replace(text, '[^.,!?;:]', '', 'g'))::DOUBLE
                                            / length(text)::DOUBLE), 1.0)), 6) AS quality
    FROM t
    """,
    tags=("llm", "text"),
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation stats: whitespace + regex token counts,
    mean word length, and the composite quality score — all map-side
    JVM expressions (operators/text_analysis.py)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        ws_token_count(t).alias("ws_tokens"),
        regex_token_count(t).cast("long").alias("regex_tokens"),
        mean_word_len(t).alias("mean_word_len"),
        quality_score(t).alias("quality"),
    )


def _langid_sql() -> str:
    votes = {
        lg: f"len(list_filter(wl, x -> x IN ({_in_list(markers)})))"
        for lg, markers in LANG_MARKERS.items()
    }
    mx = "greatest(" + ", ".join(f"v_{lg}" for lg in LANG_MARKERS) + ")"
    whens = "\n".join(
        f"WHEN v_{lg} > 0 AND v_{lg} = {mx} THEN '{lg}'" for lg in LANG_MARKERS
    )
    vote_cols = ", ".join(f"{sql} AS v_{lg}" for lg, sql in votes.items())
    return rf"""
    WITH t AS (
      SELECT doc_id, lang, {_TOK_LOWER} AS wl FROM documents
    ),
    v AS (SELECT doc_id, lang, {vote_cols} FROM t),
    p AS (
      SELECT lang, CASE {whens} ELSE 'und' END AS pred_lang FROM v
    )
    SELECT lang, pred_lang, count(*) AS n_docs
    FROM p GROUP BY lang, pred_lang
    """


@query("llm_langid", oracle=_langid_sql(), tags=("llm", "text"))
def llm_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID (argmax of per-language stopword votes,
    deterministic tie order) — reported as the (labeled, predicted)
    agreement matrix."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "llm_fingerprint",
    oracle=rf"""
    SELECT md5(array_to_string(list_sort(list_distinct({_TOK_LOWER})), ' ')) AS fp,
           min(doc_id) AS rep_doc_id,
           count(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
    tags=("llm", "text"),
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words md5 fingerprint groups: order-insensitive content
    identity (catches token-shuffled copies exact hashing misses)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(bow_fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


_CURATION_QUALITY_MIN = 0.5
_CURATION_BOILER_MAX = 1  # >= 2 marker phrases reads as boilerplate
# Deterministic planted curation negatives (same construction in both
# engines, like the PII/span fixtures): every doc_id%10==7 doc gains a
# URL on a blocklisted domain, every doc_id%10==3 doc gains a
# boilerplate-heavy footer — each new gate provably fires at every SF.
_CURATION_URL_SUFFIX = " read more at https://spam.example/offer"
_CURATION_BOILER_SUFFIX = (
    " click here to subscribe all rights reserved terms of service apply"
)


def _lang_vote_sql() -> tuple[str, str]:
    """(vote_cols, pred-lang CASE whens) — the SQL mirror of
    text_analysis.lang_id over pre-split lowercase tokens `wl`. Shared
    by the curation and funnel oracles so the language gate is defined
    once."""
    votes = {
        lg: f"len(list_filter(wl, x -> x IN ({_in_list(markers)})))"
        for lg, markers in LANG_MARKERS.items()
    }
    mx = "greatest(" + ", ".join(f"v_{lg}" for lg in LANG_MARKERS) + ")"
    whens = "\n".join(
        f"WHEN v_{lg} > 0 AND v_{lg} = {mx} THEN '{lg}'" for lg in LANG_MARKERS
    )
    vote_cols = ", ".join(f"{sql} AS v_{lg}" for lg, sql in votes.items())
    return vote_cols, whens


# SQL mirrors of text_analysis.quality_score / boilerplate_hits over a
# row with `text`, ws tokens `w`, and lowercase ws tokens `wl` — shared
# by the curation and funnel oracles.
_QUALITY_SQL = f"""round(0.4 * least(length(text)::DOUBLE / 500.0, 1.0)
               + 0.4 * least(4.0 * (len(list_filter(wl, x -> x IN ({_in_list(STOPWORDS)})))::DOUBLE
                                    / len(w)::DOUBLE), 1.0)
               + 0.2 * (1.0 - least(10.0 * (length(regexp_replace(text, '[^.,!?;:]', '', 'g'))::DOUBLE
                                            / length(text)::DOUBLE), 1.0)), 6)"""
_BOILER_SQL = " + ".join(
    f"CASE WHEN lower(text) LIKE '%{m}%' THEN 1 ELSE 0 END"
    for m in BOILERPLATE_MARKERS
)

# SQL mirrors of text_analysis.dup_word_fraction /
# top_bigram_fraction over lowercase ws tokens `wl` (list form) and
# the bigram list `bg` — shared by the repetition-filter and funnel
# oracles so the gate the funnel reports can never drift from the
# filter it mirrors in only one of them.
_DUP_WORD_SQL = """round(1.0 - len(list_distinct(wl))::DOUBLE
                       / len(wl)::DOUBLE, 6)"""
_BIGRAM_LIST_SQL = """CASE WHEN len(wl) >= 2
                  THEN list_transform(range(1, len(wl)),
                                      i -> array_to_string(wl[i:i+1], ' '))
                  ELSE [] END"""
_TOP_BIGRAM_SQL = """CASE WHEN len(bg) > 0 THEN
               round(list_max(list_transform(list_distinct(bg),
                       x -> len(list_filter(bg, y -> y = x))))::DOUBLE
                     / len(bg)::DOUBLE, 6)
             END"""


def _curation_sql() -> str:
    """Oracle for the composite curation pipeline: URL-domain blocklist,
    boilerplate, language-ID and quality gates, exact-dedup
    representative selection, per-language corpus stats. All-integer
    output — no float aggregation order to worry about."""
    vote_cols, whens = _lang_vote_sql()
    quality = _QUALITY_SQL
    boiler = _BOILER_SQL
    blocked = _in_list(BLOCKED_DOMAINS)
    return rf"""
    WITH planted AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 10 = 7 THEN text || '{_CURATION_URL_SUFFIX}'
                  WHEN doc_id % 10 = 3 THEN text || '{_CURATION_BOILER_SUFFIX}'
                  ELSE text END AS text
      FROM documents
    ),
    t AS (
      SELECT doc_id, lang, text, {_TOK} AS w, {_TOK_LOWER} AS wl FROM planted
    ),
    v AS (SELECT doc_id, lang, text, w, wl, {vote_cols} FROM t),
    e AS (
      SELECT doc_id, lang,
             regexp_extract(text, '{URL_DOMAIN_REGEX}', 1) AS domain,
             ({boiler}) AS boiler_hits,
             CASE {whens} ELSE 'und' END AS pred_lang,
             {quality} AS quality,
             len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS toks,
             md5(array_to_string(list_sort(list_distinct(wl)), ' ')) AS fp
      FROM v
    ),
    k AS (
      SELECT * FROM e
      WHERE domain NOT IN ({blocked})
        AND boiler_hits <= {_CURATION_BOILER_MAX}
        AND pred_lang <> 'und' AND quality >= {_CURATION_QUALITY_MIN}
    ),
    r AS (
      SELECT lang, toks,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY fp) AS gsz
      FROM k
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(gsz - 1) AS BIGINT) AS n_dups_removed,
           CAST(sum(toks) AS BIGINT) AS total_tokens
    FROM r WHERE rn = 1
    GROUP BY lang
    """


@query(
    "llm_corpus_curation",
    oracle=_curation_sql(),
    tags=("llm", "text", "pipeline"),
)
def llm_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation composite a training-data pipeline
    actually runs — URL-domain blocklist gate → boilerplate gate (>= 2
    marker phrases reads as chrome, not content) → language gate →
    quality gate → bag-of-words dedup keep-one (catches the corpus'
    token-shuffled copies, which exact hashing misses) → per-language
    corpus accounting — as ONE declared query, proving the operators
    compose in a single plan. Planted negatives (a blocked-domain URL
    on every doc_id%10==7 doc, a boilerplate footer on every
    doc_id%10==3 doc, identical construction in both engines) guarantee
    each gate fires at every SF.

    Plan shape: every per-doc signal (domain, boilerplate hits,
    language votes, quality score, token count, bow fingerprint) is a
    map-side JVM expression over one documents scan; the ONLY shuffle
    is the fingerprint exchange, which both window functions
    (representative rank, duplicate-group size) reuse; the final
    per-language rollup aggregates a handful of rows. At 100 TB: one
    pass, one skew-free shuffle on a 128-bit hash. All-integer output
    keeps the value-hash float-free."""
    docs = load_table(spark, sf_dir, "documents")
    t = (
        F.when(
            F.col("doc_id") % 10 == 7,
            F.concat(F.col("text"), F.lit(_CURATION_URL_SUFFIX)),
        )
        .when(
            F.col("doc_id") % 10 == 3,
            F.concat(F.col("text"), F.lit(_CURATION_BOILER_SUFFIX)),
        )
        .otherwise(F.col("text"))
    )
    e = docs.select(
        "doc_id",
        "lang",
        url_domain(t).alias("domain"),
        boilerplate_hits(t).alias("boiler_hits"),
        lang_id(t).alias("pred_lang"),
        quality_score(t).alias("quality"),
        regex_token_count(t).cast("long").alias("toks"),
        bow_fingerprint(t).alias("fp"),
    ).filter(
        ~F.col("domain").isin(*BLOCKED_DOMAINS)
        & (F.col("boiler_hits") <= _CURATION_BOILER_MAX)
        & (F.col("pred_lang") != "und")
        & (F.col("quality") >= _CURATION_QUALITY_MIN)
    )
    by_fp = Window.partitionBy("fp")
    r = e.withColumn(
        "rn", F.row_number().over(by_fp.orderBy("doc_id"))
    ).withColumn("gsz", F.count(F.lit(1)).over(by_fp))
    return (
        r.filter(F.col("rn") == 1)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("gsz") - 1).alias("n_dups_removed"),
            F.sum("toks").alias("total_tokens"),
        )
    )


_REP_DUP_WORD_MAX = 0.5
_REP_TOP_BIGRAM_MAX = 0.2


@query(
    "llm_repetition_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOK_LOWER} AS wl FROM documents
    ),
    s AS (
      SELECT doc_id, wl, {_BIGRAM_LIST_SQL} AS bg
      FROM t
    ),
    f AS (
      SELECT doc_id,
             {_DUP_WORD_SQL} AS dup_word_frac,
             {_TOP_BIGRAM_SQL} AS top_bigram_frac
      FROM s
    )
    SELECT doc_id, dup_word_frac, top_bigram_frac,
           CAST(CASE WHEN dup_word_frac <= {_REP_DUP_WORD_MAX}
                      AND top_bigram_frac <= {_REP_TOP_BIGRAM_MAX}
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM f
    """,
    tags=("llm", "text", "quality"),
)
def llm_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filtering (the Gopher-rule family):
    duplicate-word fraction and top-bigram fraction per doc, and the
    keep/drop verdict at the standard thresholds. Both signals are
    map-side higher-order expressions over one lowercase tokenization
    (let-bound, split once per row) — per-row work only, no shuffle;
    the filter composes in front of any dedup/curation pipeline
    (operators/text_analysis.py:dup_word_fraction,
    top_bigram_fraction)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    out = docs.select(
        "doc_id",
        dup_word_fraction(t).alias("dup_word_frac"),
        top_bigram_fraction(t).alias("top_bigram_frac"),
    )
    return out.withColumn(
        "keep",
        F.when(
            (F.col("dup_word_frac") <= _REP_DUP_WORD_MAX)
            & (F.col("top_bigram_frac") <= _REP_TOP_BIGRAM_MAX),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )


# ------------------------------------------------------------ filter funnel

# The per-stage drop report every production filter cascade publishes:
# who reached each gate, who it dropped, who survived — the number a
# pipeline owner reads before/after every threshold change. Stages are
# SEQUENTIAL (a doc is attributed to the FIRST gate it fails), so the
# whole funnel reduces to one map-side "first failing stage" expression
# per doc + one tiny aggregate. Gates and thresholds are the curation
# suite's; every stage fires BY CONSTRUCTION, not by fixture luck:
# - doc_id % 10 == 7 → curation URL suffix (stage 1)
# - doc_id % 10 == 3 → curation boilerplate suffix (stage 2)
# - doc_id % 20 == 5 → marker-free text: every language vote 0 ⇒ 'und'
#   (stage 3; no URL, no boilerplate markers, so stages 1–2 pass)
# - doc_id % 20 == 15 → 'the' + punctuation runs: votes en (passes
#   stage 3) but quality ≈ 0.42 < 0.5 (short, punct-heavy, stop_ratio
#   1/3) (stage 4)
# - doc_id % 20 == 1 → pure stopword run: sails through language
#   (all-'the' votes en) and quality (stop_ratio 1.0) and fails only
#   the repetition gate (stage 5)
# Residues are pairwise disjoint (5, 15 odd ≠ 1 mod 20; 7, 3 mod 10
# disjoint from all), so WHEN order cannot reassign a plant.
_FUNNEL_REP_TEXT = " ".join(["the"] * 40)
_FUNNEL_LANG_TEXT = "zzz qqq xxx www yyy vvv"
_FUNNEL_QUAL_TEXT = "the ;;;;;;;;;; !!!!"
_FUNNEL_STAGES: tuple[str, ...] = (
    "url_blocklist",
    "boilerplate",
    "language",
    "quality",
    "repetition",
)
_FUNNEL_PASS_ID = 99


def _funnel_sql() -> str:
    vote_cols, whens = _lang_vote_sql()
    stage_rows = ", ".join(
        f"({i}, '{s}')" for i, s in enumerate(_FUNNEL_STAGES, start=1)
    )
    return rf"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 20 = 1 THEN '{_FUNNEL_REP_TEXT}'
                  WHEN doc_id % 20 = 5 THEN '{_FUNNEL_LANG_TEXT}'
                  WHEN doc_id % 20 = 15 THEN '{_FUNNEL_QUAL_TEXT}'
                  WHEN doc_id % 10 = 7 THEN text || '{_CURATION_URL_SUFFIX}'
                  WHEN doc_id % 10 = 3 THEN text || '{_CURATION_BOILER_SUFFIX}'
                  ELSE text END AS text
      FROM documents
    ),
    t AS (SELECT doc_id, text, {_TOK} AS w, {_TOK_LOWER} AS wl FROM planted),
    v AS (SELECT doc_id, text, w, wl, {_BIGRAM_LIST_SQL} AS bg,
                 {vote_cols} FROM t),
    e AS (
      SELECT doc_id,
             regexp_extract(text, '{URL_DOMAIN_REGEX}', 1) AS domain,
             ({_BOILER_SQL}) AS boiler_hits,
             CASE {whens} ELSE 'und' END AS pred_lang,
             {_QUALITY_SQL} AS quality,
             {_DUP_WORD_SQL} AS dup_word_frac,
             {_TOP_BIGRAM_SQL} AS top_bigram_frac
      FROM v
    ),
    f AS (
      SELECT CASE
               WHEN domain IN ({_in_list(BLOCKED_DOMAINS)}) THEN 1
               WHEN boiler_hits > {_CURATION_BOILER_MAX} THEN 2
               WHEN pred_lang = 'und' THEN 3
               WHEN quality < {_CURATION_QUALITY_MIN} THEN 4
               WHEN dup_word_frac > {_REP_DUP_WORD_MAX}
                 OR coalesce(top_bigram_frac, 1.0) > {_REP_TOP_BIGRAM_MAX}
                 THEN 5
               ELSE {_FUNNEL_PASS_ID} END AS fail_stage
      FROM e
    ),
    g AS (SELECT fail_stage, count(*) AS n FROM f GROUP BY 1),
    s(stage_id, stage) AS (VALUES {stage_rows}, ({_FUNNEL_PASS_ID}, 'pass')),
    j AS (
      SELECT s.stage_id, s.stage, coalesce(g.n, 0) AS n
      FROM s LEFT JOIN g ON s.stage_id = g.fail_stage
    ),
    r AS (
      SELECT stage_id, stage, n,
             sum(n) OVER () AS total,
             sum(n) OVER (ORDER BY stage_id) AS cum
      FROM j
    )
    SELECT CAST(stage_id AS INTEGER) AS stage_id, stage,
           CAST(total - (cum - n) AS BIGINT) AS docs_in,
           CAST(n AS BIGINT) AS docs_dropped,
           CAST(total - cum AS BIGINT) AS docs_out
    FROM r WHERE stage_id <= {len(_FUNNEL_STAGES)}
    """


@query("llm_filter_funnel", oracle=_funnel_sql(), tags=("llm", "quality"))
def llm_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-cascade funnel report: one row per gate (URL blocklist →
    boilerplate → language → quality → repetition, the curation suite's
    gates at its thresholds) with docs_in / docs_dropped / docs_out
    under sequential first-failure attribution — the observability
    query a pipeline owner runs before and after every threshold
    change. Planted negatives (module comment) make every gate fire at
    every SF.

    Plan shape: the cascade NEVER materializes per-stage frames — one
    documents scan computes a map-side "first failing gate" CASE per
    doc (all signals are JVM expressions), the only corpus-sized
    exchange is the 6-group fail-stage aggregate, and the in/out
    arithmetic is two window passes over the 6-row report joined to a
    literal stage table. The doc tokenizes ONCE: a let-bound lowercase
    token array (and its derived 2-gram array) is shared by the
    language / quality / repetition CASE arms via the operators'
    public `*_tokens` variants — the trade is that the split runs even
    for docs the URL/boilerplate gates would have dropped first, a win
    on any real corpus where most docs survive the early gates. At
    100 TB: one pass, one tokenization, one tiny shuffle — adding a
    gate adds a WHEN, not a scan."""
    docs = load_table(spark, sf_dir, "documents")
    spark_stages = [
        (i, s) for i, s in enumerate(_FUNNEL_STAGES, start=1)
    ] + [(_FUNNEL_PASS_ID, "pass")]
    t = (
        F.when(F.col("doc_id") % 20 == 1, F.lit(_FUNNEL_REP_TEXT))
        .when(F.col("doc_id") % 20 == 5, F.lit(_FUNNEL_LANG_TEXT))
        .when(F.col("doc_id") % 20 == 15, F.lit(_FUNNEL_QUAL_TEXT))
        .when(
            F.col("doc_id") % 10 == 7,
            F.concat(F.col("text"), F.lit(_CURATION_URL_SUFFIX)),
        )
        .when(
            F.col("doc_id") % 10 == 3,
            F.concat(F.col("text"), F.lit(_CURATION_BOILER_SUFFIX)),
        )
        .otherwise(F.col("text"))
    )
    def gates(text: Column, wl: Column, bg: Column) -> Column:
        return (
            F.when(url_domain(text).isin(*BLOCKED_DOMAINS), F.lit(1))
            .when(boilerplate_hits(text) > _CURATION_BOILER_MAX, F.lit(2))
            .when(lang_id_tokens(wl) == "und", F.lit(3))
            .when(
                quality_score_tokens(text, wl) < _CURATION_QUALITY_MIN,
                F.lit(4),
            )
            .when(
                # BOTH halves of llm_repetition_filter's keep rule; the
                # coalesce mirrors its NULL-bigram semantics (docs under
                # two words fail `keep` there, so they drop here too)
                (dup_word_fraction_tokens(wl) > _REP_DUP_WORD_MAX)
                | (
                    F.coalesce(top_bigram_fraction_tokens(bg), F.lit(1.0))
                    > _REP_TOP_BIGRAM_MAX
                ),
                F.lit(5),
            )
            .otherwise(F.lit(_FUNNEL_PASS_ID))
        )

    # One tokenization per doc: bind the planted text, its lowercase
    # token array, and the derived 2-gram array once; every gate arm
    # reads the bound arrays.
    fail_stage = _let(
        t,
        lambda text: _let(
            words(F.lower(text)),
            lambda wl: _let(
                word_shingles_tokens(wl, 2),
                lambda bg: gates(text, wl, bg),
            ),
        ),
    )
    g = (
        docs.select(fail_stage.alias("fail_stage"))
        .groupBy("fail_stage")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = docs.sparkSession.createDataFrame(
        spark_stages, "stage_id int, stage string"
    )
    j = (
        s.join(g, s.stage_id == g.fail_stage, "left")
        .select("stage_id", "stage", F.coalesce("n", F.lit(0)).alias("n"))
    )
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy("stage_id")
    r = j.select(
        "stage_id",
        "stage",
        "n",
        F.sum("n").over(w_all).alias("total"),
        F.sum("n").over(w_cum).alias("cum"),
    )
    return r.filter(F.col("stage_id") <= len(_FUNNEL_STAGES)).select(
        "stage_id",
        "stage",
        (F.col("total") - (F.col("cum") - F.col("n")))
        .cast("long")
        .alias("docs_in"),
        F.col("n").cast("long").alias("docs_dropped"),
        (F.col("total") - F.col("cum")).cast("long").alias("docs_out"),
    )


# The hex-nibble split rule, shared by llm_split_sample (keyed on the
# doc id) and llm_split_leakage_safe (keyed on the duplicate-cluster
# id) so the two assignments can never drift: 0–b → train 75%,
# c–d → val 12.5%, e–f → test 12.5%. `hx` is the first md5 hex char
# of the key cast to string.
_SPLIT_CASE_SQL = """CASE WHEN hx BETWEEN '0' AND 'b' THEN 'train'
                WHEN hx IN ('c', 'd') THEN 'val'
                ELSE 'test' END"""


def _split_of(key: Column) -> Column:
    """Spark twin of _SPLIT_CASE_SQL over any integer key column."""
    hx = F.substring(F.md5(key.cast("string")), 1, 1)
    return (
        F.when(hx.between("0", "b"), "train")
        .when(hx.isin("c", "d"), "val")
        .otherwise("test")
    )


@query(
    "llm_split_sample",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hx
      FROM documents
    )
    SELECT doc_id, lang, {_SPLIT_CASE_SQL} AS split
    FROM h
    """,
    tags=("llm", "sampling"),
)
def llm_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by hash bucket — the
    standard held-out-split discipline for a training corpus: the split
    is a pure function of the stable doc id (first hex nibble of
    md5: 0–b → train 75 %, c–d → val 12.5 %, e–f → test 12.5 %), so it
    is reproducible across runs, engines, and cluster sizes — no RNG,
    no seed coordination, no shuffle at all (map-side projection;
    re-running on new data never reassigns old docs)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", _split_of(F.col("doc_id")).alias("split")
    )


# Per-language target sampling rates for mixture rebalancing,
# expressed as exact 32-bit thresholds (rate × 2^32) so the keep test
# is an integer comparison in both engines. Downsample the dominant
# language, keep the tails.
_MIXTURE_RATES: dict[str, float] = {
    "en": 0.5, "zh": 1.0, "es": 0.75, "de": 0.75, "fr": 1.0,
}
_MIXTURE_DEFAULT_RATE = 0.25
_MIXTURE_THRESHOLDS: dict[str, int] = {
    lg: int(r * (1 << 32)) for lg, r in _MIXTURE_RATES.items()
}
_MIXTURE_DEFAULT_THRESHOLD = int(_MIXTURE_DEFAULT_RATE * (1 << 32))


def _mixture_threshold_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{lg}' THEN {t}"
        for lg, t in _MIXTURE_THRESHOLDS.items()
    )
    return f"CASE {whens} ELSE {_MIXTURE_DEFAULT_THRESHOLD} END"


@query(
    "llm_mixture_sample",
    oracle=f"""
    SELECT doc_id, lang,
           CAST(CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                          < {_mixture_threshold_sql()}
                THEN 1 ELSE 0 END AS INTEGER) AS sampled
    FROM documents
    """,
    tags=("llm", "sampling"),
)
def llm_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/language mixture rebalancing — the reweighting step that
    hits a target corpus composition (downsample the dominant
    language, keep the tails): keep a doc iff the first 32 bits of
    md5(doc_id), read as an unsigned int, fall below its language's
    rate × 2^32 threshold. Like llm_split_sample this is a pure
    function of the stable id — reproducible across runs, engines,
    and cluster sizes, no RNG state, and re-running on grown data
    never resamples old docs. Emits every doc with its 0/1 verdict so
    the decision (not just the survivor set) is value-checked.

    Scale shape: map-side projection, zero shuffle at any corpus
    size. The u32 hash-to-threshold comparison is all-integer (hex
    parse via conv/'0x'-cast — the cross-engine md5 trick used
    throughout), so rates are exact, not float-rounded."""
    docs = load_table(spark, sf_dir, "documents")
    u32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    thr = None
    for lg, t in _MIXTURE_THRESHOLDS.items():
        cond = F.col("lang") == lg
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    thr = thr.otherwise(F.lit(_MIXTURE_DEFAULT_THRESHOLD))
    return docs.select(
        "doc_id",
        "lang",
        F.when(u32 < thr, 1).otherwise(0).cast("int").alias("sampled"),
    )


_STRAT_QUOTA = 40
_STRAT_OVERSAMPLE = 4
_STRAT_TOTAL = _STRAT_OVERSAMPLE * _STRAT_QUOTA * (1 << 32)

_STRAT_ORACLE = f"""
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
t AS (SELECT lang, n, ({_STRAT_TOTAL} // n) + 1 AS thr FROM c),
s AS (
  SELECT d.doc_id, d.lang, t.n, md5(CAST(d.doc_id AS VARCHAR)) AS h
  FROM documents d JOIN t USING (lang)
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT < t.thr
),
r AS (
  SELECT doc_id, lang, n,
         row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
  FROM s
)
SELECT doc_id, lang, CAST(rn AS BIGINT) AS rank_r, CAST(n AS BIGINT) AS stratum_n
FROM r WHERE rn <= {_STRAT_QUOTA}
"""


@query("llm_stratified_sample", oracle=_STRAT_ORACLE, tags=("llm", "sampling"))
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sample: the 40 docs with the
    smallest md5(doc_id) per language — the balanced eval/calibration
    cut the threshold samplers can't make (llm_split_sample and
    llm_mixture_sample hit target RATES; an eval set needs exact
    per-stratum COUNTS from a skewed corpus).

    Scale shape (operators/sampling.py::stratified_sample — never
    sorts a stratum): per-stratum count → integer keep-threshold
    broadcast back → map-side prefilter to ~oversample·quota
    candidates per stratum → row_number over the tiny candidate set.
    A naive per-stratum rank would sort the full 'en' stratum
    (billions of rows at 100 TB) to pick 40. The prefilter rule is
    all-integer ((oversample·quota·2³²) div n + 1, u32 from the md5
    hex prefix — the cross-engine trick used throughout), so DuckDB
    re-derives the identical candidate set, ranks, and survivors.
    `stratum_n` (the stratum's total count, free from the threshold
    aggregate) rides along so a caller can detect the documented
    exp(−Θ(quota))-unlikely prefilter shortfall from the output
    itself: short iff rows-per-stratum < least(quota, stratum_n)."""
    return stratified_sample(
        load_table(spark, sf_dir, "documents"),
        strata_col="lang",
        quota=_STRAT_QUOTA,
        oversample=_STRAT_OVERSAMPLE,
    )


_WINNOW_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {_TOK} AS w FROM documents
),
sh AS (
  SELECT doc_id, {_SHINGLES} AS shingles FROM tok
),
flat AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(shingles)+1),
                i -> {{'pos': i - 1, 'h': md5(shingles[CAST(i AS INT)])}})) AS ph,
         len(shingles) AS m
  FROM sh WHERE len(shingles) > 0
),
g AS (SELECT doc_id, ph.pos AS pos, ph.h AS h, m FROM flat),
wmin AS (
  SELECT doc_id, pos, m,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp_hash
  FROM g
),
picked AS (
  SELECT DISTINCT doc_id, fp_hash FROM wmin
  WHERE pos <= greatest(m - 4, 0)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_fps,
       md5(array_to_string(list_sort(list(fp_hash)), ' ')) AS winnow_fp
FROM picked GROUP BY doc_id
"""


@query("llm_winnow_fingerprint", oracle=_WINNOW_ORACLE, tags=("llm", "text"))
def llm_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprinting by winnowing (MOSS, SIGMOD'03):
    per-doc count + digest of the window-min k-gram hashes — the
    local-fingerprint complement to the global bag-of-words hash
    (operators/text_analysis.py:winnow_fingerprints). Window size 4
    over word 3-gram md5 hashes; the DuckDB oracle recomputes the
    identical selection."""
    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=3, w=4)


@query(
    "llm_bpe_pairs",
    oracle=r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      FROM documents
    ),
    wf AS (
      SELECT w, count(*) AS freq FROM toks WHERE w <> '' GROUP BY w
    ),
    pairs AS (
      SELECT substr(w, i::INT, 1) || ' ' || substr(w, i::INT + 1, 1) AS pair,
             freq
      FROM (SELECT w, freq, unnest(range(1, length(w))) AS i
            FROM wf WHERE length(w) >= 2)
    ),
    agg AS (
      SELECT pair, SUM(freq)::BIGINT AS pair_count FROM pairs GROUP BY pair
    )
    SELECT pair, pair_count FROM agg
    ORDER BY pair_count DESC, pair LIMIT 50
    """,
    tags=("llm", "tokenizer"),
)
def llm_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training inner loop: adjacent symbol-pair frequencies
    weighted by word frequency, top-50 — what a BPE trainer ranks to
    pick its next merge (operators/text_analysis.py bpe_merge_pairs).
    The factoring is the trainer's classic one, distributed: corpus →
    word histogram (corpus size drops out), pair expansion over
    DISTINCT words only, alphabet²-bounded pair shuffle, top-K as
    TakeOrderedAndProject. The oracle re-derives the identical ranking;
    (count DESC, pair ASC) is a total order because pairs are unique
    after the aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_merge_pairs(docs, top_k=50)


# ------------------------------------------------------ substring-level dedup

_SPAN_K = 5            # word 5-grams: tiny-vocab corpora alias 3-grams
_SPAN_MAX_DF = 10_000  # drop boilerplate grams shared by too many docs
_SPAN_MIN_GRAMS = 3    # a span must contain >= 3 shared grams
# Deterministic planted duplicated passage (13 out-of-vocabulary
# tokens, so its 9 interior 5-grams exist nowhere else): every 20th
# doc carries it, identically constructed in both engines — the
# guaranteed-positive fixture for substring-level dedup.
_SPAN_PASSAGE = (
    "zephyr quixotic marzipan obelisk furlong nimbus "
    "gossamer citadel plover ember quarry lattice krill"
)

_SPAN_SHINGLES = (
    f"CASE WHEN len(w) >= {_SPAN_K} THEN"
    f" list_transform(range(1, len(w)-{_SPAN_K - 2}),"
    f" i -> array_to_string(w[i:i+{_SPAN_K - 1}], ' ')) ELSE [] END"
)

# Shared CTE chain: planted corpus → positioned gram hashes → shared
# grams → island groups. llm_span_dedup selects the spans;
# llm_span_removed continues into the rewrite.
_SPAN_CTES = f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 20 = 0 THEN text || ' {_SPAN_PASSAGE}'
              ELSE text END AS text
  FROM documents
),
tok AS (SELECT doc_id, {_TOK} AS w FROM planted),
sh AS (SELECT doc_id, {_SPAN_SHINGLES} AS shingles FROM tok),
flat AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(shingles)+1),
                i -> {{'pos': i - 1, 'h': md5(shingles[CAST(i AS INT)])}})) AS ph
  FROM sh WHERE len(shingles) > 0
),
grams AS (SELECT doc_id, ph.pos AS pos, ph.h AS h FROM flat),
dfc AS (
  SELECT h FROM grams
  GROUP BY h HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {_SPAN_MAX_DF}
),
shared AS (SELECT g.doc_id, g.pos FROM grams g JOIN dfc USING (h)),
flag AS (
  -- gap > K between consecutive shared gram positions = coverage hole
  -- (NULL lag on the first row falls through to 1: new span)
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {_SPAN_K} THEN 0 ELSE 1 END AS newgrp
  FROM shared
),
grp AS (
  SELECT doc_id, pos,
         SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                          ) AS g
  FROM flag
)
"""

_SPAN_ORACLE = f"""{_SPAN_CTES}
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {_SPAN_K - 1} AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM grp GROUP BY doc_id, g HAVING COUNT(*) >= {_SPAN_MIN_GRAMS}
"""

_SPAN_REMOVED_ORACLE = f"""{_SPAN_CTES}
, spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {_SPAN_K - 1} AS span_end
  FROM grp GROUP BY doc_id, g HAVING COUNT(*) >= {_SPAN_MIN_GRAMS}
),
ptoks AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)+1),
                i -> {{'pos': i - 1, 'tok': w[CAST(i AS INT)]}})) AS pt
  FROM tok
),
pt AS (SELECT doc_id, pt.pos AS pos, pt.tok AS tok FROM ptoks),
kept AS (
  SELECT t.doc_id, t.pos, t.tok FROM pt t
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = t.doc_id
                      AND t.pos BETWEEN s.span_start AND s.span_end)
),
reb AS (
  SELECT doc_id,
         array_to_string(list(tok ORDER BY pos), ' ') AS text,
         COUNT(*)::BIGINT AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CASE WHEN len(t.w) - COALESCE(r.n_kept, 0) > 0
            THEN COALESCE(r.text, '')
            ELSE p.text END AS text,
       CAST(len(t.w) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed_tokens
FROM tok t
JOIN planted p USING (doc_id)
LEFT JOIN reb r USING (doc_id)
"""


@query("llm_span_dedup", oracle=_SPAN_ORACLE, tags=("llm", "dedup"))
def llm_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup — the LLM-dedup family doc-level
    MinHash/SimHash cannot cover: long passages duplicated INSIDE
    otherwise-distinct documents (license headers, quoted articles,
    templated sections). Hash every word 5-gram with its position,
    keep grams shared by 2..max_df distinct docs, and merge each doc's
    shared positions into maximal fully-covered token spans (island
    grouping: a gap > K between consecutive shared grams is a coverage
    hole, so it starts a new span). Output (doc_id, span_start,
    span_end, n_grams) in token coordinates — the input to a
    span-removal rewrite.

    Scale shape: one grouped agg on the gram hash (two-phase
    count-distinct, so hot grams collapse map-side — the df cap also
    bounds any boilerplate gram's join fan-out), one equi-join back on
    the hash (no pairwise doc×doc expansion anywhere: membership
    counting, not pair generation), then one doc_id window whose sort
    feeds the span groupBy with no further exchange. Every 20th doc
    carries a deterministic planted passage (same construction in both
    engines) so the positive path is guaranteed at every SF.
    Core logic: operators/text_dedup.py::duplicated_spans (scale notes
    there); hypothesis model-diffs it against a sequential reference in
    tests/test_properties.py."""
    docs = load_table(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 20 == 0,
        F.concat(F.col("text"), F.lit(" " + _SPAN_PASSAGE)),
    ).otherwise(F.col("text"))
    return duplicated_spans(
        docs.select("doc_id", planted.alias("text")),
        k=_SPAN_K,
        min_grams=_SPAN_MIN_GRAMS,
        max_df=_SPAN_MAX_DF,
    )


@query("llm_span_removed", oracle=_SPAN_REMOVED_ORACLE, tags=("llm", "dedup"))
def llm_span_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rewrite half of substring-level dedup: detect duplicated
    spans (same planted corpus and parameters as llm_span_dedup) and
    rebuild every document without the covered tokens, reporting the
    removal count (operators/text_dedup.py:remove_spans — the doc's
    spans collapse to one small array row, ONE doc_id equi-join, then
    a pure map-side filter((tok, i) -> uncovered) rebuild: corpus text
    never explodes and never shuffles, plan-gated by
    tests/test_plans.py::test_remove_spans_never_explodes_text;
    fixpoint-tested in pytest: re-detection on the rewritten corpus
    finds nothing)."""
    docs = load_table(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 20 == 0,
        F.concat(F.col("text"), F.lit(" " + _SPAN_PASSAGE)),
    ).otherwise(F.col("text"))
    corpus = docs.select("doc_id", planted.alias("text"))
    spans = duplicated_spans(
        corpus, k=_SPAN_K, min_grams=_SPAN_MIN_GRAMS, max_df=_SPAN_MAX_DF
    )
    return remove_spans(corpus, spans)


_VOCAB_MIN_DF = 3
_VOCAB_TOP_K = 2000


@query(
    "llm_vocabulary",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, unnest({_TOK_LOWER}) AS tok FROM documents
    ),
    agg AS (
      SELECT tok,
             count(DISTINCT doc_id)::BIGINT AS df,
             count(*)::BIGINT AS tf
      FROM ex GROUP BY 1
    )
    SELECT tok, df, tf FROM agg
    WHERE df >= {_VOCAB_MIN_DF}
    ORDER BY df DESC, tf DESC, tok
    LIMIT {_VOCAB_TOP_K}
    """,
    tags=("llm", "text", "vocab"),
)
def llm_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build — the precursor to tokenizer training:
    per-token document frequency and term frequency, a min-df floor,
    and the top-K by (df, tf, token) with a fully deterministic
    tie-break (token is unique).

    Scale shape: explode → ONE grouped aggregation on the token. The
    count(distinct doc_id) plans as a two-phase aggregate over
    (tok, doc_id), so hot tokens ('the') collapse map-side before the
    shuffle — the classic wordcount skew never concentrates raw rows;
    the final top-K is TakeOrderedAndProject (per-partition heaps),
    never a full sort."""
    docs = load_table(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id", F.explode(words(F.lower(F.col("text")))).alias("tok")
    )
    return (
        ex.groupBy("tok")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf"),
        )
        .filter(F.col("df") >= _VOCAB_MIN_DF)
        .orderBy(F.col("df").desc(), F.col("tf").desc(), F.col("tok"))
        .limit(_VOCAB_TOP_K)
    )


_TFIDF_TOP_K = 3
# Broadcast cap on the document-frequency table. 12 < the synthetic
# corpus' 31-token vocabulary at every SF, so the OOV-floor path is
# exercised and HASH-VERIFIED cross-engine in every driver check —
# the production plan is the checked plan.
_TFIDF_VOCAB_CAP = 12


@query(
    "llm_tfidf_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK_LOWER}) AS tok FROM documents
    ),
    tfd AS (
      SELECT doc_id, tok, COUNT(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
    ),
    dfc AS (SELECT tok, COUNT(*)::BIGINT AS df FROM tfd GROUP BY 1),
    -- capped vocabulary: exact top-{_TFIDF_VOCAB_CAP} by (df DESC,
    -- tok) — mirrors operators/vocab.py::top_count_vocab; excluded
    -- tokens score through the average-of-tail OOV df floor
    kept AS (
      SELECT tok, df FROM dfc
      QUALIFY row_number() OVER (ORDER BY df DESC, tok)
              <= {_TFIDF_VOCAB_CAP}
    ),
    fl AS (
      SELECT CAST(GREATEST(1,
               (CAST((SELECT COALESCE(SUM(df), 0) FROM dfc) AS BIGINT)
                - CAST((SELECT COALESCE(SUM(df), 0) FROM kept) AS BIGINT))
               // GREATEST(1, (SELECT COUNT(*) FROM dfc)
                              - (SELECT COUNT(*) FROM kept))
             ) AS BIGINT) AS oov_floor
    ),
    n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents),
    scored AS (
      -- integer tf-idf: idf as micros of N/df via floor division —
      -- monotone in rarity, zero doubles, engine-exact (see
      -- llm_rarity_score for the why)
      SELECT t.doc_id, t.tok,
             t.tf * ((n.n_docs * 1000000)
                     // COALESCE(k.df, fl.oov_floor)) AS score_micros
      FROM tfd t LEFT JOIN kept k USING (tok), n, fl
    ),
    r AS (
      SELECT doc_id, tok, score_micros,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_micros DESC, tok) AS rnk
      FROM scored
    )
    SELECT doc_id, tok, score_micros, CAST(rnk AS INTEGER) AS rnk
    FROM r WHERE rnk <= {_TFIDF_TOP_K}
    """,
    tags=("llm", "text", "features"),
)
def llm_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K characteristic terms per document by integer tf-idf — the
    classic per-doc featurization (topic signatures, near-dup
    explanation, cluster labeling). Score = tf × floor(N·1e6/df): the
    idf factor is inverse document frequency in micros, monotone in
    the standard log-idf for ranking rare-vs-common terms, and — like
    llm_rarity_score — all-integer so the cross-engine hash never
    meets a double. Deterministic (score DESC, token) tie-break.

    Scale shape: one (doc_id, tok) grouped count (two-phase), then the
    CAPPED per-token df table broadcasts back (operators/vocab.py::
    tfidf_topk): the broadcast is bounded at _TFIDF_VOCAB_CAP rows no
    matter how many distinct tokens the corpus has (a 100 TB web
    corpus' vocabulary — URLs, hex blobs, typos — reaches billions of
    rows and would blow an uncapped broadcast), with excluded tokens
    scored through a mass-preserving OOV df floor. The cap selection
    is threshold-based, not TakeOrdered — no driver-side top-K merge
    (vocab.py module docstring). The corpus-sized side never
    reshuffles on the skewed token key; the final top-K is a
    row_number window on doc_id (unique key, skew-free exchange).
    N·1e6 must stay < 2^63 — holds to ~9e12 docs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(words(F.lower(F.col("text")))).alias("tok")
    )
    tfd = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return tfidf_topk(tfd, n, _TFIDF_TOP_K, vocab_cap=_TFIDF_VOCAB_CAP)


# ----------------------------------------------- LM-based quality filtering

_RARITY_MAX = 60  # mean inverse-probability above this = outlier doc
# Broadcast cap on the unigram table: 16 < the synthetic 31-token
# vocabulary at every SF, so the OOV-floor path is hash-verified
# cross-engine in every driver check (same rationale as
# _TFIDF_VOCAB_CAP).
_RARITY_VOCAB_CAP = 16


@query(
    "llm_rarity_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK_LOWER}) AS tok FROM documents
    ),
    tf AS (SELECT tok, COUNT(*)::BIGINT AS tf FROM toks GROUP BY tok),
    -- capped vocabulary: exact top-{_RARITY_VOCAB_CAP} by (tf DESC,
    -- tok) — mirrors operators/vocab.py::top_count_vocab. `total`
    -- still normalizes over the FULL vocabulary; excluded tokens
    -- score through the average-of-tail OOV floor, preserving
    -- aggregate probability mass.
    kept AS (
      SELECT tok, tf FROM tf
      QUALIFY row_number() OVER (ORDER BY tf DESC, tok)
              <= {_RARITY_VOCAB_CAP}
    ),
    fl AS (
      SELECT CAST((SELECT COALESCE(SUM(tf), 0) FROM tf) AS BIGINT) AS total,
             CAST(GREATEST(1,
               (CAST((SELECT COALESCE(SUM(tf), 0) FROM tf) AS BIGINT)
                - CAST((SELECT COALESCE(SUM(tf), 0) FROM kept) AS BIGINT))
               // GREATEST(1, (SELECT COUNT(*) FROM tf)
                              - (SELECT COUNT(*) FROM kept))
             ) AS BIGINT) AS oov_floor
    ),
    scored AS (
      -- ALL-INTEGER rarity: micros of 1/p via integer floor division.
      -- No doubles anywhere = no libm, no float-sum ordering, no
      -- half-way rounding — the value hash is engine-stable by
      -- construction (both engines truncate integer division).
      SELECT t.doc_id,
             (fl.total * 1000000)
             // COALESCE(k.tf, fl.oov_floor) AS rarity_micros
      FROM toks t LEFT JOIN kept k USING (tok), fl
    ),
    agg AS (
      SELECT doc_id, COUNT(*)::BIGINT AS n_toks,
             CAST(SUM(rarity_micros) AS BIGINT) AS rarity_sum
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_toks, rarity_sum,
           CAST(CASE WHEN rarity_sum <= {_RARITY_MAX} * 1000000 * n_toks
                THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM agg
    """,
    tags=("llm", "text", "quality"),
)
def llm_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality filter — the statistical-LM scoring family
    (CCNet / Gopher use KenLM perplexity): score each doc by how
    (im)probable its tokens are under the corpus' own unigram model,
    and flag outliers. The score is the summed INVERSE token
    probability in MICROS — floor(total*1e6/tf) per token, all-integer
    (mean = rarity_sum/1e6/n_toks, left to the consumer) — rather than
    log-perplexity: the hashed values never touch a double, per the
    repo rule that hashed measures avoid order-dependent float
    aggregation, libm (ln) calls, and derived-float rounds whose
    half-way cases are engine-specific (a round(mean,6) variant
    diverged by 1e-6 on single docs; a DECIMAL variant differed only
    in trailing-zero rendering between client paths). Spark `div` ==
    DuckDB integer `//` (both truncate). total*1e6 needs < 2^63:
    holds through ~9e12 corpus tokens; beyond that, widen to decimal
    intermediates. Gibberish/rare-token docs score high; 'keep' flags
    the normal corpus band via rarity_sum <= max*1e6*n_toks.

    Scale shape: one two-phase token count (hot tokens collapse
    map-side), then the CAPPED unigram table rides a broadcast back
    onto the token stream (operators/vocab.py::unigram_rarity — no
    shuffle of the corpus, no skew on hot tokens, and the broadcast is
    bounded at _RARITY_VOCAB_CAP rows no matter how many distinct
    tokens the corpus has; a billion-token web vocabulary would blow
    an uncapped broadcast). `total` still normalizes over the full
    vocabulary and out-of-vocab tokens take the average-of-tail floor,
    so in-vocab scores match the uncapped form exactly. One grouped
    agg on doc_id finishes."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(words(F.lower(F.col("text")))).alias("tok")
    )
    agg = unigram_rarity(toks, vocab_cap=_RARITY_VOCAB_CAP)
    return agg.select(
        "doc_id",
        "n_toks",
        "rarity_sum",
        F.when(
            F.col("rarity_sum") <= F.col("n_toks") * (_RARITY_MAX * 1_000_000),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("keep"),
    )


_SHARD_CAPACITY = 4000  # token budget per shard within a packing group
_SHARD_BLOCK = 100      # docs per (lang, block) packing group


def llm_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus sharding — the deterministic chunking step
    that splits a curated corpus into ~equal-token training shards: a
    doc's shard is floor(tokens-before-it / capacity) in doc_id order
    within its (lang, block) packing group.

    Public API, but deliberately NOT a catalog slot: the result is a
    strict projection of llm_pack_offsets (drop offset_in_shard), so
    the driver hash-verifying llm_pack_offsets covers this operator
    too — implemented literally as that projection (and pinned by a
    pytest), it cannot drift from the verified superset. One catalog
    slot per verified computation keeps the registry inside the
    driver's 50-keys/round staleness budget (catalog.py).

    Scale shape: inherited from llm_pack_offsets — one skew-free
    composite-key (lang, 100-doc block) window, map-side regexp token
    counting, parallelism growing with the corpus."""
    return llm_pack_offsets(spark, sf_dir).drop("offset_in_shard")


_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24

_CHUNK_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOK} AS w FROM documents),
n AS (SELECT doc_id, w, len(w) AS n FROM t),
c AS (
  SELECT doc_id, w, n,
         unnest(range(0, CASE WHEN n <= {_CHUNK_SIZE} THEN 1
                   ELSE (n - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1)
                        // {_CHUNK_STRIDE} + 1 END)) AS k
  FROM n
)
SELECT doc_id,
       CAST(k AS BIGINT) AS chunk_id,
       CAST(k * {_CHUNK_STRIDE} AS BIGINT) AS start_tok,
       CAST(least({_CHUNK_SIZE}, n - k * {_CHUNK_STRIDE}) AS BIGINT) AS n_tok,
       array_to_string(
         w[k * {_CHUNK_STRIDE} + 1 : k * {_CHUNK_STRIDE} + {_CHUNK_SIZE}],
         ' ') AS chunk_text
FROM c
"""


@query("llm_chunk_overlap", oracle=_CHUNK_ORACLE, tags=("llm", "text"))
def llm_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (operators/text_analysis.py::
    chunk_tokens): every doc split into 32-token windows starting
    every 24 tokens — the context-construction step a pretraining /
    RAG pipeline runs to turn long documents into overlapping
    model-sized inputs (the 8-token overlap preserves boundary
    context). One row per chunk with its id, token offset, length, and
    text; the final window always covers the document tail, and no
    window is fully contained in its predecessor (count convention in
    the operator docstring).

    The per-doc chunk count, offsets, lengths, and joined chunk texts
    are all integer/string-deterministic, so the DuckDB oracle
    re-derives every row verbatim.

    Scale shape: pure map-side explode — one let-bound tokenization
    per doc, bounded `sequence` of window starts, one slice per output
    row. Zero shuffle at any corpus size; the ~n/stride-per-doc output
    expansion is the contract itself. Complements `llm_pack_offsets`
    (cross-doc packing into fixed shards) — chunking is within-doc."""
    return chunk_tokens(
        load_table(spark, sf_dir, "documents"),
        chunk_size=_CHUNK_SIZE,
        stride=_CHUNK_STRIDE,
    )


@query(
    "llm_pack_offsets",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, doc_id // {_SHARD_BLOCK} AS block,
             len(regexp_extract_all(text, '{TOKEN_REGEX}'))::BIGINT AS toks
      FROM documents
    ),
    c AS (
      -- CAST: DuckDB's SUM over BIGINT widens to HUGEINT, which the
      -- pandas client path renders as float — pin BIGINT end-to-end
      SELECT doc_id, lang, block, toks,
             CAST(SUM(toks) OVER (PARTITION BY lang, block ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)
                  - toks AS BIGINT) AS tok_before
      FROM t
    )
    SELECT doc_id, lang, block, toks,
           CAST(tok_before // {_SHARD_CAPACITY} AS BIGINT) AS shard,
           CAST(tok_before % {_SHARD_CAPACITY} AS BIGINT) AS offset_in_shard
    FROM c
    """,
    tags=("llm", "packing"),
)
def llm_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing layout — the step after token-budget sharding
    (llm_token_shards) that a training-data writer needs to CONCATENATE
    docs into fixed-capacity sequences: each doc's shard plus its
    starting token offset inside that shard, i.e. (cumulative tokens
    before it) divmod capacity. All-integer (floor-div/mod of a
    non-negative running sum — identical in both engines), fully
    deterministic, so the physical byte layout of a packed training
    file is reproducible anywhere.

    Scale shape: same one skew-free composite-key window as
    llm_token_shards — (lang, 100-doc block) groups keep parallelism
    growing with the corpus; token counting is map-side regexp_count;
    no other shuffle. Core: operators/layout.py::pack_layout (shared
    with the physical shard writer, write_packed_shards)."""
    from ..operators.layout import pack_layout

    docs = load_table(spark, sf_dir, "documents")
    return pack_layout(
        docs, capacity=_SHARD_CAPACITY, block=_SHARD_BLOCK
    )


# ------------------------------------------------------ privacy / contamination

# Deterministic planted PII: the synthetic corpus contains no real
# emails/IPs, so every 10th document gets a suffix carrying one of
# each kind — identical string construction in both engines — and the
# redactor must scrub exactly that. The other 9/10 exercise the
# no-match path over real text.
_PII_SUFFIX_SPARK = lambda: F.when(  # noqa: E731
    F.col("doc_id") % 10 == 0,
    F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10.0.0.7 ref 998877665544"),
    ),
).otherwise(F.col("text"))

_PII_SUFFIX_SQL = (
    "CASE WHEN doc_id % 10 = 0 THEN text || ' contact u' || doc_id ||"
    " '@example.com ip 10.0.0.7 ref 998877665544' ELSE text END"
)


def _pii_oracle() -> str:
    from ..operators.text_analysis import PII_PATTERNS

    reps = []
    counts = []
    expr = "t"
    for kind, pat, token in PII_PATTERNS:
        counts.append(
            f"len(regexp_extract_all(t, '{pat}'))::BIGINT AS n_{kind}"
        )
        expr = f"regexp_replace({expr}, '{pat}', '{token}', 'g')"
    reps.append(f"{expr} AS clean_text")
    return f"""
    WITH p AS (SELECT doc_id, {_PII_SUFFIX_SQL} AS t FROM documents)
    SELECT doc_id, {', '.join(reps)}, {', '.join(counts)}
    FROM p
    """


@query("llm_pii_redact", oracle=_pii_oracle(), tags=("llm", "privacy"))
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the privacy pass of a training-data pipeline:
    emails, IPv4s, and long id-like digit runs replaced by class
    tokens, plus per-kind match counts on the original text
    (operators/text_analysis.py PII_PATTERNS — the portable
    Java-regex ∩ RE2 subset, so DuckDB recomputes the identical
    rewrite). Three chained regexp_replace projections + three
    regexp_count — pure map-side, no shuffle, no Python."""
    from ..operators.text_analysis import pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select("doc_id", _PII_SUFFIX_SPARK().alias("t"))
    t = F.col("t")
    return planted.select(
        "doc_id",
        redact_pii(t).alias("clean_text"),
        *pii_counts(t),
    )


_CONTAM_TAU = 0.5
_CONTAM_BENCH_MOD = 97

_CONTAMINATION_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {_TOK} AS w FROM documents
),
sh AS (
  SELECT doc_id, list_distinct({_SHINGLES}) AS s FROM tok
),
ex AS (
  SELECT doc_id, unnest(s) AS g FROM sh
),
bench AS (
  SELECT DISTINCT g FROM ex WHERE doc_id % {_CONTAM_BENCH_MOD} = 0
),
tot AS (SELECT doc_id, count(*) AS n_shingles FROM ex GROUP BY 1),
hit AS (
  SELECT e.doc_id, count(*) AS n_overlap
  FROM ex e JOIN bench b USING (g) GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(t.n_shingles, 0)::BIGINT AS n_shingles,
       COALESCE(h.n_overlap, 0)::BIGINT AS n_overlap,
       CASE WHEN COALESCE(t.n_shingles, 0) > 0
            THEN round(COALESCE(h.n_overlap, 0)::DOUBLE
                       / t.n_shingles::DOUBLE, 6)
            ELSE 0.0 END AS overlap_frac,
       CAST(CASE WHEN COALESCE(t.n_shingles, 0) > 0
                  AND COALESCE(h.n_overlap, 0)::DOUBLE
                      / t.n_shingles::DOUBLE >= {_CONTAM_TAU}
                 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
FROM documents d
LEFT JOIN tot t ON d.doc_id = t.doc_id
LEFT JOIN hit h ON d.doc_id = h.doc_id
"""


@query(
    "llm_contamination",
    oracle=_CONTAMINATION_ORACLE,
    tags=("llm", "decontamination"),
)
def llm_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-document word-3-gram overlap
    against a held-out evaluation set (here the deterministic
    doc_id % 97 == 0 subset stands in for the benchmark), with the
    ≥ τ contamination verdict. The benchmark's distinct shingles are
    BROADCAST — eval suites stay MBs even against a 100 TB corpus — so
    the overlap check is a map-side semi join; the only shuffle is the
    per-doc count on the unique doc_id (operators/text_dedup.py
    shingle_overlap). Benchmark members flag themselves at overlap 1.0
    (the self-leak sanity floor, asserted in pytest)."""
    from ..operators.text_dedup import shingle_overlap

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % _CONTAM_BENCH_MOD == 0)
    ov = shingle_overlap(docs, bench)
    frac = F.when(
        F.col("n_shingles") > 0,
        F.round(
            F.col("n_overlap").cast("double") / F.col("n_shingles").cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    contaminated = (
        (F.col("n_shingles") > 0)
        & (
            F.col("n_overlap").cast("double") / F.col("n_shingles").cast("double")
            >= _CONTAM_TAU
        )
    ).cast("long")
    return ov.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        frac.alias("overlap_frac"),
        contaminated.alias("contaminated"),
    )


# ---------------------------------------------------------------- multimodal


@query(
    "llm_multimodal_meta",
    oracle="""
    SELECT doc_id,
           CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                             ELSE 'video' END AS media_type,
           length(text)::BIGINT AS byte_len,
           list_aggregate(list_transform(range(1, least(16, length(text)) + 1),
               i -> ascii(substr(text, i::INT, 1))), 'sum')::BIGINT AS checksum16,
           (1 + ascii(substr(text, 1, 1)) % 64)::INT AS width,
           (1 + ascii(substr(text, 2, 1)) % 64)::INT AS height,
           (CASE WHEN doc_id % 3 = 2 THEN 1 + ascii(substr(text, 3, 1)) % 30
                 ELSE 1 END)::INT AS n_frames
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def llm_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: text bytes as a stand-in payload
    → binary column + typed metadata → Arrow-batched mapInPandas feature
    extraction (stubbed decode; operators/multimodal.py). The oracle
    recomputes the features with byte arithmetic (the corpus is ASCII,
    so char ops == byte ops)."""
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(attach_fake_media(docs))


@query(
    "llm_multimodal_frames",
    oracle="""
    WITH v AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
    ),
    f AS (
      SELECT doc_id, text,
             unnest(range(0, (length(text) + 63) // 64)) AS idx
      FROM v
    )
    SELECT doc_id, idx::INT AS frame_idx,
           least(64, length(text) - idx * 64)::BIGINT AS frame_len,
           md5(substr(text, (idx * 64 + 1)::INT, 64)) AS frame_md5
    FROM f
    """,
    tags=("llm", "multimodal"),
)
def llm_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: video payloads exploded to fixed-stride
    byte windows via mapInPandas — the (doc_id, frame_idx, bytes) shape
    of a real video sampler, verified by md5 per frame."""
    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(attach_fake_media(docs), every_n_bytes=64)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame_bytes").cast("long").alias("frame_len"),
        F.md5("frame_bytes").alias("frame_md5"),
    )


@query(
    "llm_multimodal_resize",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                               ELSE 'video' END AS media_type,
             text, length(text) AS n
      FROM documents
    ),
    px AS (
      SELECT doc_id, media_type, text, n, unnest(range(0, 32)) AS i
      FROM m WHERE media_type IN ('image', 'video')
    )
    SELECT doc_id, media_type,
           lower(string_agg(
             CASE WHEN i < least(32, n)
                  THEN lpad(to_hex(ascii(substr(
                         text, ((i * n) // 32)::INT + 1, 1))), 2, '0')
                  ELSE '00' END,
             '' ORDER BY i)) AS payload_sig,
           8 AS width, 4 AS height
    FROM px GROUP BY doc_id, media_type
    UNION ALL
    SELECT doc_id, media_type, md5(text) AS payload_sig,
           0 AS width, 0 AS height
    FROM m WHERE media_type = 'audio'
    """,
    tags=("llm", "multimodal"),
)
def llm_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing for visual media (operators/multimodal.py
    resize_media): image/video payloads re-encoded at 8×4 via the
    deterministic nearest-neighbor byte-stride stand-in (the pixel work
    a real pipeline does with PIL/ffmpeg — absent here — behind the
    same mapInPandas shape); audio rows pass through untouched with
    width/height 0. The oracle re-derives the stride rule per output
    byte (`payload[(i*n)//area]`, zero-padded past min(area, n)) and
    compares payloads as hex for visual rows — hex, not md5, because
    the zero padding puts NUL bytes in short payloads, which a VARCHAR
    md5 can't carry — and as md5-of-text for the untouched audio rows
    (the corpus is ASCII, so char ops == byte ops)."""
    docs = load_table(spark, sf_dir, "documents")
    out = resize_media(attach_fake_media(docs), target_w=8, target_h=4)
    return out.select(
        "doc_id",
        "media_type",
        F.when(
            F.col("media_type") == "audio", F.md5(F.col("payload"))
        )
        .otherwise(F.lower(F.hex(F.col("payload"))))
        .alias("payload_sig"),
        "width",
        "height",
    )


# ------------------------------------------------- duplicate clustering


def _path_graph_edges(hashed: DataFrame) -> DataFrame:
    """Chain edges over each duplicate group of a (doc_id, ch) frame:
    consecutive sorted doc_ids sharing a content hash. The
    differential construction both cluster-backed keys rely on
    (llm_dedup_clusters, llm_split_leakage_safe): a k-doc group
    becomes a k−1-edge PATH, not a clique, so recovering the cluster
    from these edges requires genuine multi-hop transitive closure
    while the oracle knows the truth independently via GROUP BY hash.
    Shared so an edit to the edge construction can never land in one
    key's chain and not the other's.

    Built with `lag(doc_id) OVER (PARTITION BY ch ORDER BY doc_id)`
    rather than collect_list-then-explode: both shuffle once on `ch`,
    but the window form streams each group through the sort buffer a
    row at a time, so a hot duplicate group (empty docs, boilerplate —
    at 100 TB easily 10^7-10^9 copies of one hash) never has to
    materialize as a single multi-GB array row in one task. Rows whose
    lag is null (the first doc of each group, and every singleton
    group entirely) carry no edge and are filtered out — exactly the
    `size > 1` rule of the array construction."""
    prev = F.lag("doc_id").over(Window.partitionBy("ch").orderBy("doc_id"))
    return (
        hashed.select(prev.alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .filter(F.col("doc_a").isNotNull())
    )


@query(
    "llm_dedup_clusters",
    oracle="""
    WITH h AS (
      SELECT doc_id, sha256(lower(trim(text))) AS ch FROM documents
    )
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY ch) AS cluster_id,
           (doc_id = MIN(doc_id) OVER (PARTITION BY ch)) AS is_representative
    FROM h
    """,
    tags=("llm", "dedup", "graph"),
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: pair graph → connected components
    (alternating large-star/small-star, operators/graph.py) → one
    representative (min doc_id) per cluster.

    The differential construction makes an iterative graph algorithm
    fully SQL-checkable: edges are the PATH GRAPH over each
    exact-duplicate group (consecutive doc_ids sharing a content hash),
    so the true components are known independently — `GROUP BY hash` —
    while recovering them from the path edges requires genuine
    multi-hop transitive closure (a k-doc group is a k-1-edge chain,
    NOT a clique)."""
    from ..operators.graph import dedup_clusters
    from ..operators.text_dedup import normalized_text_hash

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", normalized_text_hash(F.col("text")).alias("ch")
    )
    return dedup_clusters(_path_graph_edges(docs), docs.select("doc_id")).select(
        "doc_id", "cluster_id", "is_representative"
    )


# Planted exact-duplicate groups for the leakage-safe split (the
# documents table has no natural copies): doc_id % 7 == 3 docs share a
# passage keyed by doc_id % 35 — five groups (35 = 5·7; residues
# ≡ 3 mod 7), each sweeping the id space, so every group holds many
# members and genuine multi-hop closure is required to recover it from
# the path-graph edges.
_LEAK_PLANT_SQL = """CASE WHEN doc_id % 7 = 3
              THEN 'leakage split planted passage '
                   || CAST(doc_id % 35 AS VARCHAR)
              ELSE text END"""


@query(
    "llm_split_leakage_safe",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id, {_LEAK_PLANT_SQL} AS text FROM documents
    ),
    h AS (
      SELECT doc_id, sha256(lower(trim(text))) AS ch FROM planted
    ),
    c AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY ch) AS cluster_id
      FROM h
    )
    SELECT doc_id, cluster_id, {_SPLIT_CASE_SQL} AS split
    FROM (SELECT doc_id, cluster_id,
                 substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1) AS hx
          FROM c)
    """,
    tags=("llm", "sampling", "dedup", "graph"),
)
def llm_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the assignment key is the
    DUPLICATE-CLUSTER id, not the doc id, so copies of the same
    content can never straddle splits — the eval-contamination failure
    mode a per-doc hash split (llm_split_sample) cannot prevent (two
    duplicates hash independently and one lands in test while its twin
    trains). Composition: exact-dup path-graph edges → connected
    components (operators/graph.py, the llm_dedup_clusters chain) →
    every member inherits the split of its cluster's min-id
    representative via the SAME hex-nibble rule as llm_split_sample
    (shared `_split_of` / `_SPLIT_CASE_SQL` — singleton docs get
    exactly their per-doc assignment, so the leakage-safe split is a
    strict refinement, not a reshuffle).

    The oracle re-derives clusters independently (hash-partition MIN —
    the llm_dedup_clusters differential: recovering them from the
    path edges needs genuine multi-hop closure) and the split CASE
    from the same shared fragment. Planted duplicate groups (header
    comment) make the inheritance non-trivial at every SF.

    Scale shape: the clusters chain is the audited alternating-star
    component path (O(E) narrow rows per round, no cartesian); the
    split itself is one map-side expression on cluster_id — no
    additional shuffle over llm_dedup_clusters."""
    from ..operators.graph import dedup_clusters
    from ..operators.text_dedup import normalized_text_hash

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 3,
            F.concat(
                F.lit("leakage split planted passage "),
                (F.col("doc_id") % 35).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    hashed = docs.select(
        "doc_id", normalized_text_hash(F.col("text")).alias("ch")
    )
    clusters = dedup_clusters(_path_graph_edges(hashed), hashed.select("doc_id"))
    return clusters.select(
        "doc_id",
        "cluster_id",
        _split_of(F.col("cluster_id")).alias("split"),
    )


# llm_dedup_semantic's cap, mirrored in its oracle's pair stage (which
# shares `_rhp_pairs_cte` verbatim with llm_dup_cosine_lsh, at this
# key's 12×12 geometry).
_SEMANTIC_MAX_BUCKET = 10_000


def _dedup_semantic_oracle(max_bucket: int) -> str:
    """The semantic-clusters oracle: the shared capped RHP pair chain
    (`_rhp_pairs_cte`, 12×12) feeding the WITH RECURSIVE transitive
    closure — parameterized by cap for the differential test, like
    every LSH oracle since r15."""
    return f"""
    WITH RECURSIVE {_PLANTED_CORPUS_CTE},
    {_rhp_pairs_cte(_SEMANTIC_LSH_TABLES, _SEMANTIC_LSH_PLANES, max_bucket)},
    pairs AS (
      SELECT ia AS ua, ib AS ub FROM ver
      WHERE cs >= {_LSH_DUP_THRESHOLD}
    ),
    edges AS (
      SELECT ua, ub FROM pairs UNION SELECT ub AS ua, ua AS ub FROM pairs
    ),
    reach(node, r) AS (
      SELECT vec_id, vec_id FROM corpus
      UNION
      SELECT reach.node, e.ub FROM reach JOIN edges e ON reach.r = e.ua
    )
    SELECT node AS vec_id,
           MIN(r) AS cluster_id,
           (node = MIN(r)) AS is_representative
    FROM reach
    GROUP BY node
    """


@query(
    "llm_dedup_semantic",
    oracle=_dedup_semantic_oracle(_SEMANTIC_MAX_BUCKET),
    tags=("llm", "dedup", "embedding", "graph"),
)
def llm_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup end-to-end: the composition a
    training pipeline actually runs — RHP-LSH near-dup PAIRS
    (`cosine_dup_pairs_lsh`, the `llm_dup_cosine_lsh` scale path) →
    connected components (`dedup_clusters`, alternating-star label
    propagation) → one min-id representative per CLUSTER. The text-side
    twin is `llm_dedup_minhash_lsh` + `llm_dedup_clusters`; this closes
    the same loop for embeddings.

    Fixture: the planted index-parity corpus (`_planted_dup_corpus`) —
    every vector gets one near-duplicate at cosine ≥ 0.99875 while the
    strongest organic pair sits near 0.5, so at the 0.98 threshold the
    true clusters are exactly the {{v, v + offset}} pairs and LSH
    recall is 1 up to a negligible escape probability: a planted pair
    (cos ≥ 0.99875 → θ ≤ 0.0159π) disagrees on one of 12 planes with
    p = 1-(1-0.0159)^12 ≈ 0.175 per table, so it escapes all 12 tables
    with p ≈ 0.175¹² ≈ 8e-10. 12 planes rather than
    `llm_dup_cosine_lsh`'s 8 is the operator's own tuning law applied
    (similarity.py: raise planes as N grows): at the bench corpus
    (2×2000 vectors) 8 planes leave ~16 vectors per bucket and ~430k
    candidate pairs for the exact-cosine verify — 4× the whole
    operator's cost — where 12 planes leave ~35k (measured; the
    correlated synthetic dimensions collide more than the isotropic
    estimate) while the planted recall margin stays astronomically
    safe.

    The oracle recomputes the clusters independently: the SAME capped
    12×12 RHP banding in DuckDB (`_rhp_pairs_cte`, shared verbatim
    with the llm_dup_cosine_lsh oracle — since r15, closing the former
    all-pairs oracle's silent-divergence window when the bucket cap
    first binds) feeds a WITH RECURSIVE transitive closure (min label
    per reachable set) — genuine multi-hop closure, not an assumption
    of pair-sized clusters, so a future fixture with chained near-dups
    still oracle-checks.

    Scale shape: corpus never self-joins all-pairs (one (table, sig)
    shuffle + capped in-bucket expansion); components shuffle O(E)
    narrow rows per star round; the final labeling is one left join on
    vec_id. No driver-side state anywhere."""
    return _dedup_semantic_clusters(spark, sf_dir)


def _dedup_semantic_clusters(
    spark: SparkSession, sf_dir: str,
    max_bucket_size: int = _SEMANTIC_MAX_BUCKET,
) -> DataFrame:
    """llm_dedup_semantic's body with the bucket cap exposed (the
    `_incrm_classified` convention) for the cap-binding differential
    test — the fixture lives once."""
    from ..operators.graph import dedup_clusters

    corpus = _planted_dup_corpus(load_table(spark, sf_dir, "embeddings"))
    pairs = cosine_dup_pairs_lsh(
        corpus,
        dim=64,
        threshold=_LSH_DUP_THRESHOLD,
        num_tables=_SEMANTIC_LSH_TABLES,
        planes_per_table=_SEMANTIC_LSH_PLANES,
        max_bucket_size=max_bucket_size,
    )
    return dedup_clusters(
        pairs,
        corpus.select("vec_id"),
        id_col="vec_id",
        a_col="id_a",
        b_col="id_b",
    ).select("vec_id", "cluster_id", "is_representative")


# Incremental-semantic split rule, a Spark/SQL twin pair (the
# _SPLIT_CASE_SQL / _split_of convention — ONE SQL copy interpolated
# into the oracle, ONE Spark copy; tests derive membership from the
# Spark helper, never a third hand-written rule): per planted pair
# {original, original + _PLANT_OFFSET}, residue 0 of the base id puts
# BOTH in the batch (min member 'new', plant 'dup_batch'), residue 1
# puts only the plant in the batch ('dup_corpus' matched to the
# original), residue 2 only the original ('dup_corpus' matched to the
# plant), everything else stays in the corpus — all three statuses
# fire at every SF with a ~20% increment.
_INCR_SEM_IS_BATCH_SQL = f"""((vec_id % {_PLANT_OFFSET}) % 10 = 0)
             OR ((vec_id % {_PLANT_OFFSET}) % 10 = 1
                 AND vec_id >= {_PLANT_OFFSET})
             OR ((vec_id % {_PLANT_OFFSET}) % 10 = 2
                 AND vec_id < {_PLANT_OFFSET})"""


def _incr_sem_is_batch(vec_id: Column) -> Column:
    """Spark twin of _INCR_SEM_IS_BATCH_SQL."""
    base = vec_id % _PLANT_OFFSET
    return (
        (base % 10 == 0)
        | ((base % 10 == 1) & (vec_id >= _PLANT_OFFSET))
        | ((base % 10 == 2) & (vec_id < _PLANT_OFFSET))
    )


# Degenerate-bucket cap for the incremental-semantic key, passed
# explicitly to incremental_dedup_semantic AND mirrored in the
# oracle's bb/cbk HAVING clauses — the same convention as the MinHash
# twin's _INCR_MAX_BUCKET (commit 73a6423), closing the documented
# twin asymmetry: before this mirror the oracle was parameter-free
# all-pairs cosine, correct only while the cap never binds (~sf20000
# on this fixture); now both engines carry the identical whole-bucket
# drop rule at every SF.
_INCR_SEM_MAX_BUCKET = 10_000


def _incr_sem_bands_cte() -> str:
    """The split → sigv → bands CTE chain (batch flag, per-table
    signature list, exploded (band, bucket) keys) — ONE copy, shared
    by `_incr_sem_oracle` and the band-parity differential test
    (tests/test_llm.py), so the test provably exercises the oracle's
    own banding text rather than a rebuilt twin."""
    sig_list = _rhp_sigs_sql(_SEMANTIC_LSH_TABLES, _SEMANTIC_LSH_PLANES)
    return f"""split AS (
      SELECT vec_id, v,
             {_INCR_SEM_IS_BATCH_SQL} AS is_batch
      FROM corpus
    ),
    sigv AS (
      -- NULL-vector guard, mirroring rhp_signatures' vecs.notna()
      -- handling (see _rhp_pairs_cte): Spark emits NO bands for a
      -- NULL embedding; unguarded, DuckDB would band it as all-zeros
      SELECT vec_id, is_batch, {sig_list} AS sigs
      FROM split WHERE v IS NOT NULL
    ),
    bands AS (
      SELECT vec_id, is_batch, b.band, sigs[b.band + 1] AS bucket
      FROM sigv, (SELECT unnest(range(0, {_SEMANTIC_LSH_TABLES})) AS band) b
    )"""


def _incr_sem_oracle(max_bucket: int) -> str:
    """The incremental-semantic oracle with DuckDB-recomputed RHP
    banding and the degenerate-bucket cap interpolated — parameterized
    (the `_incrm_oracle` convention) so the cap-binding differential
    test can run BOTH engines at a tiny cap and prove the bb/cbk
    mirror exact where it actually drops buckets. Candidates come from
    capped (band, bucket) collisions exactly as in the engine
    (`_incremental_classify_lsh`): batch-side counts over the full
    batch banding, corpus-side counts over the full corpus banding
    (Spark semi-filters the corpus first, but the semi-filter keeps
    whole buckets, so per-bucket counts agree for every bucket that
    can produce a candidate); whole oversized buckets drop per side;
    verification stays exact cosine, so precision is unchanged and the
    mirror only has to agree on candidate generation."""
    return f"""
    WITH {_PLANTED_CORPUS_CTE},
    {_incr_sem_bands_cte()},
    bb AS (
      SELECT d.* FROM bands d
      JOIN (SELECT band, bucket FROM bands WHERE is_batch
            GROUP BY 1, 2 HAVING count(*) <= {max_bucket}) k
      USING (band, bucket)
      WHERE d.is_batch
    ),
    cbk AS (
      SELECT d.* FROM bands d
      JOIN (SELECT band, bucket FROM bands WHERE NOT is_batch
            GROUP BY 1, 2 HAVING count(*) <= {max_bucket}) k
      USING (band, bucket)
      WHERE NOT d.is_batch
    ),
    cross_ver AS (
      SELECT * FROM (
        SELECT cc.batch_id, cc.corpus_id, {_cos_sql('x.v', 'y.v')} AS cs
        FROM (
          SELECT DISTINCT b.vec_id AS batch_id, c.vec_id AS corpus_id
          FROM bb b JOIN cbk c ON b.band = c.band AND b.bucket = c.bucket
        ) cc
        JOIN split x ON cc.batch_id = x.vec_id
        JOIN split y ON cc.corpus_id = y.vec_id
      ) WHERE cs >= {_LSH_DUP_THRESHOLD}
    ),
    intra_ver AS (
      SELECT * FROM (
        SELECT ic.doc_a, ic.doc_b, {_cos_sql('x.v', 'y.v')} AS cs
        FROM (
          SELECT DISTINCT l.vec_id AS doc_a, r.vec_id AS doc_b
          FROM bb l JOIN bb r ON l.band = r.band AND l.bucket = r.bucket
                             AND l.vec_id < r.vec_id
        ) ic
        JOIN split x ON ic.doc_a = x.vec_id
        JOIN split y ON ic.doc_b = y.vec_id
      ) WHERE cs >= {_LSH_DUP_THRESHOLD}
    ),
    cross_best AS (
      SELECT batch_id, min(corpus_id) AS cm, arg_min(cs, corpus_id) AS cj
      FROM cross_ver GROUP BY 1
    ),
    intra_best AS (
      SELECT doc_b, min(doc_a) AS bm, arg_min(cs, doc_a) AS bj
      FROM intra_ver GROUP BY 1
    )
    SELECT s.vec_id,
           CASE WHEN cb.cm IS NOT NULL THEN 'dup_corpus'
                WHEN ib.bm IS NOT NULL THEN 'dup_batch'
                ELSE 'new' END AS status,
           CAST(coalesce(cb.cm, ib.bm) AS BIGINT) AS matched_vec_id,
           round(CASE WHEN cb.cm IS NOT NULL THEN cb.cj ELSE ib.bj END, 6)
             AS cosine_r
    FROM split s
    LEFT JOIN cross_best cb ON s.vec_id = cb.batch_id
    LEFT JOIN intra_best ib ON s.vec_id = ib.doc_b
    WHERE s.is_batch
    """


# The production-cap instantiation, hoisted to ONE module constant so
# the two key registrations and the indexed key's scratch-path fixture
# token can never desynchronize (the r16 review's finding: a token
# that re-derives the oracle independently stops tracking it the day
# the registration changes — the _INCRM_ORACLE sharing pattern).
_INCR_SEM_ORACLE = _incr_sem_oracle(_INCR_SEM_MAX_BUCKET)


@query(
    "llm_dedup_incremental_semantic",
    oracle=_INCR_SEM_ORACLE,
    tags=("llm", "dedup", "embedding"),
)
def llm_dedup_incremental_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC dedup: classify an incoming embedding
    increment against the indexed corpus by RHP-LSH signature
    collision + exact-cosine verification — the embedding-space twin
    of `llm_dedup_incremental_minhash` (same statuses, same
    first-wins / min-corpus-match contract), completing the
    incremental pair: a daily embedding increment is checked against
    the corpus signature index, never by re-clustering 100 TB of
    vectors. One row per batch vector: dup_corpus / dup_batch / new
    with the matched vector's cosine.

    Scale shape (operators/similarity.py::incremental_dedup_semantic):
    corpus signatures are computed map-side (Arrow numpy matmul) and
    semi-filtered against a broadcast of the increment's signature
    keys before anything pairs — the corpus never pair-expands and
    never fully shuffles; both cross-candidate sides are capped per
    bucket; every shuffle is increment/candidate-sized.

    Fixture: the shared planted index-parity corpus
    (`_planted_dup_corpus` — every vector one near-dup at cosine
    ≥ 0.99875, strongest organic pair ~0.5) under the
    `_incr_sem_is_batch` split, so all three statuses fire at every
    SF. With {_SEMANTIC_LSH_TABLES} tables × {_SEMANTIC_LSH_PLANES}
    planes a planted pair escapes every table with p ≈ 8e-10
    (llm_dedup_semantic's tuning, same corpus), so LSH recall is 1
    here and the parameter-free exact all-pairs oracle value-checks
    status, matched id, AND cosine.

    Cap convention: the oracle mirrors the degenerate-bucket cap
    (bb/cbk HAVING clauses over DuckDB-recomputed RHP banding — the
    planes are md5-derived and interpolated from the same
    `_plane_matrix` Spark uses, see `_rhp_bucket_exprs`), the same
    convention as `llm_dedup_incremental_minhash` since commit
    73a6423. RHP buckets grow only ~2N/2^{_SEMANTIC_LSH_PLANES} ≈
    N/2048 on this fixture, so the 10k cap first binds around
    N ≈ 2·10⁷ base vectors (~sf20000) — but since both engines now
    carry the identical whole-bucket drop rule, the key stays
    value-identical past that scale instead of silently diverging.
    Band parity and the cap mirror are each pinned by differential
    pytests (bands set-equality at sf0.001; both engines at cap=1,
    where the intra path collapses and dup_batch members flip to
    new)."""
    return _incr_sem_classified(spark, sf_dir)


def _incr_sem_split(spark: SparkSession, sf_dir: str):
    """The incremental-semantic planted fixture's (corpus, batch)
    split — ONE copy shared by the in-memory key, the indexed key,
    and the differential tests (the `_incrm_split` convention)."""
    corpus_all = _planted_dup_corpus(load_table(spark, sf_dir, "embeddings"))
    is_batch = _incr_sem_is_batch(F.col("vec_id"))
    return corpus_all.filter(~is_batch), corpus_all.filter(is_batch)


def _incr_sem_classified(
    spark: SparkSession, sf_dir: str,
    max_bucket_size: int = _INCR_SEM_MAX_BUCKET,
) -> DataFrame:
    """llm_dedup_incremental_semantic's body with the bucket cap
    exposed (the `_incrm_classified` convention), so the cap-binding
    differential test can run the SAME fixture at a tiny cap against
    `_incr_sem_oracle(cap)` — the fixture lives once; tests must not
    rebuild it by hand."""
    corpus, batch = _incr_sem_split(spark, sf_dir)
    return incremental_dedup_semantic(
        corpus=corpus,
        batch=batch,
        dim=64,
        threshold=_LSH_DUP_THRESHOLD,
        num_tables=_SEMANTIC_LSH_TABLES,
        planes_per_table=_SEMANTIC_LSH_PLANES,
        max_bucket_size=max_bucket_size,
    )


def llm_dedup_incremental_semantic_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental SEMANTIC dedup against a PRE-MATERIALIZED RHP
    signature index — the embedding-space twin of
    `llm_dedup_incremental_indexed`, completing the indexed pair: the
    (vec_id, band, bucket) index is written band-partitioned to the
    dataset scratch tree (`similarity.rhp_write_index`, one
    shuffle-free Arrow-matmul pass, run per corpus SNAPSHOT in
    production) and the classify reads it back (`read_index`) through
    the shared skeleton's `corpus_index` face, after checking the
    manifest's recorded geometry against its own — the per-increment
    corpus signature matmul disappears into a column-pruned narrow-row
    index scan, exactly the production note in
    `incremental_dedup_semantic`'s docstring made physical.

    Same fixture (`_incr_sem_split`), same skeleton, same statuses —
    results IDENTICAL to `llm_dedup_incremental_semantic`, whose
    catalog slot (the full banded+capped `_INCR_SEM_ORACLE`) verifies
    this computation too. Public API but deliberately NOT a catalog
    slot since r19 (the `llm_token_shards` precedent — see the MinHash
    twin above for the consolidation rationale); pytest pins the
    in-memory/indexed frame equality directly and plan-gates the
    Arrow-stage reduction (only the batch side still runs the
    signature UDF); bench.py keeps its component census seat."""
    corpus, batch = _incr_sem_split(spark, sf_dir)
    # "doc" marks the doc_id-named id column (rhp_write_index's
    # contract since the id-alias fix)
    index = scratch_dir(sf_dir, "rhp_doc_index")
    materialize_once(
        index,
        {
            "dim": 64, "num_tables": _SEMANTIC_LSH_TABLES,
            "planes_per_table": _SEMANTIC_LSH_PLANES,
            "oracle": _INCR_SEM_ORACLE,
            "schema": corpus.schema.simpleString(),
            "manifest_format": _MANIFEST_FORMAT,
        },
        lambda p: rhp_write_index(
            corpus, p, dim=64,
            num_tables=_SEMANTIC_LSH_TABLES,
            planes_per_table=_SEMANTIC_LSH_PLANES,
        ),
    )
    return incremental_dedup_semantic(
        corpus=corpus,
        batch=batch,
        dim=64,
        threshold=_LSH_DUP_THRESHOLD,
        num_tables=_SEMANTIC_LSH_TABLES,
        planes_per_table=_SEMANTIC_LSH_PLANES,
        max_bucket_size=_INCR_SEM_MAX_BUCKET,
        corpus_index=index,
    )


# ------------------------------------------------------- mixture rebalancing


@query(
    "llm_mixture_weights",
    oracle=f"""
    WITH per AS (
      SELECT lang,
             count(*) AS n_docs,
             CAST(sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                      ELSE len({_TOK}) END) AS BIGINT) AS lang_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(floor(sum(lang_tokens)::DOUBLE / count(*)) AS BIGINT)
               AS target_tokens
      FROM per
    )
    SELECT lang, n_docs, lang_tokens,
           tot.target_tokens,
           round(least(1.0, tot.target_tokens::DOUBLE
                            / lang_tokens::DOUBLE), 6) AS sample_rate_r,
           CAST(least(lang_tokens, tot.target_tokens) AS BIGINT)
             AS expected_tokens
    FROM per, tot
    """,
    tags=("llm", "curation"),
)
def llm_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture rebalancing weights: per-language token mass and
    the per-language sampling rate that moves the corpus toward a
    UNIFORM token mixture — the knob a training-data pipeline turns
    before cutting a training set (down-sample the over-represented
    languages to the per-group target, keep under-target groups whole:
    rate = min(1, target/lang_tokens); capped rates make
    expected_tokens = min(lang_tokens, target) EXACTLY, so the output
    stays integer-only and hash-stable cross-engine with no float
    multiply at the boundary). Token counting is the repo-wide
    whitespace convention (`words`, `_TOK`), NULL/blank docs count 0.

    Scale shape: ONE corpus scan — a map-side token-count projection
    into a (lang)-keyed partial agg, then the total/target derived by
    an unbounded window over the POST-AGGREGATE frame (~|langs| rows
    through a single-partition exchange — the tiny-frame analog of a
    broadcast total, never a second corpus pass; Catalyst would plan a
    separate `per.agg()` total as a second full scan). Adding a
    target-share column (non-uniform mixtures) changes the arithmetic,
    not the plan."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        F.when(
            F.col("text").isNull() | (F.trim(F.col("text")) == ""), F.lit(0)
        )
        .otherwise(F.size(words(F.col("text"))))
        .cast("long")
    )
    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tok).alias("lang_tokens"),
    )
    w = Window.partitionBy()
    target = F.floor(
        F.sum("lang_tokens").over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    ).cast("long")
    return per.select(
        "lang",
        "n_docs",
        "lang_tokens",
        target.alias("target_tokens"),
        F.round(
            F.least(
                F.lit(1.0),
                target.cast("double") / F.col("lang_tokens").cast("double"),
            ),
            6,
        ).alias("sample_rate_r"),
        F.least(F.col("lang_tokens"), target).alias("expected_tokens"),
    )


# --------------------------------------------- incremental e2e composition


from .pipelines import (  # noqa: E402 — the exact parameters the
    # composition passes to its stages; imported (pipelines has no
    # plans-internal imports, so no cycle) so the oracle mirrors what
    # the pipeline ACTUALLY runs — every parameter, not just the cap;
    # a retune of any sibling key's constants can no longer silently
    # desynchronize this oracle from the composition.
    _INCR_E2E_BATCH_SPLIT,
    _INCR_E2E_COSINE,
    _INCR_E2E_JACCARD,
    _INCR_E2E_MAX_BUCKET,
    _INCR_E2E_NUM_BANDS,
    _INCR_E2E_ROWS_PER_BAND,
    _INCR_E2E_SEM_PLANES,
    _INCR_E2E_SEM_TABLES,
    _INCR_E2E_SHINGLE_K,
)


# Cross-stage planted fixture for the composed key (r16, VERDICT r15
# item 5): over the natural tables only the exact stage and the
# 'none'/'new' fall-through fire (natural text is corpus-unique and
# natural embeddings have no >= 0.98 cross-split pairs), so the driver
# hash pinned the composition and conservation but not the minhash /
# semantic stage attribution — that lived only in the planted pytest.
# Six residue classes plant one group per (stage, status). Batch-only
# classes use modulus 200 with residues ≡ 8/9 (mod 10), so every
# member sits inside the 20% increment; cross-split classes use
# modulus 53 (53 ⊥ 10 → members sweep every doc_id % 10 residue, so
# each group has corpus AND batch members at every SF, down to the
# 500-doc test tables). Text plants:
#   doc_id % 200 == 8 → shared literal, batch-only → (exact, dup_batch)
#   doc_id % 53 == 3 → shared literal, cross-split → (exact, dup_corpus)
#   doc_id % 200 == 9 → 25-token passage + ' u'||doc_id
#                                         → (minhash, dup_batch)
#   doc_id % 53 == 7 → 25-token passage + ' v'||doc_id
#                                         → (minhash, dup_corpus)
# The unique suffix token keeps every minhash plant EXACT-unique (the
# exact stage must not resolve it) while k=3 shingling shares 23 of
# each member's 24 shingles: within-group Jaccard = 23/25 = 0.92 ≥ the
# 0.8 threshold. Embedding plants — residue classes disjoint from the
# text plants by the explicit exclusion (a text-planted batch doc
# resolves BEFORE the semantic stage and would waste its plant):
#   vec_id % 200 == 19 → base (i % 7) + 1, batch-only
#                                         → (semantic, dup_batch)
#   vec_id % 53 == 11 → base (i % 5) + 2, cross-split
#                                         → (semantic, dup_corpus)
# each perturbed by the _planted_dup_corpus parity trick (component i
# × 1.05 when (vec_id + i) even, else × 0.95): same-parity members are
# IDENTICAL vectors (cosine exactly 1), opposite-parity ≈ 0.9956 —
# both ≥ the 0.98 threshold — while the two base patterns sit near
# 0.84 of each other. Semantic-class members ALSO get a planted text:
# the single unique token 'qse'||doc_id — exact-unique AND below the
# k=3 shingle floor (one word → empty shingle set → no MinHash
# candidates), so NO earlier stage can steal them: the natural tables
# contain genuine near-dup pairs (±4-char templated texts, e.g.
# doc 329 ↔ 270 at the 500-doc tables) that would otherwise resolve a
# semantic plant at the minhash stage whenever a class member happens
# to be one. Un-planted docs keep natural text/embedding →
# 'none'/'new' (the natural near-dup pairs keep firing extra
# (minhash, dup_corpus) mass — mirrored by the oracle, which applies
# these same CASEs and re-derives the stages). All seven
# (stage, status) rows fire at every tested SF; the SQL CASEs mirror
# the Spark builders branch for branch, and the value check is pinned
# by the tests/test_llm.py attribution test plus the all-keys oracle
# differential.
_E2E_EXACT_BATCH_TXT = "e2e planted exact batch passage"
_E2E_EXACT_SHARED_TXT = "e2e planted exact shared passage"
_E2E_MH_BATCH_TXT = " ".join(f"qmb{i:02d}" for i in range(25))
_E2E_MH_SHARED_TXT = " ".join(f"qms{i:02d}" for i in range(25))


def _e2e_planted_docs(docs: DataFrame) -> DataFrame:
    """Text plants over documents — Spark twin of the oracle's
    `_E2E_PLANT_TEXT_SQL` CASE (same branch order: on the measure-zero
    residue overlaps, first match wins in both engines)."""
    d = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.when(d % 200 == 8, F.lit(_E2E_EXACT_BATCH_TXT))
        .when(d % 53 == 3, F.lit(_E2E_EXACT_SHARED_TXT))
        .when(
            d % 200 == 9,
            F.concat(F.lit(_E2E_MH_BATCH_TXT + " u"), d.cast("string")),
        )
        .when(
            d % 53 == 7,
            F.concat(F.lit(_E2E_MH_SHARED_TXT + " v"), d.cast("string")),
        )
        .when(
            (d % 200 == 19) | (d % 53 == 11),
            F.concat(F.lit("qse"), d.cast("string")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def _e2e_sem_base(vec_id: Column, mod: int, add: int) -> Column:
    """Planted semantic base pattern ((i % mod) + add), parity-
    perturbed — Spark twin of `_e2e_sem_base_sql` (DuckDB's
    range(1, 65) is 1-based; its (i - 1) ≙ this 0-based i, the
    _PLANTED_CORPUS_CTE convention)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: ((i % mod) + add).cast("double")
        * F.when((vec_id + i) % 2 == 0, F.lit(1.05)).otherwise(F.lit(0.95)),
    )


def _e2e_planted_emb(emb: DataFrame) -> DataFrame:
    """Embedding plants over embeddings — Spark twin of the oracle's
    `_E2E_PLANT_EMB_SQL` CASE. Natural embeddings are cast to double
    up front so both engines run every downstream signature/cosine in
    identical IEEE double arithmetic (the planted-fixture family
    convention)."""
    v = F.col("vec_id")
    text_planted = (v % 200).isin(8, 9) | (v % 53).isin(3, 7)
    return emb.select(
        "vec_id",
        F.when((v % 200 == 19) & ~text_planted, _e2e_sem_base(v, 7, 1))
        .when(
            (v % 53 == 11) & ~text_planted & (v % 200 != 19),
            _e2e_sem_base(v, 5, 2),
        )
        .otherwise(F.col("embedding").cast("array<double>"))
        .alias("embedding"),
    )


def _e2e_sem_base_sql(mod: int, add: int) -> str:
    """DuckDB spelling of `_e2e_sem_base`."""
    return (
        f"list_transform(range(1, 65), i -> "
        f"(((i - 1) % {mod}) + {add})::DOUBLE * "
        f"(CASE WHEN (vec_id + i - 1) % 2 = 0 THEN 1.05 ELSE 0.95 END))"
    )


_E2E_TEXT_PLANTED_SQL = "(vec_id % 200 IN (8, 9) OR vec_id % 53 IN (3, 7))"

_E2E_PLANT_TEXT_SQL = f"""CASE
           WHEN doc_id % 200 = 8 THEN '{_E2E_EXACT_BATCH_TXT}'
           WHEN doc_id % 53 = 3 THEN '{_E2E_EXACT_SHARED_TXT}'
           WHEN doc_id % 200 = 9
           THEN '{_E2E_MH_BATCH_TXT} u' || CAST(doc_id AS VARCHAR)
           WHEN doc_id % 53 = 7
           THEN '{_E2E_MH_SHARED_TXT} v' || CAST(doc_id AS VARCHAR)
           WHEN doc_id % 200 = 19 OR doc_id % 53 = 11
           THEN 'qse' || CAST(doc_id AS VARCHAR)
           ELSE text END"""

_E2E_PLANT_EMB_SQL = f"""CASE
           WHEN vec_id % 200 = 19 AND NOT {_E2E_TEXT_PLANTED_SQL}
           THEN {_e2e_sem_base_sql(7, 1)}
           WHEN vec_id % 53 = 11 AND NOT {_E2E_TEXT_PLANTED_SQL}
                AND vec_id % 200 <> 19
           THEN {_e2e_sem_base_sql(5, 2)}
           ELSE embedding::DOUBLE[] END"""


def _incr_e2e_oracle(max_bucket: int) -> str:
    """DuckDB twin of plans/pipelines.py::incremental_e2e_pipeline —
    the full exact → MinHash → RHP-semantic waterfall with the SAME
    cheapest-test-first narrowing, recomputed independently end to
    end: stage 1 re-derives the content-hash classify, stage 2 the
    MinHash chain (the `_MINHASH_VER_CTES` signature/band formulas on
    the narrowed doc sets, per-side cap mirror), stage 3 the RHP
    banding (`_rhp_sigs_sql`, shared plane literals) over the
    embeddings of what stage 2 could not resolve. Per-stage verify
    conventions match each stage's own proven oracle (MinHash:
    rounded-then-thresholded Jaccard; semantic: unrounded cosine).
    Parameterized by the shared degenerate-bucket cap, the LSH-family
    convention."""
    sem_sigs = _rhp_sigs_sql(_INCR_E2E_SEM_TABLES, _INCR_E2E_SEM_PLANES)
    lanes = _INCR_E2E_NUM_BANDS * _INCR_E2E_ROWS_PER_BAND
    return f"""
    WITH d AS (
      SELECT doc_id, {_E2E_PLANT_TEXT_SQL} AS text,
             (doc_id % 10 >= {_INCR_E2E_BATCH_SPLIT}) AS is_batch
      FROM documents
    ),
    ch AS (
      SELECT doc_id, is_batch, sha256(lower(trim(text))) AS h FROM d
    ),
    bidx AS (
      SELECT h, min(doc_id) AS bfirst FROM ch
      WHERE is_batch GROUP BY h
    ),
    cidx AS (
      SELECT h, min(doc_id) AS cfirst FROM ch
      WHERE NOT is_batch GROUP BY h
    ),
    exact AS (
      SELECT c.doc_id,
             CASE WHEN ci.cfirst IS NOT NULL THEN 'dup_corpus'
                  WHEN c.doc_id > bi.bfirst THEN 'dup_batch'
                  ELSE 'new' END AS status
      FROM ch c
      JOIN bidx bi ON c.h = bi.h
      LEFT JOIN cidx ci ON c.h = ci.h
      WHERE c.is_batch
    ),
    rem1 AS (
      SELECT doc_id FROM d WHERE is_batch
      AND doc_id NOT IN (SELECT doc_id FROM exact WHERE status <> 'new')
    ),
    m_src AS (
      SELECT d.doc_id, d.text, d.is_batch FROM d
      WHERE NOT d.is_batch OR d.doc_id IN (SELECT doc_id FROM rem1)
    ),
    m_tok AS (SELECT doc_id, is_batch, {_TOK} AS w FROM m_src),
    m_sh AS (SELECT doc_id, is_batch,
                    {_shingles_sql(_INCR_E2E_SHINGLE_K)} AS shingles
             FROM m_tok),
    m_sig AS (
      SELECT doc_id, is_batch,
         {_minhash_sig_sql(lanes)} AS sig
      FROM m_sh
    ),
    m_bands AS (
      SELECT doc_id, is_batch, b.band,
         {_minhash_bucket_sql(_INCR_E2E_ROWS_PER_BAND)} AS bucket
      FROM m_sig,
           (SELECT unnest(range(0, {_INCR_E2E_NUM_BANDS})) AS band) b
    ),
    m_bb AS (
      SELECT t.* FROM m_bands t
      JOIN (SELECT band, bucket FROM m_bands WHERE is_batch
            GROUP BY 1, 2 HAVING count(*) <= {max_bucket}) k
      USING (band, bucket)
      WHERE t.is_batch
    ),
    m_cbk AS (
      SELECT t.* FROM m_bands t
      JOIN (SELECT band, bucket FROM m_bands WHERE NOT is_batch
            GROUP BY 1, 2 HAVING count(*) <= {max_bucket}) k
      USING (band, bucket)
      WHERE NOT t.is_batch
    ),
    m_sets AS (SELECT doc_id, list_distinct(shingles) AS s FROM m_sh),
    m_cross AS (
      SELECT * FROM (
        SELECT cc.batch_id, cc.corpus_id,
               round(CASE WHEN len(list_distinct(x.s || y.s)) > 0
                     THEN len(list_intersect(x.s, y.s))::DOUBLE
                          / len(list_distinct(x.s || y.s))::DOUBLE
                     ELSE 0.0 END, 6) AS j
        FROM (
          SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
          FROM m_bb b JOIN m_cbk c ON b.band = c.band AND b.bucket = c.bucket
        ) cc
        JOIN m_sets x ON cc.batch_id = x.doc_id
        JOIN m_sets y ON cc.corpus_id = y.doc_id
      ) WHERE j >= {_INCR_E2E_JACCARD}
    ),
    m_intra AS (
      SELECT * FROM (
        SELECT ic.doc_a, ic.doc_b,
               round(CASE WHEN len(list_distinct(x.s || y.s)) > 0
                     THEN len(list_intersect(x.s, y.s))::DOUBLE
                          / len(list_distinct(x.s || y.s))::DOUBLE
                     ELSE 0.0 END, 6) AS j
        FROM (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM m_bb l JOIN m_bb r ON l.band = r.band AND l.bucket = r.bucket
                                 AND l.doc_id < r.doc_id
        ) ic
        JOIN m_sets x ON ic.doc_a = x.doc_id
        JOIN m_sets y ON ic.doc_b = y.doc_id
      ) WHERE j >= {_INCR_E2E_JACCARD}
    ),
    near AS (
      SELECT r.doc_id,
             CASE WHEN cb.cm IS NOT NULL THEN 'dup_corpus'
                  WHEN ib.bm IS NOT NULL THEN 'dup_batch'
                  ELSE 'new' END AS status
      FROM rem1 r
      LEFT JOIN (SELECT batch_id, min(corpus_id) AS cm
                 FROM m_cross GROUP BY 1) cb ON r.doc_id = cb.batch_id
      LEFT JOIN (SELECT doc_b, min(doc_a) AS bm
                 FROM m_intra GROUP BY 1) ib ON r.doc_id = ib.doc_b
    ),
    rem2 AS (SELECT doc_id FROM near WHERE status = 'new'),
    eb AS (
      SELECT vec_id, {_E2E_PLANT_EMB_SQL} AS v,
             (vec_id % 10 >= {_INCR_E2E_BATCH_SPLIT}) AS is_batch
      FROM embeddings
      WHERE vec_id % 10 < {_INCR_E2E_BATCH_SPLIT}
         OR vec_id IN (SELECT doc_id FROM rem2)
    ),
    s_sigv AS (
      SELECT vec_id, is_batch, {sem_sigs} AS sigs
      FROM eb WHERE v IS NOT NULL
    ),
    s_bands AS (
      SELECT vec_id, is_batch, b.band, sigs[b.band + 1] AS bucket
      FROM s_sigv,
           (SELECT unnest(range(0, {_INCR_E2E_SEM_TABLES})) AS band) b
    ),
    s_bb AS (
      SELECT t.* FROM s_bands t
      JOIN (SELECT band, bucket FROM s_bands WHERE is_batch
            GROUP BY 1, 2 HAVING count(*) <= {max_bucket}) k
      USING (band, bucket)
      WHERE t.is_batch
    ),
    s_cbk AS (
      SELECT t.* FROM s_bands t
      JOIN (SELECT band, bucket FROM s_bands WHERE NOT is_batch
            GROUP BY 1, 2 HAVING count(*) <= {max_bucket}) k
      USING (band, bucket)
      WHERE NOT t.is_batch
    ),
    s_cross AS (
      SELECT * FROM (
        SELECT cc.batch_id, cc.corpus_id, {_cos_sql('x.v', 'y.v')} AS cs
        FROM (
          SELECT DISTINCT b.vec_id AS batch_id, c.vec_id AS corpus_id
          FROM s_bb b JOIN s_cbk c ON b.band = c.band AND b.bucket = c.bucket
        ) cc
        JOIN eb x ON cc.batch_id = x.vec_id
        JOIN eb y ON cc.corpus_id = y.vec_id
      ) WHERE cs >= {_INCR_E2E_COSINE}
    ),
    s_intra AS (
      SELECT * FROM (
        SELECT ic.doc_a, ic.doc_b, {_cos_sql('x.v', 'y.v')} AS cs
        FROM (
          SELECT DISTINCT l.vec_id AS doc_a, r.vec_id AS doc_b
          FROM s_bb l JOIN s_bb r ON l.band = r.band AND l.bucket = r.bucket
                                 AND l.vec_id < r.vec_id
        ) ic
        JOIN eb x ON ic.doc_a = x.vec_id
        JOIN eb y ON ic.doc_b = y.vec_id
      ) WHERE cs >= {_INCR_E2E_COSINE}
    ),
    sem AS (
      SELECT r2.doc_id,
             CASE WHEN cb.cm IS NOT NULL THEN 'dup_corpus'
                  WHEN ib.bm IS NOT NULL THEN 'dup_batch' END AS status
      FROM rem2 r2
      LEFT JOIN (SELECT batch_id, min(corpus_id) AS cm
                 FROM s_cross GROUP BY 1) cb ON r2.doc_id = cb.batch_id
      LEFT JOIN (SELECT doc_b, min(doc_a) AS bm
                 FROM s_intra GROUP BY 1) ib ON r2.doc_id = ib.doc_b
    )
    SELECT stage, status, n_docs FROM (
      SELECT 'exact' AS stage, status, count(*) AS n_docs
      FROM exact WHERE status <> 'new' GROUP BY 1, 2
      UNION ALL
      SELECT 'minhash', status, count(*)
      FROM near WHERE status <> 'new' GROUP BY 1, 2
      UNION ALL
      SELECT 'semantic', status, count(*)
      FROM sem WHERE status IS NOT NULL GROUP BY 1, 2
      UNION ALL
      SELECT 'none', 'new', count(*)
      FROM sem WHERE status IS NULL GROUP BY 1, 2
    )
    """


@query(
    "llm_incremental_e2e_report",
    oracle=_incr_e2e_oracle(_INCR_E2E_MAX_BUCKET),
    tags=("llm", "dedup", "pipeline"),
)
def llm_incremental_e2e_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed daily-increment waterfall AS A VALUE-CHECKED KEY:
    exact hash → MinHash-LSH → RHP-semantic classify over the 80/20
    split, merged (stage, status, n_docs) report — the composition
    bench.py times as `pipelines.incremental_e2e` (there over the
    natural tables, keeping the baseline series comparable), held to a
    full DuckDB oracle that independently re-derives every stage
    INCLUDING the cheapest-test-first narrowing between them
    (`_incr_e2e_oracle`: content-hash classify → the proven MinHash
    signature/band chain on the narrowed sets → the shared-plane RHP
    banding over what survives — so a wiring regression in the
    composition, not just in a stage, turns the driver red). Since r16
    the key runs over the cross-stage planted fixture (header comment
    above `_E2E_EXACT_BATCH_TXT`): the natural tables fire only the
    exact stage and the fall-through, so the driver hash pinned the
    composition but not the minhash/semantic attribution (VERDICT r15
    item 5) — the plants make all seven (stage, status) rows fire at
    every SF, and the oracle applies the IDENTICAL plant CASEs before
    its stage chain. Per-stage semantics are the three incremental
    twins'; stage-level oracles remain with the
    llm_dedup_incremental* keys.

    Scale shape: plans/pipelines.py::incremental_e2e_classify — each
    stage sees only what the previous stage could not resolve,
    scalar-only checkpoints between stages, anti-join remainders so a
    verdict-less doc (e.g. NULL text) still lands in 'none'/'new'
    (conservation pytest). The plants themselves are map-side CASE
    expressions — zero extra shuffles."""
    from .pipelines import incremental_e2e_report

    return incremental_e2e_report(
        _e2e_planted_docs(load_table(spark, sf_dir, "documents")),
        _e2e_planted_emb(load_table(spark, sf_dir, "embeddings")),
    )


# ------------------------------------------------- r16 additions
# Two pipeline operators a continuously-refreshed 100 TB corpus needs
# between crawl snapshots.


# Snapshot-diff fixture: derive "yesterday's snapshot" from the one
# immutable documents table with three disjoint-by-priority residue
# classes (the planted-fixture convention — identical CASEs in both
# engines):
#   doc_id % 19 == 6 → absent from prev            → 'added'
#   doc_id % 23 == 8 → absent from cur             → 'removed'
#   doc_id % 17 == 4 → prev text prefixed 'prior ' → 'changed' (text);
#     when additionally even, prev lang suffixed '-x' → multi-column
#     change ('text,lang') so the changed-cols assembly is exercised
#     beyond the single-column case.
# A doc in both absence classes exists in neither snapshot and emits
# no row; a doc in an absence class AND the edit class takes the
# absence verdict (change_type priority) — all mirrored.
#
# The residue constants and the prev/cur builders below are the ONE
# source of truth (ADVICE r16 item 3): the oracle f-string, the Spark
# key body, and tests/test_llm.py's waterfall-routing integration test
# all consume them, so a retune edits exactly one place.
_SNAP_ADDED = (19, 6)      # absent from prev
_SNAP_REMOVED = (23, 8)    # absent from cur
_SNAP_EDIT = (17, 4)       # prev text prefixed 'prior '
_SNAP_LANG_EXTRA = (2, 0)  # edit class ∩ this → prev lang suffixed '-x'

_SNAP_PREV_TEXT_SQL = (
    f"CASE WHEN doc_id % {_SNAP_EDIT[0]} = {_SNAP_EDIT[1]}"
    " THEN 'prior ' || text ELSE text END"
)
_SNAP_PREV_LANG_SQL = (
    f"CASE WHEN doc_id % {_SNAP_EDIT[0]} = {_SNAP_EDIT[1]}"
    f" AND doc_id % {_SNAP_LANG_EXTRA[0]} = {_SNAP_LANG_EXTRA[1]}"
    " THEN lang || '-x' ELSE lang END"
)


def _snap_prev(docs: DataFrame) -> DataFrame:
    """Yesterday's snapshot: drop the 'added' residue class, apply the
    edit-class text prefix and (edit ∩ lang-extra) lang suffix —
    the Spark mirror of _SNAP_PREV_TEXT_SQL/_SNAP_PREV_LANG_SQL over
    the same constants."""
    d = F.col("doc_id")
    edit = d % _SNAP_EDIT[0] == _SNAP_EDIT[1]
    return docs.filter(d % _SNAP_ADDED[0] != _SNAP_ADDED[1]).select(
        "doc_id",
        F.when(edit, F.concat(F.lit("prior "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
        F.when(
            edit & (d % _SNAP_LANG_EXTRA[0] == _SNAP_LANG_EXTRA[1]),
            F.concat(F.col("lang"), F.lit("-x")),
        )
        .otherwise(F.col("lang"))
        .alias("lang"),
        "source",
    )


def _snap_cur(docs: DataFrame) -> DataFrame:
    """Today's snapshot: the table minus the 'removed' residue class."""
    d = F.col("doc_id")
    return docs.filter(d % _SNAP_REMOVED[0] != _SNAP_REMOVED[1])


@query(
    "llm_corpus_snapshot_diff",
    oracle=f"""
    WITH prev AS (
      SELECT doc_id,
             {_SNAP_PREV_TEXT_SQL} AS text,
             {_SNAP_PREV_LANG_SQL} AS lang,
             source
      FROM documents WHERE doc_id % {_SNAP_ADDED[0]} <> {_SNAP_ADDED[1]}
    ),
    cur AS (
      SELECT doc_id, text, lang, source FROM documents
      WHERE doc_id % {_SNAP_REMOVED[0]} <> {_SNAP_REMOVED[1]}
    ),
    j AS (
      SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
             p.doc_id IS NOT NULL AS in_prev,
             c.doc_id IS NOT NULL AS in_cur,
             p.text IS DISTINCT FROM c.text AS d_text,
             p.lang IS DISTINCT FROM c.lang AS d_lang,
             p.source IS DISTINCT FROM c.source AS d_source
      FROM prev p FULL JOIN cur c ON p.doc_id = c.doc_id
    ),
    cls AS (
      SELECT doc_id, in_prev, in_cur, d_text, d_lang, d_source,
             CASE WHEN NOT in_prev THEN 'added'
                  WHEN NOT in_cur THEN 'removed'
                  WHEN d_text OR d_lang OR d_source THEN 'changed'
             END AS change_type
      FROM j
    )
    SELECT doc_id, change_type,
           CASE WHEN change_type = 'changed'
                THEN concat_ws(',',
                       CASE WHEN d_text THEN 'text' END,
                       CASE WHEN d_lang THEN 'lang' END,
                       CASE WHEN d_source THEN 'source' END)
           END AS changed_cols
    FROM cls WHERE change_type IS NOT NULL
    """,
    tags=("llm", "pipeline"),
)
def llm_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style corpus snapshot diff: classify every doc_id as
    added / removed / changed between two crawl snapshots, with the
    changed column list — the change log that lets the daily refresh
    re-embed, re-dedup, and re-index ONLY what moved instead of
    re-processing 100 TB (added docs feed the incremental classify
    waterfall, removed ones leave the indexes, changed ones do both).
    Fixture: the header's three residue classes derive prev/cur from
    the immutable table via the shared _snap_prev/_snap_cur builders;
    the oracle applies identical CASEs from the same constants.

    Scale shape (operators/merge.py::snapshot_diff): ONE co-partitioned
    full-outer equi-join on doc_id; per-column null-safe comparison and
    changed-cols assembly are map-side codegen; unchanged keys are
    filtered before anything downstream — the output is change-sized,
    never corpus-sized. changed_cols is published as a comma-joined
    string (concat_ws skips non-changed columns identically in both
    engines)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    diff = snapshot_diff(
        _snap_prev(docs), _snap_cur(docs), "doc_id",
        ["text", "lang", "source"],
    )
    return diff.select(
        "doc_id",
        "change_type",
        F.array_join("changed_cols", ",").alias("changed_cols"),
    )


# The maintained index must equal a from-scratch banding of the
# CURRENT snapshot — so the oracle simply recomputes cur's banding
# with the shared MinHash SQL formula pair and never sees prev, the
# diff, or the maintenance at all. Module constant because the key's
# materialize-once spec carries it (with the prev-snapshot derivation
# rules the oracle deliberately omits — see the key's spec comment).
_APPLY_DIFF_ORACLE = f"""
    WITH cur AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % {_SNAP_REMOVED[0]} <> {_SNAP_REMOVED[1]}
    ),
    tok AS (SELECT doc_id, {_TOK} AS w FROM cur),
    sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM tok),
    sig AS (
      SELECT doc_id, {_minhash_sig_sql(_NUM_HASHES)} AS sig FROM sh
    )
    SELECT doc_id, CAST(b.band AS INTEGER) AS band,
           {_minhash_bucket_sql(_ROWS_PER_BAND)} AS bucket
    FROM sig, (SELECT unnest(range(0, {_NUM_BANDS})) AS band) b
    """


@query(
    "llm_index_apply_diff",
    oracle=_APPLY_DIFF_ORACLE,
    tags=("llm", "pipeline"),
)
def llm_index_apply_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance from a snapshot diff — the refresh loop
    `llm_corpus_snapshot_diff` opens, closed: yesterday's materialized
    MinHash band index (`minhash_write_index` over the prev snapshot,
    the production per-snapshot layout) is brought up to the current
    snapshot by applying the change log — every diff key's rows
    anti-joined out, ONLY the added/changed docs re-banded — never by
    re-banding the corpus (operators/index_maintenance.py::
    apply_index_diff, which folds the one generation
    `write_index_delta` commits, its derivation read from the index's
    manifest). The key
    returns the maintained (doc_id, band, bucket) index; the oracle
    recomputes the current snapshot's banding from scratch, so a
    hash-match proves maintenance ≡ rebuild. The diff compares exactly
    the column the index derives from (text): a doc whose other
    columns drift keeps its index rows untouched.

    Reference anchor: update-contributor-scores.js:252-263 merges new
    hourly keys into the stored summary instead of recomputing it —
    this is that incremental-maintenance pattern applied to the dedup
    index layer.

    Scale shape: the change set is broadcast both ways (anti-join on
    the index scan, semi-filter before the Arrow banding UDF), so the
    banding CPU — the cost the operator exists to avoid — and all join
    builds are change-sized; the index side is a narrow column-pruned
    scan with no shuffle. Plan-gated in tests/test_llm.py: broadcast
    joins only, exactly one ArrowEvalPython stage, no sort-merge join.
    The physical merge-on-read twin (`write_index_delta`/`read_index`:
    the same generation committed under the index, base partitions
    never rewritten) is pinned by frame-equality pytest against a
    from-scratch rebuild."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    # same snapshot builders as the diff key (one fixture); the index
    # and the diff both derive from text only, so the lang/source
    # columns are pruned right after the builders apply their rules
    prev = _snap_prev(docs).select("doc_id", "text")
    cur = _snap_cur(docs).select("doc_id", "text")
    # the oracle describes only cur's banding, but the MATERIALIZED
    # tree is prev's — its content also depends on the 'added'
    # membership class and the prev text-edit rule, so both join the
    # spec
    index = scratch_dir(sf_dir, "minhash_prev_index")
    materialize_once(
        index,
        {
            "num_bands": _NUM_BANDS, "rows_per_band": _ROWS_PER_BAND,
            "k": 3, "oracle": _APPLY_DIFF_ORACLE,
            "snap_added": _SNAP_ADDED, "snap_prev_text": _SNAP_PREV_TEXT_SQL,
            "schema": prev.schema.simpleString(),
            "manifest_format": _MANIFEST_FORMAT,
        },
        lambda p: minhash_write_index(
            prev, p, num_bands=_NUM_BANDS, rows_per_band=_ROWS_PER_BAND
        ),
    )
    # lazily checkpointed: the change log feeds two maintenance
    # consumers (anti + semi) — unmaterialized, the diff's full-outer
    # join would execute once per consumer (see
    # apply_index_diff's contract; production reads the PUBLISHED
    # change-log table here). Change-sized, so the checkpoint is cheap.
    diff = snapshot_diff(prev, cur, "doc_id", ["text"]).localCheckpoint(
        eager=False
    )
    return apply_index_diff(index, diff, cur).select(
        "doc_id", "band", "bucket"
    )


# IVF maintenance geometry: the frozen coarse quantizer is the same
# 16-seed md5 ranking as _IVF_ORACLE's cent CTE, deliberately over the
# FULL immutable embeddings table (the stand-in for a trained centroid
# artifact, which is versioned separately from corpus snapshots and
# only re-trained at compaction time) — so both engines derive
# identical centroids without either seeing the snapshot rules, and a
# centroid whose SOURCE vector is removed from the corpus keeps
# serving (the model is a frozen copy, not a view). The maintained
# index must equal a from-scratch assignment of the CURRENT snapshot,
# so the oracle recomputes cur's nearest-centroid argmin and never
# sees prev, the diff, or the maintenance — the _APPLY_DIFF_ORACLE
# pattern for the (vec_id, centroid_id) index shape.
_IVF_APPLY_CENTROIDS = 16


def _emb_snap_prev(emb: DataFrame) -> DataFrame:
    """Yesterday's embedding snapshot: drop the 'added' residue class;
    the edit class carries a NEGATED vector, so a re-embed flips the
    cosine sign and genuinely moves list membership. One source of
    truth for the key and both maintenance pytests — the _snap_prev
    convention (ADVICE r16 item 3) on the embeddings table."""
    d = F.col("vec_id")
    edit = d % _SNAP_EDIT[0] == _SNAP_EDIT[1]
    return emb.filter(d % _SNAP_ADDED[0] != _SNAP_ADDED[1]).select(
        "vec_id",
        F.when(edit, F.transform("embedding", lambda x: -x))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )


def _emb_snap_cur(emb: DataFrame) -> DataFrame:
    """Today's embedding snapshot: the table minus the 'removed'
    residue class."""
    return emb.filter(
        F.col("vec_id") % _SNAP_REMOVED[0] != _SNAP_REMOVED[1]
    )


_IVF_APPLY_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS centroid_id, v AS cv FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_IVF_APPLY_CENTROIDS}
    ),
    cur AS (
      SELECT vec_id, v FROM e
      WHERE vec_id % {_SNAP_REMOVED[0]} <> {_SNAP_REMOVED[1]}
    )
    SELECT vec_id, centroid_id FROM (
      SELECT cur.vec_id, cent.centroid_id,
             row_number() OVER (PARTITION BY cur.vec_id
               ORDER BY {_cos_sql('cur.v', 'cent.cv')} DESC,
                        cent.centroid_id) AS rn
      FROM cur, cent
    ) WHERE rn = 1
    """


@query(
    "llm_ivf_apply_diff",
    oracle=_IVF_APPLY_ORACLE,
    tags=("llm", "pipeline"),
)
def llm_ivf_apply_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-index maintenance from an embedding snapshot diff — the
    `llm_index_apply_diff` pattern proven on the SECOND index shape the
    refresh loop must keep fresh: yesterday's materialized inverted-file
    layout (`ivf_write_index` over the prev snapshot against the frozen
    coarse quantizer — the `assigned` lists partitioned by
    centroid_id, the centroid table beside them) is brought up to the
    current snapshot by applying the change log
    (`index_maintenance.apply_index_diff`): every diff key anti-joined
    out of the lists, ONLY added/re-embedded vectors re-assigned
    against the centroid table the manifest records. The key returns
    the maintained (vec_id, centroid_id) index; the oracle recomputes
    the current snapshot's assignment from scratch, so a hash-match
    proves maintenance ≡ rebuild. Fixture: the shared snapshot residue
    classes on vec_id — added %{_SNAP_ADDED[0]}=={_SNAP_ADDED[1]},
    removed %{_SNAP_REMOVED[0]}=={_SNAP_REMOVED[1]}; the edit class
    (%{_SNAP_EDIT[0]}=={_SNAP_EDIT[1]}) carries a NEGATED prev vector,
    so a re-embed flips the cosine sign and genuinely moves list
    membership rather than diffing into a same-centroid no-op.

    Reference anchor: update-contributor-scores.js:252-263 (merge new
    keys into the stored summary instead of recomputing), the same
    incremental-maintenance contract as the band-index key above.

    Scale shape: at 100 TB the inverted lists are the ANN serving
    layout — re-assigning the corpus per crawl would read and shuffle
    every vector, while a daily diff touches <1%. Here the change set
    broadcasts both ways (anti-join on the index scan, semi-filter
    before assignment), and the re-assignment is ONE Arrow-vectorized
    pass over the change-sized upserts against the driver-collected
    16-row centroid table — no join, no window, no exchange; the index
    side is a two-column scan of the partitioned lists, never
    re-listed. The plan gate asserts exactly one ArrowEvalPython stage
    and broadcast joins only. The physical twin (`write_index_delta`
    committing the same generation under the lists) is pinned by
    frame-equality pytest in tests/test_index_maintenance.py."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    # frozen quantizer: seeded from the immutable table, shared with
    # the oracle's cent CTE (see the geometry comment above)
    centroids = ivf_seed_centroids(emb, _IVF_APPLY_CENTROIDS)
    prev = _emb_snap_prev(emb)
    cur = _emb_snap_cur(emb)
    # the oracle describes cur's assignment only, so the MATERIALIZED
    # prev tree's extra dependencies — the 'added' membership class
    # and the edit-class negation rule — join the spec
    index = scratch_dir(sf_dir, "ivf_prev_index")
    materialize_once(
        index,
        {
            "num_centroids": _IVF_APPLY_CENTROIDS,
            "oracle": _IVF_APPLY_ORACLE, "snap_added": _SNAP_ADDED,
            "snap_edit": _SNAP_EDIT, "edit_rule": "negate-edit-vec",
            "schema": prev.schema.simpleString(),
            "manifest_format": _MANIFEST_FORMAT,
        },
        lambda p: ivf_write_index(prev, p, centroids=centroids),
    )
    # change-sized and twice-consumed — same checkpoint contract as
    # the band-index key above
    diff = snapshot_diff(prev, cur, "vec_id", ["embedding"]).localCheckpoint(
        eager=False
    )
    return apply_index_diff(f"{index}/assigned", diff, cur).select(
        "vec_id", "centroid_id"
    )


def _ivf_pq_apply_oracle() -> str:
    # The maintained PQ serving lists must equal a from-scratch
    # re-encode of the CURRENT snapshot against the frozen artifacts:
    # codebook + codes come from the shared _pq_ctes chain (seeded
    # from the full immutable table — cur's vectors are a subset of
    # e, so `codes` filtered through the assignment join IS cur's
    # encoding), the 16-seed cent CTE and the cur-snapshot argmin are
    # the _IVF_APPLY_ORACLE pattern verbatim. The oracle never sees
    # prev, the diff, or the maintenance — hash-match proves
    # maintenance ≡ rebuild on the full (nid, centroid_id, pq_code)
    # serving row.
    packed = " + ".join(
        f"c.c{s} * CAST({_PQ_CODEWORDS ** s} AS BIGINT)"
        for s in range(_PQ_SUBSPACES)
    )
    return (
        _pq_ctes()
        + f""",
    cent AS (
      SELECT vec_id AS centroid_id, v AS cv FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_IVF_APPLY_CENTROIDS}
    ),
    cur AS (
      SELECT vec_id, v FROM e
      WHERE vec_id % {_SNAP_REMOVED[0]} <> {_SNAP_REMOVED[1]}
    ),
    asg AS (
      SELECT vec_id, centroid_id FROM (
        SELECT cur.vec_id, cent.centroid_id,
               row_number() OVER (PARTITION BY cur.vec_id
                 ORDER BY {_cos_sql('cur.v', 'cent.cv')} DESC,
                          cent.centroid_id) AS rn
        FROM cur, cent
      ) WHERE rn = 1
    )
    SELECT a.vec_id AS nid, a.centroid_id,
           CAST({packed} AS BIGINT) AS pq_code
    FROM asg a JOIN codes c ON c.vec_id = a.vec_id
    """
    )


@query(
    "llm_ivf_pq_apply_diff",
    oracle=_ivf_pq_apply_oracle(),
    tags=("llm", "pipeline"),
)
def llm_ivf_pq_apply_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving-list maintenance from an embedding snapshot
    diff — the THIRD index shape under the apply-diff contract, and
    the one the whole refresh stack ultimately serves: yesterday's
    materialized packed-code inverted lists (`ivf_pq_write_index` over
    the prev snapshot against the FROZEN coarse quantizer and
    codebook — the `lists` partitioned by centroid_id) are brought to
    the current snapshot by the change log
    (`index_maintenance.apply_index_diff`): every diff key anti-joined
    out, ONLY added/re-embedded vectors re-ASSIGNED and re-ENCODED
    against the tables the layout's sidecar names. The key returns
    the maintained (nid, centroid_id, pq_code) lists; the oracle
    re-derives the current snapshot's assignment AND codes from
    scratch, so a hash-match proves maintenance ≡ rebuild on the exact
    bytes a probe reads. Fixture: the shared embedding snapshot residue
    classes (`_emb_snap_prev`/`_emb_snap_cur` — the edit class
    carries a NEGATED prev vector, so a re-embed moves BOTH its list
    membership and its packed code).

    Reference anchor: update-contributor-scores.js:252-263 (merge new
    keys into the stored summary instead of recomputing it) — the
    same incremental-refresh contract as the band-index and
    IVF-assignment keys above, applied to the serving layout.

    Scale shape: identical economics to `llm_ivf_apply_diff` plus the
    change-sized re-encode — the change set broadcasts both ways,
    assignment and encoding are ONE fused Arrow pass over the upserts
    against the driver-collected 16-row centroid and codeword tables,
    and the index side is a three-column scan of the partitioned lists
    (packed codes, ~64× smaller than vectors), never re-encoded. The
    plan gate asserts exactly one ArrowEvalPython stage. The PHYSICAL
    twin (`index_maintenance.ivf_pq_write_index_delta`: the same
    generation committed under the layout's lists, probes folding it
    via read_index) is pinned by frame-equality pytest in
    tests/test_index_maintenance.py."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    # frozen model artifacts seeded from the immutable table — the
    # oracle's cent CTE and _pq_ctes codebook derive identically
    centroids = ivf_seed_centroids(emb, _IVF_APPLY_CENTROIDS)
    codebook = pq_codebook(emb, _PQ_CODEWORDS)
    prev = _emb_snap_prev(emb)
    cur = _emb_snap_cur(emb)
    # the oracle describes cur's lists only, so the MATERIALIZED prev
    # tree's extra dependencies — the 'added' membership class and the
    # edit-class negation rule — join the spec
    index = scratch_dir(sf_dir, "ivf_pq_prev_lists")
    materialize_once(
        index,
        {
            "num_centroids": _IVF_APPLY_CENTROIDS,
            "num_subspaces": _PQ_SUBSPACES, "num_codewords": _PQ_CODEWORDS,
            "oracle": _ivf_pq_apply_oracle(), "snap_added": _SNAP_ADDED,
            "snap_edit": _SNAP_EDIT, "edit_rule": "negate-edit-vec",
            "schema": prev.schema.simpleString(),
            "manifest_format": _MANIFEST_FORMAT,
        },
        lambda p: ivf_pq_write_index(
            prev, p, num_subspaces=_PQ_SUBSPACES,
            num_codewords=_PQ_CODEWORDS, dim=_PQ_SUBSPACES * _PQ_DSUB,
            centroids=centroids, codebook=codebook,
        ),
    )
    # change-sized and twice-consumed — the apply_index_diff contract
    diff = snapshot_diff(prev, cur, "vec_id", ["embedding"]).localCheckpoint(
        eager=False
    )
    return apply_index_diff(f"{index}/lists", diff, cur)


# JL-projection geometry: 64 → 16 dims, ±1 planes from the shared
# md5 _hyperplane family (seed namespace 20000+, disjoint from every
# RHP table's seeds) — similarity.jl_plane_rows is the one source of
# truth; the oracle interpolates the same rows as SQL literals.
_JL_OUT_DIM = 16


def _jl_proj_sql(out_dim: int) -> str:
    """DuckDB spelling of `similarity.jl_projection`: one
    list_inner_product per output dimension, planes interpolated from
    the SAME jl_plane_rows matrix the pandas UDF closure-captures."""
    comps = []
    for row in jl_plane_rows(64, out_dim):
        plane = "[" + ",".join(str(int(x)) for x in row) + "]::DOUBLE[]"
        comps.append(f"list_inner_product(v, {plane})")
    return "[" + ",\n        ".join(comps) + "]"


@query(
    "llm_embed_random_projection",
    oracle=f"""
    WITH {_PLANTED_CORPUS_CTE},
    pv AS (
      SELECT vec_id, v, {_jl_proj_sql(_JL_OUT_DIM)} AS p
      FROM corpus WHERE v IS NOT NULL
    )
    SELECT b.vec_id,
           round({_cos_sql_dim('b.v', 'q.v', 64)}, 4) AS cos_full_r,
           round({_cos_sql_dim('b.p', 'q.p', _JL_OUT_DIM)}, 4)
             AS cos_proj_r,
           round(abs({_cos_sql_dim('b.p', 'q.p', _JL_OUT_DIM)}
                     - {_cos_sql_dim('b.v', 'q.v', 64)}), 4) AS abs_err_r
    FROM pv b JOIN pv q ON q.vec_id = b.vec_id + {_PLANT_OFFSET}
    WHERE b.vec_id < {_PLANT_OFFSET}
    """,
    tags=("llm", "embedding"),
)
def llm_embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (64 → 16 dims,
    deterministic ±1 planes — the database-friendly family of
    Achlioptas 2001) with a planted-pair distortion report: every
    planted near-duplicate pair's cosine in full space vs projected
    space, and the absolute error — the acceptance report a pipeline
    runs before switching its ANN stack to the projected vectors. At
    100 TB the projection is the similarity family's memory/shuffle
    lever: one map-side Arrow matmul pass (operators/similarity.py::
    jl_projection, the rhp_signatures shape), then every downstream
    index build, banding pass, and re-rank moves 4× fewer embedding
    bytes.

    Fixture: the shared planted-dup corpus (`_planted_dup_corpus` —
    every base vector one ≈0.99875-cosine plant at vec_id +
    _PLANT_OFFSET); the pair join is a single equi-join on the
    derived id. Values are rounded to 4 decimals in both engines —
    the numpy-matmul vs DuckDB-sequential summation gap is O(1e-13),
    orders below the rounding grain (the band-parity test's argument,
    applied to values instead of signs)."""
    proj = jl_projection(64, _JL_OUT_DIM)
    corpus = _planted_dup_corpus(
        load_table(spark, sf_dir, "embeddings")
    ).filter(F.col("embedding").isNotNull())
    base = corpus.filter(F.col("vec_id") < _PLANT_OFFSET).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    plant = corpus.filter(F.col("vec_id") >= _PLANT_OFFSET).select(
        F.col("vec_id").alias("pid"),
        F.col("embedding").cast("array<double>").alias("v2"),
    )
    # Join the 64-d vectors FIRST, project after: projecting before the
    # join plans the UDF once per union branch per join side (4 Arrow
    # passes over the corpus); projecting the joined row's two vector
    # columns in one select fuses into a SINGLE ArrowEvalPython stage
    # (the plan gate pins this).
    pairs = base.join(
        plant, F.col("pid") == F.col("vec_id") + F.lit(_PLANT_OFFSET)
    ).select(
        "vec_id",
        "v",
        "v2",
        proj(F.col("v")).alias("p"),
        proj(F.col("v2")).alias("p2"),
    )
    cos_full = cosine(F.col("v"), F.col("v2"))
    cos_proj = cosine(F.col("p"), F.col("p2"))
    return pairs.select(
        "vec_id",
        F.round(cos_full, 4).alias("cos_full_r"),
        F.round(cos_proj, 4).alias("cos_proj_r"),
        F.round(F.abs(cos_proj - cos_full), 4).alias("abs_err_r"),
    )
