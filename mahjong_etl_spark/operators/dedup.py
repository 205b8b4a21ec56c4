"""Deduplication operators for large text corpora.

Five strategies, each a ``queries()`` entry over the ``documents``
table, ordered by cost/accuracy trade-off:

1. exact (hash-groupBy)                       -> dedup_exact
2. normalized exact                           -> dedup_normalized
3. exact n-gram Jaccard via inverted index    -> dedup_ngram_jaccard
4. MinHash + LSH banding                      -> dedup_minhash_lsh
5. SimHash + chunk blocking                   -> dedup_simhash

plus the embedding-space pair (exact baseline ``dedup_embedding_cosine``
and its SemDeDup scale path ``dedup_semantic``) and the consensus view
``dedup_ensemble`` (all five strategies with provenance).

Scale notes (the 100 TB story):
- Nothing here does a cross join.  Pairwise strategies generate
  candidates through an equi-join (shared shingle / LSH band / simhash
  chunk), so cost is proportional to true collisions, not n².
- The inverted-index join (3) is exact but vulnerable to hot shingles
  (a shingle shared by k docs yields k² candidate rows).  At scale,
  drop shingles above a document-frequency cap — stop-shingles carry
  no dedup signal (``max_shingle_df``); MinHash (4) caps the blowup by
  construction (band width is fixed).
- MinHash banding (b=16 bands × r=4 rows = 64 hashes) has its S-curve
  threshold at (1/b)^(1/r) = 0.5; pairs with true Jaccard >= 0.85 are
  found with probability > 1 - 1e-9, so at the 0.5 verify threshold
  used here recall is effectively exact for real near-dups.
- SimHash blocking is exact for hamming <= 3 by pigeonhole: 4 chunks
  of 16 bits, <= 3 differing bits => at least one chunk matches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import duckdb_shingles_sql, shingles_expr
from ..functions.goldens import golden_oracle
from ..plans.registry import query
from ..session import scratch_dir, snapshot, snapshot_cache
from ..sources.tables import load, load_spread

# Committed golden outputs for the hash-based strategies whose
# signatures DuckDB cannot recompute (see dedup_minhash_lsh docstring).
_GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
)

NUM_HASHES = 64
BANDS = 16
ROWS_PER_BAND = 4
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 64
SIMHASH_CHUNKS = 4
HAMMING_MAX = 3
# Max bucket members that enumerate all-pairs; members beyond the cap
# link to the bucket representative only.  Bounds per-bucket work at
# cap²/2 pairs and per-row state at cap ids even when a boilerplate
# page is duplicated 10⁶ times in a web corpus.
BUCKET_CAP = 256
# Early-warning bar for band-bucket occupancy (r14, r13 verdict item
# 6): the skip-regime/collapse identity caveat and the probe path's
# bounded-recall cap both start to matter only when some band bucket
# approaches BUCKET_CAP.  A bucket at half the cap is "within 2x" —
# close enough that a drifting corpus should be SEEN before it
# crosses.  Surfaced as data, not prose: minhash_lsh_pairs fills an
# opt-in diagnostics dict (and logs) past this bar, and
# write_minhash_index records it in the index drift baseline.
BUCKET_PRESSURE_BAR = BUCKET_CAP // 2
# Default document-frequency cap for the inverted-index Jaccard join:
# a shingle shared by k docs yields k²/2 candidate rows, and shingles
# this common carry no dedup signal (boilerplate).  Slightly relaxes
# exactness for pairs whose ONLY shared shingles are stop-shingles —
# the documented trade-off for not letting one hot key dominate the
# shuffle at 100 TB.
MAX_SHINGLE_DF = 1000


# ---------------------------------------------------------------------------
# 1-2: exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical payloads by hash; one shuffle keyed on the hash.

    At 100 TB the groupBy key is the 128-bit digest, never the payload,
    so shuffle volume is ~32 bytes/doc regardless of document size.
    """
    return df.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: hash-groupBy on the raw text."""
    return exact_dup_groups(load_spread(spark, sf_dir, "documents"))


@query(
    "dedup_normalized",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm_hash,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents
    GROUP BY norm_hash
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after whitespace/case normalization."""
    d = load_spread(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return d.groupBy(F.md5(norm).alias("norm_hash")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# 3: exact n-gram Jaccard via inverted-index join
# ---------------------------------------------------------------------------


def shingle_sets(df: DataFrame, n: int = 3) -> DataFrame:
    return df.select("doc_id", shingles_expr(n).alias("shingles"))


@snapshot_cache
def corpus_shingle_sets(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Persisted shingle sets for the documents corpus, once per snapshot.

    ``dedup_ngram_jaccard``, ``dedup_minhash_lsh``'s verify step, and
    ``dedup_connected_components`` all consume the same
    ``(doc_id, shingles)`` relation; when several dedup queries run in
    one session (a bench pass, an interactive audit) the shingle
    projection is computed once and served from executor storage
    (MEMORY_AND_DISK — spills, never recomputes) instead of three
    times.  This is the 100 TB "materialize the shingle pass once per
    corpus snapshot" move expressed session-locally.
    """
    return shingle_sets(load_spread(spark, sf_dir, "documents"), n).persist()


# The persisted co-occurrence counts — the PRE-threshold (doc_a,
# doc_b, common, n_a, n_b) relation at the production parameters
# (n=3, MAX_SHINGLE_DF cap).  r14 (guide §2.4 /
# §5): the Jaccard pair listing, connected-components clustering,
# canonical selection, the ensemble's jaccard leg AND the containment
# query all run the IDENTICAL explode → postings-keyed shuffle →
# in-bucket pair enumeration → pair-keyed count subtree, differing
# only in the final predicate (symmetric union ratio vs one-sided
# containment).  Caching the post-threshold pairs (the r10-r13 shape)
# shared it among the Jaccard consumers but left dedup_containment
# re-running the whole postings pipeline — its candidates (containment
# >= 0.8, Jaccard possibly < 0.5) are cut away by the Jaccard filter.
# Persisting the common-counts relation ONE level earlier serves both
# families from one pass.  Size discipline: this relation is exactly
# the pair-count shuffle output every consumer already materializes
# (bounded by Σ k·(k-1)/2 over shingle postings, k <= MAX_SHINGLE_DF;
# 1.13M thin rows at sf0.1), so the persist stores what one shuffle
# wrote instead of shuffling it twice.
@snapshot_cache
def corpus_common_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted pre-threshold co-occurrence counts for the documents
    corpus at the production parameters, once per snapshot."""
    return _common_shingle_pairs(
        corpus_shingle_sets(spark, sf_dir), MAX_SHINGLE_DF
    ).persist()


@snapshot_cache
def corpus_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs for the documents corpus at the production
    parameters, once per snapshot: a thin filter over the persisted
    common relation (no second persist: the parent is materialized,
    the filter is narrow).  Clustering consumes exactly the pairs the
    pair query emits — deriving both from the shared persisted
    common-counts relation makes the reuse a stated invariant rather
    than a coincidence of equal parameters."""
    return _jaccard_from_common(
        corpus_common_pairs(spark, sf_dir), JACCARD_THRESHOLD
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = JACCARD_THRESHOLD,
    max_shingle_df: int | None = None,
    sh: DataFrame | None = None,
) -> DataFrame:
    """All document pairs with word-``n``-gram Jaccard >= threshold.

    Inverted-index formulation: explode shingles, self-equi-join on the
    shingle, count common shingles per pair, then
    ``J = common / (|A| + |B| - common)``.  Exact (any pair above a
    positive threshold shares >= 1 shingle) with no cross join.
    ``max_shingle_df`` drops hot shingles before the join — the skew
    guard for web-scale corpora (slightly relaxes exactness, documented
    trade-off).

    Physical choices: the postings key is ``xxhash64(shingle)`` rather
    than the shingle string — an 8-byte shuffle key instead of a
    ~20-byte string (collision odds across a 100 TB corpus' pair space
    are ~k²/2⁶⁴, negligible) — and co-occurrence counting groups the
    postings by shingle and enumerates pairs within each group (the
    same blocking→in-bucket-pairs shape as the LSH operators) instead
    of self-joining the postings list, which would re-derive the
    shingle pass once per join side.  One shingle pass, two shuffles
    (by shingle, then by pair).  A shingle shared by k docs still
    yields k²/2 pair rows — ``max_shingle_df`` is the hot-key cap.
    """
    sh = shingle_sets(df, n) if sh is None else sh
    return _jaccard_from_common(
        _common_shingle_pairs(sh, max_shingle_df), threshold
    )


def _common_shingle_pairs(
    sh: DataFrame, max_shingle_df: int | None
) -> DataFrame:
    """(doc_a, doc_b, common, n_a, n_b) for every unordered pair
    sharing >= 1 shingle (with document frequency <= the cap) — the
    ONE postings pipeline behind the Jaccard and containment cuts."""
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    ex = sh.select("doc_id", F.explode("shingles").alias("s0")).select(
        "doc_id", F.xxhash64("s0").alias("s")
    )
    postings = ex.groupBy("s").agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
    if max_shingle_df is not None:
        postings = postings.where(F.size("ids") <= max_shingle_df)
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) ->"
        "  transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"
    )
    common = (
        postings.where(F.size("ids") > 1)
        .select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def _jaccard_from_common(common: DataFrame, threshold: float) -> DataFrame:
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return common.where(jac >= threshold).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {duckdb_shingles_sql(3)} AS shingles FROM documents
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(common::DOUBLE / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE common::DOUBLE / (sa.n_sh + sb.n_sh - common) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (threshold 0.5).

    Ships with the hot-shingle cap ON (``MAX_SHINGLE_DF``): exact for
    every pair that shares at least one shingle with document frequency
    <= 1000, which at test SF means exact, period (df can't exceed the
    corpus size).  At 100 TB the cap is what keeps one boilerplate
    shingle from dominating the postings shuffle.
    """
    return corpus_jaccard_pairs(spark, sf_dir)


# Asymmetric near-dup: a short document quoted/subsumed inside a long
# one has high CONTAINMENT but low Jaccard (the union is dominated by
# the long side), so a Jaccard threshold misses it.
CONTAINMENT_THRESHOLD = 0.8


@query(
    "dedup_containment",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {duckdb_shingles_sql(3)} AS shingles FROM documents
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, common,
           round(common::DOUBLE / sa.n_sh, 6) AS contain_a,
           round(common::DOUBLE / sb.n_sh, 6) AS contain_b
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE common::DOUBLE / sa.n_sh >= {CONTAINMENT_THRESHOLD}
       OR common::DOUBLE / sb.n_sh >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs: |A∩B|/|A| (and /|B|) over
    word-3-gram shingles — the quote/subset detector.  A 200-word
    passage copied verbatim into a 5000-word page has containment ≈ 1
    from the passage's side but Jaccard ≈ 0.04; symmetric thresholds
    (Jaccard, MinHash band collision) structurally miss it, which is
    why corpus-dedup stacks run a containment pass beside them
    (Broder's original distinction).

    Same inverted-index plan as ``dedup_ngram_jaccard`` — and since
    r14 the same MATERIALIZED pass, shared through the session
    common-pairs cache (guide §2.4: the explode, the shingle-keyed
    shuffle, the in-bucket pair enumeration, the pair-keyed count and
    the two size joins are one persisted relation serving both cuts).
    Only the final predicate differs (max of the two one-sided ratios
    vs the symmetric union ratio).  Exactness: common and both sizes
    are exact ints; each containment is ONE double division of
    identical integers on both engines, rounded at 6dp for output
    after the (drift-free) cut."""
    return containment_pairs(common=corpus_common_pairs(spark, sf_dir))


def containment_pairs(
    df: DataFrame | None = None,
    threshold: float = CONTAINMENT_THRESHOLD,
    sh: DataFrame | None = None,
    common: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, common, contain_a, contain_b) for pairs where
    either one-sided shingle containment reaches ``threshold``.

    ``common`` short-circuits the postings pipeline with an
    already-computed pre-threshold co-occurrence relation (the r14
    session-shared ``corpus_common_pairs`` — same hot-shingle guard as
    the Jaccard path, and the same test-scale equivalence: df cannot
    exceed the corpus size there, so the capped plan still matches the
    uncapped oracle)."""
    if common is None:
        sh = shingle_sets(df) if sh is None else sh
        common = _common_shingle_pairs(sh, MAX_SHINGLE_DF)
    ca = F.col("common").cast("double") / F.col("n_a")
    cb = F.col("common").cast("double") / F.col("n_b")
    t = F.lit(threshold)
    return (
        common.where((ca >= t) | (cb >= t))
        .select(
            "doc_a",
            "doc_b",
            "common",
            F.round(ca, 6).alias("contain_a"),
            F.round(cb, 6).alias("contain_b"),
        )
    )


# ---------------------------------------------------------------------------
# 4: MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(df: DataFrame, n: int = 3, num_hashes: int = NUM_HASHES) -> DataFrame:
    """(doc_id, h0..h{k-1}) minhash signature, computed map-side.

    Arrow-batched ``mapInPandas``: per document, shingle → one 64-bit
    base hash per shingle (``pd.util.hash_array`` — SipHash with a
    fixed key, identical on every executor), then the k permutation
    hashes are ``a_i·x + b_i (mod 2⁶⁴)`` with (a_i odd, b_i) drawn from
    a fixed-seed RNG — one vectorized (k × |shingles|) min-reduce in
    numpy per document.

    Why not k JVM min-aggregates over the exploded shingle set: that
    formulation shuffles the postings list and spends multiple seconds
    compiling a k-wide whole-stage-codegen aggregate; this one is
    shuffle-free (signatures emerge partitioned exactly like the input
    corpus — at 100 TB, no data movement until the band-bucket join)
    and its cost is a numpy matmul-shaped reduce.

    The per-document Python loop is hoisted (r11): shingles of a whole
    Arrow batch hash in ONE ``hash_array`` call and the k permutations
    reduce per document with ``np.minimum.reduceat`` over segment
    boundaries, blocked at ~128k shingles so the (k × block)
    permutation table stays ~64 MB.  Bit-identical to the per-doc
    formulation (SipHash is elementwise, uint64 wrap arithmetic is
    unchanged, reduceat's segmented min equals the per-doc min) — the
    committed goldens pin it.  This was the dominant term of the r7
    100× probe (signature pass is corpus-linear; the constant is what
    moved).
    """
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(42)
    a = (rng.integers(0, 2**63, num_hashes, dtype=np.uint64) * 2 + 1).astype(np.uint64)
    b = rng.integers(0, 2**63, num_hashes, dtype=np.uint64)
    block = 131_072  # shingles per permutation-table block

    def batches(it):
        for pdf in it:
            doc_shingles: list[list[str]] = []
            keep_ids = []
            for doc_id, text in zip(pdf["doc_id"].values, pdf["text"].values):
                toks = text.split(" ")
                if len(toks) < n:
                    # no shingles => no signature row (mirrors the
                    # explode-based formulation, where such docs never
                    # reach the band join at all)
                    continue
                doc_shingles.append(
                    list({" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)})
                )
                keep_ids.append(doc_id)
            if not keep_ids:
                continue
            counts = np.fromiter(
                (len(s) for s in doc_shingles), dtype=np.int64
            )
            ends = np.cumsum(counts)
            starts = ends - counts
            base = pd.util.hash_array(
                np.asarray(
                    [s for sh in doc_shingles for s in sh], dtype=object
                )
            )
            ndocs = len(keep_ids)
            sigs = np.empty((ndocs, num_hashes), dtype=np.uint64)
            d0 = 0
            while d0 < ndocs:
                d1 = d0 + 1  # at least one doc, even an over-block one
                while d1 < ndocs and ends[d1 - 1] - starts[d0] < block:
                    d1 += 1
                seg = base[starts[d0] : ends[d1 - 1]]
                tbl = a[:, None] * seg[None, :] + b[:, None]  # (k, m)
                idx = starts[d0:d1] - starts[d0]
                sigs[d0:d1] = np.minimum.reduceat(tbl, idx, axis=1).T
                d0 = d1
            out = pd.DataFrame({"doc_id": keep_ids})
            s64 = sigs.astype(np.int64)
            for k in range(num_hashes):
                out[f"h{k}"] = s64[:, k]
            yield out

    schema = "doc_id long, " + ", ".join(f"h{k} long" for k in range(num_hashes))
    return df.select("doc_id", "text").mapInPandas(batches, schema)


def band_rows(
    sig: DataFrame, bands: int = BANDS, rows_per_band: int = ROWS_PER_BAND
) -> DataFrame:
    """(doc_id, band, bh) — one row per (doc, band); ``bh`` is the
    xxhash64 of the band's signature slice, the LSH bucket key.
    Factored (r13) so the in-corpus pair path (minhash_lsh_pairs) and
    the persisted band index (operators/minhash_index.py) band
    IDENTICALLY — a doc collides with the same buckets whether it is
    banded in one pass or written into the index and probed later."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[
                    F.col(f"h{b * rows_per_band + r}")
                    for r in range(rows_per_band)
                ]
            ).alias("bh"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("e")
    ).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.bh").alias("bh")
    )


def _bucket_pairs(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    a_name: str,
    b_name: str,
    cap: int = BUCKET_CAP,
) -> DataFrame:
    """Distinct within-bucket id pairs (a < b) for LSH-style blocking,
    with bounded per-bucket expansion.

    The first ``cap`` members of each bucket (by id order) enumerate
    all pairs; every member beyond the cap emits ONE pair against the
    bucket representative (the smallest id).  So a mega-duplicate
    bucket of k members costs cap²/2 + (k − cap) pair rows instead of
    k²/2, and no single collected array exceeds ``cap`` ids.
    Candidate verification (exact Jaccard / hamming) keeps precision
    exact.  Recall caveat: an over-cap member's ONLY candidate is the
    representative, so cluster connectivity through union-find /
    connected-components is guaranteed only when that member VERIFIES
    against the representative — true for the homogeneous
    mega-duplicate buckets the cap targets, but a heterogeneous
    over-cap bucket can silently disconnect a member that fails
    against the representative yet would match some other member.
    (The alternative — linking overflow members to several in-cap
    anchors — multiplies the overflow cost for a failure mode that
    needs >cap near-identical-but-not-identical docs sharing one
    bucket key; we take the recall trade-off and document it.)

    Physical shape (r14): the ranked relation is ``localCheckpoint``ed
    — its two consumers (the capped in-bucket enumeration and the
    overflow rep-links) otherwise re-plan the ENTIRE upstream subtree,
    including the Python signing pass feeding the band rows (the
    compile-time ReuseExchange the previous shape relied on never
    fires; measured r14: the bucket stage cost 2.07 s against 0.63 s
    for the bands themselves because the mapInPandas signatures ran
    once per branch).  The checkpoint stores bands-per-doc thin rows
    (the same corpus-linear class as the simhash ranked checkpoint,
    batch 3) — exactly what the bucket-key shuffle wrote anyway.  The
    window sort spills to disk, so a 10⁶-member bucket never has to
    fit in executor memory.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(id_col)
    ranked = df.select(
        *keys,
        id_col,
        F.row_number().over(w).alias("__rk"),
        F.first(id_col).over(w).alias("__rep"),
    ).localCheckpoint()
    grouped = (
        ranked.where(F.col("__rk") <= cap)
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") > 1)
    )
    pairs = F.expr(
        "flatten(transform(ids, (x, i) ->"
        "  transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"
    )
    in_bucket = (
        grouped.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias(a_name), F.col("p.b").alias(b_name))
    )
    overflow = ranked.where(F.col("__rk") > cap).select(
        F.col("__rep").alias(a_name), F.col(id_col).alias(b_name)
    )
    return in_bucket.unionByName(overflow).distinct()


def _dup_stats(df: DataFrame):
    """The duplicate-stats row of ``df``, a snapshot keyed on its plan's
    ``semanticHash()``.  The deciding aggregate is one blocking job; a
    session typically asks for the same corpus more than once
    (dedup_minhash_lsh AND dedup_ensemble both call minhash_lsh_pairs
    over the documents scan)."""

    def fill():
        return df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.xxhash64("text")).alias("n_texts"),
        ).first()

    try:
        plan = df.semanticHash()
    except Exception:
        return fill()
    return snapshot(df.sparkSession, "_dup_stats", (plan,), fill)


@snapshot_cache
def corpus_dup_stats(spark: SparkSession, sf_dir: str):
    """``_dup_stats`` of the documents scan dedup_minhash_lsh and
    dedup_ensemble decide on, as a named fill the warm-up can reach."""
    return _dup_stats(load_spread(spark, sf_dir, "documents"))


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = JACCARD_THRESHOLD,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    sh: DataFrame | None = None,
    diagnostics: dict | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    EXACT-COPY PRE-COLLAPSE (r11, same move as SemDeDup's): docs with
    identical text share one md5 text group; only each group's
    representative (min doc_id) is signed, banded and verified, and
    the member pairs are re-expanded afterwards — within-group pairs
    carry Jaccard exactly 1.0 by identity (identical text ⇒ identical
    shingle set), cross-group pairs inherit their rep pair's verified
    Jaccard (every member of a group has the group's shingle set, so
    the value is exact, not approximated).  The r11 100× probe showed
    why: on a 99-copies-per-doc corpus the old per-member pipeline
    spent 128 s enumerating and 136 s re-verifying 27M pairs whose
    Jaccard is knowable from 5k distinct texts.  Recall is UNCHANGED
    (copies share their rep's signature bit-for-bit, so they collide
    exactly when the rep does); the emitted pair set and values are
    identical at any group size up to BUCKET_CAP.

    Candidates = rep pairs agreeing on at least one band.  Rather
    than a bucket self-join (which computes the signature pass once
    per join side), buckets are grouped by (band, band_hash) and
    pairs are enumerated inside each bucket with ``_bucket_pairs`` —
    ONE signature pass over the DISTINCT texts, ONE shuffle keyed on
    the band hash.  Each rep candidate is verified against the true
    shingle sets, so precision is exact; recall follows the LSH
    S-curve (module docstring).

    Cap discipline: the ``BUCKET_CAP`` bound now applies at BOTH
    levels — band buckets cap at 256 distinct-text members (the
    heterogeneous-bucket guard, as before), and the member expansion
    caps per text group (the first 256 copies pair fully; copies
    beyond link to the group representative with Jaccard 1.0, exactly
    the ``_bucket_pairs`` overflow shape).  For the mega-duplicate
    bucket this is strictly better than the r10 behavior: the bucket
    no longer fills up with copies, so distinct near-dup texts are
    never crowded out of the cap by boilerplate repetition.

    ADAPTIVE (r12, r11 verdict item 4): the r11 pre-collapse paid its
    ~5 thin extra stages on EVERY corpus, including ones with no
    exact duplicates at all — where the expansion reproduces the rep
    pairs verbatim.  One cheap aggregate now decides the shape:
    ``count(*)`` vs ``count(distinct md5(text))`` over the eligible
    docs (map-side partial aggregation of 16-byte digests — a
    rounding error next to the shingle/signature passes).  Three
    regimes, emitting the SAME pair set wherever no band bucket
    crosses BUCKET_CAP in the skip shape (true of every committed
    golden corpus — pinned empirically by the forced-regime identity
    test and a three-SF cross-check; past the cap the shapes diverge
    into their respective documented bounded-recall trades, see the
    skip bullet):

    - fewer than BUCKET_CAP copies (r13 widened from "zero"; the
      common real-corpus case — sf0.1 carries 8 copies in 5000) →
      the collapse machinery is skipped entirely (no group window,
      no joins): every doc signs directly, copies collide through
      the band join itself (identical text ⇒ identical signature)
      and the verified pairs ARE the output.  Identity caveat: a
      band bucket whose DISTINCT near-dup texts plus copies exceed
      BUCKET_CAP caps differently here (copies occupy member slots)
      than under the collapse shapes (only reps are banded) — e.g.
      200 copies of one text sharing a bucket with 60+ distinct
      near-dups.  Both sides of that divergence are the standard
      _bucket_pairs overflow trade, and no committed corpus is
      within an order of magnitude of it;
    - few-to-many duplicates (BUCKET_CAP ≤ copies ≤ distinct texts)
      → the collapse runs, but the ranked subtree + expansion joins
      are built ONLY over multi-member text groups (dup-group-sized,
      broadcast-tiny) with singleton reps passing through the left
      joins untouched, and the signature feed anti-joins the
      (n − n_distinct)-row NON-rep side instead of semi-joining the
      rep side;
    - duplicate-heavy (the 100× probe regime) → the full r11 shape:
      semi-join on reps, expansion over what is now most of the
      corpus.

    ``diagnostics``: pass a dict to receive bucket-pressure counters
    (regime taken, max band-bucket size, buckets within 2x of
    BUCKET_CAP) — the cap-divergence caveat above surfaced as data
    plus a loud log; costs one extra aggregate job, so it is opt-in
    (see the inline comment).
    """
    from pyspark.sql.window import Window

    # eligible docs mirror the signature pass's own cut: < n tokens ⇒
    # no shingles ⇒ never reaches the band join.
    eligible = df.where(F.size(F.split(F.col("text"), " ")) >= n)
    # the deciding aggregate runs on the RAW corpus, with the CHEAP
    # 64-bit hash (not the md5 the group window keys on): a collision
    # can only LOWER the distinct count, i.e. push toward the
    # collapse path — which is output-identical anyway — never toward
    # the zero-dup skip; a dup among ineligible docs likewise only
    # forces the (identical) collapse path
    stats = _dup_stats(df)
    n_copies = (stats.n_docs or 0) - (stats.n_texts or 0)
    # r13 (r12 verdict item 2): corpora with only a HANDFUL of copies
    # skip the collapse too — copies share their text's signature
    # bit-for-bit, so they collide with each other in EVERY band and
    # with their near-dup neighbours exactly when their text does;
    # the band join itself carries the recall, and the verify step
    # scores identical texts at Jaccard exactly 1.0.  The quiet-host
    # measurement that motivated this: sf0.1 (8 copies in 5000)
    # through the few-dups collapse pays ~2 s of sliver-join stages
    # for work the band join does for free — 4.6-5.8 s vs 2.4-2.6 s
    # warm, identical 256-row output.  The bound is BUCKET_CAP - 1:
    # below it the worst-case text GROUP (all copies in one group)
    # still fits one band bucket uncapped.  That makes the pair set
    # identical to the collapse regimes' UNLESS a band bucket's
    # distinct near-dup texts plus copies together cross BUCKET_CAP
    # (the 200-copies-plus-60-near-dups shape) — there the skip
    # shape's cap cut lands differently from the collapse shapes'
    # reps-only banding; both are the documented _bucket_pairs
    # overflow trade, and the docstring states the conditional
    # precisely.  The committed goldens sit orders of magnitude
    # under the cap and are pinned identical across all three shapes.
    collapse = n_copies >= BUCKET_CAP
    # heavy ⇔ copies dominate distinct texts (the 100×-probe regime):
    # the expansion maps are corpus-sized there, so the r11 inner-join
    # shape (small pair side broadcast as the build side) is the right
    # plan; in the few-dups regime the maps shrink to the dup groups
    # and the build side flips
    heavy = n_copies > (stats.n_texts or 0)

    if collapse and heavy:
        # The r11 shape for the copy-dominated regime: the group
        # window is kept THIN (doc_id + the md5 partition key) and
        # the signature pass reads text from the SCAN via a rep-id
        # join rather than from the window's output: a window
        # exchange over a small corpus gets AQE-coalesced to a
        # handful of post-shuffle partitions, and feeding mapInPandas
        # from it serializes the Python signature work onto those few
        # tasks (measured 5.2 s vs 1.1 s at sf0.1) — the join keeps
        # the scan's file-partition parallelism.
        w = Window.partitionBy(F.md5("text"))
        marked = eligible.select(
            "doc_id", F.min("doc_id").over(w).alias("rep")
        )
        sig_in = df.join(
            marked.where(F.col("doc_id") == F.col("rep")).select("doc_id"),
            "doc_id",
        ).select("doc_id", "text")
        exp_src = marked
    elif collapse:
        # Few-dups regime (r12): no corpus-wide window at all.  The
        # dup groups are found with a map-side-partial groupBy over
        # md5(text) — the shuffle moves one row per DISTINCT text,
        # not per doc, and no sort — filtered to gsz > 1 (dup-group-
        # sized output).  Members of those groups come back via ONE
        # equi-join against the scan, which AQE turns into a
        # broadcast when the group list is small (the regime's
        # premise); singleton docs never enter any exchange.  The
        # signature feed excludes exactly the non-rep copies — an
        # (n_copies)-row broadcast anti-join sliver.
        key = F.md5("text")
        gkeys = (
            eligible.groupBy(key.alias("k"))
            .agg(
                F.min("doc_id").alias("rep"),
                F.count(F.lit(1)).alias("gsz"),
            )
            .where(F.col("gsz") > 1)
            .select("k", "rep")
        )
        members = (
            eligible.select("doc_id", key.alias("k"))
            .join(gkeys, "k")
            .select("rep", "doc_id")
        )
        sig_in = eligible.join(
            members.where(F.col("doc_id") != F.col("rep")).select("doc_id"),
            "doc_id",
            "left_anti",
        ).select("doc_id", "text")
        exp_src = members
    else:
        sig_in = eligible.select("doc_id", "text")

    sig = minhash_signatures(sig_in, n, bands * rows_per_band)
    buckets = band_rows(sig, bands, rows_per_band)
    if diagnostics is not None:
        # Opt-in BUCKET-PRESSURE observability (r14, r13 verdict item
        # 6): the skip-regime identity caveat above is prose until a
        # corpus actually drifts toward it — this makes it DATA.  One
        # extra aggregate job over the band rows (it re-runs the
        # signing pass — which is why it is opt-in, never in the
        # oracle/bench hot path; the persisted-index build gets the
        # same counters for free from its written postings).  Fires a
        # loud log once any band bucket is within 2x of BUCKET_CAP.
        (prow,) = (
            buckets.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("sz"))
            .agg(
                F.max("sz").alias("mx"),
                F.sum(
                    F.when(
                        F.col("sz") >= BUCKET_PRESSURE_BAR, 1
                    ).otherwise(0)
                ).alias("near"),
            )
            .collect()
        )
        diagnostics.update(
            {
                "regime": (
                    "collapse_heavy"
                    if (collapse and heavy)
                    else ("collapse_few" if collapse else "skip")
                ),
                "n_copies": int(n_copies),
                "max_bucket": int(prow.mx or 0),
                "near_cap_buckets": int(prow.near or 0),
                "bucket_cap": BUCKET_CAP,
                "pressure_bar": BUCKET_PRESSURE_BAR,
            }
        )
        if diagnostics["near_cap_buckets"]:
            import logging

            logging.getLogger(__name__).warning(
                "minhash_lsh_pairs: %d band bucket(s) within 2x of "
                "BUCKET_CAP (max %d, bar %d, regime %s) — the "
                "skip/collapse shapes start to diverge and recall "
                "degrades to rep-links past the cap (docstring cap "
                "discipline)",
                diagnostics["near_cap_buckets"],
                diagnostics["max_bucket"],
                BUCKET_PRESSURE_BAR,
                diagnostics["regime"],
            )
    cand = _bucket_pairs(buckets, ["band", "bh"], "doc_id", "rep_a", "rep_b")
    sh = shingle_sets(df, n) if sh is None else sh
    sha = sh.select(F.col("doc_id").alias("rep_a"), F.col("shingles").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("rep_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    ver = (
        cand.join(sha, "rep_a")
        .join(shb, "rep_b")
        .where(jac >= threshold)
        .select("rep_a", "rep_b", F.round(jac, 6).alias("jaccard"))
    )

    if not collapse:
        # dup-free corpus: the verified rep pairs ARE the doc pairs
        # (_bucket_pairs already emits a < b) — no expansion joins
        return ver.select(
            F.col("rep_a").alias("doc_a"),
            F.col("rep_b").alias("doc_b"),
            "jaccard",
        )

    # member expansion: within-group pairs ride the SAME two joins as
    # the cross-group ones — a group rep contributes a self pair with
    # Jaccard 1.0 (identical text ⇒ identical shingle set), and the
    # (rep_a != rep_b) | (da < db) filter keeps each unordered pair
    # exactly once (cross pairs are unique by construction, self
    # pairs dedupe on the id order).  Members beyond BUCKET_CAP are
    # excluded from the expansion and link to their group rep only
    # (the standard overflow shape — bounded mega-group cost).
    #
    # r12, regime-dependent JOIN SHAPE (the first cut of this change
    # used left joins + dup-group-only maps unconditionally and
    # regressed the 100× probe 6.3 → 31 s — a LEFT join cannot build
    # its hash table on the preserved side, so in the dup-heavy
    # regime, where the member maps are corpus-sized, the two
    # expansion joins fell from broadcast-hash on the small pair side
    # to sort-merge over the 27M-row expanded intermediate):
    #
    # - heavy: the r11 shape — maps over ALL text groups, INNER
    #   joins, so the planner builds on whichever side is small
    #   (here: the rep-level pair side, broadcast);
    # - few-dups: the ranked subtree and both maps hold ONLY the
    #   dup-group members (a dup-group-sized sliver — the
    #   broadcastable side of a LEFT join, where building on the
    #   right IS allowed), and singleton reps flow through the left
    #   joins with their pair unchanged (coalesce back to the rep
    #   id).  Equivalent output: a singleton's only member mapping
    #   was the identity, and its self pair was always filtered out
    #   by da < db.
    wm = Window.partitionBy("rep").orderBy("doc_id")
    ranked = exp_src.select(
        "rep", "doc_id", F.row_number().over(wm).alias("__rk")
    )
    mcap = ranked.where(F.col("__rk") <= BUCKET_CAP).select("rep", "doc_id")
    overflow = ranked.where(F.col("__rk") > BUCKET_CAP).select(
        F.col("rep").alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.round(F.lit(1.0), 6).alias("jaccard"),
    )
    # the rank-1 member IS the rep (rep = min doc_id), so the self
    # pairs come from the ranked subtree — its exchange is shared with
    # mcap/overflow instead of re-deriving the text-group window.
    # (In the few-dups branch only multi-group reps emit self pairs;
    # a singleton's self pair never survived the da < db filter.)
    ver_self = ranked.where(F.col("__rk") == 1).select(
        F.col("rep").alias("rep_a"),
        F.col("rep").alias("rep_b"),
        F.round(F.lit(1.0), 6).alias("jaccard"),
    )
    ma = mcap.select(F.col("rep").alias("rep_a"), F.col("doc_id").alias("da"))
    mb = mcap.select(F.col("rep").alias("rep_b"), F.col("doc_id").alias("db"))
    how = "inner" if heavy else "left"
    cross = (
        ver.unionByName(ver_self)
        .join(ma, "rep_a", how)
        .join(mb, "rep_b", how)
        .where(
            (F.col("rep_a") != F.col("rep_b"))
            | (F.col("da") < F.col("db"))
        )
        .select(
            F.least(
                F.coalesce("da", "rep_a"), F.coalesce("db", "rep_b")
            ).alias("doc_a"),
            F.greatest(
                F.coalesce("da", "rep_a"), F.coalesce("db", "rep_b")
            ).alias("doc_b"),
            "jaccard",
        )
    )
    return cross.unionByName(overflow)


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    SELECT doc_a, doc_b, jaccard
    FROM read_parquet('{_GOLDEN_DIR}/dedup_minhash_golden.parquet')
    WHERE corpus_sig = (SELECT CAST(sum(length(text)) AS BIGINT) FROM documents)
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs.

    The xxhash64 signature has no DuckDB equivalent, so the oracle is a
    committed GOLDEN file of this query's own (fully deterministic)
    output, tagged per test corpus by its total text length — the
    driver hash pins every emitted pair + Jaccard value against the
    golden bytes, and any change to shingling, banding, or the
    bucket-cap policy shows up as a hash mismatch.  Semantic accuracy
    is separately pinned by tests/test_extensions.py (exact agreement
    with dedup_ngram_jaccard on planted duplicates).  Goldens exist for
    the sf0.001/sf0.01 corpora the correctness harnesses use."""
    return minhash_lsh_pairs(
        load_spread(spark, sf_dir, "documents"),
        sh=corpus_shingle_sets(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# 5: SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(df: DataFrame) -> DataFrame:
    """64-bit SimHash per document from whitespace tokens.

    bit_j(doc) = sign( Σ_tokens ±1 ) where the ±1 is bit j of a
    deterministic 64-bit token hash; occurrences weight naturally.

    Implemented as an Arrow-batched ``mapInPandas``: the per-document
    work (hash tokens, unpack 64 bit-planes, majority-vote) vectorizes
    in numpy, versus 64 separate conditional-sum aggregates JVM-side —
    the pure-SQL formulation spends seconds compiling a 64-wide
    whole-stage-codegen aggregate and re-evaluates the token hash per
    bit.  Token hashing is ``pd.util.hash_array`` (SipHash with a fixed
    key — identical on every executor, no seed to ship).  Shuffle-free:
    signatures are computed map-side in one pass over the corpus.
    """
    import numpy as np
    import pandas as pd

    def batches(it):
        for pdf in it:
            out = np.zeros(len(pdf), dtype=np.uint64)
            for i, text in enumerate(pdf["text"].values):
                toks = text.split()
                if not toks:
                    continue
                h = pd.util.hash_array(np.asarray(toks, dtype=object))
                ones = np.unpackbits(
                    h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
                ).sum(axis=0)
                bits = (2 * ones > len(toks)).astype(np.uint8)
                out[i] = np.packbits(bits, bitorder="little").view(np.uint64)[0]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "simhash": out.astype(np.int64)}
            )

    return df.select("doc_id", "text").mapInPandas(batches, "doc_id long, simhash long")


def simhash_pairs(df: DataFrame, hamming_max: int = HAMMING_MAX) -> DataFrame:
    """Pairs with SimHash hamming distance <= hamming_max.

    Blocking on 16-bit chunks is *exact* for hamming <= 3 (pigeonhole:
    4 chunks, <= 3 flipped bits => one chunk untouched), so this is a
    full-recall near-dup scan with equi-join cost for blocks up to
    BUCKET_CAP members; beyond the cap, members are checked against
    the block representative only (bounded expansion — recall beyond
    the cap holds only for members within hamming_max of the
    representative; see ``_bucket_pairs`` for the trade-off).
    """
    sig = simhash_signatures(df)
    chunk_structs = [
        F.struct(
            F.lit(c).alias("c"),
            F.shiftright(F.col("simhash"), 16 * c).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
        )
        for c in range(SIMHASH_CHUNKS)
    ]
    blocks = sig.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_structs)).alias("e")
    ).select("doc_id", "simhash", F.col("e.c").alias("c"), F.col("e.chunk").alias("chunk"))
    # Pair members inside each (chunk-index, chunk-value) block — same
    # capped single-shuffle pattern as _bucket_pairs, carrying the
    # signatures so hamming distance is computed inline per pair.
    # Members beyond BUCKET_CAP link to the block representative only
    # (bounded expansion; recall caveat in _bucket_pairs' docstring).
    from pyspark.sql.window import Window

    w = Window.partitionBy("c", "chunk").orderBy("doc_id")
    # r14 (guide §3.3): ranked feeds TWO consumers (capped in-block
    # grouping and the overflow star links), so without materialization
    # the whole signature subtree — the Python SipHash pass over every
    # token of the corpus — executed twice.  The ranked relation is 4
    # rows/doc of 5 small fixed-width columns (~2 orders of magnitude
    # narrower than the text it derives from), so one localCheckpoint
    # trades a tiny write for the second full signature pass.
    ranked = blocks.select(
        "doc_id",
        "simhash",
        "c",
        "chunk",
        F.row_number().over(w).alias("__rk"),
        F.first("doc_id").over(w).alias("__rep_id"),
        F.first("simhash").over(w).alias("__rep_sig"),
    ).localCheckpoint()
    grouped = (
        ranked.where(F.col("__rk") <= BUCKET_CAP)
        .groupBy("c", "chunk")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("ms"))
        .where(F.size("ms") > 1)
    )
    pairs = F.expr(
        "flatten(transform(ms, (x, i) ->"
        "  transform(slice(ms, i + 2, size(ms)), y -> struct("
        "    x.doc_id AS doc_a, y.doc_id AS doc_b,"
        "    bit_count(x.simhash ^ y.simhash) AS hamming))))"
    )
    in_block = (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
    )
    overflow = ranked.where(F.col("__rk") > BUCKET_CAP).select(
        F.col("__rep_id").alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.bit_count(F.col("__rep_sig").bitwiseXOR(F.col("simhash"))).alias("hamming"),
    )
    return (
        in_block.unionByName(overflow)
        .where(F.col("hamming") <= hamming_max)
        .distinct()
    )


@query(
    "dedup_simhash",
    oracle=f"""
    SELECT doc_a, doc_b, hamming
    FROM read_parquet('{_GOLDEN_DIR}/dedup_simhash_golden.parquet')
    WHERE corpus_sig = (SELECT CAST(sum(length(text)) AS BIGINT) FROM documents)
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3).

    Same golden-file oracle pattern as dedup_minhash_lsh: the SipHash
    token hashing has no DuckDB equivalent, so the committed golden of
    this deterministic output pins every pair + hamming distance per
    test corpus; planted near-identical-pair recall is pinned in
    pytest."""
    return simhash_pairs(load_spread(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Embedding-based near-dup (cosine) — see operators/similarity.py for
# the shared cosine machinery; registered here as a dedup query.
# ---------------------------------------------------------------------------


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    """,
    bench=False,  # O(n²) by design; the scale path is similarity.ann_lsh
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.4).

    Brute-force pairwise at test scale to stay oracle-exact; at 100 TB
    the same verify step runs only on ANN/LSH candidates
    (see similarity.ann_lsh_topk).
    """
    from .similarity import cosine_expr, with_norm

    e = with_norm(load_spread(spark, sf_dir, "embeddings"))
    a, b = e.alias("a"), e.alias("b")
    cos = cosine_expr("a", "b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .where(cos >= 0.4)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup) — the 100 TB path for embedding-space dedup
# ---------------------------------------------------------------------------

SEM_TAU = 0.4  # same threshold as the exact baseline above

# Hard cap on the SemDeDup cluster count.  k grows with the corpus so
# per-cell pairwise cost stays ~constant, but centroids are trained
# with a per-Lloyd-round driver collect of k x dim floats and shipped
# to every task — uncapped (the r5 `n // 128` rule alone), a 10^10-doc
# corpus would put a ~100 GB centroid matrix on the driver and in
# every closure.  The published SemDeDup runs used k ~= 1.1e5 on
# billion-scale corpora; 131072 keeps the matrix <= ~0.5 GB at
# dim=1024 (float64) — a bounded broadcast, while per-cell cost decay
# simply stops improving past the cap (cells grow linearly again,
# still row-blocked at 2048 so executor memory stays flat).
SEM_K_CAP = 131_072


@query("dedup_semantic", oracle=golden_oracle("dedup_semantic", "vec_id, sem_group, keep"), bench=True)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space with the
    IVF coarse quantizer, enumerate near-duplicate pairs ONLY within
    each cluster, group them into semantic components, keep one
    representative per component.

    This is the declared scale path that ``dedup_embedding_cosine``
    (the exact O(n²) oracle baseline) stands in for at test scale:
    the pairwise search collapses from |corpus|² to
    Σ|cluster|² ≈ n²/k, and k grows with the corpus up to SEM_K_CAP
    (the published SemDeDup recipe for billion-document corpora used
    k ≈ 1.1e5; past the cap, cells grow linearly again but stay
    row-blocked so executor memory is flat and the driver/broadcast
    footprint is bounded at k_cap × dim).  Every stage is distributed:
    centroid
    training moves k×dim floats to the driver per Lloyd round
    (operators/similarity.py:train_ivf_centroids, session-cached so
    one training serves IVF + this operator), assignment is one numpy
    matmul per Arrow batch, within-cell pair search is one normalized
    BLAS matmul per cell (applyInPandas over the cluster-keyed
    shuffle, row-blocked for skewed cells), and grouping is the
    pointer-jumping connected-components operator (operators/
    corpus.py).

    Boundary pairs are the known failure mode of hard cell
    assignment, so each vector is soft-assigned to its top-2 nearest
    centroids (the IVF-nprobe trick applied to BOTH sides): a pair is
    a candidate if the two vectors share ANY cell, which at test
    scale doubles recall for ~2x candidate rows.  Approximation
    contract (pinned in tests/test_extensions.py): perfect precision
    — every merged pair really has cosine >= tau, by construction —
    and recall bounded by cluster assignment (pairs whose cells are
    fully disjoint are missed; the paper accepts this).

    Output: (vec_id, sem_group, keep) — sem_group is the smallest
    vec_id in the component (singletons group with themselves),
    keep=1 exactly for the representative.  Rows-only driver check
    (k-means is not SQL-expressible); parity with the exact baseline
    is pytest-pinned.
    """
    from .similarity import corpus_embeddings

    return _sem_dedup(
        spark, corpus_embeddings(spark, sf_dir), _sem_centroids(spark, sf_dir)
    )


def _sem_k(e: DataFrame) -> int:
    """SemDeDup cluster count for a prepared corpus: k grows with the
    corpus (expected soft-cell size ~256) so the within-cell pairwise
    cost stays n²/k ≈ 256·n — the SemDeDup scaling rule; floor at the
    session IVF k so the cached quantizer is shared at test scale.
    ``e`` is persisted, so count() is cheap."""
    from .similarity import IVF_CLUSTERS

    return min(SEM_K_CAP, max(IVF_CLUSTERS, e.count() // 128))


@snapshot_cache
def _sem_centroids(spark: SparkSession, sf_dir: str):
    from .similarity import corpus_centroids, corpus_embeddings

    return corpus_centroids(spark, sf_dir, _sem_k(corpus_embeddings(spark, sf_dir)))


def _sem_dedup(spark: SparkSession, e: DataFrame, centroids) -> DataFrame:
    """SemDeDup downstream of the trained quantizer (shared by the
    in-session and persisted-quantizer variants): top-2 soft assign,
    within-cell exact-duplicate collapse + BLAS pair enumeration,
    pointer-jumping components.

    Exact-copy collapse (r10 verdict item 7): identical embeddings
    land in identical cells and score cosine 1 against everything
    their representative scores, so letting copies into the pairwise
    stage grows the within-cell pair count by copies² — the dominant
    term of the 100× probe on the 99-copies worst-case corpus.  The
    collapse happens INSIDE each cell's pandas group (zero new Spark
    stages — an r11 lesson: a corpus-wide pre-collapse window cost
    more in stage overhead at test SF than the copies² it saved):
    identical vectors within a cell byte-group in numpy, the group
    representative is the min vec_id — which IS the global group rep,
    because exact copies are soft-assigned to exactly the same two
    cells, so every copy of a group is present wherever any copy is —
    the BLAS matmul runs over unique vectors only, emits rep-level
    pairs, and each copy star-links to its rep (a true cosine-1 ≥ τ
    edge, emitted once per shared cell and deduped by the existing
    distinct).  Components are UNCHANGED by construction: for a copy
    m of rep r, m's cells equal r's cells and cos(m, v) == cos(r, v)
    for every v, so the edge m—v exists in the uncollapsed graph iff
    r—v does, and the star edge keeps m connected — the output is
    bit-identical (both variants keep sharing one committed golden)."""
    import numpy as np
    import pandas as pd

    from .corpus import connected_components

    cents = centroids

    # Ship the centroid matrix to executors ONCE via a torrent
    # broadcast, not by closure capture: a captured ndarray is
    # re-pickled into every task description, so at the k cap it
    # would ride every one of thousands of task launches instead of
    # landing on each executor once.
    b_cents = spark.sparkContext.broadcast(cents)

    # r14 (guide §8): the assignment pass EMITS the payload with its
    # cells instead of returning bare (vec_id, cluster) rows and
    # re-attaching emb_d/norm with an equi-join — the join shuffled
    # the full embedding payload by vec_id (plus the assignment rows)
    # only to shuffle it AGAIN by cluster for the pair stage.  The
    # pass-through shape moves the heavy bytes exactly once (the
    # cluster exchange); duplication ×2 happens inside the Arrow
    # batch, not across the network.  Rows are identical to the
    # join's output, so everything downstream is bit-unchanged.
    def soft_assign(it):
        cents = b_cents.value
        half_sq = 0.5 * (cents * cents).sum(axis=1)
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["emb_d"].values]
            )
            score = mat @ cents.T - half_sq  # argmax == nearest (L2)
            top2 = np.argpartition(-score, 1, axis=1)[:, :2]
            idx = np.repeat(np.arange(len(pdf)), 2)
            yield pd.DataFrame(
                {
                    "cluster": top2.reshape(-1).astype("int32"),
                    "vec_id": pdf["vec_id"].values[idx],
                    "emb_d": pdf["emb_d"].values[idx],
                    "norm": pdf["norm"].values[idx],
                }
            )

    assigned = e.select("vec_id", "emb_d", "norm").mapInPandas(
        soft_assign, "cluster int, vec_id long, emb_d array<double>, norm double"
    )

    # Within-cell pair enumeration as ONE normalized matmul per cell
    # (applyInPandas, cluster-keyed shuffle of 2 cells/vector) instead
    # of a pairwise join evaluating a per-pair higher-order-function
    # cosine: the sim matrix for a ~256-vector cell is a single BLAS
    # call.  Oversized cells (skewed k-means) are processed in row
    # blocks so memory stays O(block × cell), never cell².
    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"doc_a": [], "doc_b": []}).astype("int64")
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        mat = np.ascontiguousarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["emb_d"].values]
        )
        # exact-copy collapse (docstring): byte-group identical rows,
        # rep = first occurrence = min vec_id (ids ascending); copies
        # star-link to the rep, only unique rows enter the matmul
        rows = mat.view([("", mat.dtype)] * mat.shape[1]).ravel()
        _, first_idx, inv = np.unique(
            rows, return_index=True, return_inverse=True
        )
        reps = ids[first_idx]
        star_a = reps[inv]
        star_mask = star_a != ids
        out_a = [star_a[star_mask]]
        out_b = [ids[star_mask]]
        # unique vectors, ordered by rep id so the upper triangle is
        # a < b exactly as the uncollapsed enumeration produced
        order = np.argsort(reps)
        reps = reps[order]
        umat = mat[first_idx[order]]
        umat /= pdf["norm"].to_numpy()[first_idx[order], None]
        m = len(reps)
        block = 2048
        for lo in range(0, m, block):
            hi = min(lo + block, m)
            sims = umat[lo:hi] @ umat.T  # (block, m)
            r, c = np.nonzero(sims >= SEM_TAU)
            keep = (r + lo) < c  # upper triangle: a < b by sorted id
            out_a.append(reps[(r + lo)[keep]])
            out_b.append(reps[c[keep]])
        return pd.DataFrame(
            {"doc_a": np.concatenate(out_a), "doc_b": np.concatenate(out_b)}
        )

    edges = (
        assigned.groupBy("cluster")
        .applyInPandas(cell_pairs, "doc_a long, doc_b long")
        .distinct()  # a pair (or a copy's star edge) may share both cells
    )
    comp = connected_components(edges)  # (id, cluster_id=min member)
    return (
        e.select("vec_id")
        .join(comp, F.col("vec_id") == F.col("id"), "left")
        .select(
            "vec_id",
            F.coalesce(F.col("cluster_id"), F.col("vec_id")).alias("sem_group"),
            (
                F.coalesce(F.col("cluster_id"), F.col("vec_id"))
                == F.col("vec_id")
            )
            .cast("int")
            .alias("keep"),
        )
    )


@snapshot_cache
def _ensure_sem_quantizer(spark: SparkSession, sf_dir: str) -> str:
    """A scratch dir holding the persisted SemDeDup quantizer, trained
    and written once per snapshot, read COLD by the persisted query."""
    from .similarity import _write_ndarray

    path = scratch_dir("sem_quantizer_")
    _write_ndarray(spark, _sem_centroids(spark, sf_dir), f"{path}/centroids")
    return path


@query(
    "dedup_semantic_persisted",
    oracle=golden_oracle("dedup_semantic", "vec_id, sem_group, keep"),
    bench=True,
)
def dedup_semantic_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_semantic`` served from a PERSISTED quantizer: the
    k-means centroid matrix is written once per corpus snapshot
    (chunked-binary parquet, the ``write_ivf_index`` discipline —
    operators/similarity.py) and the query reads it back cold, paying
    only soft-assignment + within-cell pairs + components.

    This is the production lifecycle at 100 TB: centroid training is
    a full-corpus Lloyd scan per round, which belongs with snapshot
    builds, not in every dedup run — a pipeline trains the quantizer
    once and every subsequent curation pass reuses it.  Centroids are
    trained on the int64 fixed-point grid and round-trip float64 →
    parquet binary bit-exactly, so this query shares
    ``dedup_semantic``'s committed golden oracle: both paths must
    return IDENTICAL rows, which is the pin that the persistence
    layer never drifts the math."""
    from .similarity import _read_ndarray, corpus_embeddings

    e = corpus_embeddings(spark, sf_dir)
    cents = _read_ndarray(
        spark, f"{_ensure_sem_quantizer(spark, sf_dir)}/centroids"
    )
    return _sem_dedup(spark, e, cents)


# ---------------------------------------------------------------------------
# Ensemble dedup: consensus across all five strategies
# ---------------------------------------------------------------------------


def _ensemble_oracle() -> str:
    """Compose the ensemble oracle from the member strategies' own
    registered oracles (SQL for exact/jaccard/embedding, committed
    goldens for the hash-based minhash/simhash — see their entries)."""
    from ..plans.registry import _REGISTRY

    jac = _REGISTRY["dedup_ngram_jaccard"].oracle
    mh = _REGISTRY["dedup_minhash_lsh"].oracle
    sh = _REGISTRY["dedup_simhash"].oracle
    emb = _REGISTRY["dedup_embedding_cosine"].oracle
    return f"""
    WITH ex AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM documents a JOIN documents b
          ON a.doc_id < b.doc_id AND md5(a.text) = md5(b.text)
    ),
    allp AS (
        SELECT doc_a, doc_b, 'exact' AS src FROM ex
        UNION ALL SELECT doc_a, doc_b, 'jaccard'   FROM ({jac}) j
        UNION ALL SELECT doc_a, doc_b, 'minhash'   FROM ({mh}) m
        UNION ALL SELECT doc_a, doc_b, 'simhash'   FROM ({sh}) s
        UNION ALL SELECT vec_a, vec_b, 'embedding' FROM ({emb}) e
    )
    SELECT doc_a, doc_b,
           count(*) AS n_strategies,
           string_agg(src, ',' ORDER BY src) AS strategies
    FROM allp GROUP BY doc_a, doc_b
    """


@query("dedup_ensemble", oracle=_ensemble_oracle(), bench=False)
def dedup_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consensus duplicate-pair table: every candidate pair flagged by
    ANY of the five dedup strategies (exact text hash, n-gram Jaccard,
    MinHash-LSH, SimHash, embedding cosine), with provenance — how
    many and which strategies agree.  The curation pattern behind
    production corpus cleaning: high-confidence removal where
    strategies agree, human/LLM review queues where exactly one fires.

    Plan: each member relation is the SAME operator the standalone
    query runs (Jaccard pairs and shingle sets come from the session
    caches), unioned with a constant provenance tag and grouped by
    pair — the ensemble itself adds one pair-keyed shuffle over the
    union of the (sparse) pair lists, which is orders of magnitude
    smaller than any signature pass.  bench=False because every member
    is individually benched; timing the union would double-count them.
    The embedding member uses the exact-cosine baseline for oracle
    exactness — at 100 TB the composition swaps in dedup_semantic's
    cell-bounded edge relation, identical shape.

    Driver-hash semantics: the oracle composes the members' own
    oracles (SQL where expressible, committed goldens for the two
    hash-signature strategies), so a drift in ANY member's pair list
    or in the consensus arithmetic flips the hash."""
    d = load_spread(spark, sf_dir, "documents")
    h = d.select("doc_id", F.md5("text").alias("h"))
    ex = (
        h.alias("a")
        .join(
            h.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit("exact").alias("src"),
        )
    )

    def tag(pairs: DataFrame, src: str) -> DataFrame:
        return pairs.select("doc_a", "doc_b", F.lit(src).alias("src"))

    jac = tag(corpus_jaccard_pairs(spark, sf_dir), "jaccard")
    mh = tag(
        minhash_lsh_pairs(d, sh=corpus_shingle_sets(spark, sf_dir)), "minhash"
    )
    sh = tag(simhash_pairs(d), "simhash")
    emb = dedup_embedding_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        F.lit("embedding").alias("src"),
    )
    return (
        ex.unionByName(jac)
        .unionByName(mh)
        .unionByName(sh)
        .unionByName(emb)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_strategies"),
            F.concat_ws(",", F.array_sort(F.collect_list("src"))).alias(
                "strategies"
            ),
        )
    )


# ---------------------------------------------------------------------------
# 8: exact duplicate SPANS — substring-level dedup across documents
# ---------------------------------------------------------------------------

# Window width (in words) for position-level duplicate detection.  A
# span is reported once every one of its K-word windows occurs at
# least twice anywhere in the corpus — the distributed reformulation
# of suffix-array exact-substring dedup (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better"): any
# repeated substring of >= K words is a run of repeated K-grams, so
# K-gram postings find exactly the same spans a suffix array would,
# with shuffles instead of a monolithic index.
SPAN_K = 5


def duplicate_span_stats(df: DataFrame, k: int = SPAN_K) -> DataFrame:
    """Per-document duplicated-span statistics.

    Pipeline (all JVM expressions, one logical pass per stage):

    1. position sites: ``posexplode`` of the K-gram at every word
       offset — rows are (doc_id, n_words, pos, md5(gram));
    2. duplicated grams: groupBy the 128-bit digest, keep ``count>1``
       (map-side combine makes a hot boilerplate gram ONE count row,
       never a pair blowup — this stage is linear in corpus size,
       unlike pairwise candidate generation);
    3. mark sites whose gram is duplicated (left-semi join on the
       digest: shuffle carries 16 bytes + two longs per site);
    4. per-doc gap-merge: positions whose K-windows overlap (gap
       <= K-1) fuse into maximal spans via a running new-span flag —
       the window is per-document, so parallelism is per-doc, never a
       global sort.

    Output: one row per document that carries at least one duplicated
    span — span count, total duplicated word coverage (union of
    windows, not the double-counted sum), longest span, and an exact
    integer permille ratio.
    """
    from pyspark.sql.window import Window

    ws = F.split(F.col("text"), " ")
    sites = (
        df.select("doc_id", ws.alias("ws"))
        .where(F.size("ws") >= k)
        .select(
            "doc_id",
            F.size("ws").alias("n_words"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(ws) - {k}),"
                    f" i -> md5(concat_ws(' ', slice(ws, i + 1, {k}))))"
                )
            ).alias("pos", "gram"),
        )
    )
    # r14 single-pass shape (guide §2.4): the aggregate-then-semi-join
    # form planned the posexplode+md5 site subtree TWICE — every
    # k-gram of the corpus was hashed once under the gram count and
    # again as the semi-join probe, and the probe side shuffled the
    # full site relation by gram anyway.  A count over the
    # gram-partitioned window marks duplicated sites in the SAME
    # single shuffle of the sites (identical rows survive: count>1 ==
    # the semi join against the HAVING>1 gram list), halving the
    # dominant map cost (the md5 pass) and dropping one exchange.
    # Skew exposure is unchanged — the semi join's probe exchange
    # hash-partitioned sites by gram exactly as the window does.
    wg = Window.partitionBy("gram")
    marked = (
        sites.withColumn("occ", F.count(F.lit(1)).over(wg))
        .where(F.col("occ") > 1)
        .select("doc_id", "n_words", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    lagpos = F.lag("pos").over(w)
    new_span = F.when(
        lagpos.isNotNull() & (F.col("pos") - lagpos <= k - 1), F.lit(0)
    ).otherwise(F.lit(1))
    numbered = marked.withColumn("span_id", F.sum(new_span).over(w))
    spans = numbered.groupBy("doc_id", "span_id").agg(
        F.first("n_words").alias("n_words"),
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(k - 1)).alias("e"),
    )
    span_len = F.col("e") - F.col("s") + 1
    return (
        spans.groupBy("doc_id", "n_words")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(span_len).alias("dup_words"),
            F.max(span_len).alias("max_span_words"),
        )
        .withColumn(
            "dup_permille",
            F.expr("(dup_words * 1000 + n_words div 2) div n_words"),
        )
    )


@query(
    "dedup_duplicate_spans",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), site AS (
      SELECT doc_id, len(w) AS n_words, CAST(i AS BIGINT) AS pos,
             array_to_string(w[i + 1 : i + {SPAN_K}], ' ') AS sh
      FROM ws, unnest(range(len(w) - {SPAN_K - 1})) AS t(i)
      WHERE len(w) >= {SPAN_K}
    ), dup AS (
      SELECT sh FROM site GROUP BY sh HAVING count(*) > 1
    ), m AS (
      SELECT s.doc_id, s.n_words, s.pos FROM site s JOIN dup USING (sh)
    ), flagged AS (
      SELECT doc_id, n_words, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                      <= {SPAN_K - 1}
                  THEN 0 ELSE 1 END AS new_span
      FROM m
    ), numbered AS (
      SELECT doc_id, n_words, pos,
             sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
      FROM flagged
    ), spans AS (
      SELECT doc_id, any_value(n_words) AS n_words,
             min(pos) AS s, max(pos) + {SPAN_K - 1} AS e
      FROM numbered GROUP BY doc_id, span_id
    )
    SELECT doc_id, n_words,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(e - s + 1) AS BIGINT) AS dup_words,
           CAST(max(e - s + 1) AS BIGINT) AS max_span_words,
           (CAST(sum(e - s + 1) AS BIGINT) * 1000 + n_words // 2) // n_words
               AS dup_permille
    FROM spans GROUP BY doc_id, n_words
    """,
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup: per-document maximal duplicated
    spans (>= SPAN_K words repeated anywhere in the corpus).  The
    digest-postings reformulation keeps every stage linear — the 100 TB
    path where doc-level dedup isn't enough (boilerplate headers,
    quoted passages) and a suffix array won't distribute."""
    return duplicate_span_stats(load_spread(spark, sf_dir, "documents"))
