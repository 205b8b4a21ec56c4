"""Similarity search over an embedding column (array<float>).

Two paths:
- ``cosine_topk`` — brute-force exact top-k: the correctness baseline.
  Cosine is computed JVM-side with zip_with/aggregate higher-order
  functions (no Python UDF in the hot path).
- ``ann_lsh_topk`` — random-hyperplane LSH: the 100 TB path.
  Candidates come from equi-joins on sign-pattern buckets (cost ∝
  docs × tables, never n²), then exact cosine reranks candidates.

Scale notes:
- Brute force is O(|queries| × |corpus|); it is only ever used with a
  broadcast query set (the query side must fit in memory — true for
  "find neighbors of these k items", never for all-pairs).
- The LSH variant trades recall for a ~|corpus|-linear plan.  Tables
  and bits are tunable; tests/test_similarity.py pins recall >= 0.8
  against the brute-force baseline at test scale.
- Hyperplane weights are derived from xxhash64(table, plane, dim) —
  deterministic, seedless, reproducible across runs and cluster sizes,
  and generated distributedly (no driver-side randomness to ship).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.goldens import golden_oracle
from ..plans.registry import query
from ..session import scratch_dir, snapshot_cache
from ..sources.tables import load, load_spread
from .classifier import _GOLDEN_DIR, _SIG_SQL

# Golden-oracle SQL for the ANN probes: approximate in RECALL, exact
# in BYTES (seeded planes, int64 fixed-point training sums, id-broken
# top-k ties — bit-identical under any partitioning / core count), so
# each query's oracle is its own committed output, corpus_sig-keyed
# (tests/regen_ann_goldens.py).  Recall quality is pinned separately
# in tests/test_extensions.py.


def _ann_golden_oracle(key: str) -> str:
    return f"""
    SELECT q_id, neighbor_id, cosine, rnk
    FROM read_parquet('{_GOLDEN_DIR}/ann_{key}_golden.parquet')
    WHERE corpus_sig = {_SIG_SQL}
    """


TOPK = 5
N_QUERIES_PRED = "vec_id < 5"
# arrival-set size for the semantic-admission batch twin: wide enough
# that both decisions occur at every committed sf
N_ARRIVALS = 25
LSH_TABLES = 8
LSH_BITS = 4
MULTIPROBE_RADIUS = 1


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add double-precision vector + L2 norm columns (computed once).
    Idempotent: an already-prepared relation (e.g. corpus_embeddings
    below) passes through unchanged."""
    if "emb_d" in df.columns:
        return df
    emb_d = F.expr(f"transform({vec_col}, x -> cast(x AS double))")
    df = df.withColumn("emb_d", emb_d)
    sq = F.aggregate(
        F.col("emb_d"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    return df.withColumn("norm", F.sqrt(sq))


@snapshot_cache
def corpus_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted ``with_norm`` embeddings corpus, once per snapshot.

    IVF alone reads the corpus 4+ times (seed sample, Lloyd rounds,
    assignment); LSH, brute-force, and the norm profile read it again.
    One persisted materialization (float->double transform + norm done
    once) serves every pass — the "prepare the vector table once per
    snapshot" move, session-local."""
    return with_norm(load_spread(spark, sf_dir, "embeddings")).persist()


def cosine_expr(a: str, b: str):
    """Cosine between two ``with_norm``-prepared sides (alias names)."""
    dot = F.aggregate(
        F.zip_with(F.col(f"{a}.emb_d"), F.col(f"{b}.emb_d"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return dot / (F.col(f"{a}.norm") * F.col(f"{b}.norm"))


def cosine_topk(
    queries_df: DataFrame, corpus_df: DataFrame, k: int = TOPK
) -> DataFrame:
    """Exact top-k neighbors of each query vector by cosine.

    The query side is broadcast; the corpus streams through map-side.
    Ranking uses (rounded cosine DESC, vec_id ASC) so the cut is
    deterministic.
    """
    from pyspark.sql.window import Window

    q = with_norm(queries_df).select(
        F.col("vec_id").alias("q_id"), "emb_d", "norm"
    )
    c = with_norm(corpus_df).select(
        F.col("vec_id").alias("neighbor_id"), "emb_d", "norm"
    )
    qa, ca = q.alias("q"), c.alias("c")
    cos = F.round(cosine_expr("q", "c"), 6)
    scored = (
        ca.join(F.broadcast(qa), F.col("q.q_id") != F.col("c.neighbor_id"))
        .select("q_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "cosine", F.col("rnk").cast("long").alias("rnk"))
    )


@query(
    "similarity_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe FROM embeddings
               WHERE {N_QUERIES_PRED}),
         scored AS (
            SELECT q_id, c.vec_id AS neighbor_id,
                   round(list_cosine_similarity(qe, c.embedding::DOUBLE[]), 6) AS cosine
            FROM q JOIN embeddings c ON c.vec_id != q_id
         ),
         ranked AS (
            SELECT q_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM scored
         )
    SELECT q_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {TOPK}
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the first five vectors (baseline ANN truth)."""
    e = corpus_embeddings(spark, sf_dir)
    return cosine_topk(e.where(N_QUERIES_PRED), e, TOPK)


# ---------------------------------------------------------------------------
# ANN: random-hyperplane LSH
# ---------------------------------------------------------------------------


def lsh_buckets(spark: SparkSession, vecs: DataFrame) -> DataFrame:
    """(vec_id, t, bucket) — one sign-pattern bucket per LSH table.

    Arrow-batched ``mapInPandas``: the whole batch of vectors is one
    numpy matmul against a fixed-seed ±1 hyperplane matrix
    (dim × tables·bits), then sign bits pack into per-table bucket ids.
    Every executor regenerates the same planes from the seed — nothing
    to broadcast — and the op is shuffle-free: buckets stay partitioned
    like the corpus until the candidate join.  (The matmul replaces a
    posexplode ⋈ planes ⋈ two-stage aggregation — |vecs|·dim·planes
    joined rows — with one BLAS call per batch.)
    """
    import numpy as np
    import pandas as pd

    tables, bits = LSH_TABLES, LSH_BITS

    def batches(it):
        planes = None
        powers = (2 ** np.arange(bits, dtype=np.int64))[None, :]
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["emb_d"].values])
            if planes is None:
                rng = np.random.default_rng(42)
                planes = rng.choice([-1.0, 1.0], size=(mat.shape[1], tables * bits))
            signs = (mat @ planes) > 0  # (n, tables*bits)
            out = []
            for t in range(tables):
                chunk = signs[:, t * bits : (t + 1) * bits].astype(np.int64)
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"],
                            "t": t,
                            "bucket": (chunk * powers).sum(axis=1),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    return vecs.select("vec_id", "emb_d").mapInPandas(batches, "vec_id long, t int, bucket long")


def ann_lsh_topk(
    spark: SparkSession,
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = TOPK,
) -> DataFrame:
    """Approximate top-k: LSH-bucket candidate join + exact rerank.

    Query buckets are expanded with radius-1 multiprobe (the bucket
    plus each single-bit flip) — for weakly-similar corpora this lifts
    recall from the bare S-curve at the cost of ``1 + bits`` probe
    rows per (query, table), which is negligible against corpus size.
    """
    from pyspark.sql.window import Window

    q = with_norm(queries_df)
    c = with_norm(corpus_df)
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(LSH_BITS)]
    )
    qb = (
        lsh_buckets(spark, q)
        .withColumnRenamed("vec_id", "q_id")
        .select("q_id", "t", F.explode(probes).alias("bucket"))
    )
    cb = lsh_buckets(spark, c).withColumnRenamed("vec_id", "neighbor_id")
    cand = (
        qb.join(cb, ["t", "bucket"])
        .where(F.col("q_id") != F.col("neighbor_id"))
        .select("q_id", "neighbor_id")
        .distinct()
    )
    qv = q.select(F.col("vec_id").alias("q_id"), "emb_d", "norm").alias("q")
    cv = c.select(F.col("vec_id").alias("neighbor_id"), "emb_d", "norm").alias("c")
    cos = F.round(cosine_expr("q", "c"), 6)
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .join(cv, "neighbor_id")
        .select("q_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "cosine", F.col("rnk").cast("long").alias("rnk"))
    )


@query("similarity_ann_lsh", oracle=_ann_golden_oracle("lsh"))
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN top-5 (approximate — no SQL oracle;
    tests/test_similarity.py pins recall vs the brute-force baseline)."""
    e = corpus_embeddings(spark, sf_dir)
    return ann_lsh_topk(spark, e.where(N_QUERIES_PRED), e, TOPK)


# ---------------------------------------------------------------------------
# ANN: IVF (inverted-file) coarse quantizer
# ---------------------------------------------------------------------------

IVF_CLUSTERS = 16
IVF_NPROBE = 6
IVF_LLOYD_ITERS = 2

# Lloyd-training sample budget (r12; see train_ivf_centroids).  32
# points per centroid sits at the low end of the published faiss
# per-centroid guidance — enough for a coarse BUCKETING quantizer
# whose candidate recall is separately protected by multi-probe
# assignment and whose precision is exact by verification.  The floor
# keeps every corpus up to 4096 rows training on ALL its rows, which
# pins the committed goldens (sf0.001/0.01, n=500) and the sf0.1
# bench corpus (n=2000) bit-identical to the unsampled formulation.
LLOYD_SAMPLE_PER_CENTROID = 32
LLOYD_SAMPLE_FLOOR = 4096


@snapshot_cache
def corpus_centroids(
    spark: SparkSession, sf_dir: str, k: int = IVF_CLUSTERS, iters: int = IVF_LLOYD_ITERS
):
    """The coarse quantizer is deterministic given the corpus snapshot,
    so one training pays for every index consumer (float IVF, int8
    IVF, semantic dedup) — the "train once per snapshot" move."""
    return train_ivf_centroids(corpus_embeddings(spark, sf_dir), k, iters)


def _assign_clusters(vecs: DataFrame, centroids) -> DataFrame:
    """(vec_id, cluster) by nearest-centroid (L2) — one numpy matmul
    per Arrow batch; argmin ||x-c||² == argmax (x·c − ||c||²/2)."""
    import numpy as np
    import pandas as pd

    cent = centroids  # (k, dim) ndarray, captured in the closure
    half_sq = 0.5 * (cent * cent).sum(axis=1)  # (k,)

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["emb_d"].values])
            cluster = (mat @ cent.T - half_sq).argmax(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cluster": cluster.astype("int32")})

    return vecs.select("vec_id", "emb_d").mapInPandas(batches, "vec_id long, cluster int")


def _assign_clusters_res(vecs: DataFrame, centroids) -> DataFrame:
    """(vec_id, cluster, res2) — nearest-centroid assignment PLUS the
    squared L2 residual ||x−c||² = ||x||² − 2·(x·c − ||c||²/2), read
    off the same matmul the plain assignment does (no extra FLOPs).
    Kept separate from ``_assign_clusters`` so the batch query path
    stays byte-identical; consumers are the index drift plane
    (write_ivf_index baseline, streaming/ann_index_stream.py)."""
    import numpy as np
    import pandas as pd

    cent = centroids
    half_sq = 0.5 * (cent * cent).sum(axis=1)

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["emb_d"].values]
            )
            score = mat @ cent.T - half_sq
            cluster = score.argmax(axis=1)
            res2 = (mat * mat).sum(axis=1) - 2.0 * score[
                np.arange(len(mat)), cluster
            ]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster": cluster.astype("int32"),
                    # clip the tiny negative fp drift of exact matches
                    "res2": np.maximum(res2, 0.0),
                }
            )

    return vecs.select("vec_id", "emb_d").mapInPandas(
        batches, "vec_id long, cluster int, res2 double"
    )


def assignment_stats(ares: DataFrame):
    """One Row (n, max_cell, cells, sres) over ``_assign_clusters_res``
    output: vectors, the largest cell's size, non-empty cells and the
    summed residual distance — a k-bounded aggregate shared by the IVF
    build-time drift baselines and the maintenance streams' drift
    rows."""
    occ = ares.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.sqrt("res2")).alias("sres"),
    )
    (row,) = occ.agg(
        F.sum("n").alias("n"),
        F.max("n").alias("max_cell"),
        F.count(F.lit(1)).alias("cells"),
        F.sum("sres").alias("sres"),
    ).collect()
    return row


def train_ivf_centroids(corpus: DataFrame, k: int = IVF_CLUSTERS, iters: int = IVF_LLOYD_ITERS):
    """Deterministic coarse quantizer: seed with the k corpus vectors
    of smallest xxhash64(vec_id) (a seedless, cluster-size-independent
    pseudo-random sample), then ``iters`` Lloyd rounds.

    Each round is ONE distributed pass: the Arrow batch that assigns
    vectors to their nearest centroid also accumulates the per-cluster
    (sum-vector, count) partials in numpy and emits only those — a
    partitions × k × dim row shuffle instead of joining the corpus back
    to its assignments and posexploding every vector (corpus × dim
    rows).  The driver sees k×dim values per round.

    SAMPLED TRAINING (r12, r11 verdict item 3): the Lloyd update
    passes run over a deterministic hash-prefix sample of
    ``~max(LLOYD_SAMPLE_FLOOR, LLOYD_SAMPLE_PER_CENTROID·k)`` rows —
    the published IVF recipe (train the coarse quantizer on a
    per-centroid-bounded sample, assign the full corpus; the faiss
    guidance is ~39-256 training points per centroid, and this
    quantizer only has to BUCKET well — candidate recall downstream
    is protected by top-2/nprobe probing, and precision is exact by
    verification — so the low end of that range suffices).
    Assignment everywhere downstream stays full-corpus.  The sample
    is ``xxhash64(vec_id) < cutoff`` with the cutoff at the budget's
    quantile of the uniform hash space: a narrow filter under the
    scan, independent of partitioning, stable across sessions, and —
    with overwhelming probability — a superset of the k seed vectors
    (the seeds are the k smallest hashes, so any hash-prefix sample
    that realizes ≥ k rows contains them; the realized size is
    binomial around the ≥ 32·k budget, so a sub-k draw is
    astronomically unlikely, and harmless when it happens: clusters
    the sample misses keep their previous centroid).  When the budget
    covers the whole corpus the filter is
    SKIPPED entirely, so the committed sf0.001/sf0.01 goldens (n=500
    ≤ floor) and the sf0.1 bench corpus (n=2000 ≤ floor) train
    bit-identically to every earlier round.  What it buys: the 100×
    SemDeDup probe (200k rows, k=1562) trains on ~50k rows instead of
    the full corpus — the once-per-snapshot Lloyd cost becomes
    sample-bounded, not corpus-bounded.

    Partial sums ride the int64 fixed-point grid (1e-9, per-VECTOR
    quantization before summation — the same discipline as
    operators/classifier.py): integer addition is associative, so the
    trained centroids are BIT-IDENTICAL for any partitioning, core
    count, or merge order.  That exactness is what lets the ANN
    queries downstream carry committed golden oracles.
    """
    import numpy as np
    import pandas as pd

    scale = 1_000_000_000

    seed_rows = (
        corpus.select("vec_id", "emb_d")
        .orderBy(F.xxhash64("vec_id"), F.col("vec_id"))
        .limit(k)
        .collect()
    )
    # corpus is persisted by every caller (corpus_embeddings /
    # write_ivf_index), so the count is metadata-cheap
    n = corpus.count()
    budget = max(LLOYD_SAMPLE_FLOOR, LLOYD_SAMPLE_PER_CENTROID * k)
    train = corpus
    if n > budget:
        # cutoff = the budget/n quantile of the uniform signed-64
        # xxhash64 range; exact Python ints, then one long literal
        cutoff = -(1 << 63) + (budget * (1 << 64)) // n
        train = corpus.where(F.xxhash64("vec_id") < F.lit(cutoff))
    centroids = np.asarray([r.emb_d for r in seed_rows], dtype=np.float64)
    for _ in range(iters):
        cent = centroids
        half_sq = 0.5 * (cent * cent).sum(axis=1)

        def partials(it):
            sums = np.zeros(cent.shape, dtype=np.int64)
            counts = np.zeros(len(cent), dtype=np.int64)
            seen = False
            for pdf in it:
                if len(pdf) == 0:
                    continue
                seen = True
                mat = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf["emb_d"].values]
                )
                cl = (mat @ cent.T - half_sq).argmax(axis=1)
                np.add.at(sums, cl, np.round(mat * scale).astype(np.int64))
                counts += np.bincount(cl, minlength=len(cent))
            if not seen:
                return
            c_idx, d_idx = np.nonzero(np.ones_like(sums, dtype=bool))
            yield pd.DataFrame(
                {
                    "cluster": c_idx.astype("int32"),
                    "d": d_idx.astype("int32"),
                    "s": sums[c_idx, d_idx],
                    "n": counts[c_idx],
                }
            )

        agg = (
            train.select("emb_d")
            .mapInPandas(partials, "cluster int, d int, s long, n long")
            .groupBy("cluster", "d")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .where(F.col("n") > 0)
            .collect()
        )
        nxt = centroids.copy()  # empty clusters keep their previous centroid
        for r in agg:
            nxt[r.cluster, r.d] = (r.s / scale) / r.n
        centroids = nxt
    return centroids


def ann_ivf_topk(
    spark: SparkSession,
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = TOPK,
    n_clusters: int = IVF_CLUSTERS,
    nprobe: int = IVF_NPROBE,
    centroids=None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF index: assign the corpus to coarse
    clusters, probe each query's ``nprobe`` nearest clusters, exact
    cosine rerank inside the probed inverted lists.  A pre-trained
    ``centroids`` matrix (see corpus_centroids) skips the Lloyd passes;
    pre-computed ``postings`` (cluster, vec_id — see write_ivf_index)
    skip the corpus assignment pass too, the read path of a persisted
    index snapshot.

    Scale story: corpus assignment is one map-side matmul pass and the
    candidate join is an equi-join on the cluster id, so per-query
    work is ~(nprobe / n_clusters) of the corpus — the knob trades
    recall for fan-in, and skewed (hot) clusters are handled by AQE
    the same as any hot join key.
    """
    from pyspark.sql.window import Window

    q = with_norm(queries_df)
    c = with_norm(corpus_df)
    if centroids is None:
        centroids = train_ivf_centroids(c, n_clusters)

    import numpy as np
    import pandas as pd

    cent = centroids
    half_sq = 0.5 * (cent * cent).sum(axis=1)

    def probe_batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["emb_d"].values])
            order = np.argsort(-(mat @ cent.T - half_sq), axis=1)[:, :nprobe]
            out = pd.DataFrame(
                {
                    "q_id": np.repeat(pdf["vec_id"].values, nprobe),
                    "cluster": order.reshape(-1).astype("int32"),
                }
            )
            yield out

    probes = q.select("vec_id", "emb_d").mapInPandas(probe_batches, "q_id long, cluster int")
    inv = (postings if postings is not None else _assign_clusters(c, centroids)).withColumnRenamed("vec_id", "neighbor_id")
    cand = (
        probes.join(inv, "cluster")
        .where(F.col("q_id") != F.col("neighbor_id"))
        .select("q_id", "neighbor_id")
        .distinct()
    )
    qv = q.select(F.col("vec_id").alias("q_id"), "emb_d", "norm").alias("q")
    cv = c.select(F.col("vec_id").alias("neighbor_id"), "emb_d", "norm").alias("c")
    cos = F.round(cosine_expr("q", "c"), 6)
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .join(cv, "neighbor_id")
        .select("q_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "cosine", F.col("rnk").cast("long").alias("rnk"))
    )


@query("similarity_ann_ivf", oracle=_ann_golden_oracle("ivf"))
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 (approximate — no SQL oracle; tests pin recall
    vs the brute-force baseline, same contract as the LSH variant).
    nprobe=6 of 16 clusters: the driver's synthetic embeddings are
    near-uniform (little cluster structure), so recall needs a wide
    probe — on real clustered embeddings nprobe/n_clusters drops."""
    e = corpus_embeddings(spark, sf_dir)
    cents = corpus_centroids(spark, sf_dir)
    return ann_ivf_topk(spark, e.where(N_QUERIES_PRED), e, TOPK, centroids=cents)


# ---------------------------------------------------------------------------
# IVF index persistence: train once per corpus snapshot, query forever
# ---------------------------------------------------------------------------


def _write_ndarray(spark: SparkSession, arr, path: str) -> None:
    """Persist a float64 ndarray as chunked little-endian binary rows
    (chunk, shape, data).  One Python object per ~16 MiB chunk, not
    one tuple per ELEMENT: at the SemDeDup k-cap (131072 x 1024) a
    row-per-element encoding would build ~134M driver-side tuples —
    tens of GB for a matrix whose raw bytes are ~1 GB (r6 review
    finding).  Exactness: float64 -> raw bytes is the identity, so
    the round-trip is bit-exact by construction."""
    import numpy as np

    raw = np.ascontiguousarray(arr, dtype="<f8").tobytes()
    chunk = 16 * 1024 * 1024
    shape = list(arr.shape)
    rows = [
        (i, shape, bytearray(raw[off : off + chunk]))
        for i, off in enumerate(range(0, len(raw), chunk))
    ]
    spark.createDataFrame(
        rows, "chunk int, shape array<int>, data binary"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def _read_ndarray(spark: SparkSession, path: str):
    import numpy as np

    rows = sorted(spark.read.parquet(path).collect(), key=lambda r: r.chunk)
    raw = b"".join(bytes(r.data) for r in rows)
    return np.frombuffer(raw, dtype="<f8").reshape(rows[0].shape).copy()


def write_ivf_index(
    spark: SparkSession,
    corpus_df: DataFrame,
    path: str,
    n_clusters: int = IVF_CLUSTERS,
    iters: int = IVF_LLOYD_ITERS,
    centroids=None,
) -> None:
    """Persist a trained IVF index as two parquet relations:
    ``{path}/centroids`` (cluster, d, value) and ``{path}/postings``
    (cluster, vec_id) — the inverted lists.

    The index lifecycle concern at 100 TB: training reads the full
    corpus (Lloyd passes) and assignment is another full pass; neither
    belongs in the query path of every session.  Centroids are exact
    under round-trip (trained on the int64 fixed-point grid →
    float64 → parquet DOUBLE is bit-exact), so a query served from the
    persisted snapshot returns BIT-IDENTICAL results to one served
    from a freshly trained index — pinned by
    similarity_ann_ivf_persisted sharing similarity_ann_ivf's golden
    oracle.  The centroid matrix is written as ~16 MiB binary chunks
    (driver cost = raw array size, see _write_ndarray); postings are
    one row per corpus vector, written distributed."""
    c = with_norm(corpus_df)
    if centroids is None:
        centroids = train_ivf_centroids(c, n_clusters, iters)
    _write_ndarray(spark, centroids, f"{path}/centroids")
    # postings are PARTITIONED by cluster (r10): a per-cluster read
    # prunes to its inverted list's files, and the streaming index
    # maintenance (streaming/ann_index_stream.py) appends batch-keyed
    # files into the same cluster=N layout — one directory scheme for
    # the built and the maintained index
    _assign_clusters(c, centroids).write.mode("overwrite").partitionBy(
        "cluster"
    ).parquet(f"{path}/postings")
    # Index-epoch fencing + drift baseline (r11): a fresh random
    # _index_epoch marks every rebuild and busts the maintenance
    # stream's memoized centroids (mark_index_rebuilt), and the
    # build-time assignment quality (mean residual distance,
    # cell-occupancy skew) lands in _drift/baseline.json — the
    # reference the streaming drift monitor compares arrivals against
    # to make the retrain cadence data-driven instead of
    # calendar-driven.  One extra assignment pass at build time, which
    # already runs multi-pass Lloyd — snapshot-build cost, never
    # query-path cost.
    from ..streaming.ann_index_stream import (
        mark_index_rebuilt,
        write_drift_baseline,
    )

    fs = mark_index_rebuilt(spark, path)
    row = assignment_stats(_assign_clusters_res(c, centroids))
    write_drift_baseline(
        fs,
        {
            "n": row.n,
            "k": int(len(centroids)),
            "mean_residual": (row.sres / row.n) if row.n else 0.0,
            "top_cell_share": (row.max_cell / row.n) if row.n else 0.0,
            "nonempty_cells": row.cells,
        },
    )


def read_ivf_index(spark: SparkSession, path: str):
    """(centroids ndarray, postings DataFrame) from a written index."""
    return (
        _read_ndarray(spark, f"{path}/centroids"),
        spark.read.parquet(f"{path}/postings"),
    )


@snapshot_cache
def _ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Write the corpus's IVF index into a scratch dir once per
    snapshot; the persisted query reads it back cold."""
    path = scratch_dir("ivf_index_")
    write_ivf_index(
        spark,
        corpus_embeddings(spark, sf_dir),
        path,
        centroids=corpus_centroids(spark, sf_dir),
    )
    return path


@query("similarity_ann_ivf_persisted", oracle=_ann_golden_oracle("ivf"), bench=False)
def similarity_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write→read→query index lifecycle end-to-end: the IVF index
    is persisted to parquet (write_ivf_index), read back cold
    (read_ivf_index), and the query is served from the PERSISTED
    centroids + inverted lists — skipping both Lloyd training and the
    corpus assignment pass.  Shares similarity_ann_ivf's golden
    oracle: the round-trip must be bit-exact, so both paths return
    identical rows."""
    e = corpus_embeddings(spark, sf_dir)
    cents, postings = read_ivf_index(spark, _ensure_ivf_index(spark, sf_dir))
    return ann_ivf_topk(
        spark,
        e.where(N_QUERIES_PRED),
        e,
        TOPK,
        centroids=cents,
        postings=postings,
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization (storage/scale path for the ANN indexes)
# ---------------------------------------------------------------------------


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, dv,
               list_aggregate(list_transform(dv, x -> abs(x)), 'max')
                   / 127.0 AS scale
        FROM base
    ),
    e AS (
        SELECT vec_id, scale,
               CAST(len(dv) AS BIGINT) AS n_dims,
               CASE WHEN scale = 0 THEN dv
                    ELSE list_transform(dv, x -> x - round(x / scale) * scale)
               END AS err
        FROM s
    )
    SELECT vec_id,
           n_dims,
           CAST(round(scale * 1e9) AS BIGINT) AS scale_nano,
           CAST(list_sum(list_transform(
                    err, x -> CAST(round(x * x * 1e12) AS BIGINT)))
                AS BIGINT) AS sse_pico,
           CAST(list_aggregate(list_transform(
                    err, x -> CAST(round(abs(x) * 1e9) AS BIGINT)), 'max')
                AS BIGINT) AS max_err_nano
    FROM e
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column
    (scale = max|x|/127, q = round(x/scale)) with exact reconstruction-
    error accounting — the 4x storage/bandwidth reduction every
    billion-vector ANN deployment takes before sharding an index.

    The whole operator is JVM higher-order expressions over one scan:
    no shuffle, no UDF, no Python.  Error math follows the repo's
    fixed-point exactness rule: every per-dimension error term is
    snapped to an integer (pico-units for the squared error, nano for
    the max), accumulated as int64 — so the output is bit-identical
    across engines regardless of float summation order.  The float
    steps themselves (cast, abs, divide, round, multiply, subtract)
    are single correctly-rounded IEEE-754 ops on identical operands.
    Output is per-vector scalars (no array columns, per the registry
    output-type rule); the quantized bytes themselves are what a sink
    would write — here the profile is what the oracle can pin."""
    e = load_spread(spark, sf_dir, "embeddings")
    staged = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("dv"),
    ).select(
        "vec_id",
        "dv",
        F.expr(
            "aggregate(dv, cast(0 as double), (a, x) -> greatest(a, abs(x)))"
            " / 127.0"
        ).alias("scale"),
    ).select(
        "vec_id",
        F.expr("cast(size(dv) as bigint)").alias("n_dims"),
        F.expr("cast(round(scale * 1e9) as bigint)").alias("scale_nano"),
        F.expr(
            """
            CASE WHEN scale = 0 THEN dv
                 ELSE transform(dv, x -> x - round(x / scale) * scale)
            END
            """
        ).alias("err"),
    )
    return staged.select(
        "vec_id",
        "n_dims",
        "scale_nano",
        F.expr(
            """
            cast(aggregate(err, cast(0 as bigint),
                (acc, x) -> acc + cast(round(x * x * 1e12) as bigint))
            as bigint)
            """
        ).alias("sse_pico"),
        F.expr(
            """
            cast(aggregate(err, cast(0 as bigint),
                (acc, x) -> greatest(acc, cast(round(abs(x) * 1e9) as bigint)))
            as bigint)
            """
        ).alias("max_err_nano"),
    )


# ---------------------------------------------------------------------------
# Int8-quantized IVF search (integer dot-product rerank)
# ---------------------------------------------------------------------------


def quantize_for_search(df: DataFrame, vec_col: str = "emb_d") -> DataFrame:
    """Add symmetric-int8 quantized vectors for search: qvec (ints in
    [-127, 127]) and their integer self-dot (for the cosine
    denominator).  In cosine similarity the per-vector scales CANCEL,
    so the quantized score needs NO float dequantization at all —
    candidate scoring becomes pure integer dot products, the reason
    int8 indexes are memory-bandwidth-bound, not FLOP-bound."""
    qvec = F.expr(
        f"""
        transform({vec_col}, x -> cast(round(
            x / (aggregate({vec_col}, cast(0 as double),
                           (a, v) -> greatest(a, abs(v))) / 127.0))
            as int))
        """
    )
    return df.withColumn("qvec", qvec).withColumn(
        "qnorm2",
        F.expr(
            "aggregate(zip_with(qvec, qvec, (a, b) -> a * b),"
            " cast(0 as bigint), (acc, x) -> acc + x)"
        ),
    )


def ann_ivf_int8_topk(
    spark: SparkSession,
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = TOPK,
    n_clusters: int = IVF_CLUSTERS,
    nprobe: int = IVF_NPROBE,
    centroids=None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """IVF candidate generation (identical coarse quantizer) with an
    INT8 rerank: candidates score by integer dot product over the
    quantized vectors — the two-stage shape (coarse cluster probe →
    cheap quantized scoring) every billion-vector deployment runs,
    here with the full-precision refine left to the caller when
    required.  4× less candidate-scoring bandwidth than float64 with
    recall within noise of the float path (pinned in pytest).
    Pre-computed ``postings`` (see write_ivf_index) skip the corpus
    assignment pass, same as the float path."""
    from pyspark.sql.window import Window

    q = quantize_for_search(with_norm(queries_df))
    c = quantize_for_search(with_norm(corpus_df))
    if centroids is None:
        centroids = train_ivf_centroids(with_norm(corpus_df), n_clusters)

    import numpy as np
    import pandas as pd

    cent = centroids
    half_sq = 0.5 * (cent * cent).sum(axis=1)

    def probe_batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["emb_d"].values]
            )
            order = np.argsort(-(mat @ cent.T - half_sq), axis=1)[:, :nprobe]
            yield pd.DataFrame(
                {
                    "q_id": np.repeat(pdf["vec_id"].values, nprobe),
                    "cluster": order.reshape(-1).astype("int32"),
                }
            )

    probes = q.select("vec_id", "emb_d").mapInPandas(
        probe_batches, "q_id long, cluster int"
    )
    inv = (
        postings if postings is not None else _assign_clusters(c, centroids)
    ).withColumnRenamed("vec_id", "neighbor_id")
    cand = (
        probes.join(inv, "cluster")
        .where(F.col("q_id") != F.col("neighbor_id"))
        .select("q_id", "neighbor_id")
        .distinct()
    )
    qv = q.select(F.col("vec_id").alias("q_id"), F.col("qvec").alias("qa"),
                  F.col("qnorm2").alias("na"))
    cv = c.select(F.col("vec_id").alias("neighbor_id"),
                  F.col("qvec").alias("qb"), F.col("qnorm2").alias("nb"))
    # integer dot product; scales cancel in the cosine ratio
    dot = F.expr(
        "aggregate(zip_with(qa, qb, (a, b) -> a * b),"
        " cast(0 as bigint), (acc, x) -> acc + x)"
    )
    cos_q8 = F.round(
        dot.cast("double")
        / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
        6,
    )
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .join(cv, "neighbor_id")
        .select("q_id", "neighbor_id", cos_q8.alias("cosine_q8"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cosine_q8"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "q_id", "neighbor_id", "cosine_q8",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@query("similarity_ann_ivf_int8", oracle=golden_oracle("similarity_ann_ivf_int8", "q_id, neighbor_id, cosine_q8, rnk"), bench=False)
def similarity_ann_ivf_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized IVF ANN top-5 (approximate — rows-only; pytest
    pins recall vs brute force AND overlap vs the float IVF path).
    This is the embedding_quantize_int8 operator USED: same symmetric
    scheme, integrated into candidate scoring as pure integer dot
    products."""
    e = corpus_embeddings(spark, sf_dir)
    cents = corpus_centroids(spark, sf_dir)
    return ann_ivf_int8_topk(
        spark, e.where(N_QUERIES_PRED), e, TOPK, centroids=cents
    )


# ---------------------------------------------------------------------------
# Distributed PCA over the embedding column
# ---------------------------------------------------------------------------

PCA_TOPK = 16


@query("embedding_pca", oracle=golden_oracle("embedding_pca", "component, eigenvalue, evr, cum_evr"), bench=True)
def embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal-component spectrum of the embedding space — the
    dimensionality/anisotropy profile a vector pipeline computes before
    choosing an index (IVF cell count, OPQ rotation, dim truncation):
    how much variance the top components carry and how fast the tail
    decays.

    Distributed exactly like the classic large-scale PCA recipe: the
    dim×dim scatter matrix is a SUM of per-row outer products, so each
    Arrow batch accumulates its partial (n, Σx, ΣxxT) in one BLAS call
    (mat.T @ mat) and emits only the flattened partials — a
    partitions × (dim²+dim+1) row shuffle, independent of corpus size.
    One element-wise sum aggregate later the driver holds the exact
    dim×dim covariance (64×64 here = 32 KB — same driver-traffic
    contract as the IVF centroid pull) and eigendecomposes it locally.
    Nothing about the shape changes at 100 TB: the reduction is
    map-side-combined, and dim², not n, bounds every transfer.

    Output (one row per top component): eigenvalue, explained-variance
    ratio, cumulative ratio.  Rows-only driver check (eigendecomposition
    is not SQL-expressible); pytest pins the spectrum against an exact
    single-node numpy PCA of the same table and the trace identity
    Σλ = total variance.
    """
    import numpy as np
    import pandas as pd

    e = corpus_embeddings(spark, sf_dir)
    dim = len(e.select("emb_d").first()[0])

    def partials(it):
        n = 0
        s = np.zeros(dim)
        g = np.zeros((dim, dim))
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["emb_d"].values]
            )
            n += len(mat)
            s += mat.sum(axis=0)
            g += mat.T @ mat
        if n == 0:
            return
        vals = np.concatenate(([float(n)], s, g.reshape(-1)))
        yield pd.DataFrame(
            {"idx": np.arange(len(vals), dtype="int64"), "val": vals}
        )

    agg = (
        e.select("emb_d")
        .mapInPandas(partials, "idx long, val double")
        .groupBy("idx")
        .agg(F.sum("val").alias("val"))
        .collect()
    )
    flat = np.zeros(1 + dim + dim * dim)
    for r in agg:
        flat[r.idx] = r.val
    n = flat[0]
    mean = flat[1 : 1 + dim] / n
    cov = flat[1 + dim :].reshape(dim, dim) / n - np.outer(mean, mean)
    eig = np.linalg.eigvalsh(cov)[::-1]  # descending
    total = float(eig.sum())
    top = eig[:PCA_TOPK]
    cum = np.cumsum(top) / total
    rows = [
        (
            int(i),
            round(float(v), 9),
            round(float(v / total), 9),
            round(float(c), 9),
        )
        for i, (v, c) in enumerate(zip(top, cum))
    ]
    from ..session import local_rows_df

    return local_rows_df(
        spark, rows, "component int, eigenvalue double, evr double, cum_evr double"
    )


# ---------------------------------------------------------------------------
# Cross-modal retrieval: filtered vector search joined to doc metadata
# ---------------------------------------------------------------------------


@query(
    "similarity_semantic_search",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE {N_QUERIES_PRED}
    ),
    en AS (
        SELECT doc_id, source, n_chars FROM documents WHERE lang = 'en'
    ),
    scored AS (
        SELECT q_id, e.vec_id AS doc_id,
               round(list_cosine_similarity(qe, e.embedding::DOUBLE[]), 6)
                   AS cosine
        FROM q
        JOIN embeddings e ON e.vec_id != q_id
        JOIN en ON en.doc_id = e.vec_id
    ),
    ranked AS (
        SELECT q_id, doc_id, cosine,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, doc_id) AS rnk
        FROM scored
    )
    SELECT r.q_id, r.doc_id, en.source, en.n_chars, r.cosine, r.rnk
    FROM ranked r JOIN en USING (doc_id)
    WHERE rnk <= 3
    """,
)
def similarity_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-pipeline shape: top-3 semantically-similar ENGLISH
    documents per query vector, with the matched documents' metadata
    joined on — the filtered-ANN + metadata-hydration step of a RAG /
    corpus-exploration stack, exercising the documents ⋈ embeddings
    cross-modal key.

    Pre-filter-then-search (not search-then-filter): the language
    predicate prunes the corpus BEFORE scoring, so recall within the
    filtered set is exact — the known correctness trap of filtering
    an ANN result list after top-k is sidestepped, and the lang filter
    is pushed down to the documents parquet scan.  The filter is a
    key-list semi-join against the vector table; scoring and ranking
    then reuse the brute-force top-k operator (broadcast query side,
    JVM-side cosine) — at 100 TB the same pre-filtered corpus feeds
    ann_ivf_topk instead, identical plan shape around a cheaper
    scorer.  Metadata hydration joins the ranked id list (|queries|·k
    rows) back to documents — always the cheap side."""
    e = corpus_embeddings(spark, sf_dir)
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("lang") == "en")
        .select("doc_id", "source", "n_chars")
    )
    corpus = e.join(
        docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "semi"
    )
    topk = cosine_topk(e.where(N_QUERIES_PRED), corpus, 3)
    return (
        topk.withColumnRenamed("neighbor_id", "doc_id")
        .join(docs, "doc_id")
        .select(
            "q_id",
            "doc_id",
            "source",
            "n_chars",
            "cosine",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Topic-cluster corpus profile (cluster-level exploration)
# ---------------------------------------------------------------------------


@query("corpus_topic_clusters", oracle=golden_oracle("corpus_topic_clusters", "cluster, n_docs, mean_chars, top_source, top_source_docs"), bench=True)
def corpus_topic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster corpus profile over the k-means cells of the
    embedding space: document count, exact mean document length, and
    the dominant source — the "what is in each semantic neighborhood"
    exploration pass that guides mixture weighting and targeted
    filtering before training.

    Reuses the session-cached coarse quantizer (one Lloyd training
    serves IVF/int8/semantic-dedup/this), assigns documents via the
    same one-matmul-per-batch pass, joins the documents table on the
    cross-modal doc_id = vec_id key, and aggregates EVERYTHING off a
    single (cluster, source) rollup: per-cluster totals are
    whole-partition window sums over that |clusters|×|sources|-bounded
    relation and the dominant source is a (count DESC, source ASC)
    row_number sharing the same cluster-keyed exchange — the expensive
    assign-matmul + corpus join subtree executes ONCE (the pre-r9
    shape aggregated the join on two different keys, so the whole
    subtree ran twice — the r8 bench drift; the r9-r13 shape relied on
    ReuseExchange, which never fired because the two consumers'
    subplans diverge below the exchange).  Rows-only
    driver check (k-means is not SQL-expressible); cluster-count
    conservation and determinism are pytest-pinned."""
    from pyspark.sql.window import Window

    e = corpus_embeddings(spark, sf_dir)
    cents = corpus_centroids(spark, sf_dir)
    assigned = _assign_clusters(e, cents)
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source", "n_chars"
    )
    cs = (
        assigned.join(docs, "vec_id")
        .groupBy("cluster", "source")
        .agg(
            F.count(F.lit(1)).alias("n_src"),
            F.sum("n_chars").alias("chars_src"),
        )
    )
    # r14 single-pass shape (guide §2.4): the docstring's promised
    # ReuseExchange never fired (compile-time reuse needs IDENTICAL
    # plans; the aggregate and the window consumer diverge before the
    # exchange), so the assign-matmul + corpus-join + rollup subtree
    # executed TWICE and the two cluster-keyed halves met in a
    # sort-merge join.  The per-cluster totals are whole-partition
    # window aggregates over the SAME cluster-keyed exchange the
    # row_number rank needs — one subtree execution, one exchange, no
    # join; the sums are the identical int64 adds, divided once, so
    # the golden rows are bit-unchanged.
    w_rank = Window.partitionBy("cluster").orderBy(
        F.desc("n_src"), F.asc("source")
    )
    w_all = Window.partitionBy("cluster")
    return (
        cs.select(
            "cluster",
            "source",
            "n_src",
            F.row_number().over(w_rank).alias("rk"),
            F.sum("n_src").over(w_all).alias("n_docs"),
            (
                F.sum("chars_src").over(w_all).cast("double")
                / F.sum("n_src").over(w_all).cast("double")
            ).alias("mean_chars"),
        )
        .where(F.col("rk") == 1)
        .select(
            "cluster",
            "n_docs",
            "mean_chars",
            F.col("source").alias("top_source"),
            F.col("n_src").cast("long").alias("top_source_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-scale path
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (64 dims -> 8 x 8-dim sub-vectors)
PQ_KSUB = 16  # centroids per subspace -> 4 bits/subspace, 32x compression
PQ_ITERS = 3
PQ_RERANK = 50  # exact-rerank depth over the ADC shortlist
# Query-batch bounds (r6 verdict item 8): the query set is collected to
# the driver to build the ADC tables, so it must be LOUDLY bounded —
# the cap holds driver memory for ids+tables under ~150 MB at m=8,
# ksub=16 (each query costs m*ksub doubles).  Queries are then scored
# in blocks of PQ_Q_BLOCK per coded-corpus pass (bounding the broadcast
# at ~4 MB/block) and, inside each Arrow batch, in chunks of PQ_Q_CHUNK
# (bounding the per-task score matrix at chunk x batch doubles ~20 MB).
# A query set past the cap is a self-join workload — route it through
# dedup_semantic's cluster-blocked path instead.
PQ_Q_CAP = 131_072
PQ_Q_BLOCK = 4_096
PQ_Q_CHUNK = 256


def train_pq_codebooks(
    corpus: DataFrame, m: int = PQ_M, ksub: int = PQ_KSUB, iters: int = PQ_ITERS
):
    """Per-subspace k-means codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search") over the L2-NORMALIZED
    corpus, so PQ inner products approximate cosine.

    One distributed pass per Lloyd round trains ALL m subspaces at
    once: the Arrow batch assigns every sub-vector to its subspace
    centroid and emits (subspace, cluster, dim) partial sums — the
    same partial-aggregation shape as train_ivf_centroids, m-fold,
    including its int64 fixed-point grid: per-vector quantization
    before summation makes the codebooks bit-identical under any
    partitioning or core count (the golden-oracle prerequisite).
    Driver traffic per round is m × ksub × dsub values.  Seeding is
    the same deterministic smallest-xxhash sample as IVF, and the
    Lloyd update passes ride the SAME hash-prefix training sample as
    train_ivf_centroids (r12): budget max(floor, 32·ksub) per-
    subspace — every golden corpus sits under the floor and trains
    bit-identically; a 100 TB corpus trains its sub-codebooks on a
    sample instead of every vector, which is the published recipe.

    Returns a (m, ksub, dsub) ndarray.
    """
    import numpy as np
    import pandas as pd

    scale = 1_000_000_000

    seed_rows = (
        corpus.select("vec_id", "emb_d", "norm")
        .orderBy(F.xxhash64("vec_id"), F.col("vec_id"))
        .limit(ksub)
        .collect()
    )
    n = corpus.count()
    budget = max(LLOYD_SAMPLE_FLOOR, LLOYD_SAMPLE_PER_CENTROID * ksub)
    train = corpus
    if n > budget:
        cutoff = -(1 << 63) + (budget * (1 << 64)) // n
        train = corpus.where(F.xxhash64("vec_id") < F.lit(cutoff))
    seeds = np.asarray(
        [np.asarray(r.emb_d) / (r.norm or 1.0) for r in seed_rows], dtype=np.float64
    )
    dim = seeds.shape[1]
    dsub = dim // m
    books = np.stack([seeds[:, s * dsub : (s + 1) * dsub] for s in range(m)])

    for _ in range(iters):
        bk = books  # (m, ksub, dsub)

        def partials(it):
            sums = np.zeros(bk.shape, dtype=np.int64)
            counts = np.zeros((m, ksub), dtype=np.int64)
            seen = False
            for pdf in it:
                if len(pdf) == 0:
                    continue
                seen = True
                mat = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf["emb_d"].values]
                )
                nrm = pdf["norm"].to_numpy(dtype=np.float64)
                nrm[nrm == 0.0] = 1.0
                mat = mat / nrm[:, None]
                for s in range(m):
                    sub = mat[:, s * dsub : (s + 1) * dsub]
                    d2 = ((sub[:, None, :] - bk[s][None, :, :]) ** 2).sum(axis=2)
                    cl = d2.argmin(axis=1)
                    np.add.at(
                        sums[s], cl, np.round(sub * scale).astype(np.int64)
                    )
                    counts[s] += np.bincount(cl, minlength=ksub)
            if not seen:
                return
            s_i, c_i, d_i = np.nonzero(np.ones_like(sums, dtype=bool))
            yield pd.DataFrame(
                {
                    "sub": s_i.astype("int32"),
                    "cluster": c_i.astype("int32"),
                    "d": d_i.astype("int32"),
                    "s": sums[s_i, c_i, d_i],
                    "n": counts[s_i, c_i],
                }
            )

        agg = (
            train.select("emb_d", "norm")
            .mapInPandas(partials, "sub int, cluster int, d int, s long, n long")
            .groupBy("sub", "cluster", "d")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .where(F.col("n") > 0)
            .collect()
        )
        nxt = books.copy()
        for r in agg:
            nxt[r.sub, r.cluster, r.d] = (r.s / scale) / r.n
        books = nxt
    return books


def pq_encode(corpus: DataFrame, books) -> DataFrame:
    """(vec_id, code[m]) — each normalized sub-vector's nearest
    codebook entry.  Map-side, one pass, 4 bits of index per subspace
    (stored as int array internally; a production sink would pack to
    m/2 bytes)."""
    import numpy as np
    import pandas as pd

    bk = books
    m, ksub, dsub = bk.shape

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["emb_d"].values]
            )
            nrm = pdf["norm"].to_numpy(dtype=np.float64)
            nrm[nrm == 0.0] = 1.0
            mat = mat / nrm[:, None]
            codes = np.empty((len(mat), m), dtype=np.int32)
            for s in range(m):
                sub = mat[:, s * dsub : (s + 1) * dsub]
                d2 = ((sub[:, None, :] - bk[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "code": list(codes)}
            )

    return corpus.select("vec_id", "emb_d", "norm").mapInPandas(
        batches, "vec_id long, code array<int>"
    )


def pq_recon_partials(corpus: DataFrame, books) -> DataFrame:
    """(n, serr) per-partition partials of the PQ reconstruction
    error: for each L2-normalized vector, the Euclidean distance to
    its nearest-codeword reconstruction (√ of the summed per-subspace
    quantization residuals).  One map-side pass, driver traffic two
    scalars per partition — the PQ analogue of the IVF assignment
    residual, and the metric the index-drift monitor compares
    arrivals against (streaming/ann_index_stream.py): arrivals whose
    sub-vectors the frozen codebooks cannot represent show a rising
    reconstruction error exactly like IVF arrivals far from every
    centroid show a rising assignment residual."""
    import numpy as np
    import pandas as pd

    bk = books
    m, ksub, dsub = bk.shape

    def batches(it):
        n = 0
        serr = 0.0
        seen = False
        for pdf in it:
            if len(pdf) == 0:
                continue
            seen = True
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["emb_d"].values]
            )
            nrm = pdf["norm"].to_numpy(dtype=np.float64)
            nrm[nrm == 0.0] = 1.0
            mat = mat / nrm[:, None]
            tot = np.zeros(len(mat), dtype=np.float64)
            for s in range(m):
                sub = mat[:, s * dsub : (s + 1) * dsub]
                d2 = ((sub[:, None, :] - bk[s][None, :, :]) ** 2).sum(axis=2)
                tot += d2.min(axis=1)
            n += len(mat)
            serr += float(np.sqrt(tot).sum())
        if seen:
            yield pd.DataFrame({"n": [n], "serr": [serr]})

    return corpus.select("emb_d", "norm").mapInPandas(
        batches, "n long, serr double"
    )


def pq_mean_recon(corpus: DataFrame, books) -> tuple[int, float]:
    """(n, mean PQ reconstruction error) of ``corpus`` — the folded
    ``pq_recon_partials``, the quantity the PQ/IVFADC drift baselines
    record and the maintenance streams compare arrivals against."""
    (row,) = (
        pq_recon_partials(corpus, books)
        .agg(F.sum("n").alias("n"), F.sum("serr").alias("serr"))
        .collect()
    )
    n = row.n or 0
    return n, (row.serr / n) if n else 0.0


def ann_pq_topk(
    spark: SparkSession,
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = TOPK,
    books=None,
    rerank: int = PQ_RERANK,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ ANN: asymmetric distance computation (ADC) over the coded
    corpus, then EXACT cosine rerank of the per-query shortlist.
    Pre-computed ``codes`` (vec_id, code[m] — see write_pq_index)
    skip the encode pass: the read path of a persisted PQ index.

    The scale story is memory: the scored index is m×4 bits per vector
    (32× below float32), so a 10¹⁰-vector index fits a cluster's RAM
    where floats could not.  Scoring is a per-batch numpy gather —
    scores[q, v] = Σ_s table[q, s, code[v, s]] with the (nq, m, ksub)
    query tables shipped by ``SparkContext.broadcast`` (one torrent
    ship per executor, never per-task closure bytes) — and each batch
    emits only its local per-query top-``rerank``, so the shuffle is
    bounded by partitions × nq × rerank no matter the corpus size.
    The final exact rerank touches float vectors for only nq × rerank
    rows.  Queries are collected to the driver under a LOUD cap
    (``PQ_Q_CAP``) and scored ``PQ_Q_BLOCK`` per coded-corpus pass /
    ``PQ_Q_CHUNK`` per Arrow batch, so broadcast size, task memory,
    and driver memory are all bounded regardless of the query-table
    size (r6 verdict item 8); past the cap the workload is a self-join
    — dedup_semantic's cluster-blocked path is the design there.
    """
    from functools import reduce

    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    q = with_norm(queries_df)
    c = with_norm(corpus_df)
    if books is None:
        books = train_pq_codebooks(c)
    m, ksub, dsub = books.shape

    q_rows = (
        q.select("vec_id", "emb_d", "norm").limit(PQ_Q_CAP + 1).collect()
    )
    if len(q_rows) > PQ_Q_CAP:
        raise ValueError(
            f"PQ query set exceeds PQ_Q_CAP={PQ_Q_CAP}: this entry point "
            f"builds per-query ADC tables on the driver; an all-pairs-"
            f"scale query set should go through the cluster-blocked "
            f"semantic-dedup path instead"
        )
    q_ids = np.asarray([r.vec_id for r in q_rows], dtype=np.int64)
    q_mat = np.asarray(
        [np.asarray(r.emb_d) / (r.norm or 1.0) for r in q_rows], dtype=np.float64
    )
    # tables[qi, s, j] = <q_sub, codebook[s][j]>  (inner product ~ cosine)
    tables = np.einsum(
        "qsd,sjd->qsj",
        q_mat.reshape(len(q_mat), m, dsub),
        books,
    )

    if codes is None:
        codes = pq_encode(c, books)
    sc = spark.sparkContext

    def block_shortlist(bc):
        def score_batches(it):
            qi, tb = bc.value
            s_idx = np.arange(m)
            for pdf in it:
                if len(pdf) == 0:
                    continue
                cds = np.asarray(list(pdf["code"].values), dtype=np.int64)  # (n, m)
                vids = pdf["vec_id"].to_numpy(dtype=np.int64)
                top = min(len(vids), rerank)
                # Deterministic batch cut: pre-sort columns by neighbor
                # id, then a STABLE descending-score sort breaks score
                # ties by ascending vec_id — the same composite order
                # as the global (-adc, neighbor_id) window below.  Any
                # global top-rerank element therefore survives its
                # batch cut under EVERY partitioning (an argpartition
                # cut kept/dropped boundary ties by in-batch row
                # position — round-4 advice).
                vorder = np.argsort(vids)
                vids_s = vids[vorder]
                cds_s = cds[vorder]
                for c0 in range(0, len(qi), PQ_Q_CHUNK):
                    qc = qi[c0 : c0 + PQ_Q_CHUNK]
                    # advanced-index gather: (nc, n, m) -> sum over
                    # subspaces; chunked so the score matrix is
                    # chunk x batch, not nq x batch
                    scores = tb[c0 : c0 + PQ_Q_CHUNK][:, s_idx, cds_s].sum(axis=2)
                    idx = np.argsort(-scores, axis=1, kind="stable")[:, :top]
                    yield pd.DataFrame(
                        {
                            "q_id": np.repeat(qc, top),
                            "neighbor_id": vids_s[idx].reshape(-1),
                            "adc": np.take_along_axis(
                                scores, idx, axis=1
                            ).reshape(-1),
                        }
                    )

        return codes.mapInPandas(
            score_batches, "q_id long, neighbor_id long, adc double"
        )

    blocks = [
        block_shortlist(
            sc.broadcast(
                (q_ids[b0 : b0 + PQ_Q_BLOCK], tables[b0 : b0 + PQ_Q_BLOCK])
            )
        )
        for b0 in range(0, max(len(q_ids), 1), PQ_Q_BLOCK)
    ]
    shortlist = reduce(DataFrame.unionAll, blocks).where(
        F.col("q_id") != F.col("neighbor_id")
    )
    w0 = Window.partitionBy("q_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    cand = (
        shortlist.withColumn("r0", F.row_number().over(w0))
        .where(F.col("r0") <= rerank)
        .select("q_id", "neighbor_id")
    )
    qv = q.select(F.col("vec_id").alias("q_id"), "emb_d", "norm").alias("q")
    cv = c.select(F.col("vec_id").alias("neighbor_id"), "emb_d", "norm").alias("c")
    cos = F.round(cosine_expr("q", "c"), 6)
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .join(cv, "neighbor_id")
        .select("q_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "cosine", F.col("rnk").cast("long").alias("rnk"))
    )


# The PQ codebooks and the persisted coded corpus: training and
# encoding are once-per-corpus-snapshot costs (the persisted index IS
# that lifecycle on disk), so the three in-session consumers
# (similarity_ann_pq, the RRF ensemble's PQ leg, _ensure_pq_index)
# must not each pay their own Lloyd rounds + encode pass.
# Deterministic training ⇒ identical books either way (golden-pinned).
@snapshot_cache
def corpus_pq_codebooks(spark: SparkSession, sf_dir: str):
    return train_pq_codebooks(corpus_embeddings(spark, sf_dir))


@snapshot_cache
def corpus_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_encode(
        corpus_embeddings(spark, sf_dir), corpus_pq_codebooks(spark, sf_dir)
    ).persist()


@query("similarity_ann_pq", oracle=_ann_golden_oracle("pq"))
def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN top-5 with exact rerank (approximate — no SQL
    oracle; tests pin recall vs the brute-force baseline, same
    contract as the LSH/IVF variants).  The 32x-compressed code table
    is the declared path for indexes too large to hold as floats.
    Codebooks + coded corpus come from the snapshot fills above
    (train/encode once, serve every consumer)."""
    e = corpus_embeddings(spark, sf_dir)
    return ann_pq_topk(
        spark,
        e.where(N_QUERIES_PRED),
        e,
        TOPK,
        books=corpus_pq_codebooks(spark, sf_dir),
        codes=corpus_pq_codes(spark, sf_dir),
    )
# ---------------------------------------------------------------------------
# PQ index persistence (same lifecycle contract as the IVF snapshot)
# ---------------------------------------------------------------------------


PQ_CODE_SHARDS = 16


def write_pq_index(
    spark: SparkSession, corpus_df: DataFrame, path: str, books=None
) -> None:
    """Persist a PQ index: ``{path}/codebooks`` (sub, cluster, d,
    value — m×ksub×dsub rows, driver-built, bounded) and
    ``{path}/codes`` (vec_id, code[m] — one row per vector, written
    distributed).  Codebooks are exact under parquet round-trip (the
    same int64-grid / DOUBLE argument as write_ivf_index) and codes
    are integers, so a query from the persisted snapshot is
    bit-identical to one from a fresh index — pinned by
    similarity_ann_pq_persisted sharing similarity_ann_pq's golden.
    Codebooks ride the same chunked-binary encoding as the IVF
    centroids (_write_ndarray).

    r12 — the same maintained-index lifecycle as write_ivf_index:
    codes are PARTITIONED by ``shard = vec_id mod PQ_CODE_SHARDS`` (a
    layout the streaming PQ maintenance appends batch-keyed files
    into; the ADC scan reads every shard anyway, so the partitioning
    costs the serve path nothing), every rebuild stamps a fresh
    ``_index_epoch`` (checkpoint fencing — frozen-codebook replay
    idempotence is the same argument as frozen-centroid), clears
    stale maintenance markers, and records the build-time mean
    reconstruction error in ``_drift/baseline.json`` as the drift
    reference."""
    c = with_norm(corpus_df)
    if books is None:
        books = train_pq_codebooks(c)
    _write_ndarray(spark, books, f"{path}/codebooks")
    pq_encode(c, books).withColumn(
        "shard", F.pmod(F.col("vec_id"), F.lit(PQ_CODE_SHARDS)).cast("int")
    ).write.mode("overwrite").partitionBy("shard").parquet(f"{path}/codes")
    from ..streaming.ann_index_stream import (
        mark_index_rebuilt,
        write_drift_baseline,
    )

    fs = mark_index_rebuilt(spark, path)
    n, mean_recon = pq_mean_recon(c, books)
    write_drift_baseline(
        fs, {"mean_residual": mean_recon, "n": n, "kind": "pq_reconstruction"}
    )


def read_pq_index(spark: SparkSession, path: str):
    """(codebooks ndarray, codes DataFrame) from a written index.
    The shard partition column (r12 layout) is projected away so
    consumers see the same (vec_id, code) relation either way."""
    return (
        _read_ndarray(spark, f"{path}/codebooks"),
        spark.read.parquet(f"{path}/codes").select("vec_id", "code"),
    )


@snapshot_cache
def _ensure_pq_index(spark: SparkSession, sf_dir: str) -> str:
    path = scratch_dir("pq_index_")
    write_pq_index(
        spark,
        corpus_embeddings(spark, sf_dir),
        path,
        books=corpus_pq_codebooks(spark, sf_dir),
    )
    return path


@query("similarity_ann_pq_persisted", oracle=_ann_golden_oracle("pq"), bench=False)
def similarity_ann_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ write→read→query lifecycle: codebooks + 32x-compressed code
    table persisted to parquet, read back cold, ADC served from the
    PERSISTED codes (no re-train, no re-encode).  Shares
    similarity_ann_pq's golden oracle — the round-trip must be
    bit-exact."""
    e = corpus_embeddings(spark, sf_dir)
    books, codes = read_pq_index(spark, _ensure_pq_index(spark, sf_dir))
    return ann_pq_topk(
        spark, e.where(N_QUERIES_PRED), e, TOPK, books=books, codes=codes
    )


# ---------------------------------------------------------------------------
# ANN: IVF-PQ (IVFADC — Jégou et al. 2011 §IV: coarse-quantize, then
# product-quantize the RESIDUALS, score probed cells with ADC tables)
# ---------------------------------------------------------------------------

IVFPQ_NPROBE = 8


def _unit_corpus(c: DataFrame) -> DataFrame:
    """(vec_id, emb_d, norm=1) with emb_d L2-normalized — the space
    IVFADC quantizes here, so cosine IS the inner product and the ADC
    decomposition below is exact in expectation.  Zero vectors pass
    through unscaled (norm treated as 1, same convention as
    pq_encode)."""
    safe = F.when(F.col("norm") == 0.0, F.lit(1.0)).otherwise(F.col("norm"))
    return c.select(
        "vec_id",
        F.transform("emb_d", lambda x: x / safe).alias("emb_d"),
        F.lit(1.0).alias("norm"),
    )


def ivfpq_residuals(
    spark: SparkSession, cn: DataFrame, assigned: DataFrame, cents
) -> DataFrame:
    """(vec_id, cluster, emb_d = x̂ − centroid[cell], norm=1) for the
    unit vectors ``cn`` and their (vec_id, cluster) assignment: one
    JVM-side zip_with against a broadcast k×dim centroid table.  The
    residual every IVFADC stage codes — the build, its recon
    baseline, the maintenance stream and the semantic gate."""
    from ..session import local_rows_df

    cent_df = local_rows_df(
        spark,
        [(int(i), [float(v) for v in cents[i]]) for i in range(len(cents))],
        "cluster int, carr array<double>",
    )
    return (
        cn.join(assigned.select("vec_id", "cluster"), "vec_id")
        .join(F.broadcast(cent_df), "cluster")
        .select(
            "vec_id",
            "cluster",
            F.zip_with("emb_d", "carr", lambda x, c: x - c).alias("emb_d"),
            F.lit(1.0).alias("norm"),
        )
    )


def ivfpq_build(
    spark: SparkSession,
    corpus_df: DataFrame,
    n_clusters: int = IVF_CLUSTERS,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    centroids=None,
    books=None,
):
    """(centroids, books, coded) — the IVFADC index over the UNIT
    corpus: a coarse quantizer (trained in the normalized space, so
    cells partition directions, which is what cosine retrieval
    probes), per-vector assignment, and PQ codebooks trained on the
    RESIDUALS x̂ − centroid[cell].  Residual coding is the reason
    IVFADC beats plain PQ at equal bits: within a cell the residual
    energy is a fraction of the vector's, so the same m×ksub codebook
    quantizes it with far less error (Jégou et al. 2011, Table III).

    Every stage is the existing distributed machinery: Lloyd rounds
    ride train_ivf_centroids' int64 fixed-point grid (bit-identical
    under any partitioning — the golden-oracle prerequisite),
    residuals are ONE JVM-side zip_with against a broadcast
    k×dim centroid table (``ivfpq_residuals``, no Python in the
    corpus pass), and
    train_pq_codebooks / pq_encode see residual rows with norm=1 so
    their internal normalization is a no-op.  ``coded`` is
    (cluster, vec_id, code[m]) — the inverted lists with 4-bit-per-
    subspace payloads, m/2 bytes a vector at scale."""
    cn = _unit_corpus(with_norm(corpus_df))
    cents = (
        centroids
        if centroids is not None
        else train_ivf_centroids(cn, n_clusters, IVF_LLOYD_ITERS)
    )
    assigned = _assign_clusters(cn, cents)
    res = ivfpq_residuals(spark, cn, assigned, cents)
    if books is None:
        books = train_pq_codebooks(res, m=m, ksub=ksub)
    coded = (
        pq_encode(res, books)
        .join(assigned, "vec_id")
        .select("cluster", "vec_id", "code")
    )
    return cents, books, coded


@snapshot_cache
def corpus_ivfpq(spark: SparkSession, sf_dir: str):
    """(cents, books, persisted coded corpus) — the IVFADC family's
    unit-space centroids and residual codebooks, trained once."""
    cents, books, coded = ivfpq_build(spark, corpus_embeddings(spark, sf_dir))
    return cents, books, coded.persist()


def ivfpq_adc_shortlist(
    spark: SparkSession,
    queries_df: DataFrame,
    index,
    nprobe: int = IVFPQ_NPROBE,
    rerank: int = PQ_RERANK,
    exclude_ids=None,
) -> DataFrame:
    """(q_id, neighbor_id, adc) — the IVFADC NOMINATION stage of
    :func:`ann_ivfpq_topk`, factored out (r14) so the semantic
    admission gate can score arrivals against the persisted codes
    WITHOUT the exact-rerank's corpus join: probe each query's
    ``nprobe`` nearest coarse cells, ADC-score only those cells'
    residual codes, keep the global per-query top-``rerank`` by
    (adc desc, neighbor_id asc).  ``adc`` approximates the unit-
    sphere cosine q̂·x̂, biased by the PQ reconstruction error —
    callers needing exactness rerank the shortlist against real
    vectors (ann_ivfpq_topk against its corpus; the gate against the
    index's persisted vector relation).  ``index`` is the
    (centroids, codebooks, codes) triple of read_ivfpq_index.
    ``exclude_ids`` (a bounded Python id collection, broadcast into
    the scorer) removes neighbors BEFORE the per-partition shortlist
    cut — the admission stream's replay determinism depends on a
    crashed attempt's leftover own-batch codes not displacing
    genuine neighbors past the cut."""
    from functools import reduce

    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    q = with_norm(queries_df)
    cents, books, coded = index
    m, ksub, dsub = books.shape
    n_cells = len(cents)
    nprobe = min(nprobe, n_cells)
    excl = (
        np.asarray(sorted(exclude_ids), dtype=np.int64)
        if exclude_ids
        else None
    )

    q_rows = (
        q.select("vec_id", "emb_d", "norm").limit(PQ_Q_CAP + 1).collect()
    )
    if len(q_rows) > PQ_Q_CAP:
        raise ValueError(
            f"IVFPQ query set exceeds PQ_Q_CAP={PQ_Q_CAP}: this entry "
            f"point builds per-query ADC tables on the driver; an "
            f"all-pairs-scale query set should go through the "
            f"cluster-blocked semantic-dedup path instead"
        )
    q_ids = np.asarray([r.vec_id for r in q_rows], dtype=np.int64)
    q_mat = np.asarray(
        [np.asarray(r.emb_d) / (r.norm or 1.0) for r in q_rows],
        dtype=np.float64,
    )
    qcent = q_mat @ cents.T  # (nq, n_cells) — the q̂·c term
    # probe selection = the assignment metric (nearest by L2 in the
    # unit space): argmax q·c − |c|²/2, ties by cell id (stable sort)
    sel = qcent - 0.5 * (cents * cents).sum(axis=1)
    probed = np.argsort(-sel, axis=1, kind="stable")[:, :nprobe]
    probe_mask = np.zeros((len(q_ids), n_cells), dtype=bool)
    np.put_along_axis(probe_mask, probed, True, axis=1)
    tables = np.einsum(
        "qsd,sjd->qsj", q_mat.reshape(len(q_mat), m, dsub), books
    )

    sc = spark.sparkContext

    def block_shortlist(bc):
        def score_batches(it):
            qi, tb, qc, pm, ex = bc.value
            s_idx = np.arange(m)
            for pdf in it:
                if len(pdf) == 0:
                    continue
                vids = pdf["vec_id"].to_numpy(dtype=np.int64)
                cls = pdf["cluster"].to_numpy(dtype=np.int64)
                cds = np.asarray(list(pdf["code"].values), dtype=np.int64)
                if ex is not None:
                    # excluded neighbors leave BEFORE the batch cut:
                    # a crashed attempt's leftover own-batch codes
                    # must not displace genuine neighbors past the
                    # shortlist (the probe_candidates ordering
                    # argument, replayed here for the ADC plane)
                    keep_v = ~np.isin(vids, ex)
                    if not keep_v.any():
                        continue
                    vids = vids[keep_v]
                    cls = cls[keep_v]
                    cds = cds[keep_v]
                top = min(len(vids), rerank)
                # deterministic batch cut (see ann_pq_topk): pre-sort
                # by neighbor id, stable descending-score sort
                vorder = np.argsort(vids)
                vids_s = vids[vorder]
                cls_s = cls[vorder]
                cds_s = cds[vorder]
                for c0 in range(0, len(qi), PQ_Q_CHUNK):
                    qch = qi[c0 : c0 + PQ_Q_CHUNK]
                    scores = (
                        qc[c0 : c0 + PQ_Q_CHUNK][:, cls_s]
                        + tb[c0 : c0 + PQ_Q_CHUNK][:, s_idx, cds_s].sum(
                            axis=2
                        )
                    )
                    scores[~pm[c0 : c0 + PQ_Q_CHUNK][:, cls_s]] = -np.inf
                    idx = np.argsort(-scores, axis=1, kind="stable")[
                        :, :top
                    ]
                    adc = np.take_along_axis(scores, idx, axis=1)
                    keep = np.isfinite(adc)
                    if not keep.any():
                        continue
                    yield pd.DataFrame(
                        {
                            "q_id": np.repeat(qch, top)[keep.reshape(-1)],
                            "neighbor_id": vids_s[idx].reshape(-1)[
                                keep.reshape(-1)
                            ],
                            "adc": adc.reshape(-1)[keep.reshape(-1)],
                        }
                    )

        return coded.mapInPandas(
            score_batches, "q_id long, neighbor_id long, adc double"
        )

    blocks = [
        block_shortlist(
            sc.broadcast(
                (
                    q_ids[b0 : b0 + PQ_Q_BLOCK],
                    tables[b0 : b0 + PQ_Q_BLOCK],
                    qcent[b0 : b0 + PQ_Q_BLOCK],
                    probe_mask[b0 : b0 + PQ_Q_BLOCK],
                    excl,
                )
            )
        )
        for b0 in range(0, max(len(q_ids), 1), PQ_Q_BLOCK)
    ]
    shortlist = reduce(DataFrame.unionAll, blocks).where(
        F.col("q_id") != F.col("neighbor_id")
    )
    w0 = Window.partitionBy("q_id").orderBy(
        F.desc("adc"), F.asc("neighbor_id")
    )
    return (
        shortlist.withColumn("r0", F.row_number().over(w0))
        .where(F.col("r0") <= rerank)
        .select("q_id", "neighbor_id", "adc")
    )


def ann_ivfpq_topk(
    spark: SparkSession,
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = TOPK,
    nprobe: int = IVFPQ_NPROBE,
    rerank: int = PQ_RERANK,
    index=None,
) -> DataFrame:
    """IVFADC ANN: probe each query's ``nprobe`` nearest coarse cells,
    ADC-score ONLY the probed cells' residual codes, exact-cosine
    rerank the per-query shortlist.

    On the unit sphere the scored quantity decomposes exactly:
    q̂·x̂ = q̂·centroid[cell] + q̂·residual ≈ q̂·c + Σ_s ⟨q̂_s, book[s][code_s]⟩
    — with inner-product scoring the ADC tables are CELL-INDEPENDENT
    (unlike L2-IVFADC, where each probed cell needs its own table),
    so one (nq, m, ksub) einsum per query block serves every cell.

    Scale shape — the best of both parents: like IVF, each batch
    touches only rows whose cell some query probes (≈ nprobe/k of the
    corpus does real work; the mask is one boolean gather); like PQ,
    the scored payload is 4 bits a subspace and each batch emits only
    its local per-query top-``rerank``, so the shuffle is bounded by
    partitions × nq × rerank no matter the corpus size.  Queries ride
    the same LOUD PQ_Q_CAP / PQ_Q_BLOCK / PQ_Q_CHUNK bounds as
    ann_pq_topk, and the same stable composite sort keeps every batch
    cut deterministic under any partitioning."""
    from pyspark.sql.window import Window

    q = with_norm(queries_df)
    c = with_norm(corpus_df)
    if index is None:
        index = ivfpq_build(spark, c)
    # nomination: the factored ADC shortlist (identical rows to the
    # pre-r14 inline stage — same blocks, same deterministic cuts)
    cand = ivfpq_adc_shortlist(
        spark, queries_df, index, nprobe=nprobe, rerank=rerank
    ).select("q_id", "neighbor_id")
    qv = q.select(F.col("vec_id").alias("q_id"), "emb_d", "norm").alias("q")
    cv = c.select(
        F.col("vec_id").alias("neighbor_id"), "emb_d", "norm"
    ).alias("c")
    cos = F.round(cosine_expr("q", "c"), 6)
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .join(cv, "neighbor_id")
        .select("q_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "q_id",
            "neighbor_id",
            "cosine",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# Hive shards of the optional persisted vector relation
# ({path}/vectors) — the exact-verify side of the semantic admission
# gate, the same doc_id-mod layout as the minhash shingle relation.
VECTOR_SHARDS = 64


def _vector_table(vecs: DataFrame) -> DataFrame:
    return vecs.select(
        "vec_id",
        "embedding",
        F.pmod(F.col("vec_id"), F.lit(VECTOR_SHARDS))
        .cast("int")
        .alias("shard"),
    )


def read_ivfpq_vectors(spark: SparkSession, path: str) -> DataFrame | None:
    """The persisted exact-verify relation (vec_id, embedding), or
    ``None`` for an index built without one (the gate then flags on
    the quantized ADC score, or a caller-supplied verify relation).
    Self-maintained: the ivfpq maintenance stream and the semantic
    admission gate append arrivals' rows alongside the codes."""
    from ..streaming.etl_stream import _meta_fs

    fs = _meta_fs(spark, path)
    if fs.kind(f"{fs.root}/vectors") != "dir":
        return None
    return spark.read.parquet(f"{path}/vectors").select(
        "vec_id", "embedding"
    )


def write_ivfpq_index(
    spark: SparkSession,
    corpus_df: DataFrame,
    path: str,
    centroids=None,
    books=None,
    with_vectors: bool = False,
) -> None:
    """Persist an IVFADC index: ``{path}/centroids`` + ``{path}/
    codebooks`` (both chunked-binary, exact under round-trip) and
    ``{path}/codes`` — (vec_id, code[m]) PARTITIONED BY ``cluster``,
    so a probed serve prunes straight to the nprobe inverted lists'
    files (the IVF postings pruning story, now carrying the 32×-
    compressed payload).  Same maintained-index lifecycle as the IVF
    and PQ snapshots: fresh ``_index_epoch`` per rebuild, stale
    maintenance markers cleared, and a TWO-axis drift baseline in
    ``_drift/baseline.json`` — the COARSE assignment residual (cells
    going stale degrades probe recall and residual coding alike) plus
    the mean PQ reconstruction error of the corpus residuals
    (``mean_recon``), because a shift that keeps cell geometry while
    rotating within-cell structure degrades ADC precision without
    moving the coarse signal (r12 verdict item 5).

    ``with_vectors=True`` (r14) additionally persists the raw
    ``{path}/vectors`` relation (vec_id, embedding, ``shard =
    vec_id mod VECTOR_SHARDS``) — the EXACT-verify side of the
    semantic admission gate (the minhash shingle-relation move,
    applied to the embedding plane: codes are the compressed serving
    payload, vectors the uncompressed verify payload).  Off by
    default: the ANN serve path never needs it and it costs raw
    corpus storage; the gate falls back to quantized-ADC flagging on
    an index without it."""
    c = with_norm(corpus_df)
    cn = _unit_corpus(c)
    cents, books, coded = ivfpq_build(
        spark, c, centroids=centroids, books=books
    )
    _write_ndarray(spark, cents, f"{path}/centroids")
    _write_ndarray(spark, books, f"{path}/codebooks")
    if with_vectors:
        _vector_table(
            corpus_df.select("vec_id", "embedding")
        ).repartition(F.col("shard")).write.mode("overwrite").partitionBy(
            "shard"
        ).parquet(f"{path}/vectors")
    coded.write.mode("overwrite").partitionBy("cluster").parquet(
        f"{path}/codes"
    )
    from ..streaming.ann_index_stream import (
        mark_index_rebuilt,
        write_drift_baseline,
    )

    fs = mark_index_rebuilt(spark, path)
    ares = _assign_clusters_res(cn, cents)
    ares.persist()
    try:
        row = assignment_stats(ares)
        n = row.n or 0
        # SECOND staleness axis (r12 verdict item 5): the build-time
        # mean PQ reconstruction error of the corpus RESIDUALS.  A
        # corpus drift that keeps cell geometry (coarse residual flat)
        # while rotating within-cell structure degrades ADC precision
        # invisibly to the coarse signal — the maintenance stream
        # compares each batch's residual-coding error against this.
        _, mean_recon = pq_mean_recon(
            ivfpq_residuals(spark, cn, ares, cents), books
        )
    finally:
        ares.unpersist()
    write_drift_baseline(
        fs,
        {
            "mean_residual": (row.sres / n) if n else 0.0,
            "top_cell_share": (row.max_cell / n) if n else 0.0,
            "mean_recon": mean_recon,
            "n": n,
            "kind": "ivfpq_coarse_residual",
        },
    )


def read_ivfpq_index(spark: SparkSession, path: str):
    """(centroids, books, codes) from a written IVFADC index — the
    ``index`` argument shape ``ann_ivfpq_topk`` consumes."""
    return (
        _read_ndarray(spark, f"{path}/centroids"),
        _read_ndarray(spark, f"{path}/codebooks"),
        spark.read.parquet(f"{path}/codes").select(
            "cluster", "vec_id", "code"
        ),
    )


@snapshot_cache
def _ensure_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    path = scratch_dir("ivfpq_index_")
    cents, books, _ = corpus_ivfpq(spark, sf_dir)
    write_ivfpq_index(
        spark, corpus_embeddings(spark, sf_dir), path, centroids=cents, books=books
    )
    return path


@query(
    "similarity_ann_ivfpq_persisted",
    oracle=_ann_golden_oracle("ivfpq"),
    bench=False,
)
def similarity_ann_ivfpq_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVFADC write→read→query lifecycle: centroids + codebooks +
    cluster-partitioned codes persisted to parquet, read back cold,
    served from the PERSISTED index (no re-train, no re-encode).
    Shares similarity_ann_ivfpq's golden — the round-trip must be
    bit-exact."""
    e = corpus_embeddings(spark, sf_dir)
    index = read_ivfpq_index(spark, _ensure_ivfpq_index(spark, sf_dir))
    return ann_ivfpq_topk(
        spark, e.where(N_QUERIES_PRED), e, TOPK, index=index
    )


@query("similarity_ann_ivfpq", oracle=_ann_golden_oracle("ivfpq"))
def similarity_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC ANN top-5 (Jégou et al. 2011 §IV): coarse cells +
    residual PQ codes, probed ADC scoring, exact rerank — the
    canonical billion-scale index shape (FAISS IVFx,PQy) composed
    from this package's IVF and PQ planes.  Approximate in recall,
    exact in bytes (fixed-point training, stable tie-breaks), so the
    oracle is a committed corpus_sig-keyed golden of its own output;
    recall vs the brute-force baseline is pinned in
    tests/test_r12_operators.py."""
    e = corpus_embeddings(spark, sf_dir)
    return ann_ivfpq_topk(
        spark,
        e.where(N_QUERIES_PRED),
        e,
        TOPK,
        index=corpus_ivfpq(spark, sf_dir),
    )


# Batch twin of the streaming semantic admission gate.  The redundancy
# bar is sf-calibrated: the synthetic corpus's planted near-dup scale
# tops out at cosine ~0.51 (max pair) with a ~0.37 median row-max, so
# 0.4 separates "has a planted semantic neighbor" from ambient (the
# dedup_embedding_cosine threshold); the production gate default
# (SEMANTIC_ADMIT_COSINE = 0.92, the SemDeDup bar) sits above this
# corpus's entire spectrum and would admit everything.
SEM_ADMIT_T = 0.4


def _semadm_golden_oracle() -> str:
    return f"""
    SELECT vec_id, matched_id, cosine, admitted
    FROM read_parquet('{_GOLDEN_DIR}/semantic_admission_golden.parquet')
    WHERE corpus_sig = {_SIG_SQL}
    """


@query(
    "similarity_semantic_admission", oracle=_semadm_golden_oracle()
)
def similarity_semantic_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch twin of the streaming semantic admission gate
    (streaming/ann_index_stream.py::run_semantic_admission_stream):
    would each arrival be ADMITTED against an IVFADC-indexed corpus?

    Arrivals are the standard probe set (vec_id < 25); the corpus is
    every other vector.  Decision path = the gate's, stage for stage:
    ADC nomination through the factored ``ivfpq_adc_shortlist``
    (probed cells only, per-query top-``rerank``, deterministic cuts)
    over the session index's codes RESTRICTED to the corpus slice,
    then exact-cosine verification of every nominated candidate, then
    top-1 by (cosine desc, matched_id) at the ``SEM_ADMIT_T`` bar —
    ADC nominates, never decides.  Approximate in recall (a >=bar
    neighbor outside every probed cell is missed), exact in bytes
    (fixed-point training, stable cuts), so the oracle is a committed
    corpus_sig-keyed golden of its own output
    (tests/regen_ann_goldens.py); decision agreement vs the
    brute-force verdict is pinned separately in
    tests/test_semantic_admission.py."""
    from pyspark.sql.window import Window

    e = corpus_embeddings(spark, sf_dir)
    arrivals = e.where(f"vec_id < {N_ARRIVALS}")
    cents, books, coded = corpus_ivfpq(spark, sf_dir)
    cand = ivfpq_adc_shortlist(
        spark,
        arrivals,
        (cents, books, coded.where(F.col("vec_id") >= N_ARRIVALS)),
    )
    a = e.select(F.col("vec_id").alias("q_id"), "emb_d", "norm").alias(
        "a"
    )
    b = e.select(
        F.col("vec_id").alias("neighbor_id"), "emb_d", "norm"
    ).alias("b")
    scored = (
        cand.join(a, "q_id")
        .join(b, "neighbor_id")
        .select(
            "q_id",
            "neighbor_id",
            cosine_expr("a", "b").alias("cos"),
        )
        .where(F.col("cos") >= F.lit(SEM_ADMIT_T))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    best = (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("neighbor_id").alias("matched_id"),
            F.round("cos", 6).alias("cosine"),
        )
    )
    return (
        arrivals.select("vec_id")
        .join(best, "vec_id", "left")
        .select(
            "vec_id",
            "matched_id",
            "cosine",
            F.col("matched_id").isNull().alias("admitted"),
        )
    )


# ---------------------------------------------------------------------------
# Rank fusion: ensemble retrieval over heterogeneous ANN indexes
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_UNIT = 1_000_000_000_000  # int fixed point: units = UNIT div (k + rank)


def rrf_fuse(rankings: list[DataFrame], k: int = TOPK) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of any number of
    (q_id, neighbor_id, rnk) rankings: score(q, d) = Σ_r 1/(60 + rank_r)
    over the rankings that retrieved d.  The fusion needs no score
    calibration across indexes — only ranks — which is exactly what
    heterogeneous retrievers (LSH vs IVF vs PQ here; BM25 vs dense in a
    text stack) can agree on.

    Exactness: each term is the INTEGER ``RRF_UNIT div (60 + rnk)``
    (ranks are small ints, so the division is exact and identical in
    every engine), summed as int64 — no float order sensitivity — and
    the final top-k orders by (units desc, neighbor_id) so the cut is
    deterministic.  Plan: union of the input rankings (each already
    bounded at nq × k rows) → one groupBy on (q_id, neighbor_id) → one
    nq-partitioned window; the fusion itself never touches vectors, so
    it costs candidate-list size regardless of corpus scale.
    """
    from functools import reduce

    from pyspark.sql.window import Window

    u = reduce(
        DataFrame.unionByName,
        [r.select("q_id", "neighbor_id", "rnk") for r in rankings],
    )
    scored = (
        u.withColumn(
            "units", F.expr(f"{RRF_UNIT} DIV ({RRF_K} + rnk)")
        )
        .groupBy("q_id", "neighbor_id")
        .agg(
            F.sum("units").alias("rrf_units"),
            F.count(F.lit(1)).alias("n_sources"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("rrf_units"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "q_id",
            "neighbor_id",
            "rrf_units",
            "n_sources",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@query(
    "similarity_rrf_ensemble",
    oracle=f"""
    WITH u AS (
        SELECT q_id, neighbor_id, rnk
        FROM read_parquet('{_GOLDEN_DIR}/ann_lsh_golden.parquet')
        WHERE corpus_sig = {_SIG_SQL}
        UNION ALL
        SELECT q_id, neighbor_id, rnk
        FROM read_parquet('{_GOLDEN_DIR}/ann_ivf_golden.parquet')
        WHERE corpus_sig = {_SIG_SQL}
        UNION ALL
        SELECT q_id, neighbor_id, rnk
        FROM read_parquet('{_GOLDEN_DIR}/ann_pq_golden.parquet')
        WHERE corpus_sig = {_SIG_SQL}
    ),
    s AS (
        SELECT q_id, neighbor_id,
               CAST(sum(1000000000000 // (60 + rnk)) AS BIGINT) AS rrf_units,
               count(*) AS n_sources
        FROM u GROUP BY q_id, neighbor_id
    ),
    ranked AS (
        SELECT q_id, neighbor_id, rrf_units, n_sources,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY rrf_units DESC, neighbor_id)
                   AS rnk
        FROM s
    )
    SELECT q_id, neighbor_id, rrf_units, n_sources, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOPK}
    """,
    bench=False,  # composition of three already-benched index queries
)
def similarity_rrf_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF ensemble over the three ANN index families (LSH + IVF + PQ):
    candidates each index ranks highly reinforce each other, recovering
    neighbors any single approximate index drops — the classic cheap
    recall amplifier when indexes fail independently.  The oracle fuses
    the three committed ANN goldens in SQL, so the driver hash pins the
    whole ensemble end-to-end (each leg is itself golden-checked)."""
    e = corpus_embeddings(spark, sf_dir)
    q = e.where(N_QUERIES_PRED)
    cents = corpus_centroids(spark, sf_dir)
    return rrf_fuse(
        [
            ann_lsh_topk(spark, q, e, TOPK),
            ann_ivf_topk(spark, q, e, TOPK, centroids=cents),
            ann_pq_topk(
                spark, q, e, TOPK,
                books=corpus_pq_codebooks(spark, sf_dir),
                codes=corpus_pq_codes(spark, sf_dir),
            ),
        ],
        TOPK,
    )


# ---------------------------------------------------------------------------
# kNN classification over the embedding corpus (majority vote)
# ---------------------------------------------------------------------------

KNN_K = 15  # vote neighborhood (odd-ish to limit exact ties)


def knn_classify(queries_df: DataFrame, corpus_df: DataFrame, k: int = KNN_K) -> DataFrame:
    """Majority-vote kNN classifier: each query's label is the most
    common ``label`` among its exact top-k cosine neighbors, vote ties
    broken by ascending label (deterministic in every engine).  Rides
    ``cosine_topk``'s proven rounded-cosine/id composite order, so the
    neighborhood itself is engine-exact; from there it's two integer
    aggregations — the exactness story is inherited, not re-argued."""
    from pyspark.sql.window import Window

    nbrs = cosine_topk(queries_df, corpus_df, k)
    labeled = nbrs.join(
        corpus_df.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nbr_label"),
        ),
        "neighbor_id",
    )
    votes = labeled.groupBy("q_id", "nbr_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("votes"), F.asc("nbr_label"))
    return (
        votes.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select(
            "q_id",
            F.col("nbr_label").cast("long").alias("predicted_label"),
            "votes",
        )
    )


@query(
    "similarity_knn_classify",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe, label
               FROM embeddings WHERE {N_QUERIES_PRED}),
         scored AS (
            SELECT q_id, c.vec_id AS neighbor_id, c.label AS nbr_label,
                   round(list_cosine_similarity(qe, c.embedding::DOUBLE[]), 6)
                       AS cosine
            FROM q JOIN embeddings c ON c.vec_id != q_id
         ),
         ranked AS (
            SELECT q_id, nbr_label,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM scored
         ),
         votes AS (
            SELECT q_id, nbr_label, count(*) AS votes
            FROM ranked WHERE rnk <= {KNN_K} GROUP BY q_id, nbr_label
         ),
         best AS (
            SELECT q_id, nbr_label, votes,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY votes DESC, nbr_label) AS r
            FROM votes
         )
    SELECT b.q_id,
           CAST(b.nbr_label AS BIGINT) AS predicted_label,
           b.votes,
           CAST(q.label AS BIGINT) AS true_label,
           CAST(b.nbr_label = q.label AS INT) AS correct
    FROM best b JOIN q ON q.q_id = b.q_id
    WHERE b.r = 1
    """,
    bench=False,  # shares the benched brute-force scan
)
def similarity_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space kNN classification (the quality-classifier
    pattern one step before training a parametric model —
    operators/classifier.py is that next step): predict each query
    vector's ``label`` from its 15 exact nearest neighbors and report
    the vote against the true label.  At 100 TB the same vote runs on
    ANY candidate generator — swap cosine_topk for the LSH/IVF/PQ or
    RRF-fused shortlist and the two vote aggregations are unchanged."""
    e = corpus_embeddings(spark, sf_dir)
    q = e.where(N_QUERIES_PRED)
    pred = knn_classify(q, e, KNN_K)
    truth = q.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("true_label")
    )
    return pred.join(truth, "q_id").select(
        "q_id",
        "predicted_label",
        "votes",
        F.col("true_label").cast("long").alias("true_label"),
        (F.col("predicted_label") == F.col("true_label"))
        .cast("int")
        .alias("correct"),
    )


# ---------------------------------------------------------------------------
# r8: retrieval-quality evaluation (nDCG@k against label relevance)
# ---------------------------------------------------------------------------

NDCG_K = 10


@query(
    "similarity_ndcg_eval",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe, label AS q_label
               FROM embeddings WHERE {N_QUERIES_PRED}),
         scored AS (
            SELECT q_id, q_label, c.vec_id AS neighbor_id, c.label AS n_label,
                   round(list_cosine_similarity(qe, c.embedding::DOUBLE[]), 6)
                       AS cosine
            FROM q JOIN embeddings c ON c.vec_id != q_id
         ),
         ranked AS (
            SELECT q_id, q_label, n_label,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM scored
         ),
         hits AS (
            SELECT q_id, q_label,
                   CAST(sum(CASE WHEN n_label = q_label
                            THEN CAST(round(1e9 / log2(rnk + 1)) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS dcg_nano,
                   CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
                        AS BIGINT) AS rel_at_k
            FROM ranked WHERE rnk <= {NDCG_K} GROUP BY q_id, q_label
         ),
         tot AS (
            SELECT q.q_id, count(*) AS total_rel
            FROM q JOIN embeddings c
              ON c.label = q.q_label AND c.vec_id != q.q_id
            GROUP BY q.q_id
         ),
         ideal AS (
            SELECT t.q_id,
                   CAST(sum(CAST(round(1e9 / log2(i.i + 1)) AS BIGINT))
                        AS BIGINT) AS idcg_nano
            FROM tot t,
                 LATERAL (SELECT unnest(generate_series(
                              1, CAST(least(t.total_rel, {NDCG_K}) AS INTEGER)))
                          AS i) i
            GROUP BY t.q_id
         )
    SELECT h.q_id, h.q_label, t.total_rel, h.rel_at_k,
           round(CAST(h.dcg_nano AS DOUBLE) / i.idcg_nano, 6) AS ndcg
    FROM hits h JOIN tot t USING (q_id) JOIN ideal i USING (q_id)
    ORDER BY h.q_id
    """,
)
def similarity_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation (Järvelin & Kekäläinen 2002,
    "Cumulated gain-based evaluation of IR techniques"): nDCG@10 of
    the exact cosine
    ranking, scored against label agreement as binary relevance — the
    offline eval loop every embedding-based retrieval / RAG corpus
    runs when embeddings are refreshed.

    Plan: the broadcast-query brute-force ranking (cosine_topk, the
    ANN family's truth baseline) produces k rows per query; labels
    attach by joining the TINY top-k table (broadcast) against the
    corpus scan — never corpus×corpus; per-label totals are a
    label-cardinality aggregate.  Engine exactness: each rank's
    discount 1/log2(rnk+1) snaps to nano-units int64 BEFORE the
    order-free per-query sum (the text-entropy pattern), ideal DCG
    sums the SAME snapped table over generate_series, one double
    division at the end."""
    e = corpus_embeddings(spark, sf_dir)
    q = e.where(N_QUERIES_PRED)
    top = cosine_topk(q, e, NDCG_K)
    labels = e.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label"))
    qlab = q.select(F.col("vec_id").alias("q_id"), F.col("label").alias("q_label"))
    nano = F.expr("cast(round(1e9 / log2(rnk + 1)) as bigint)")
    rel = (F.col("n_label") == F.col("q_label")).cast("long")
    hits = (
        labels.join(F.broadcast(top), "neighbor_id")
        .join(F.broadcast(qlab), "q_id")
        .groupBy("q_id", "q_label")
        .agg(
            F.sum(nano * rel).alias("dcg_nano"),
            F.sum(rel).alias("rel_at_k"),
        )
    )
    lab_counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_lab"))
    tot = (
        qlab.join(F.broadcast(lab_counts), qlab.q_label == lab_counts.label)
        .select("q_id", "q_label", (F.col("n_lab") - 1).alias("total_rel"))
    )
    idcg = F.expr(
        f"aggregate(sequence(1, int(least(total_rel, {NDCG_K}))),"
        " cast(0 as bigint),"
        " (acc, i) -> acc + cast(round(1e9 / log2(i + 1)) as bigint))"
    )
    return (
        hits.join(F.broadcast(tot.select("q_id", "total_rel")), "q_id")
        # a query whose label has NO other corpus member has an empty
        # ideal ranking (nDCG undefined): drop it, exactly as the
        # oracle's LATERAL over an empty generate_series drops the row
        # (and Spark's sequence(1, 0) would DESCEND through log2(1)=0)
        .where(F.col("total_rel") > 0)
        .select(
            "q_id",
            "q_label",
            "total_rel",
            "rel_at_k",
            F.round(
                F.col("dcg_nano").cast("double") / idcg, 6
            ).alias("ndcg"),
        )
        .orderBy("q_id")
    )
