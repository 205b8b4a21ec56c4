"""Persisted + stream-maintained MinHash band index — the dedup
plane's membership index, on the same snapshot/maintain/drift/compact
lifecycle as the ANN families (operators/similarity.py::write_*_index
+ streaming/ann_index_stream.py).

Why an index: ``minhash_lsh_pairs`` answers "which docs in THIS corpus
near-duplicate each other" with one banding pass.  The production
question at 100 TB is incremental — "which of today's arrivals
near-duplicate ANYTHING already ingested" — and re-banding the full
corpus per arrival batch is exactly the cost an inverted structure
exists to avoid.  The index persists the banding pass once per corpus
snapshot as ``{path}/bands`` — (bh, doc_id) postings PARTITIONED BY
``band`` — and a query batch then costs: sign the batch (batch-linear,
the same vectorized mapInPandas signature pass the pair path uses),
one equi-join on (band, bh) against the postings (touching only the
matched buckets' rows), and an exact-Jaccard verify over the matched
candidates.  Corpus-size-independent work per query batch, except the
shuffle of the buckets the queries actually hit.

Banding is SHARED with the pair path (``dedup.band_rows`` — same
signature permutations, same band slice hash), so a doc collides with
the same buckets whether banded in one pass or written into the index
and probed later.  That is what lets ``dedup_minhash_lsh_persisted``
share ``dedup_minhash_lsh``'s committed golden: querying the corpus
against its own persisted index reproduces the pair path's output
pair-for-pair wherever no band bucket exceeds ``BUCKET_CAP`` (the test
corpora are far under it; an over-cap bucket degrades differently —
the pair path links overflow members to the bucket representative,
the query path simply bounds each bucket's candidate contribution to
its first cap members by doc_id — both are the documented bounded-
recall trade, never an unbounded fanout).

Scale shape per query batch of M docs: signing is M-linear map-side
work; the probe join moves only matched-bucket postings rows; the
per-bucket rank cap bounds candidates at M × BANDS × BUCKET_CAP; the
verify join is candidate-linear with exact precision.  Maintenance
appends are batch-sized slices through the shared ``publish_batch``
exactly-once contract; the drift ledger watches the arrival stream's
exact-duplicate rate (a boilerplate surge is what degrades bucket
geometry here, the analogue of IVF's cells going stale).

Reference parity: the public reference (kackyt/mahjong-etl) delegates
all querying to Athena (scrape.py:13-668 writes parquet; no index
plane exists there) — this module is part of the SURVEY §7-step-6
training-data-pipeline extension plane.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import query
from ..session import scratch_dir, snapshot_cache
from ..sources.tables import load_spread
from .dedup import (
    BANDS,
    BUCKET_CAP,
    JACCARD_THRESHOLD,
    ROWS_PER_BAND,
    _GOLDEN_DIR,
    band_rows,
    corpus_shingle_sets,
    minhash_signatures,
    shingle_sets,
)


# Hive shards of the persisted verify relation ({path}/shingles) —
# the same deterministic doc_id-mod layout as the PQ ``codes/shard=``
# table, so the maintenance/admission appends land in a stable
# partition scheme and a candidate-side broadcast join can prune.
SHINGLE_SHARDS = 64


def _shingle_table(docs: DataFrame, n: int) -> DataFrame:
    from ..functions.text import shingles_expr

    return docs.select(
        "doc_id",
        shingles_expr(n).alias("shingles"),
        F.pmod(F.col("doc_id"), F.lit(SHINGLE_SHARDS))
        .cast("int")
        .alias("shard"),
    )


def write_minhash_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    n: int = 3,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    with_shingles: bool = True,
) -> None:
    """Persist the banding pass: ``{path}/bands`` = (bh, doc_id)
    partitioned by ``band`` — 16 hive partitions whose files the
    maintenance stream appends into batch-keyed, exactly like the IVF
    ``postings/cluster=`` layout.  Storage is corpus-LINEAR (one row
    per (doc, band)); no quadratic term exists at rest — the pair
    blowup is bounded at query time by the per-bucket rank cap.

    ``with_shingles`` (default, r14) additionally persists the VERIFY
    relation ``{path}/shingles`` = (doc_id, shingles) sharded by
    ``doc_id mod SHINGLE_SHARDS`` — the exact-Jaccard side the query
    path and the admission gate's verify mode otherwise re-derive by
    re-shingling the corpus text EVERY call/micro-batch (the r13
    verdict's open cost).  The maintenance and admission streams
    append arrivals into it through the same ``publish_batch``
    contract, which is also what lets verify-mode admission stay
    self-maintaining: a doc the GATE admitted three batches ago has
    its shingles here, not only its bands (r13 ADVICE, medium).
    Pass ``False`` for a bands-only index (band-hit flagging only —
    verify mode then needs a caller-supplied ``verify_docs``).

    Same lifecycle furniture as the ANN snapshots: a fresh
    ``_index_epoch`` fences stale maintenance checkpoints, stale
    commit markers are cleared, session caches for the path are
    busted, the PRE-rebuild drift ledger is cleared (its rows
    describe the index this rebuild replaces — r13 ADVICE), and the
    build-time EXACT-DUPLICATE RATE of the corpus lands in
    ``_drift/baseline.json`` — the reference the maintenance drift
    monitor compares arrival batches against (a boilerplate surge,
    not vector drift, is what degrades an LSH index: buckets fill
    with copies and the cap starts costing recall).  The baseline
    also records BUCKET PRESSURE (max band-bucket size + how many
    buckets sit within 2x of BUCKET_CAP, measured from the
    just-written postings — a metadata-cheap scan) and logs loudly
    when any bucket is near the cap: past it the probe path's
    bounded-recall cap starts to bind (r13 verdict item 6)."""
    import json as _json

    from ..streaming.ann_index_stream import (
        mark_index_rebuilt,
        write_drift_baseline,
    )
    from .dedup import BUCKET_PRESSURE_BAR, _dup_stats

    sig = minhash_signatures(
        docs.select("doc_id", "text"), n, bands * rows_per_band
    )
    band_rows(sig, bands, rows_per_band).write.mode(
        "overwrite"
    ).partitionBy("band").parquet(f"{path}/bands")
    if with_shingles:
        # repartition ON the shard key first: partitionBy alone writes
        # (tasks x shards) files — 2048 at 32 tasks / 64 shards, and
        # the measured 500k-doc build spent ~4/5 of its wall in that
        # small-file fanout; clustered, each task writes whole shards
        # (~64 files total) and the build is shingle-expr-bound
        _shingle_table(docs, n).repartition(
            F.col("shard")
        ).write.mode("overwrite").partitionBy("shard").parquet(
            f"{path}/shingles"
        )
    fs = mark_index_rebuilt(spark, path)
    # record the banding geometry: every later probe/append MUST band
    # with the same (n, bands, rows_per_band) or the slice hashes
    # disagree and the join silently matches nothing — the streams
    # read this, batch queries fetch it via read_minhash_geometry
    fs.write_bytes(
        f"{fs.root}/_geometry.json",
        _json.dumps(
            {"n": n, "bands": bands, "rows_per_band": rows_per_band}
        ).encode(),
    )
    stats = _dup_stats(docs)
    n_docs = stats.n_docs or 0
    n_texts = stats.n_texts or 0
    # bucket pressure from the just-written postings (one scan of the
    # small (band, bh, doc_id) relation — never a second signing pass)
    (prow,) = (
        spark.read.parquet(f"{path}/bands")
        .groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(
            F.max("sz").alias("mx"),
            F.sum(
                F.when(F.col("sz") >= BUCKET_PRESSURE_BAR, 1).otherwise(0)
            ).alias("near"),
        )
        .collect()
    )
    max_bucket = int(prow.mx or 0)
    near_cap = int(prow.near or 0)
    if near_cap:
        import logging

        logging.getLogger(__name__).warning(
            "minhash index %s: %d band bucket(s) within 2x of "
            "BUCKET_CAP (max bucket %d, bar %d) — the probe path's "
            "per-bucket candidate cap is close to binding; recall "
            "past the cap degrades to rep-links (see "
            "operators/dedup.py::minhash_lsh_pairs cap discipline)",
            path,
            near_cap,
            max_bucket,
            BUCKET_PRESSURE_BAR,
        )
    write_drift_baseline(
        fs,
        {
            "n": n_docs,
            "n_texts": n_texts,
            "dup_rate": ((n_docs - n_texts) / n_docs) if n_docs else 0.0,
            "max_bucket": max_bucket,
            "near_cap_buckets": near_cap,
            "kind": "minhash_dup_rate",
        },
    )


def read_minhash_index(spark: SparkSession, path: str) -> DataFrame:
    """The persisted band postings — the shape
    :func:`query_minhash_index` consumes."""
    return spark.read.parquet(f"{path}/bands").select(
        "band", "bh", "doc_id"
    )


def read_minhash_shingles(
    spark: SparkSession, path: str
) -> DataFrame | None:
    """The persisted verify relation (doc_id, shingles), or ``None``
    for a bands-only / pre-r14 index (callers then fall back to
    shingling a corpus relation).  Self-maintained: the maintenance
    and admission streams append arrivals' rows alongside the bands,
    so it tracks the postings' membership (the one skew: a crash
    between the two publishes leaves the just-published bands without
    shingles until the replay lands — the admission gate's verify
    mode falls back to band-hit flagging for exactly that window,
    never fails open)."""
    from ..streaming.etl_stream import _meta_fs

    fs = _meta_fs(spark, path)
    if fs.kind(f"{fs.root}/shingles") != "dir":
        return None
    return spark.read.parquet(f"{path}/shingles").select(
        "doc_id", "shingles"
    )


def read_minhash_geometry(spark: SparkSession, path: str) -> dict:
    """The banding geometry an index was built with — query/maintain
    MUST band with the same (n, bands, rows_per_band) or the probe
    join silently matches nothing (band slice hashes disagree).  The
    maintenance and admission streams read this themselves; batch
    callers of :func:`query_minhash_index` pass it through.  A
    pre-r13 index without the file gets the module defaults (the only
    geometry that ever existed before the file did)."""
    import json as _json

    from ..streaming.etl_stream import _meta_fs

    fs = _meta_fs(spark, path)
    p = f"{fs.root}/_geometry.json"
    if fs.kind(p) != "file":
        return {"n": 3, "bands": BANDS, "rows_per_band": ROWS_PER_BAND}
    return _json.loads(fs.read_bytes(p).decode())


def probe_candidates(
    postings: DataFrame,
    q_bands: DataFrame,
    exclude_ids: DataFrame | None = None,
    cap: int = BUCKET_CAP,
) -> DataFrame:
    """Capped (q_id, match_id, n_band_hits) candidate pairs from the
    (band, bh) probe join — the ONE implementation of the index
    probe, shared by :func:`query_minhash_index` (which ignores the
    hit count — its precision comes from the exact verify) and the
    streaming admission gate (whose verify-free mode flags ON the
    hit count).

    Only buckets some query hits flow into the rank window, and each
    bucket contributes at most ``cap`` postings (rank by doc_id) — a
    mega-duplicate bucket costs cap, not its size (the pair path's
    bounded-recall trade, _bucket_pairs).  ``exclude_ids`` (a doc_id
    relation) removes postings BEFORE the cap window: an excluded
    posting must not consume a cap slot — the admission stream's
    replay determinism depends on this ordering, because a crashed
    attempt's leftover own-batch rows would otherwise displace
    genuine indexed docs past the cap and flip a replayed decision."""
    hit = postings.join(
        q_bands.select("band", "bh").distinct(), ["band", "bh"]
    )
    if exclude_ids is not None:
        hit = hit.join(
            exclude_ids.select("doc_id"), "doc_id", "left_anti"
        )
    w = Window.partitionBy("band", "bh").orderBy("doc_id")
    capped = (
        hit.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= cap)
        .select("band", "bh", F.col("doc_id").alias("match_id"))
    )
    return (
        q_bands.join(capped, ["band", "bh"])
        .where(F.col("q_id") != F.col("match_id"))
        .groupBy("q_id", "match_id")
        .agg(F.count_distinct("band").alias("n_band_hits"))
    )


def verify_jaccard(
    cand: DataFrame,
    qsh: DataFrame,
    csh: DataFrame,
    threshold: float | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of (q_id, match_id) candidate rows
    (extra columns pass through): joins the two shingle-set relations
    — ``qsh`` keyed q_id/sh_a, ``csh`` keyed match_id/sh_b — appends
    the rounded ``jaccard``, and filters at ``threshold`` when one is
    given.  Shared by the batch query path and the admission gate's
    verify mode."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    out = cand.join(qsh, "q_id").join(csh, "match_id")
    if threshold is not None:
        # filter on the UNROUNDED value (the pair path's semantics —
        # a boundary pair must not flip in or out on the 6dp round)
        out = out.where(jac >= F.lit(threshold))
    return out.withColumn("jaccard", F.round(jac, 6)).drop("sh_a", "sh_b")


def query_minhash_index(
    spark: SparkSession,
    queries_df: DataFrame,
    corpus_df: DataFrame,
    postings: DataFrame,
    n: int = 3,
    threshold: float = JACCARD_THRESHOLD,
    sh: DataFrame | None = None,
    qsh: DataFrame | None = None,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    index_dir: str | None = None,
) -> DataFrame:
    """(doc_id, match_id, jaccard) — for each query doc, the indexed
    docs it near-duplicates: candidates from the capped (band, bh)
    probe join (:func:`probe_candidates`), precision made exact by a
    shingle-set Jaccard verify (:func:`verify_jaccard`).

    ``corpus_df`` supplies the candidate texts for the verify step
    (the index stores postings, not shingle sets — the same
    division of labor as the ANN family's exact rerank against the
    corpus vectors); ``sh``/``qsh`` let a caller hand in
    already-materialized shingle sets for either side (the
    corpus-vs-self registry wrapper passes the session-cached corpus
    relation for BOTH — one shingle pass per corpus per session
    instead of two per call).  ``index_dir`` (r14) points the verify
    step at the index's own PERSISTED shingle relation
    (:func:`read_minhash_shingles`) when no ``sh`` is handed in — a
    caller outside the session cache then pays a parquet scan of
    pre-computed arrays instead of re-shingling the corpus text per
    call (caveat: mid-crash-window arrivals whose bands landed but
    whose shingles have not yet replayed in are dropped by the
    verify's inner join — pass ``corpus_df``-derived ``sh`` when
    that window matters).  ``n``/``bands``/``rows_per_band`` MUST
    match the index's build geometry — fetch it with
    :func:`read_minhash_geometry` when it might not be the default
    (mismatched geometry silently matches nothing).

    ADAPTIVE QUERY COLLAPSE (the pair path's r12/r13 move, applied to
    the probe side): a copy-heavy query batch would otherwise probe
    the same buckets once PER COPY — on the 100× probe corpus (100
    copies of every text) that is a quadratic (copies × bucket
    members) candidate fanout.  The same cheap deciding aggregate
    (count vs count-distinct over the query batch) triggers a
    collapse past the pair path's bar: distinct-text REPS probe the
    index, and the rep's matches expand back to every member —
    output-preserving because copies share their rep's text, hence
    its buckets, candidates and Jaccard values exactly; a member's
    own match set differs from its rep's only by swapping itself out
    and the rep in, which the expansion reconstructs — the (member,
    rep) self-link rides a separate union GATED on the rep actually
    being IN the index (a semi-join against the postings): without
    the gate, a batch of ≥ cap copies of a brand-NEW text would
    fabricate matches to a fellow arrival the direct path never
    emits (r13 review finding).  INNER joins throughout — the
    LEFT-join build-side lesson of SCALE.md.  Below the bar the
    direct shape runs unchanged (a handful of redundant probes is
    cheaper than collapse stages — the r13 skip-regime measurement)."""
    from .dedup import _dup_stats

    stats = _dup_stats(queries_df)
    n_copies = (stats.n_docs or 0) - (stats.n_texts or 0)
    if n_copies >= BUCKET_CAP:
        key = F.md5("text")
        groups = (
            queries_df.groupBy(key.alias("k"))
            .agg(F.min("doc_id").alias("rep"))
        )
        members = (
            queries_df.select("doc_id", key.alias("k"))
            .join(groups, "k")
            .select("rep", "doc_id")
        )
        reps = queries_df.join(
            members.where(F.col("doc_id") == F.col("rep")).select(
                "doc_id"
            ),
            "doc_id",
        )
        rep_matches = query_minhash_index(
            spark, reps, corpus_df, postings, n, threshold, sh,
            bands=bands, rows_per_band=rows_per_band,
            index_dir=index_dir,
            # qsh deliberately NOT forwarded: the reps are a subset,
            # and the direct path computes their shingles from the
            # (already slivered) reps relation
        ).withColumnRenamed("doc_id", "rep")
        expanded = (
            members.join(rep_matches, "rep")
            .where(F.col("doc_id") != F.col("match_id"))
            .select("doc_id", "match_id", "jaccard")
        )
        self_links = (
            members.where(F.col("doc_id") != F.col("rep"))
            .select(
                "doc_id",
                F.col("rep").alias("match_id"),
                F.round(F.lit(1.0), 6).alias("jaccard"),
            )
            # the rep is a legitimate MATCH only if it is itself
            # indexed (postings carry ~bands rows per doc — a semi
            # join neither multiplies nor needs a distinct)
            .join(
                postings.select(F.col("doc_id").alias("match_id")),
                "match_id",
                "left_semi",
            )
        )
        return expanded.unionByName(self_links)

    # localCheckpoint (r14, guide §2.4): probe_candidates consumes
    # q_bands TWICE (the bucket-hit join and the re-attach join after
    # the cap window) and each consumer re-plans the Python signing
    # pass over the query corpus — the same duplicated-subtree shape
    # _bucket_pairs fixed on the pair path.  Bands-per-doc thin rows,
    # exactly what the probe shuffle ships anyway.
    q_bands = (
        band_rows(
            minhash_signatures(
                queries_df.select("doc_id", "text"), n, bands * rows_per_band
            ),
            bands,
            rows_per_band,
        )
        .withColumnRenamed("doc_id", "q_id")
        .localCheckpoint()
    )
    cand = probe_candidates(postings, q_bands)
    qsh = (shingle_sets(queries_df, n) if qsh is None else qsh).select(
        F.col("doc_id").alias("q_id"), F.col("shingles").alias("sh_a")
    )
    if sh is None and index_dir is not None:
        sh = read_minhash_shingles(spark, index_dir)
    csh = (shingle_sets(corpus_df, n) if sh is None else sh).select(
        F.col("doc_id").alias("match_id"), F.col("shingles").alias("sh_b")
    )
    return (
        verify_jaccard(cand, qsh, csh, threshold)
        .withColumnRenamed("q_id", "doc_id")
        .select("doc_id", "match_id", "jaccard")
    )


@snapshot_cache
def _ensure_minhash_index(spark: SparkSession, sf_dir: str) -> str:
    path = scratch_dir("minhash_index_")
    write_minhash_index(spark, load_spread(spark, sf_dir, "documents"), path)
    return path


@query(
    "dedup_minhash_lsh_persisted",
    oracle=f"""
    SELECT doc_a, doc_b, jaccard
    FROM read_parquet('{_GOLDEN_DIR}/dedup_minhash_golden.parquet')
    WHERE corpus_sig = (SELECT CAST(sum(length(text)) AS BIGINT) FROM documents)
    """,
)
def dedup_minhash_lsh_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash band-index write→read→query lifecycle: the banding
    pass persisted to band-partitioned parquet, read back cold, and
    the corpus queried against its OWN persisted index — each doc's
    matches fold to unordered (doc_a < doc_b) pairs, which must
    reproduce ``dedup_minhash_lsh``'s output pair-for-pair (shared
    banding, shared verify, no bucket near BUCKET_CAP at these
    corpora), so it shares that query's committed corpus_sig-keyed
    golden."""
    docs = load_spread(spark, sf_dir, "documents")
    postings = read_minhash_index(
        spark, _ensure_minhash_index(spark, sf_dir)
    )
    cached_sh = corpus_shingle_sets(spark, sf_dir)
    matches = query_minhash_index(
        spark, docs, docs, postings, sh=cached_sh, qsh=cached_sh
    )
    return (
        matches.select(
            F.least("doc_id", "match_id").alias("doc_a"),
            F.greatest("doc_id", "match_id").alias("doc_b"),
            "jaccard",
        )
        .distinct()
    )
