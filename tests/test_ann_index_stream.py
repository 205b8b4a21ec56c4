"""Streaming IVF index maintenance (streaming/ann_index_stream.py):
the maintained index must be BIT-IDENTICAL to a batch rebuild over the
union corpus with the same frozen centroids, and the batch-keyed
publish must replay without duplicating postings."""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import functions as F

from mahjong_etl_spark.operators.similarity import (
    ann_ivf_topk,
    read_ivf_index,
    train_ivf_centroids,
    with_norm,
    write_ivf_index,
)
from mahjong_etl_spark.streaming.ann_index_stream import (
    run_ivf_maintenance_stream,
)

TOPK = 5


def _load_emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")



def _prebuilt_ann(index_cache, kind, builder, dst, tag):
    """Copy of a pristine prebuilt index (conftest.index_cache —
    deterministic builds trained once per session); ``tag``
    distinguishes base-corpus cuts so each (kind, corpus) trains
    exactly once.  Full-corpus indexes come from
    ``index_cache.ann_full``."""
    return index_cache.fresh(f"annidx_{kind}_{tag}", builder, dst)

def _drain(spark, drop_dir, index_dir, ckpt):
    schema = "vec_id long, embedding array<float>, label int"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop_dir)
    )
    q = run_ivf_maintenance_stream(spark, stream, index_dir, ckpt)
    assert q.awaitTermination(120), "maintenance stream did not drain"
    q.stop()
    time.sleep(0.2)


def _postings_set(spark, index_dir):
    return {
        (r.cluster, r.vec_id)
        for r in spark.read.parquet(f"{index_dir}/postings").collect()
    }


def test_maintained_index_matches_batch_rebuild(spark, sf_dir, tmp_path):
    """Build the index on the first 60% of the corpus, stream the rest
    in as three arrival files, then: (a) the maintained postings equal
    a from-scratch write_ivf_index over the FULL corpus with the same
    centroids; (b) queries served from the maintained index return
    rows identical to the rebuild's."""
    e = _load_emb(spark, sf_dir)
    cut = int(e.count() * 0.6)
    base = e.where(F.col("vec_id") < cut)
    late = e.where(F.col("vec_id") >= cut)

    index_dir = str(tmp_path / "index")
    write_ivf_index(spark, base, index_dir)

    # three arrival files with distinct mtimes (micro-batch order)
    drop = tmp_path / "drop"
    drop.mkdir()
    parts = late.randomSplit([1.0, 1.0, 1.0], seed=7)
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{i}")
        )
        (src,) = glob.glob(str(tmp_path / f"stage{i}" / "part-*.parquet"))
        dst = drop / f"arrival{i}.parquet"
        os.rename(src, dst)
        os.utime(dst, (1_000 + i, 1_000 + i))
    _drain(spark, str(drop), index_dir, str(tmp_path / "ckpt"))

    # (a) postings parity with a batch rebuild on the same centroids
    cents, postings = read_ivf_index(spark, index_dir)
    rebuilt_dir = str(tmp_path / "rebuilt")
    write_ivf_index(spark, e, rebuilt_dir, centroids=cents)
    assert _postings_set(spark, index_dir) == _postings_set(
        spark, rebuilt_dir
    )
    # every corpus vector is indexed exactly once
    assert postings.count() == e.count()
    assert postings.select("vec_id").distinct().count() == e.count()

    # (b) served queries are row-identical to the rebuild
    queries = e.where("vec_id < 5")
    from_maintained = {
        tuple(r)
        for r in ann_ivf_topk(
            spark, queries, e, TOPK, centroids=cents, postings=postings
        ).collect()
    }
    _, rebuilt_postings = read_ivf_index(spark, rebuilt_dir)
    from_rebuilt = {
        tuple(r)
        for r in ann_ivf_topk(
            spark,
            queries,
            e,
            TOPK,
            centroids=cents,
            postings=rebuilt_postings,
        ).collect()
    }
    assert from_maintained == from_rebuilt and from_maintained


def test_replay_does_not_duplicate_postings(spark, sf_dir, tmp_path, index_cache):
    """Crash-window replay: wipe a committed batch's marker AND its
    checkpoint commit (the crash-before-marker state) — the re-drain
    must erase its own leftovers and re-publish into the SAME final
    posting set, never a duplicated one."""
    e = _load_emb(spark, sf_dir)
    cut = int(e.count() * 0.8)
    index_dir = str(tmp_path / "index")
    _prebuilt_ann(
        index_cache, "ivf",
        lambda d: write_ivf_index(
            spark, e.where(F.col("vec_id") < cut), d
        ),
        index_dir, tag=f"cut{cut}",
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    e.where(F.col("vec_id") >= cut).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "stage"))
    (src,) = glob.glob(str(tmp_path / "stage" / "part-*.parquet"))
    os.rename(src, drop / "arrival.parquet")
    ckpt = str(tmp_path / "ckpt")
    _drain(spark, str(drop), index_dir, ckpt)
    want = _postings_set(spark, index_dir)

    # simulate the crash: batch published but marker + ckpt commit lost
    (marker,) = glob.glob(f"{index_dir}/_batch_commits/*-0")
    os.remove(marker)
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    _drain(spark, str(drop), index_dir, ckpt)

    assert _postings_set(spark, index_dir) == want
    # and a plain re-drain with nothing new is a committed no-op
    _drain(spark, str(drop), index_dir, ckpt)
    assert _postings_set(spark, index_dir) == want


def _stage_arrival(df, tmp_path, drop, name, mtime):
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / f"stage_{name}")
    )
    (src,) = glob.glob(str(tmp_path / f"stage_{name}" / "part-*.parquet"))
    dst = drop / f"{name}.parquet"
    os.rename(src, dst)
    os.utime(dst, (mtime, mtime))


def test_drift_ledger_flags_distribution_shift(spark, sf_dir, tmp_path, index_cache):
    """The data-driven retrain signal (r10 verdict item 3): arrivals
    drawn from the index's own distribution record ledger rows but do
    NOT flag; a shifted batch (every component +5 — mass the frozen
    codebook has no resolution for) flips rebuild_recommended, and the
    summary surfaced by the CLI reflects the newest batch."""
    from mahjong_etl_spark.streaming.ann_index_stream import (
        DRIFT_MIN_BATCH,
        read_drift,
        rebuild_recommended,
    )

    e = _load_emb(spark, sf_dir)
    n = e.count()
    assert n >= DRIFT_MIN_BATCH  # both arrival batches clear the bar
    index_dir = str(tmp_path / "index")
    index_cache.ann_full(spark, sf_dir, "ivf", index_dir)

    drop = tmp_path / "drop"
    drop.mkdir()
    # batch 0: the corpus itself under fresh ids (in-distribution)
    same = e.select(
        (F.col("vec_id") + n).alias("vec_id"), "embedding", "label"
    )
    _stage_arrival(same, tmp_path, drop, "same", 1_000)
    # batch 1: every component shifted +5.0 (out-of-distribution)
    shifted = e.select(
        (F.col("vec_id") + 2 * n).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> cast(x + 5.0 as float))"
        ).alias("embedding"),
        "label",
    )
    _stage_arrival(shifted, tmp_path, drop, "shifted", 2_000)
    _drain(spark, str(drop), index_dir, str(tmp_path / "ckpt"))

    rows = sorted(
        read_drift(spark, index_dir).collect(), key=lambda r: r.batch_id
    )
    assert len(rows) == 2
    assert not rows[0].rebuild_recommended
    assert abs(rows[0].residual_ratio - 1.0) < 0.25  # same distribution
    assert rows[1].rebuild_recommended
    assert rows[1].residual_ratio > 1.5
    summary = rebuild_recommended(spark, index_dir)
    assert summary["rebuild_recommended"] is True
    assert summary["batches"] == 2 and summary["flagged"] == 1


def test_rebuild_fences_stale_checkpoint(spark, sf_dir, tmp_path, index_cache):
    """An in-place rebuild (fresh _index_epoch) must make a restart
    against the OLD checkpoint refuse loudly (r10 advice: a crashed
    unmarked batch replaying against the new centroids would append
    vec_ids the rebuild already indexed); a fresh checkpoint runs."""
    import pytest

    e = _load_emb(spark, sf_dir)
    cut = int(e.count() * 0.8)
    index_dir = str(tmp_path / "index")
    _prebuilt_ann(
        index_cache, "ivf",
        lambda d: write_ivf_index(
            spark, e.where(F.col("vec_id") < cut), d
        ),
        index_dir, tag=f"cut{cut}",
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    _stage_arrival(
        e.where(F.col("vec_id") >= cut), tmp_path, drop, "arrival", 1_000
    )
    ckpt = str(tmp_path / "ckpt")
    _drain(spark, str(drop), index_dir, ckpt)

    # in-place rebuild over the union corpus: fresh epoch, stale
    # maintenance markers cleared
    write_ivf_index(spark, e, index_dir)
    assert not os.path.exists(f"{index_dir}/_batch_commits")

    with pytest.raises(RuntimeError, match="REBUILT"):
        _drain(spark, str(drop), index_dir, ckpt)

    # a fresh checkpoint (with a re-dropped arrival dir) is the
    # sanctioned restart path
    drop2 = tmp_path / "drop2"
    drop2.mkdir()
    _drain(spark, str(drop2), index_dir, str(tmp_path / "ckpt2"))


def test_compact_postings_preserves_rows_and_replay_safety(
    spark, sf_dir, tmp_path, index_cache
):
    """The cluster-scoped compactor (r10 verdict item 4): after many
    tiny maintenance batches, compaction must (a) cut the posting file
    count, (b) leave the posting ROWS bit-identical, (c) keep served
    queries identical, and (d) stay replay-safe — a committed batch
    re-offered after compaction short-circuits on its marker instead
    of re-erasing files the swap folded away."""
    from mahjong_etl_spark.streaming.ann_index_stream import (
        compact_postings,
    )

    e = _load_emb(spark, sf_dir)
    cut = int(e.count() * 0.6)
    index_dir = str(tmp_path / "index")
    _prebuilt_ann(
        index_cache, "ivf",
        lambda d: write_ivf_index(
            spark, e.where(F.col("vec_id") < cut), d
        ),
        index_dir, tag=f"cut{cut}",
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    late = e.where(F.col("vec_id") >= cut)
    parts = late.randomSplit([1.0] * 8, seed=11)
    for i, p in enumerate(parts):
        _stage_arrival(p, tmp_path, drop, f"arrival{i}", 1_000 + i)
    ckpt = str(tmp_path / "ckpt")
    _drain(spark, str(drop), index_dir, ckpt)

    def files():
        return glob.glob(f"{index_dir}/postings/cluster=*/*.parquet")

    before_files = files()
    want = _postings_set(spark, index_dir)
    rewritten = compact_postings(spark, index_dir)
    assert rewritten  # at least one cluster partition was rewritten
    assert len(files()) < len(before_files)
    assert _postings_set(spark, index_dir) == want

    # served-query parity across the swap
    cents, postings = read_ivf_index(spark, index_dir)
    got = {
        tuple(r)
        for r in ann_ivf_topk(
            spark, e.where("vec_id < 5"), e, TOPK,
            centroids=cents, postings=postings,
        ).collect()
    }
    assert got

    # replay a COMMITTED batch (wipe the checkpoint commit, keep the
    # publish marker): the marker short-circuit must make it a no-op —
    # the compacted files are never touched
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    _drain(spark, str(drop), index_dir, ckpt)
    assert _postings_set(spark, index_dir) == want


def test_frozen_centroids_read_once_per_session(spark, sf_dir, tmp_path):
    """The centroid cache: two assign calls against one index read the
    ndarray once (landed snapshots are immutable), and the assignment
    equals the batch plane's against the same matrix."""
    from mahjong_etl_spark.operators.similarity import _assign_clusters
    from mahjong_etl_spark.streaming import ann_index_stream as ais

    e = _load_emb(spark, sf_dir)
    index_dir = str(tmp_path / "index")
    cents = train_ivf_centroids(with_norm(e))
    write_ivf_index(spark, e, index_dir, centroids=cents)

    reads = []

    import mahjong_etl_spark.operators.similarity as sim

    orig = sim._read_ndarray

    def counting(spark_, path):
        reads.append(path)
        return orig(spark_, path)

    ais._index_array.cache_clear()
    try:
        sim._read_ndarray = counting
        a1 = {
            tuple(r)
            for r in ais.assign_batch(spark, e, index_dir).collect()
        }
        a2 = {
            tuple(r)
            for r in ais.assign_batch(spark, e, index_dir).collect()
        }
    finally:
        sim._read_ndarray = orig
    assert len(reads) == 1
    want = {
        (r.cluster, r.vec_id)
        for r in _assign_clusters(with_norm(e), cents).collect()
    }
    assert a1 == a2 == want


def test_compact_recommended_flags_past_knee(spark, sf_dir, tmp_path, monkeypatch, index_cache):
    """The small-file twin of the drift flag (r11 verdict item 5):
    accumulate maintenance batches past the (lowered) knee and the
    summary must flag; compacting clears it."""
    import mahjong_etl_spark.streaming.ann_index_stream as ais

    e = _load_emb(spark, sf_dir)
    cut = int(e.count() * 0.6)
    index_dir = str(tmp_path / "index")
    _prebuilt_ann(
        index_cache, "ivf",
        lambda d: write_ivf_index(
            spark, e.where(F.col("vec_id") < cut), d
        ),
        index_dir, tag=f"cut{cut}",
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    parts = e.where(F.col("vec_id") >= cut).randomSplit([1.0] * 6, seed=3)
    for i, p in enumerate(parts):
        _stage_arrival(p, tmp_path, drop, f"arrival{i}", 1_000 + i)
    _drain(spark, str(drop), index_dir, str(tmp_path / "ckpt"))

    base = ais.compact_recommended(spark, index_dir)
    assert base["files"] > 0 and base["partitions"] > 0
    assert base["max_partition_files"] <= base["files"]
    assert base["compact_recommended"] is False  # real knee is 1000

    monkeypatch.setattr(ais, "POSTINGS_FILE_KNEE", base["files"] - 1)
    assert ais.compact_recommended(spark, index_dir)[
        "compact_recommended"
    ] is True

    ais.compact_postings(spark, index_dir)
    after = ais.compact_recommended(spark, index_dir)
    assert after["files"] < base["files"]
    assert after["compact_recommended"] is (
        after["files"] > base["files"] - 1
    )


def test_drift_rows_are_per_batch_files_no_lost_updates(spark, tmp_path):
    """ADVICE r12: the ledger is one write-once file per (lineage,
    batch) — two writers (different lineages, e.g. two driver
    processes) never overwrite each other, a replayed batch lands on
    its SAME file name (no duplicate row), and a legacy single-file
    ledger.jsonl from pre-r12 still reads."""
    import json

    from mahjong_etl_spark.streaming.ann_index_stream import (
        _append_drift,
        read_drift,
        rebuild_recommended,
    )

    index_dir = str(tmp_path / "index")
    os.makedirs(f"{index_dir}/_drift", exist_ok=True)
    # legacy pre-r12 single-file ledger
    with open(f"{index_dir}/_drift/ledger.jsonl", "w") as f:
        f.write(
            json.dumps(
                {"batch_id": 0, "n": 10, "rebuild_recommended": False}
            )
            + "\n"
        )

    row = {
        "batch_id": 1,
        "n": 100,
        "cells_touched": 3,
        "top_cell_share": 0.4,
        "mean_residual": 1.0,
        "baseline_residual": 1.0,
        "residual_ratio": 1.0,
        "rebuild_recommended": False,
    }
    _append_drift(spark, index_dir, row, lineage="writer-a")
    _append_drift(
        spark,
        index_dir,
        {**row, "batch_id": 1, "rebuild_recommended": True},
        lineage="writer-b",
    )
    # interleaved writers with the same batch_id both kept (distinct
    # lineages), legacy row kept: 3 rows total
    got = read_drift(spark, index_dir).collect()
    assert len(got) == 3
    summary = rebuild_recommended(spark, index_dir)
    assert summary["batches"] == 3
    assert summary["flagged"] == 1
    assert summary["rebuild_recommended"] is True  # newest row wins


def test_live_rebuild_fence_blocks_mid_stream_batch(spark, sf_dir, tmp_path, monkeypatch, index_cache):
    """ADVICE r12: the start-time fence cannot see a rebuild landing
    under a LIVE stream — the per-batch _check_epoch must refuse the
    publish.  Simulated by bypassing the start gate (monkeypatched to
    return the stale pre-rebuild epoch, exactly the state a live
    stream is in after write_ivf_index ran mid-flight)."""
    import pytest

    import mahjong_etl_spark.streaming.ann_index_stream as ais

    e = _load_emb(spark, sf_dir)
    cut = int(e.count() * 0.8)
    index_dir = str(tmp_path / "index")
    _prebuilt_ann(
        index_cache, "ivf",
        lambda d: write_ivf_index(
            spark, e.where(F.col("vec_id") < cut), d
        ),
        index_dir, tag=f"cut{cut}",
    )
    with open(f"{index_dir}/_index_epoch") as f:
        stale = f.read().strip()

    # the rebuild lands while the stream is "live"
    write_ivf_index(spark, e, index_dir)
    with open(f"{index_dir}/_index_epoch") as f:
        assert f.read().strip() != stale

    monkeypatch.setattr(
        ais, "_bind_index_epoch", lambda *_a, **_k: stale
    )
    drop = tmp_path / "drop"
    drop.mkdir()
    _stage_arrival(
        e.where(F.col("vec_id") >= cut), tmp_path, drop, "arrival", 1_000
    )
    before = _postings_set(spark, index_dir)
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = ais.run_ivf_maintenance_stream(
        spark, stream, index_dir, str(tmp_path / "ckpt")
    )
    with pytest.raises(Exception, match="REBUILT|rebuilt"):
        q.awaitTermination(120)
        q.processAllAvailable()
    q.stop()
    # nothing was appended: the rebuild's postings are untouched
    assert _postings_set(spark, index_dir) == before


def test_index_lifecycle_end_to_end(spark, sf_dir, tmp_path, index_cache):
    """The composed operator story (r11 verdict item 6): build →
    maintain (drift accumulates) → rebuild_recommended flips →
    rebuild under a new epoch → the old checkpoint is fenced →
    compact → serve, with served results bit-identical to a
    from-scratch index at every serving stage."""
    import pytest

    from mahjong_etl_spark.streaming.ann_index_stream import (
        compact_postings,
        compact_recommended,
        rebuild_recommended,
    )

    e = _load_emb(spark, sf_dir)
    n = e.count()
    queries = e.where("vec_id < 5")

    def served(index_dir, corpus):
        cents, postings = read_ivf_index(spark, index_dir)
        return {
            tuple(r)
            for r in ann_ivf_topk(
                spark, queries, corpus, TOPK,
                centroids=cents, postings=postings,
            ).collect()
        }

    # 1. build on the base corpus
    index_dir = str(tmp_path / "index")
    index_cache.ann_full(spark, sf_dir, "ivf", index_dir)

    # 2. maintain: one in-distribution batch, one shifted batch
    drop = tmp_path / "drop"
    drop.mkdir()
    same = e.select(
        (F.col("vec_id") + n).alias("vec_id"), "embedding", "label"
    )
    shifted = e.select(
        (F.col("vec_id") + 2 * n).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> cast(x + 5.0 as float))"
        ).alias("embedding"),
        "label",
    )
    _stage_arrival(same, tmp_path, drop, "same", 1_000)
    _stage_arrival(shifted, tmp_path, drop, "shifted", 2_000)
    ckpt = str(tmp_path / "ckpt")
    _drain(spark, str(drop), index_dir, ckpt)

    union = e.unionByName(same).unionByName(shifted)
    # maintained index serves identically to a from-scratch one over
    # the union corpus with the same centroids
    cents, _ = read_ivf_index(spark, index_dir)
    scratch1 = str(tmp_path / "scratch1")
    write_ivf_index(spark, union, scratch1, centroids=cents)
    assert served(index_dir, union) == served(scratch1, union)

    # 3. the shifted batch flips the data-driven retrain signal
    assert rebuild_recommended(spark, index_dir)["rebuild_recommended"]

    # 4. rebuild in place over the union corpus: fresh epoch, fresh
    # quantizer with resolution where the shifted mass is
    write_ivf_index(spark, union, index_dir)

    # 5. the old checkpoint is fenced out
    with pytest.raises(RuntimeError, match="REBUILT"):
        _drain(spark, str(drop), index_dir, ckpt)

    # 6. fresh-checkpoint maintenance resumes on the new epoch, then
    # compaction folds the accumulated small files
    drop2 = tmp_path / "drop2"
    drop2.mkdir()
    more = e.select(
        (F.col("vec_id") + 3 * n).alias("vec_id"), "embedding", "label"
    )
    parts = more.randomSplit([1.0] * 4, seed=5)
    for i, p in enumerate(parts):
        _stage_arrival(p, tmp_path, drop2, f"late{i}", 3_000 + i)
    _drain(spark, str(drop2), index_dir, str(tmp_path / "ckpt2"))
    full = union.unionByName(more)

    before_files = compact_recommended(spark, index_dir)["files"]
    want_rows = _postings_set(spark, index_dir)
    compact_postings(spark, index_dir)
    assert compact_recommended(spark, index_dir)["files"] < before_files
    assert _postings_set(spark, index_dir) == want_rows

    # 7. serve: bit-identical to a from-scratch index over the full
    # corpus with the rebuilt centroids
    cents2, _ = read_ivf_index(spark, index_dir)
    scratch2 = str(tmp_path / "scratch2")
    write_ivf_index(spark, full, scratch2, centroids=cents2)
    got = served(index_dir, full)
    assert got == served(scratch2, full) and got


def _pq_codes_set(spark, index_dir):
    from mahjong_etl_spark.operators.similarity import read_pq_index

    _, codes = read_pq_index(spark, index_dir)
    return {(r.vec_id, tuple(r.code)) for r in codes.collect()}


def test_pq_maintained_index_matches_batch_rebuild(spark, sf_dir, tmp_path):
    """The PQ twin of the IVF parity pin: build the PQ index on 60% of
    the corpus, stream the rest in, and the maintained code table must
    be BIT-IDENTICAL to a from-scratch write_pq_index over the union
    corpus with the same frozen codebooks — and serve identical ADC
    query rows."""
    from mahjong_etl_spark.operators.similarity import (
        ann_pq_topk,
        read_pq_index,
        write_pq_index,
    )
    from mahjong_etl_spark.streaming.ann_index_stream import (
        run_pq_maintenance_stream,
    )

    e = _load_emb(spark, sf_dir)
    cut = int(e.count() * 0.6)
    index_dir = str(tmp_path / "pqindex")
    write_pq_index(spark, e.where(F.col("vec_id") < cut), index_dir)

    drop = tmp_path / "drop"
    drop.mkdir()
    parts = e.where(F.col("vec_id") >= cut).randomSplit([1.0] * 3, seed=7)
    for i, p in enumerate(parts):
        _stage_arrival(p, tmp_path, drop, f"arrival{i}", 1_000 + i)
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = run_pq_maintenance_stream(
        spark, stream, index_dir, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(120)
    q.stop()

    books, codes = read_pq_index(spark, index_dir)
    rebuilt = str(tmp_path / "rebuilt")
    write_pq_index(spark, e, rebuilt, books=books)
    assert _pq_codes_set(spark, index_dir) == _pq_codes_set(spark, rebuilt)
    assert codes.count() == e.count()

    queries = e.where("vec_id < 5")
    got = {
        tuple(r)
        for r in ann_pq_topk(
            spark, queries, e, TOPK, books=books, codes=codes
        ).collect()
    }
    _, rcodes = read_pq_index(spark, rebuilt)
    want = {
        tuple(r)
        for r in ann_pq_topk(
            spark, queries, e, TOPK, books=books, codes=rcodes
        ).collect()
    }
    assert got == want and got


def test_pq_maintenance_replay_and_fence(spark, sf_dir, tmp_path):
    """Replay a crash-window batch (marker + checkpoint commit wiped):
    the re-drain lands the SAME final code set.  Then an in-place
    write_pq_index rebuild fences the old checkpoint out."""
    import pytest

    from mahjong_etl_spark.operators.similarity import write_pq_index
    from mahjong_etl_spark.streaming.ann_index_stream import (
        run_pq_maintenance_stream,
    )

    e = _load_emb(spark, sf_dir)
    cut = int(e.count() * 0.8)
    index_dir = str(tmp_path / "pqindex")
    write_pq_index(spark, e.where(F.col("vec_id") < cut), index_dir)

    drop = tmp_path / "drop"
    drop.mkdir()
    _stage_arrival(
        e.where(F.col("vec_id") >= cut), tmp_path, drop, "arrival", 1_000
    )
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(
                "vec_id long, embedding array<float>, label int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop))
        )
        q = run_pq_maintenance_stream(spark, stream, index_dir, ckpt)
        assert q.awaitTermination(120)
        q.stop()
        time.sleep(0.2)

    drain()
    want = _pq_codes_set(spark, index_dir)

    (marker,) = glob.glob(f"{index_dir}/_batch_commits/*-0")
    os.remove(marker)
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    drain()
    assert _pq_codes_set(spark, index_dir) == want

    # in-place rebuild: fresh epoch, old checkpoint refused
    write_pq_index(spark, e, index_dir)
    with pytest.raises(RuntimeError, match="REBUILT"):
        drain()


def test_pq_drift_flags_reconstruction_shift(spark, sf_dir, tmp_path, index_cache):
    """Arrivals the frozen codebooks can represent record ledger rows
    without flagging; arrivals from a shifted distribution (per-
    component +5 before normalization changes the DIRECTION profile)
    raise the reconstruction-error ratio and flip the flag — read
    through the SAME read_drift/rebuild_recommended surface as IVF."""
    from mahjong_etl_spark.streaming.ann_index_stream import (
        DRIFT_MIN_BATCH,
        read_drift,
        rebuild_recommended,
        run_pq_maintenance_stream,
    )

    e = _load_emb(spark, sf_dir)
    n = e.count()
    assert n >= DRIFT_MIN_BATCH
    index_dir = str(tmp_path / "pqindex")
    index_cache.ann_full(spark, sf_dir, "pq", index_dir)

    drop = tmp_path / "drop"
    drop.mkdir()
    same = e.select(
        (F.col("vec_id") + n).alias("vec_id"), "embedding", "label"
    )
    # axis-aligned one-hot spikes: normalized arrivals concentrate
    # all mass in one dimension — sub-vector shapes the trained
    # codebooks never saw (calibration sweep: ratio 1.33 vs the
    # PQ_DRIFT_RECON_RATIO = 1.2 bar; in-distribution scores 1.000)
    shifted = e.select(
        (F.col("vec_id") + 2 * n).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> "
            "cast(CASE WHEN i = pmod(vec_id, 64) THEN 1.0 ELSE 0.0 END "
            "as float))"
        ).alias("embedding"),
        "label",
    )
    _stage_arrival(same, tmp_path, drop, "same", 1_000)
    _stage_arrival(shifted, tmp_path, drop, "shifted", 2_000)
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = run_pq_maintenance_stream(
        spark, stream, index_dir, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(120)
    q.stop()

    rows = sorted(
        read_drift(spark, index_dir).collect(), key=lambda r: r.batch_id
    )
    assert len(rows) == 2
    assert not rows[0].rebuild_recommended
    assert abs(rows[0].residual_ratio - 1.0) < 0.1
    assert rows[1].rebuild_recommended
    assert rows[1].residual_ratio > 1.2
    assert rebuild_recommended(spark, index_dir)["rebuild_recommended"]


def _ivfpq_codes_set(spark, index_dir):
    from mahjong_etl_spark.operators.similarity import read_ivfpq_index

    _, _, codes = read_ivfpq_index(spark, index_dir)
    return {(r.cluster, r.vec_id, tuple(r.code)) for r in codes.collect()}


def test_ivfpq_maintained_index_matches_batch_rebuild(spark, sf_dir, tmp_path):
    """The IVFADC parity pin: build on 60% of the corpus, stream the
    rest in, and the maintained (cluster, vec_id, code) table must be
    BIT-IDENTICAL to a from-scratch write_ivfpq_index over the union
    corpus with the same frozen centroids + codebooks — and serve
    identical probed-ADC query rows."""
    from mahjong_etl_spark.operators.similarity import (
        ann_ivfpq_topk,
        read_ivfpq_index,
        write_ivfpq_index,
    )
    from mahjong_etl_spark.streaming.ann_index_stream import (
        run_ivfpq_maintenance_stream,
    )

    e = _load_emb(spark, sf_dir)
    cut = int(e.count() * 0.6)
    index_dir = str(tmp_path / "ivfpq")
    write_ivfpq_index(spark, e.where(F.col("vec_id") < cut), index_dir)

    drop = tmp_path / "drop"
    drop.mkdir()
    parts = e.where(F.col("vec_id") >= cut).randomSplit([1.0] * 3, seed=9)
    for i, p in enumerate(parts):
        _stage_arrival(p, tmp_path, drop, f"arrival{i}", 1_000 + i)
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = run_ivfpq_maintenance_stream(
        spark, stream, index_dir, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(120)
    q.stop()

    cents, books, codes = read_ivfpq_index(spark, index_dir)
    rebuilt = str(tmp_path / "rebuilt")
    write_ivfpq_index(spark, e, rebuilt, centroids=cents, books=books)
    assert _ivfpq_codes_set(spark, index_dir) == _ivfpq_codes_set(
        spark, rebuilt
    )
    assert codes.count() == e.count()

    queries = e.where("vec_id < 5")
    got = {
        tuple(r)
        for r in ann_ivfpq_topk(
            spark, queries, e, TOPK, index=(cents, books, codes)
        ).collect()
    }
    _, _, rcodes = read_ivfpq_index(spark, rebuilt)
    want = {
        tuple(r)
        for r in ann_ivfpq_topk(
            spark, queries, e, TOPK, index=(cents, books, rcodes)
        ).collect()
    }
    assert got == want and got

    # drift: in-distribution arrivals recorded, not flagged (the
    # coarse-residual baseline written by write_ivfpq_index)
    from mahjong_etl_spark.streaming.ann_index_stream import (
        rebuild_recommended,
    )

    summary = rebuild_recommended(spark, index_dir)
    assert summary["batches"] == 3
    assert summary["rebuild_recommended"] is False


def test_ivfpq_maintenance_fence_after_rebuild(spark, sf_dir, tmp_path):
    """An in-place write_ivfpq_index rebuild (fresh epoch) fences the
    old maintenance checkpoint out."""
    import pytest

    from mahjong_etl_spark.operators.similarity import write_ivfpq_index
    from mahjong_etl_spark.streaming.ann_index_stream import (
        run_ivfpq_maintenance_stream,
    )

    e = _load_emb(spark, sf_dir)
    cut = int(e.count() * 0.8)
    index_dir = str(tmp_path / "ivfpq")
    write_ivfpq_index(spark, e.where(F.col("vec_id") < cut), index_dir)

    drop = tmp_path / "drop"
    drop.mkdir()
    _stage_arrival(
        e.where(F.col("vec_id") >= cut), tmp_path, drop, "arrival", 1_000
    )
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(
                "vec_id long, embedding array<float>, label int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop))
        )
        q = run_ivfpq_maintenance_stream(spark, stream, index_dir, ckpt)
        assert q.awaitTermination(120)
        q.stop()
        time.sleep(0.2)

    drain()
    write_ivfpq_index(spark, e, index_dir)
    with pytest.raises(RuntimeError, match="REBUILT"):
        drain()


def test_drift_replayed_batch_not_double_counted(spark, tmp_path):
    """r12 verdict item 3: the ledger row file is named (lineage,
    batch_id) with NO wall-clock component, so a crash-replayed batch
    rewrites its SAME file — rebuild_recommended must count the batch
    ONCE and surface the newest attempt's row."""
    from mahjong_etl_spark.streaming.ann_index_stream import (
        _append_drift,
        read_drift,
        rebuild_recommended,
    )

    index_dir = str(tmp_path / "index")
    row = {
        "batch_id": 7,
        "n": 100,
        "cells_touched": 3,
        "top_cell_share": 0.4,
        "mean_residual": 1.0,
        "baseline_residual": 1.0,
        "residual_ratio": 1.0,
        "rebuild_recommended": True,
    }
    _append_drift(spark, index_dir, row, lineage="stream-a")
    # the replay: same (lineage, batch_id), different verdict — the
    # newest attempt must REPLACE the first, not sit beside it
    _append_drift(
        spark,
        index_dir,
        {**row, "n": 101, "rebuild_recommended": False},
        lineage="stream-a",
    )
    summary = rebuild_recommended(spark, index_dir)
    assert summary["batches"] == 1  # not 2: no double count
    assert summary["flagged"] == 0
    assert summary["rebuild_recommended"] is False
    assert summary["last"]["n"] == 101  # newest attempt won
    assert read_drift(spark, index_dir).count() == 1


def test_drift_legacy_layouts_migrate_to_single_layout(spark, tmp_path):
    """r12 verdict item 6: a restart burst could leave THREE ledger
    layouts side by side (pre-r12 ledger.jsonl, r12 wall-clock-
    prefixed row files — including a replay duplicate — and r13 row
    files).  The first read folds everything into the r13 layout:
    the legacy file is gone, r12 names are gone, the replay duplicate
    collapses to its newest stamp, and ordering follows arrival."""
    import json

    from mahjong_etl_spark.streaming.ann_index_stream import (
        read_drift,
        rebuild_recommended,
    )

    index_dir = str(tmp_path / "index")
    rows_dir = f"{index_dir}/_drift/rows"
    os.makedirs(rows_dir, exist_ok=True)
    # pre-r12 single-file ledger: two rows
    with open(f"{index_dir}/_drift/ledger.jsonl", "w") as f:
        f.write(json.dumps({"batch_id": 0, "n": 10,
                            "rebuild_recommended": False}) + "\n")
        f.write(json.dumps({"batch_id": 1, "n": 11,
                            "rebuild_recommended": False}) + "\n")
    # r12 layout: wall-clock-prefixed names, including the replay
    # duplicate the old naming allowed (same lineage+batch, two
    # stamps) — migration must keep only the newest
    with open(f"{rows_dir}/000000001000000-oldlin-2.json", "w") as f:
        f.write(json.dumps({"batch_id": 2, "n": 20,
                            "rebuild_recommended": True}) + "\n")
    with open(f"{rows_dir}/000000001000500-oldlin-2.json", "w") as f:
        f.write(json.dumps({"batch_id": 2, "n": 21,
                            "rebuild_recommended": False}) + "\n")

    summary = rebuild_recommended(spark, index_dir)
    # 2 legacy + 1 deduped r12 batch = 3 rows
    assert summary["batches"] == 3
    assert summary["flagged"] == 0  # the flagged attempt was replayed
    assert summary["last"]["n"] == 21  # newest stamp of the dup pair
    assert not os.path.exists(f"{index_dir}/_drift/ledger.jsonl")
    names = sorted(os.listdir(rows_dir))
    assert names == [
        "legacy-000000000000.json",
        "legacy-000000000001.json",
        "oldlin-000000000002.json",
    ]
    # the migrated layout reads stably (second read is a no-op)
    assert read_drift(spark, index_dir).count() == 3
    assert rebuild_recommended(spark, index_dir)["batches"] == 3


def test_ivfpq_drift_distinguishes_cells_stale_from_books_stale(
    spark, sf_dir, tmp_path, index_cache
):
    """r12 verdict item 5: the IVFADC drift row carries BOTH staleness
    axes.  Three arrival batches against a frozen index: (a) the
    corpus itself — neither axis moves; (b) a BOOKS-stale shift —
    each vector keeps its assigned centroid and its residual NORM but
    the residual direction collapses onto one axis, so the coarse
    signal stays flat (ratio ~1) while the PQ reconstruction ratio
    crosses PQ_DRIFT_RECON_RATIO and flips the flag; (c) a
    CELLS-stale shift (+5 per component — in the UNIT space the
    shifted mass all points the same way, so it lands as top-cell
    occupancy 1.0, the coarse axis's other signal) flags with the
    recon axis QUIET — each batch flips the flag through a different
    signal."""
    import numpy as np

    from mahjong_etl_spark.operators.similarity import _read_ndarray
    from mahjong_etl_spark.streaming.ann_index_stream import (
        DRIFT_MIN_BATCH,
        read_drift,
        run_ivfpq_maintenance_stream,
    )

    e = _load_emb(spark, sf_dir)
    n = e.count()
    assert n >= DRIFT_MIN_BATCH
    index_dir = str(tmp_path / "ivfpq")
    index_cache.ann_full(spark, sf_dir, "ivfpq", index_dir)
    cents = _read_ndarray(spark, f"{index_dir}/centroids")

    rows = e.collect()
    X = np.asarray([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    # assignment metric: argmax x·c − |c|²/2 (same as _assign_clusters)
    cl = (Xn @ cents.T - 0.5 * (cents * cents).sum(axis=1)).argmax(axis=1)
    resid = Xn - cents[cl]
    rnorm = np.linalg.norm(resid, axis=1)
    dim = X.shape[1]
    spike = np.zeros_like(resid)
    spike[np.arange(len(resid)), np.arange(len(resid)) % dim] = rnorm
    books_stale = cents[cl] + spike

    def stage_np(mat, id0, name, mtime):
        df = spark.createDataFrame(
            [
                (int(id0 + i), [float(v) for v in mat[i]], 0)
                for i in range(len(mat))
            ],
            "vec_id long, embedding array<float>, label int",
        )
        _stage_arrival(df, tmp_path, drop, name, mtime)

    drop = tmp_path / "drop"
    drop.mkdir()
    same = e.select(
        (F.col("vec_id") + n).alias("vec_id"), "embedding", "label"
    )
    _stage_arrival(same, tmp_path, drop, "same", 1_000)
    stage_np(books_stale, 2 * n, "books", 2_000)
    cells_stale = e.select(
        (F.col("vec_id") + 3 * n).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> cast(x + 5.0 as float))"
        ).alias("embedding"),
        "label",
    )
    _stage_arrival(cells_stale, tmp_path, drop, "cells", 3_000)

    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = run_ivfpq_maintenance_stream(
        spark, stream, index_dir, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(180)
    q.stop()

    rows = sorted(
        read_drift(spark, index_dir).collect(), key=lambda r: r.batch_id
    )
    assert len(rows) == 3
    in_dist, books, cells = rows
    # (a) in-distribution: neither axis moves, no flag
    assert not in_dist.rebuild_recommended
    assert abs(in_dist.residual_ratio - 1.0) < 0.25
    assert abs(in_dist.recon_ratio - 1.0) < 0.1
    # (b) books-stale: coarse quiet, recon axis flags
    assert books.rebuild_recommended
    assert books.residual_ratio < 1.5  # invisible to the coarse axis
    assert books.recon_ratio > 1.2
    # (c) cells-stale: the coarse axis flags (via occupancy — the +5
    # mass all normalizes into one cell), books axis quiet
    assert cells.rebuild_recommended
    assert cells.top_cell_share > 0.5
    assert cells.recon_ratio < 1.2  # invisible to the books axis


def test_pq_index_lifecycle_end_to_end(spark, sf_dir, tmp_path, index_cache):
    """The composed operator story for the PQ family (r12 verdict item
    4, mirroring test_index_lifecycle_end_to_end): build → maintain
    (in-distribution + books-stale batches) → rebuild_recommended
    flips → in-place retrain under a fresh epoch → the old checkpoint
    is fenced → fresh-checkpoint maintenance resumes → compact the
    shard layout → serve bit-identical to a from-scratch index.  (The
    CLI face of both signals is asserted per family in
    tests/test_cli.py::test_cli_index_pq_kind.)"""
    import pytest

    from mahjong_etl_spark.operators.similarity import (
        ann_pq_topk,
        read_pq_index,
        write_pq_index,
    )
    from mahjong_etl_spark.plans.compaction import compact_table
    from mahjong_etl_spark.streaming.ann_index_stream import (
        compact_recommended,
        rebuild_recommended,
        run_pq_maintenance_stream,
    )

    e = _load_emb(spark, sf_dir)
    n = e.count()
    queries = e.where("vec_id < 5")

    def drain(drop, ckpt):
        stream = (
            spark.readStream.schema(
                "vec_id long, embedding array<float>, label int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop))
        )
        q = run_pq_maintenance_stream(spark, stream, index_dir, str(ckpt))
        assert q.awaitTermination(180)
        q.stop()
        time.sleep(0.2)

    def served(books, codes, corpus):
        return {
            tuple(r)
            for r in ann_pq_topk(
                spark, queries, corpus, TOPK, books=books, codes=codes
            ).collect()
        }

    # 1. build on the base corpus
    index_dir = str(tmp_path / "pqindex")
    index_cache.ann_full(spark, sf_dir, "pq", index_dir)

    # 2. maintain: one in-distribution batch, one the frozen books
    # cannot represent (axis-aligned spikes, the calibrated shift)
    drop = tmp_path / "drop"
    drop.mkdir()
    same = e.select(
        (F.col("vec_id") + n).alias("vec_id"), "embedding", "label"
    )
    shifted = e.select(
        (F.col("vec_id") + 2 * n).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> "
            "cast(CASE WHEN i = pmod(vec_id, 64) THEN 1.0 ELSE 0.0 END "
            "as float))"
        ).alias("embedding"),
        "label",
    )
    _stage_arrival(same, tmp_path, drop, "same", 1_000)
    _stage_arrival(shifted, tmp_path, drop, "shifted", 2_000)
    ckpt = tmp_path / "ckpt"
    drain(drop, ckpt)

    union = e.unionByName(same).unionByName(shifted)
    books, codes = read_pq_index(spark, index_dir)
    # maintained code table == batch rebuild with the same books
    scratch1 = str(tmp_path / "scratch1")
    write_pq_index(spark, union, scratch1, books=books)
    assert _pq_codes_set(spark, index_dir) == _pq_codes_set(spark, scratch1)
    assert served(books, codes, union)

    # 3. the books-stale batch flips the data-driven retrain signal
    assert rebuild_recommended(spark, index_dir)["rebuild_recommended"]

    # 4. retrain in place over the union corpus: fresh epoch + books
    # with resolution where the shifted mass is
    write_pq_index(spark, union, index_dir)

    # 5. the old checkpoint is fenced out
    with pytest.raises(RuntimeError, match="REBUILT"):
        drain(drop, ckpt)

    # 6. fresh-checkpoint maintenance resumes on the new epoch, then
    # compaction folds the accumulated shard files
    drop2 = tmp_path / "drop2"
    drop2.mkdir()
    more = e.select(
        (F.col("vec_id") + 3 * n).alias("vec_id"), "embedding", "label"
    )
    parts = more.randomSplit([1.0] * 4, seed=5)
    for i, p in enumerate(parts):
        _stage_arrival(p, tmp_path, drop2, f"late{i}", 3_000 + i)
    drain(drop2, tmp_path / "ckpt2")
    full = union.unionByName(more)

    before = compact_recommended(spark, index_dir, table="codes")["files"]
    want_rows = _pq_codes_set(spark, index_dir)
    rewritten = compact_table(
        spark, index_dir, "codes", part_col="shard"
    )
    assert rewritten
    after = compact_recommended(spark, index_dir, table="codes")["files"]
    assert after < before
    assert _pq_codes_set(spark, index_dir) == want_rows

    # 7. serve: bit-identical to a from-scratch index over the full
    # corpus with the retrained books
    books2, codes2 = read_pq_index(spark, index_dir)
    scratch2 = str(tmp_path / "scratch2")
    write_pq_index(spark, full, scratch2, books=books2)
    _, scodes = read_pq_index(spark, scratch2)
    got = served(books2, codes2, full)
    assert got == served(books2, scodes, full) and got


def test_ivfpq_index_lifecycle_end_to_end(spark, sf_dir, tmp_path, index_cache):
    """The composed operator story for the IVFADC family (r12 verdict
    item 4): build → maintain (in-distribution + cells-stale batches)
    → rebuild_recommended flips → in-place retrain under a fresh
    epoch → the old checkpoint is fenced → fresh-checkpoint
    maintenance resumes → compact the cluster layout → serve
    bit-identical to a from-scratch index.  (CLI face asserted in
    tests/test_cli.py::test_cli_index_ivfpq_kind.)"""
    import pytest

    from mahjong_etl_spark.operators.similarity import (
        ann_ivfpq_topk,
        read_ivfpq_index,
        write_ivfpq_index,
    )
    from mahjong_etl_spark.plans.compaction import compact_table
    from mahjong_etl_spark.streaming.ann_index_stream import (
        compact_recommended,
        rebuild_recommended,
        run_ivfpq_maintenance_stream,
    )

    e = _load_emb(spark, sf_dir)
    n = e.count()
    queries = e.where("vec_id < 5")

    def drain(drop, ckpt):
        stream = (
            spark.readStream.schema(
                "vec_id long, embedding array<float>, label int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop))
        )
        q = run_ivfpq_maintenance_stream(
            spark, stream, index_dir, str(ckpt)
        )
        assert q.awaitTermination(180)
        q.stop()
        time.sleep(0.2)

    def served(index, corpus):
        return {
            tuple(r)
            for r in ann_ivfpq_topk(
                spark, queries, corpus, TOPK, index=index
            ).collect()
        }

    # 1. build on the base corpus
    index_dir = str(tmp_path / "ivfpq")
    index_cache.ann_full(spark, sf_dir, "ivfpq", index_dir)

    # 2. maintain: one in-distribution batch, one cells-stale batch
    drop = tmp_path / "drop"
    drop.mkdir()
    same = e.select(
        (F.col("vec_id") + n).alias("vec_id"), "embedding", "label"
    )
    shifted = e.select(
        (F.col("vec_id") + 2 * n).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> cast(x + 5.0 as float))"
        ).alias("embedding"),
        "label",
    )
    _stage_arrival(same, tmp_path, drop, "same", 1_000)
    _stage_arrival(shifted, tmp_path, drop, "shifted", 2_000)
    ckpt = tmp_path / "ckpt"
    drain(drop, ckpt)

    union = e.unionByName(same).unionByName(shifted)
    cents, books, codes = read_ivfpq_index(spark, index_dir)
    # maintained code table == batch rebuild with the same components
    scratch1 = str(tmp_path / "scratch1")
    write_ivfpq_index(spark, union, scratch1, centroids=cents, books=books)
    assert _ivfpq_codes_set(spark, index_dir) == _ivfpq_codes_set(
        spark, scratch1
    )
    assert served((cents, books, codes), union)

    # 3. the cells-stale batch flips the data-driven retrain signal
    assert rebuild_recommended(spark, index_dir)["rebuild_recommended"]

    # 4. retrain in place over the union corpus: fresh epoch, fresh
    # coarse cells + residual books where the shifted mass is
    write_ivfpq_index(spark, union, index_dir)

    # 5. the old checkpoint is fenced out
    with pytest.raises(RuntimeError, match="REBUILT"):
        drain(drop, ckpt)

    # 6. fresh-checkpoint maintenance resumes on the new epoch, then
    # compaction folds the accumulated cluster files
    drop2 = tmp_path / "drop2"
    drop2.mkdir()
    more = e.select(
        (F.col("vec_id") + 3 * n).alias("vec_id"), "embedding", "label"
    )
    parts = more.randomSplit([1.0] * 4, seed=9)
    for i, p in enumerate(parts):
        _stage_arrival(p, tmp_path, drop2, f"late{i}", 3_000 + i)
    drain(drop2, tmp_path / "ckpt2")
    full = union.unionByName(more)

    before = compact_recommended(spark, index_dir, table="codes")["files"]
    want_rows = _ivfpq_codes_set(spark, index_dir)
    rewritten = compact_table(
        spark, index_dir, "codes", part_col="cluster"
    )
    assert rewritten
    after = compact_recommended(spark, index_dir, table="codes")["files"]
    assert after < before
    assert _ivfpq_codes_set(spark, index_dir) == want_rows

    # 7. serve: bit-identical to a from-scratch index over the full
    # corpus with the retrained components
    cents2, books2, codes2 = read_ivfpq_index(spark, index_dir)
    scratch2 = str(tmp_path / "scratch2")
    write_ivfpq_index(
        spark, full, scratch2, centroids=cents2, books=books2
    )
    _, _, scodes = read_ivfpq_index(spark, scratch2)
    got = served((cents2, books2, codes2), full)
    assert got == served((cents2, books2, scodes), full) and got


def test_drift_retention_prunes_oldest_by_stamp(spark, tmp_path, monkeypatch):
    """Retention (r13 hysteresis): once the row count crosses the cap,
    the prune trims the OLDEST rows by in-row arrival stamp down to
    cap − slack — newest rows always survive, and the count stays
    inside (cap − slack, cap]."""
    import mahjong_etl_spark.streaming.ann_index_stream as ais

    monkeypatch.setattr(ais, "DRIFT_LEDGER_MAX_ROWS", 8)
    monkeypatch.setattr(ais, "DRIFT_LEDGER_PRUNE_SLACK", 3)
    index_dir = str(tmp_path / "index")
    row = {
        "batch_id": 0, "n": 1, "cells_touched": 1, "top_cell_share": 0.1,
        "mean_residual": 1.0, "baseline_residual": 1.0,
        "residual_ratio": 1.0, "rebuild_recommended": False,
    }
    for b in range(12):
        ais._append_drift(
            spark, index_dir, {**row, "batch_id": b}, lineage="s"
        )
    rows = sorted(
        ais.read_drift(spark, index_dir).collect(), key=lambda r: r.batch_id
    )
    # 12 appends against cap 8 / slack 3: prunes fired, the survivors
    # are a suffix of the arrival order and the count is in-bound
    assert 5 <= len(rows) <= 8
    assert rows[-1].batch_id == 11  # newest always survives
    ids = [r.batch_id for r in rows]
    assert ids == list(range(12 - len(ids), 12))  # oldest went first
    assert ais.rebuild_recommended(spark, index_dir)["last"]["batch_id"] == 11
