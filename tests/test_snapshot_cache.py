"""The one snapshot cache (``session.snapshot_cache``): every
once-per-corpus-snapshot value is filled once per application and
served to every later consumer, entries of a stopped application are
never served, an index rebuild drops what it replaced, and
``warm_snapshots`` fills everything the bench warm-up needs."""

from __future__ import annotations

import pytest

from mahjong_etl_spark import session as S
from mahjong_etl_spark.plans.registry import registry

# (first consumer, second consumer, the fills the second reuses, a
# fill of the second's own that must run so it reaches the shared ones)
FAMILIES = [
    (
        "dedup_connected_components",
        "corpus_canonical_docs",
        ["corpus_components"],
        [],
    ),
    (
        "similarity_ann_pq",
        "similarity_ann_pq_persisted",
        ["corpus_pq_codebooks"],
        ["_ensure_pq_index"],
    ),
]


@pytest.mark.parametrize("first, second, shared, own", FAMILIES)
def test_family_fills_once_then_hits(spark, sf_dir, first, second, shared, own):
    reg = registry()
    for name in shared + own:
        S.drop(name)
    fills0 = S.fill_counts.copy()
    reg[first].spark_fn(spark, sf_dir).collect()
    assert {n: S.fill_counts[n] - fills0[n] for n in shared} == {n: 1 for n in shared}

    hits0 = S.hit_counts.copy()
    reg[second].spark_fn(spark, sf_dir).collect()
    assert all(S.fill_counts[n] - fills0[n] == 1 for n in shared)
    assert all(S.hit_counts[n] > hits0[n] for n in shared)

    # a second pass over both consumers fills nothing at all
    total = sum(S.fill_counts.values())
    reg[first].spark_fn(spark, sf_dir).collect()
    reg[second].spark_fn(spark, sf_dir).collect()
    assert sum(S.fill_counts.values()) == total


@pytest.fixture
def probe_fill():
    calls = []

    @S.snapshot_cache
    def _probe_fill(spark, corpus, n=3):
        calls.append((corpus, n))
        return ("live", corpus, n)

    yield _probe_fill, calls
    _probe_fill.cache_clear()
    S._FILLS.pop("_probe_fill")


def test_other_application_entry_is_never_served(spark, probe_fill):
    fill, calls = probe_fill
    stale = ("app-stopped-long-ago", "_probe_fill", ("c", 3))
    other = ("app-stopped-long-ago", "corpus_embeddings", ("c",))
    S._STORE[stale] = ("stale", "c", 3)
    S._STORE[other] = "stale"
    assert fill(spark, "c") == ("live", "c", 3)
    assert calls == [("c", 3)]
    assert stale not in S._STORE and other not in S._STORE


def test_bound_defaults_share_one_entry(spark, probe_fill):
    fill, calls = probe_fill
    hits0 = S.hit_counts["_probe_fill"]
    assert fill(spark, "c") == fill(spark, "c", 3) == fill(spark, corpus="c", n=3)
    assert calls == [("c", 3)]
    assert S.hit_counts["_probe_fill"] - hits0 == 2
    fill(spark, "c", 4)
    S.drop("_probe_fill", "c", 3)
    fill(spark, "c")
    fill(spark, "c", 4)
    assert calls == [("c", 3), ("c", 4), ("c", 3)]


def test_concurrent_fills_and_drops_lose_no_count(spark, probe_fill):
    """Stream threads fill while the driver drops: every call is
    counted as exactly one fill or hit, and nothing raises."""
    import sys
    import threading

    fill, calls = probe_fill
    n_threads, n_calls = 8, 200
    fills0 = S.fill_counts["_probe_fill"]
    hits0 = S.hit_counts["_probe_fill"]
    errors = []

    def work(i):
        try:
            for j in range(n_calls):
                fill(spark, f"c{j % 5}")
                if j % 17 == 0:
                    S.drop("_probe_fill", f"c{i % 5}")
        except Exception as exc:  # reported by the assert below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    fills = S.fill_counts["_probe_fill"] - fills0
    assert fills + S.hit_counts["_probe_fill"] - hits0 == n_threads * n_calls
    assert fills == len(calls)


def test_rebuild_drop_rereads_centroids(spark, sf_dir, tmp_path, monkeypatch):
    """A ``write_ivf_index`` rebuild drops the frozen centroids it
    replaced: the next ``assign_batch`` reads the new matrix once and
    assigns against it."""
    import mahjong_etl_spark.operators.similarity as sim
    from mahjong_etl_spark.streaming import ann_index_stream as ais

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index_dir = str(tmp_path / "index")
    old = sim.train_ivf_centroids(sim.with_norm(e))
    new = sim.train_ivf_centroids(sim.with_norm(e), k=8)
    sim.write_ivf_index(spark, e, index_dir, centroids=old)

    reads = []
    orig = sim._read_ndarray

    def counting(spark_, path):
        reads.append(path)
        return orig(spark_, path)

    def assign():
        monkeypatch.setattr(sim, "_read_ndarray", counting)
        try:
            return {tuple(r) for r in ais.assign_batch(spark, e, index_dir).collect()}
        finally:
            monkeypatch.setattr(sim, "_read_ndarray", orig)

    assign()
    assign()
    assert len(reads) == 1
    sim.write_ivf_index(spark, e, index_dir, centroids=new)
    got = assign()
    assert len(reads) == 2
    want = {
        (r.cluster, r.vec_id)
        for r in sim._assign_clusters(sim.with_norm(e), new).collect()
    }
    assert got == want


# what bench.py's warm-up hand-list filled before warm_snapshots
OLD_BENCH_LIST = [
    "corpus_embeddings",
    "corpus_centroids",
    "_sem_centroids",
    "corpus_pq_codebooks",
    "corpus_ivfpq",
    "corpus_shingle_sets",
    "corpus_common_pairs",
    "corpus_jaccard_pairs",
    "corpus_dup_stats",
    "_dup_stats",
]


def test_warm_snapshots_fills_the_old_bench_list(spark, sf_dir):
    from mahjong_etl_spark.operators.dedup import (
        _dup_stats,
        _sem_centroids,
        corpus_jaccard_pairs,
    )
    from mahjong_etl_spark.operators.similarity import (
        IVF_CLUSTERS,
        IVF_LLOYD_ITERS,
        corpus_centroids,
        corpus_embeddings,
        corpus_ivfpq,
        corpus_pq_codebooks,
    )
    from mahjong_etl_spark.sources.tables import load_spread

    for name in OLD_BENCH_LIST:
        S.drop(name)
    fills0 = S.fill_counts.copy()
    warmed = S.warm_snapshots(spark, sf_dir)
    assert set(OLD_BENCH_LIST) - {"_dup_stats"} <= set(warmed)
    assert all(S.fill_counts[n] > fills0[n] for n in OLD_BENCH_LIST)

    # the old hand-list, call for call: every one is now a hit
    fills1 = S.fill_counts.copy()
    corpus_embeddings(spark, sf_dir)
    corpus_centroids(spark, sf_dir, IVF_CLUSTERS, IVF_LLOYD_ITERS)
    _sem_centroids(spark, sf_dir)
    corpus_pq_codebooks(spark, sf_dir)
    corpus_ivfpq(spark, sf_dir)[2].count()
    corpus_jaccard_pairs(spark, sf_dir).count()
    _dup_stats(load_spread(spark, sf_dir, "documents"))
    assert S.fill_counts == fills1
