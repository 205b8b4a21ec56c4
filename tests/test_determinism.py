"""Cross-partitioning determinism: representative queries must return
IDENTICAL canonical rows under different shuffle-partition counts.

The engine's correctness story leans on determinism everywhere — the
driver's value-hash, the golden oracles, the md5-keyed sampling, the
exact-int aggregation discipline.  This suite generalizes the
classifier's partitioning-invariance pin: re-planning a query with a
different parallelism must not change a single emitted value, or the
same job on a 1000-executor cluster would disagree with CI.

One query per plan family; each runs once at the session default and
once at a deliberately awkward partition count (7), compared as sorted
row multisets (exact equality — no float rounding slack, because the
fixed-point output discipline makes equality exact by construction).
"""

from __future__ import annotations

import pytest

from mahjong_etl_spark.plans.registry import registry

# one representative per family; every one is deterministic by design
PROBES = [
    "q1_pricing_summary",  # scan + partial agg
    "q3_shipping_priority",  # fact-dim join + top-k
    "events_moving_avg",  # window frames (the 3-round red row)
    "dedup_exact",  # hash dedup
    "dedup_minhash_lsh",  # signature + banding (seedless hashing)
    "corpus_train_val_split",  # md5-keyed assignment
    "corpus_negative_samples",  # md5 ring
    "er_resolve_entities",  # blocked fuzzy join + components
    "text_bpe_vocab",  # iterative training (golden-pinned)
    "classifier_train_eval",  # fixed-point training
    "bloom_pruned_revenue",  # bloom prune + exact join
    "corpus_chunk_windows",  # explode + slice
    "graph_triangle_counts",  # multi-join + top-k
    "governance_forget_cascade",  # anti-join cascade audit
    "events_anomaly_mad_approx",  # GK sketch medians (golden-pinned, r9)
    "multimodal_audio_segments",  # WAV DSP + islands (SQL-oracled, r9)
    "corpus_source_drift_js",  # nano-int JS contributions (r9)
]


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def _drop_training_caches() -> None:
    """BPE / classifier training is memoized per (application, sf_dir); the
    invariance probe must RE-TRAIN at the alternate partitioning or the
    second run just replays the first run's result and the test is
    vacuous (round-4 advice)."""
    from mahjong_etl_spark.operators import bpe, classifier

    bpe.corpus_bpe.cache_clear()
    classifier.corpus_classifier.cache_clear()


@pytest.mark.parametrize("name", PROBES)
def test_partitioning_invariance(spark, sf_dir, name):
    q = registry()[name]
    default = spark.conf.get("spark.sql.shuffle.partitions")
    base = _canon(q.spark_fn(spark, sf_dir))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        _drop_training_caches()
        alt = _canon(q.spark_fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
        _drop_training_caches()
    assert base == alt
