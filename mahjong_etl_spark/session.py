"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
config block is what we would ship to a 1000-executor cluster — only
``master`` and memory sizing change. Rationale per setting:

- ``spark.sql.adaptive.enabled``: AQE re-plans at runtime — coalesces
  tiny post-shuffle partitions, converts sort-merge joins to broadcast
  when the built side turns out small, and splits skewed partitions.
  At 100 TB skewed keys are a certainty; AQE skew-join is the first
  line of defense (salting in operators is the second).
- ``spark.sql.shuffle.partitions``: 32 locally (== cores).  On a real
  cluster this would be ~2-3x total cores; AQE coalescing makes the
  exact number less critical than it was pre-3.0.
- Arrow: every pandas_udf / mapInPandas boundary moves data via Arrow
  batches instead of pickled rows (~10-100x).
- ``timeZone=UTC``: the reference stores dates as UTC midnight
  (reference main.py:23); all timestamp semantics are pinned UTC so
  results do not depend on the host zone.
- ``spark.sql.codegen.cache.maxEntries``: the JVM-wide cache of
  compiled whole-stage/expression classes.  One ``run_etl`` plus one
  round of star queries generates ~190 distinct classes; at Spark's
  default of 100 that cyclic access pattern evicts every class before
  its reuse, so Janino recompiled the whole set each cycle.
  ``CODEGEN_CACHE_ENTRIES`` holds the working set (``codegen_compiles``
  counts the compiles).

The module also holds the package's one snapshot cache
(``snapshot_cache``, ``warm_snapshots``) and its scratch root
(``scratch_dir``).
"""

from __future__ import annotations

import functools
import inspect
import os
import tempfile
import threading
import time
from collections import Counter

from pyspark.sql import DataFrame, SparkSession

# Sized from the largest measured working set: one bench.py session
# generates ~2,080 classes (warm-up + the registry pass), and at 2,000
# entries its re-timed queries recompiled 15 classes; at 4,000, none.
CODEGEN_CACHE_ENTRIES = 4000


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this JVM (all sessions): a codegen
    cache hit does not count, so a delta of 0 over a pass means every
    generated class of that pass was reused."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def local_rows_df(spark: SparkSession, rows: list, schema: str):
    """Small driver-local row list -> DataFrame via ONE Arrow batch.

    ``spark.createDataFrame(list_of_tuples)`` takes the RDD-pickle
    path: the rows are parallelized across defaultParallelism slices
    (32 tasks for a 24-row table) through plain-pickle python workers
    — ~0.3 s of pure scheduling per call plus a ~1.5 s once-per-
    session serializer init (measured r8; it was the whole
    `text_bpe_vocab` "regression" in BENCH r7).  One pandas DataFrame
    keeps the transfer in a single Arrow batch on one partition —
    ~0.05 s steady-state.  Only for driver-bounded result shaping
    (merge tables, sketch summaries); real data never routes through
    the driver."""
    import pandas as pd
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], st)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=st.names), st
    )


def get_spark(app_name: str = "mahjong-etl-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # scale-adaptive shuffle sizing: the default is a fixed 32, sized
    # for the 32-core bench host this engine is measured on (NOT
    # derived from os.cpu_count(): the bench contract wants identical
    # plans at 8 and 32 cores, and AQE coalescing trims the excess on
    # smaller hosts anyway); override per deployment via
    # SPARK_GRAFT_SHUFFLE_PARTITIONS — the cluster twin of this knob
    # is conf/cluster-defaults.conf (10k partitions for 4000 cores).
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # dims (region/nation/customer/supplier at test SF) should always
        # broadcast; 64 MiB is still far below executor memory at scale.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # ~190 classes per ETL + star cycle vs the default 100: cyclic
        # access evicted each class before reuse (0 % hits)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )


# ---------------------------------------------------------------------------
# One snapshot cache
# ---------------------------------------------------------------------------

# (applicationId, fill name, bound args) -> the fill's value
_STORE: dict[tuple, object] = {}
# fill name -> decorated function, in registration (import) order
_FILLS: dict[str, object] = {}
fill_counts: Counter = Counter()
hit_counts: Counter = Counter()
# streams fill from their foreachBatch threads (frozen index artifacts)
_LOCK = threading.Lock()
_MISS = object()


def snapshot(spark: SparkSession, name: str, key: tuple, fill):
    """``fill()``, once per (live application, ``name``, ``key``).

    Every value the package derives from a corpus snapshot (persisted
    relations, trained quantizers, written scratch indexes, frozen
    index artifacts) is computed once per application and served to
    every later consumer of the same snapshot.  The contract:

    - the files under a queried path are immutable for the
      application's lifetime; a sanctioned rewrite (an index rebuild)
      calls ``drop`` for its path;
    - entries are keyed on ``applicationId``, not on the session
      object or ``id(sc)`` (ids are reused after a stop), and a
      process has one live SparkContext, so a miss first forgets every
      entry of another application: they belong to a stopped context
      whose executor storage died with it, and dropping them releases
      the driver-side handles;
    - correctness never depends on a hit: every fill is deterministic
      given the snapshot, so a fill and a hit return equal values.
    """
    app = spark.sparkContext.applicationId
    full = (app, name, key)
    with _LOCK:
        value = _STORE.get(full, _MISS)
        if value is not _MISS:
            hit_counts[name] += 1
            return value
        for stale in [k for k in _STORE if k[0] != app]:
            del _STORE[stale]
    value = fill()
    with _LOCK:
        _STORE[full] = value
        fill_counts[name] += 1
    return value


def drop(name: str, *arg_prefix) -> None:
    """Forget every entry of ``name`` (any application) whose bound
    arguments start with ``arg_prefix``; no prefix forgets them all."""
    n = len(arg_prefix)
    with _LOCK:
        for k in [k for k in _STORE if k[1] == name and k[2][:n] == arg_prefix]:
            del _STORE[k]


def snapshot_cache(fn):
    """Decorate ``fn(spark, *args)`` as a ``snapshot`` fill named
    ``fn.__name__``, keyed on its bound arguments with defaults
    applied (``f(spark, d)`` and ``f(spark, d, 3)`` share an entry when
    3 is the default).  ``fn.cache_clear()`` forgets every entry."""
    sig = inspect.signature(fn)
    name = fn.__name__

    @functools.wraps(fn)
    def cached(spark, *args, **kwargs):
        bound = sig.bind(spark, *args, **kwargs)
        bound.apply_defaults()
        key = tuple(bound.arguments.values())[1:]
        return snapshot(spark, name, key, lambda: fn(spark, *args, **kwargs))

    cached.cache_clear = functools.partial(drop, name)
    _FILLS[name] = cached
    return cached


def warm_snapshots(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Fill every registered ``fn(spark, sf_dir)`` snapshot (any
    further parameters at their defaults), materializing each
    DataFrame in its result; returns ``{name: seconds}``.  A fill that
    an earlier one already made as a dependency reads as a hit (~0 s)."""
    from .plans.registry import registry

    registry()  # imports every module that registers a fill
    out = {}
    for name, fn in list(_FILLS.items()):
        params = list(inspect.signature(fn).parameters.values())[1:]
        if not params or params[0].name != "sf_dir" or any(
            p.default is p.empty for p in params[1:]
        ):
            continue
        t0 = time.perf_counter()
        value = fn(spark, sf_dir)
        for v in value if isinstance(value, tuple) else (value,):
            if isinstance(v, DataFrame):
                v.count()
        out[name] = round(time.perf_counter() - t0, 3)
    return out


_scratch: tempfile.TemporaryDirectory | None = None


def scratch_dir(prefix: str) -> str:
    """A new directory under this process's one scratch root.  The
    root is created on first use and removed at interpreter exit."""
    global _scratch
    if _scratch is None:
        _scratch = tempfile.TemporaryDirectory(
            prefix="mahjong_snapshots_", ignore_cleanup_errors=True
        )
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch.name)
