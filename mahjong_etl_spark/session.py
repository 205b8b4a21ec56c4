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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

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
