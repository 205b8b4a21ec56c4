"""The batch ETL pipeline: XML logs -> 9 Hive-partitioned tables.

Topology (the Spark rebuild of reference main.py:18-33 +
scrape.py:612-668):

  binaryFile scan -> byte-sized coalesce -> mapInPandas(parse_game)
      [one row per game, nine array<struct> columns] -> persist()
    -> one bookkeeping aggregate (row counts, dates, corrupt games)
    -> per-game offset window over one partition per date
       (deterministic kyoku_id minting), broadcast-joined onto the
       games -> persist(), filled once
    -> 9x (explode -> finalize ids [kyoku-keyed]
           -> narrow coalesce or REBALANCE(dt) -> write partitionBy("dt")),
       all nine submitted together

Design points:
- ONE parse per XML: the parsed DataFrame is persisted before the
  9-way fanout; without it each table write would re-scan and re-parse
  every file (correctness-neutral, 9x slower — SURVEY §7 hard parts).
- Deterministic surrogate keys: the reference threads a per-date
  counter across games in OS file-listing order (irreproducible).  We
  define the order as game_id-ascending within a date: a window over
  the per-game dataframe (one row per game — tiny) yields each game's
  kyoku offset, and ``kyoku_id = days*100000 + offset + kyoku_local``.
  Same id space, stable across runs and cluster sizes.
- Layout contract: ``{out}/{table}/dt=YYYY-MM-DD/*.parquet`` — same
  directories the reference writes (scrape.py:613-622); Spark emits
  part-file names, which Athena/Spark SQL readers never depend on.
  Multiple part files per partition are allowed (at 100 TB one file
  per table-date would be the bottleneck, not a feature) but bounded:
  rows are REBALANCE(dt)-clustered before partitionBy so file count
  tracks data volume, not task count.  Dynamic partition overwrite
  keeps daily re-runs idempotent per date.
- The parser crosses the Python-worker boundary, so the package is
  shipped via addPyFile first (see shipping.py).
"""

from __future__ import annotations

import datetime
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..schemas import TABLE_SCHEMAS

_EPOCH = datetime.date(1970, 1, 1)

# Micro-batch sink path (run_etl): a table whose row count — known
# for free from the bookkeeping aggregate — is at or below
# SMALL_SINK_ROWS coalesces to ceil(rows / SINK_ROWS_PER_TASK)
# narrow tasks instead of paying a REBALANCE(dt) exchange + AQE
# re-plan for its sink.  Decided per table (r15): a daily
# incremental or streaming micro-batch rides the narrow path for
# every table, a real backfill exceeds the threshold everywhere and
# keeps the scale path, and a mixed run (one wide fact table, eight
# small ones) shuffles only the table that needs splitting.
SMALL_SINK_ROWS = 262_144
SINK_ROWS_PER_TASK = 131_072

# Most games one parse output frame holds.  A parse task reads every
# log of its coalesced splits (thousands at scale) in Arrow input
# batches of up to 10,000 rows; flushing the nested-dict rows every
# PARSE_BATCH_GAMES games bounds a Python worker's memory whatever the
# task size.
PARSE_BATCH_GAMES = 256

# kyoku-scoped tables and the name of their final id column
_KYOKU_KEYED = {
    "kyokus": "id",
    "haipais": "kyoku_id",
    "agaris": "kyoku_id",
    "actions": "kyoku_id",
    "nagares": "kyoku_id",
}


def _localized(table: str) -> StructType:
    """Table schema with the minted id column replaced by the parser's
    local ordinal (kyoku_local, nullable for pre-INIT rows)."""
    key = _KYOKU_KEYED.get(table)
    fields = []
    for f in TABLE_SCHEMAS[table].fields:
        if key is not None and f.name == key:
            fields.append(StructField("kyoku_local", IntegerType(), True))
        else:
            fields.append(f)
    return StructType(fields)


PARSED_GAME_SCHEMA = StructType(
    [
        StructField("dt", StringType()),
        StructField("days", LongType()),
        StructField("game_id", StringType()),
        StructField("n_kyokus", IntegerType()),
        # quarantine channel: non-null => the game failed to parse and
        # contributes no table rows (one bad log among billions must
        # not fail the job — it lands in {out}/_corrupt instead)
        StructField("error", StringType(), True),
    ]
    + [StructField(t, ArrayType(_localized(t))) for t in TABLE_SCHEMAS]
)


def _parse_batches(compat: bool):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mahjong_etl_spark.operators.mahjong_parse import parse_game

        empty = {t: [] for t in TABLE_SCHEMAS}
        rows: list[dict[str, Any]] = []
        for pdf in batches:
            for path_date, game_id, content in zip(
                pdf["dt_raw"], pdf["game_id"], pdf["content"]
            ):
                try:
                    d = datetime.datetime.strptime(path_date, "%Y%m%d").date()
                    dt_iso, days = d.isoformat(), (d - _EPOCH).days
                except ValueError as e:
                    # 8-digit but INVALID date dir (month 13, day 32):
                    # quarantine under the raw dir name instead of
                    # failing the task — one bad directory must not
                    # kill the job (or crash-loop the ingest stream,
                    # which deterministically replays the same batch)
                    dt_iso, days = path_date, 0
                    tables, err = empty, f"{type(e).__name__}: {e}"
                else:
                    try:
                        tables = parse_game(
                            bytes(content), game_id, d, compat=compat
                        )
                        err = None
                    except Exception as e:  # noqa: BLE001 — quarantined, not swallowed
                        tables, err = empty, f"{type(e).__name__}: {e}"
                rows.append(
                    {
                        "dt": dt_iso,
                        "days": days,
                        "game_id": game_id,
                        "n_kyokus": len(tables["kyokus"]),
                        "error": err,
                        **tables,
                    }
                )
                if len(rows) == PARSE_BATCH_GAMES:
                    yield pd.DataFrame(rows)
                    rows = []
        if rows:
            yield pd.DataFrame(rows)

    return fn


def parse_logs(
    spark: SparkSession,
    log_dir: str,
    compat: bool = True,
    date_prefix: str | None = None,
) -> DataFrame:
    """Scan + parse: one output row per game (see PARSED_GAME_SCHEMA)."""
    from ..shipping import ensure_shipped
    from ..sources.xml_source import scan_logs

    ensure_shipped(spark)
    scan = scan_logs(spark, log_dir, date_prefix).select(
        "dt_raw", "game_id", "content"
    )
    # The binaryFile scan charges every ~6 KB log the 4 MB
    # openCostInBytes, so 700 games split 22 ways.  Each Python task
    # pays a fixed ~0.22 CPU-s before parsing anything (measured on a
    # 4-vCPU host, CPython 3.11: the worker's
    # importlib.invalidate_caches() makes zipimport re-read
    # pyspark.zip's directory 16x per task), so size the parse by XML
    # bytes instead: one wave of tasks per core, more only when the
    # bytes fill maxPartitionBytes splits.  The byte total is the file
    # relation's sizeInBytes, known from the listing without a job; a
    # narrow coalesce never exceeds the scan's own split count.
    relation = scan._jdf.queryExecution().analyzed().collectLeaves().head()
    xml_bytes = int(relation.stats().sizeInBytes())
    max_split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    tasks = max(spark.sparkContext.defaultParallelism, -(-xml_bytes // max_split))
    return scan.coalesce(tasks).mapInPandas(
        _parse_batches(compat), schema=PARSED_GAME_SCHEMA
    )


def _with_offsets(parsed: DataFrame, n_dates: int) -> DataFrame:
    """Per-game kyoku-ordinal offset: running total of preceding games'
    hand counts within the date, games ordered by game_id.  The window
    runs over a hash exchange on ``dt`` with one partition per date,
    which satisfies its distribution, so it adds no second exchange."""
    w = (
        Window.partitionBy("dt")
        .orderBy("game_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    games = parsed.select("dt", "game_id", "days", "n_kyokus")
    return games.repartition(max(1, n_dates), "dt").withColumn(
        "kyoku_offset", F.coalesce(F.sum("n_kyokus").over(w), F.lit(0))
    )


def table_df(games: DataFrame, table: str) -> DataFrame:
    """Explode one table out of the per-game DataFrame, which carries
    each game's ``kyoku_offset``, and mint final kyoku ids (0 for
    pre-INIT rows, matching the reference's initial kyoku_id)."""
    ex = games.select(
        "dt", "days", "kyoku_offset", F.explode(table).alias("r")
    )
    key = _KYOKU_KEYED.get(table)
    if key is None:
        return ex.select("dt", "r.*")
    minted = F.when(F.col("r.kyoku_local").isNull(), F.lit(0)).otherwise(
        F.col("days") * 100000 + F.col("kyoku_offset") + F.col("r.kyoku_local")
    )
    cols = [
        minted.alias(key) if f.name == key else F.col(f"r.{f.name}")
        for f in TABLE_SCHEMAS[table].fields
    ]
    return ex.select(F.col("dt"), *cols)


def _drop_partitions(spark: SparkSession, table_dir: str, dts: list) -> None:
    """Delete ``{table_dir}/dt={d}`` for each date — the complement of
    dynamic partition overwrite, which replaces only partitions it
    writes and so cannot RETIRE a partition a re-run emptied.  JVM
    Hadoop FileSystem, so any cluster scheme works; a missing table or
    partition is a no-op."""
    if not dts:
        return
    jvm = spark._jvm
    base = jvm.org.apache.hadoop.fs.Path(table_dir)
    fs = base.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(base):
        return
    for d in dts:
        p = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/dt={d}")
        if fs.exists(p):
            fs.delete(p, True)


def run_etl(
    spark: SparkSession,
    log_dir: str,
    out_dir: str,
    compat: bool = True,
    date_prefix: str | None = None,
) -> dict[str, int]:
    """Full pipeline; returns row counts per table.

    ``date_prefix`` turns this into the reference's daily incremental
    run (main.py's per-date loop): only matching date directories are
    listed and parsed, and dynamic partition overwrite replaces ONLY
    the written ``dt=`` partitions — history stays untouched, so the
    same invocation is both the backfill and the daily increment.
    """
    prior_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    parsed = parse_logs(spark, log_dir, compat, date_prefix).persist()
    games = None
    try:
        # ONE aggregate pass over the (cache-filling) parse answers
        # every piece of driver bookkeeping this run needs — corrupt
        # count, processed dates, corrupt dates, per-(dt, table) row
        # counts, total row counts.  r7 computed these as five separate
        # jobs (a count, two distinct().collect()s and two aggregates),
        # ~4 extra driver round-trips a 1k-game micro-bench pays in
        # full (the r7 mahjong_etl_1k 1.62->3.09 s regression).  The
        # group-key cardinality is the number of distinct dates —
        # driver-bounded at any scale.
        per_dt = parsed.groupBy("dt").agg(
            F.sum(
                F.when(F.col("error").isNotNull(), 1).otherwise(0)
            ).alias("_n_err"),
            *[
                F.coalesce(
                    F.sum(F.when(F.col("error").isNull(), F.size(t))),
                    F.lit(0),
                ).alias(t)
                for t in TABLE_SCHEMAS
            ],
        ).collect()
        n_corrupt = sum(int(r["_n_err"]) for r in per_dt)
        processed_dts = {r.dt for r in per_dt}
        corrupt_dts = {r.dt for r in per_dt if int(r["_n_err"])}
        if n_corrupt:
            # write-if-nonempty, like the reference's conditional
            # agaris/nagares files
            parsed.where(F.col("error").isNotNull()).select(
                "dt", "game_id", "error"
            ).write.mode("overwrite").partitionBy("dt").parquet(
                f"{out_dir}/_corrupt"
            )
        # Dynamic overwrite only replaces partitions it WRITES: a
        # re-run over a date whose corruption was since fixed writes
        # no _corrupt/dt= dir, so the stale one would keep flagging a
        # now-good game forever.  Drop stale _corrupt partitions for
        # every processed date that produced no corrupt rows.
        # (_drop_partitions is a pure no-op on an empty list — the
        # common fresh-ingest case pays zero filesystem round-trips.)
        _drop_partitions(
            spark, f"{out_dir}/_corrupt", sorted(processed_dts - corrupt_dts)
        )
        good = parsed.where(F.col("error").isNull())
        # The five kyoku-keyed sinks need each game's kyoku offset: it
        # is joined onto the games ONCE here, before the fanout, and
        # persisted and filled by a count, so no sink runs a join of its
        # own, whose broadcast job would queue behind the other sinks'
        # tasks and make each write's start depend on the order the
        # nine threads submit their jobs.  The window's exchange has one partition per processed date
        # (known from the bookkeeping aggregate), not
        # spark.sql.shuffle.partitions, so it costs no near-empty tasks.
        offsets = _with_offsets(good, len(processed_dts))
        games = good.join(
            F.broadcast(offsets.select("dt", "game_id", "kyoku_offset")),
            ["dt", "game_id"],
        ).persist()
        games.count()
        sizes = {t: sum(int(r[t]) for r in per_dt) for t in TABLE_SCHEMAS}

        def write_one(table: str) -> None:
            # agaris/nagares may be empty for a date — Spark simply
            # writes no partition directory (the reference skips the
            # file too, scrape.py:651-660).
            #
            # Sink sizing comes FREE from the bookkeeping aggregate
            # and is decided PER TABLE (r15: the r9-r14 global flag
            # sent every sink through the REBALANCE exchange as soon
            # as ONE table crossed the threshold — a 1k-game corpus
            # has 411k action rows, so nine 1k-411k-row sinks each
            # paid a shuffle + AQE re-plan).  A table under
            # SMALL_SINK_ROWS takes the narrow path — coalesce to
            # ceil(rows / SINK_ROWS_PER_TASK) tasks, no exchange, ONE
            # classic stage with no AQE round-trip; file count stays
            # tasks x dates with tasks ~ 1-2.  A table over the
            # threshold (any real backfill) keeps the REBALANCE(dt)
            # shuffle, which clusters rows by date AND splits a hot
            # date across writers by shuffle-block size.
            df = table_df(games, table)
            if sizes[table] <= SMALL_SINK_ROWS:
                df = df.coalesce(
                    max(1, -(-sizes[table] // SINK_ROWS_PER_TASK))
                )
            else:
                # REBALANCE(dt) before partitionBy: without it every
                # write task opens a writer per date it happens to
                # hold (task x date small files, the classic
                # partitioned-write storm).  The AQE rebalance
                # clusters rows by dt but, unlike a plain
                # repartition("dt"), SPLITS an oversized date across
                # tasks by shuffle-block size — so one hot date never
                # serializes onto one writer at cluster scale.
                df = df.hint("rebalance", "dt")
            df.write.mode("overwrite").partitionBy("dt").parquet(
                f"{out_dir}/{table}"
            )

        # The nine sinks are independent narrow jobs over the SAME
        # persisted games (materialized above, so no cache-fill races),
        # each writing its own directory.
        # Submitting them from a thread pool lets the scheduler
        # interleave their tasks instead of paying nine serial
        # job-latency floors — the sink fanout was ~4/5 of ETL wall
        # time when serial.  On a cluster the same applies: concurrent
        # jobs fill idle executors.  Largest table first: the scheduler
        # runs tasks in job-submission order, so the widest sink (actions,
        # ~90 % of a day's rows) never waits behind eight small ones.
        order = sorted(TABLE_SCHEMAS, key=sizes.get, reverse=True)
        with ThreadPoolExecutor(max_workers=len(TABLE_SCHEMAS)) as pool:
            futures = {t: pool.submit(write_one, t) for t in order}
            for fut in futures.values():
                fut.result()

        # A re-run can also empty a previously-written (dt, table)
        # partition (agaris/nagares with no such endings after a log
        # fix): dynamic overwrite writes nothing there, so drop the
        # stale dir explicitly.  The per-(dt, table) row counts come
        # from the single bookkeeping aggregate above — no read-back
        # jobs — and _drop_partitions skips the filesystem entirely
        # for tables with no retirement candidates.
        for t in TABLE_SCHEMAS:
            nonempty = {r.dt for r in per_dt if int(r[t]) > 0}
            _drop_partitions(
                spark, f"{out_dir}/{t}", sorted(processed_dts - nonempty)
            )
        return {"_corrupt": n_corrupt, **sizes}
    finally:
        parsed.unpersist()
        if games is not None:
            games.unpersist()
        if prior_mode is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prior_mode
            )
