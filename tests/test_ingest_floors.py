"""Fixed per-call costs of the daily ingest: ``run_etl`` sizes its
kyoku-offset window by the number of dates, not by
``spark.sql.shuffle.partitions``, its sinks read the offsets from the
games they explode instead of joining them each, and
``register_tables`` reads every view with its declared schema, so it
submits no Spark job."""

from __future__ import annotations

import datetime
import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from mahjong_etl_spark.plans.catalog import VIEW_SCHEMAS, register_tables
from mahjong_etl_spark.plans.etl import parse_logs, run_etl, table_df
from mahjong_etl_spark.plans.mahjong_queries import FIXTURE_LOGS
from mahjong_etl_spark.schemas import TABLE_SCHEMAS
from mahjong_etl_spark.sources.paiyama import write_walls
from mahjong_etl_spark.streaming.etl_stream import run_etl_stream

from .helpers import canon


def _submitted_stages(spark, fn):
    """Run ``fn`` from a thread with no job group and return the
    (numTasks, numCompletedTasks) of every stage of every job it
    submitted, the jobs of ``run_etl``'s sink threads included (they
    carry no job group either)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", None)
    try:
        bus.waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup())
        fn()
        bus.waitUntilEmpty()
        jobs = set(tracker.getJobIdsForGroup()) - before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", group)
    stage_ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    stages = [tracker.getStageInfo(s) for s in sorted(stage_ids)]
    return [(s.numTasks, s.numCompletedTasks) for s in stages if s is not None]


def test_etl_tasks_do_not_follow_shuffle_partitions(spark, tmp_path):
    conf_key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(conf_key)
    runs = {}
    try:
        for parts in (int(prior), 64):
            spark.conf.set(conf_key, str(parts))
            out = str(tmp_path / f"p{parts}")
            stages = _submitted_stages(
                spark, lambda out=out: run_etl(spark, FIXTURE_LOGS, out)
            )
            runs[parts] = (out, stages)
    finally:
        spark.conf.set(conf_key, prior)
    (out_a, stages_a), (out_b, stages_b) = runs.values()
    assert stages_a and stages_b
    assert sum(d for _, d in stages_a) == sum(d for _, d in stages_b), (
        stages_a,
        stages_b,
    )
    assert all(n != 64 for n, _ in stages_b), stages_b
    for t in TABLE_SCHEMAS:
        a = spark.read.parquet(f"{out_a}/{t}")
        b = spark.read.parquet(f"{out_b}/{t}")
        assert canon(a) == canon(b), f"table {t} differs"


def test_sinks_plan_no_join(spark):
    # a join per kyoku-keyed sink ran a broadcast job of its own inside
    # the fanout, queued behind the other sinks' tasks
    games = parse_logs(spark, FIXTURE_LOGS).withColumn("kyoku_offset", F.lit(0))
    for t in TABLE_SCHEMAS:
        plan = table_df(games, t)._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Broadcast" not in plan, (t, plan)


def _batch_root(spark, root):
    run_etl(spark, FIXTURE_LOGS, root)
    write_walls(spark, 8, datetime.date(2024, 1, 2), root, seed=3)


def _stream_root(spark, root):
    logs = os.path.join(os.path.dirname(root), "logs")
    for f in glob.glob(os.path.join(FIXTURE_LOGS, "*", "*.xml")):
        d = os.path.join(logs, os.path.basename(os.path.dirname(f)))
        os.makedirs(d, exist_ok=True)
        shutil.copy(f, d)
    q = run_etl_stream(spark, logs, root, os.path.join(os.path.dirname(root), "ckpt"))
    assert q.awaitTermination(180), "stream did not drain in time"
    q.stop()


@pytest.mark.parametrize("writer", [_batch_root, _stream_root])
def test_register_tables_runs_no_job_and_reads_written_schema(
    spark, tmp_path, writer
):
    root = str(tmp_path / "root")
    writer(spark, root)
    registered = []
    stages = _submitted_stages(
        spark, lambda: registered.extend(register_tables(spark, root))
    )
    assert stages == []
    tables = [t for t in registered if t in VIEW_SCHEMAS]
    expected = set(TABLE_SCHEMAS) | ({"paiyamas"} if writer is _batch_root else set())
    assert set(tables) == expected
    for t in tables:
        # the declared schema must be exactly what the writer wrote,
        # nested nullability included: a drifting writer fails here
        # instead of being read through a silent cast
        written = spark.read.parquet(f"{root}/{t}").schema
        assert spark.table(t).schema == written, t
