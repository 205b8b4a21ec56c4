"""Streaming ETL must converge to the batch ETL's exact output —
all 9 tables, minted ids included — across chopped arrivals."""

from __future__ import annotations

import glob
import os
import shutil
import time

from mahjong_etl_spark.plans.mahjong_queries import FIXTURE_LOGS
from mahjong_etl_spark.schemas import TABLE_SCHEMAS
from mahjong_etl_spark.streaming.etl_stream import run_etl_stream


from .helpers import canon as _canon


def test_stream_etl_converges_to_batch_etl(spark, tmp_path):
    src_files = sorted(glob.glob(os.path.join(FIXTURE_LOGS, "*", "*.xml")))
    logs = tmp_path / "logs"
    out = str(tmp_path / "out_stream")
    ckpt = str(tmp_path / "ckpt")

    def arrive(files):
        for f in files:
            d = logs / os.path.basename(os.path.dirname(f))
            d.mkdir(parents=True, exist_ok=True)
            shutil.copy(f, d / os.path.basename(f))

    def drain():
        q = run_etl_stream(spark, str(logs), out, ckpt)
        assert q.awaitTermination(180), "stream did not drain in time"
        q.stop()
        time.sleep(0.2)

    half = max(1, len(src_files) // 2)
    arrive(src_files[:half])
    drain()
    arrive(src_files[half:])
    drain()

    from mahjong_etl_spark.plans.etl import run_etl

    out_batch = str(tmp_path / "out_batch")
    run_etl(spark, str(logs), out_batch)

    for t in TABLE_SCHEMAS:
        streamed = spark.read.parquet(f"{out}/{t}")
        batch = spark.read.parquet(f"{out_batch}/{t}")
        assert _canon(streamed) == _canon(batch), f"table {t} diverged"


def test_crash_mid_fanout_replays_without_duplicates(spark, tmp_path, monkeypatch):
    """Effective exactly-once (r6 verdict item 4): fail ONE table's
    publish while the other eight land (the fanout is concurrent since
    r8, so "mid-fanout" means a partial publish set, not a call-order
    prefix) — the marker must be withheld, and a restart from the same
    checkpoint must leave every one of the nine tables equal to the
    batch ETL's output with ZERO duplicate rows.  The replay must
    erase the interrupted attempt's published files (batch-keyed
    b{id}- prefix) before republishing."""
    import threading

    import pytest

    import mahjong_etl_spark.streaming.etl_stream as es

    src_files = sorted(glob.glob(os.path.join(FIXTURE_LOGS, "*", "*.xml")))
    logs = tmp_path / "logs"
    for f in src_files:
        d = logs / os.path.basename(os.path.dirname(f))
        d.mkdir(parents=True, exist_ok=True)
        shutil.copy(f, d / os.path.basename(f))
    out = str(tmp_path / "out_stream")
    ckpt = str(tmp_path / "ckpt")

    real = es._publish_table_df
    lock = threading.Lock()
    calls = {"n": 0, "failed": False}

    def flaky(df, t, out_dir, key, fs, part_col="dt"):
        with lock:
            calls["n"] += 1
            fail = t == "agaris" and not calls["failed"]
            if fail:
                calls["failed"] = True
        if fail:
            # this table's files never land; the other eight publish —
            # the worst crash point: a half-published batch, no marker
            raise RuntimeError("injected crash between sink writes")
        real(df, t, out_dir, key, fs, part_col)

    monkeypatch.setattr(es, "_publish_table_df", flaky)

    q = run_etl_stream(spark, str(logs), out, ckpt)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(180)
        raise AssertionError("query did not fail")  # pragma: no cover
    q.stop()
    time.sleep(0.2)
    assert calls["n"] == 9  # all attempted; agaris failed, 8 published
    assert not os.path.exists(f"{out}/_batch_commits") or not os.listdir(
        f"{out}/_batch_commits"
    )  # the marker was withheld

    # restart from the same checkpoint: batch 0 replays (its offsets
    # never committed), erases the eight b0- publishes, redoes all nine
    q = run_etl_stream(spark, str(logs), out, ckpt)
    assert q.awaitTermination(180), "stream did not drain in time"
    q.stop()
    time.sleep(0.2)
    assert calls["n"] == 18  # 9 crashed-attempt calls + 9 replayed

    from mahjong_etl_spark.plans.etl import run_etl

    out_batch = str(tmp_path / "out_batch")
    run_etl(spark, str(logs), out_batch)
    for t in TABLE_SCHEMAS:
        streamed = spark.read.parquet(f"{out}/{t}")
        batch = spark.read.parquet(f"{out_batch}/{t}")
        # canon compares full row multisets: a single duplicated or
        # lost row fails here
        assert _canon(streamed) == _canon(batch), f"table {t} diverged"
    # staging fully cleaned, batch manifest present
    assert not os.path.exists(f"{out}/_staging") or not os.listdir(
        f"{out}/_staging"
    )
    assert os.listdir(f"{out}/_batch_commits")


def test_replay_of_committed_batch_is_noop(spark, tmp_path, monkeypatch):
    """The other crash window: the sink marker landed but the SOURCE
    offset commit didn't (simulated by deleting the checkpoint's
    commits/0).  The restart replays batch 0; the manifest must skip
    it outright — no staging, no publishes, no duplicate rows."""
    import mahjong_etl_spark.streaming.etl_stream as es

    src_files = sorted(glob.glob(os.path.join(FIXTURE_LOGS, "*", "*.xml")))[:2]
    logs = tmp_path / "logs"
    for f in src_files:
        d = logs / os.path.basename(os.path.dirname(f))
        d.mkdir(parents=True, exist_ok=True)
        shutil.copy(f, d / os.path.basename(f))
    out = str(tmp_path / "out_stream")
    ckpt = str(tmp_path / "ckpt")
    q = run_etl_stream(spark, str(logs), out, ckpt)
    assert q.awaitTermination(180), "stream did not drain in time"
    q.stop()
    time.sleep(0.2)
    # crash AFTER the sink's marker, BEFORE the source offset commit
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")  # hadoop local-FS sidecar
    if os.path.exists(crc):
        os.remove(crc)

    calls = []
    monkeypatch.setattr(
        es, "_publish_table_df", lambda *a: calls.append(a[1])
    )
    q = run_etl_stream(spark, str(logs), out, ckpt)
    assert q.awaitTermination(180), "stream did not drain in time"
    q.stop()
    time.sleep(0.2)
    assert calls == []  # marker short-circuited the whole fan-out
    n = spark.read.parquet(f"{out}/games").count()
    assert n == len(src_files)  # and nothing duplicated


def test_distinct_lineages_never_collide(spark, tmp_path):
    """batch_id is only unique per checkpoint lineage: a SECOND stream
    with its own fresh checkpoint writing to the same sink must not be
    silently skipped by the first lineage's batch-0 marker — it is a
    visible re-ingest under its own file prefix (the foreachBatch
    standard; Delta's txnAppId/txnVersion pairing)."""
    src_files = sorted(glob.glob(os.path.join(FIXTURE_LOGS, "*", "*.xml")))[:2]
    logs = tmp_path / "logs"
    for f in src_files:
        d = logs / os.path.basename(os.path.dirname(f))
        d.mkdir(parents=True, exist_ok=True)
        shutil.copy(f, d / os.path.basename(f))
    out = str(tmp_path / "out_stream")
    for ckpt in ("ckpt_a", "ckpt_b"):
        q = run_etl_stream(spark, str(logs), out, str(tmp_path / ckpt))
        assert q.awaitTermination(180), "stream did not drain in time"
        q.stop()
        time.sleep(0.2)
    n = spark.read.parquet(f"{out}/games").count()
    assert n == 2 * len(src_files)  # both lineages landed, neither skipped


def test_cli_stream_drains_available(tmp_path):
    from mahjong_etl_spark.cli import main

    src_files = sorted(glob.glob(os.path.join(FIXTURE_LOGS, "*", "*.xml")))[:2]
    logs = tmp_path / "logs"
    for f in src_files:
        d = logs / os.path.basename(os.path.dirname(f))
        d.mkdir(parents=True, exist_ok=True)
        shutil.copy(f, d / os.path.basename(f))
    out = str(tmp_path / "out")
    rc = main(
        [
            "stream",
            "-L",
            str(logs),
            "-O",
            out,
            "-C",
            str(tmp_path / "ckpt"),
        ]
    )
    assert rc == 0
    from mahjong_etl_spark.session import get_spark

    spark = get_spark("cli-stream-check")
    assert spark.read.parquet(f"{out}/games").count() == len(src_files)


def test_checkpoint_wipe_reingests_instead_of_silent_skip(spark, tmp_path):
    """A checkpoint deleted and recreated at the SAME path must mint a
    fresh lineage: batch numbering restarts at 0 there, and a
    path-derived lineage would let the old run's commit markers
    swallow the re-ingest's batches (zero new rows, silent data loss).
    The documented contract is a VISIBLE re-ingest — rows appear twice,
    under two lineage prefixes."""
    src_files = sorted(glob.glob(os.path.join(FIXTURE_LOGS, "*", "*.xml")))[:2]
    logs = tmp_path / "logs"
    for f in src_files:
        d = logs / os.path.basename(os.path.dirname(f))
        d.mkdir(parents=True, exist_ok=True)
        shutil.copy(f, d / os.path.basename(f))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = run_etl_stream(spark, str(logs), out, ckpt)
        assert q.awaitTermination(180), "stream did not drain in time"
        q.stop()
        time.sleep(0.2)

    drain()
    n1 = spark.read.parquet(f"{out}/games").count()
    assert n1 > 0

    shutil.rmtree(ckpt)  # operator wipes the checkpoint to re-ingest
    drain()
    n2 = spark.read.parquet(f"{out}/games").count()
    assert n2 == 2 * n1, (
        f"checkpoint wipe must re-ingest visibly (got {n2}, want {2 * n1}: "
        "a silent skip means the stale lineage's markers were reused)"
    )
    prefixes = {
        os.path.basename(p).split("-")[0]
        for p in glob.glob(f"{out}/games/dt=*/b*-*.parquet")
    }
    assert len(prefixes) == 2, prefixes


def test_hadoop_fallback_meta_fs_end_to_end(spark, tmp_path, monkeypatch):
    """The publish bookkeeping must work on schemes pyarrow cannot
    resolve (s3a://, abfss://) via the JVM Hadoop connector stack.
    Force that branch over a local path — Hadoop's LocalFileSystem
    qualifies it to file:/ — and drive the stream end-to-end: lineage
    minting, staged publish, marker commit all through _HadoopMetaFS."""
    from mahjong_etl_spark.streaming import etl_stream as es

    used: list[str] = []
    real = es._meta_fs

    def spy(spark_, path):
        monkeypatch.setattr(es, "_pyarrow_resolves", lambda p: False)
        fs = real(spark_, path)
        used.append(type(fs).__name__)
        return fs

    monkeypatch.setattr(es, "_meta_fs", spy)

    src_files = sorted(glob.glob(os.path.join(FIXTURE_LOGS, "*", "*.xml")))[:2]
    logs = tmp_path / "logs"
    for f in src_files:
        d = logs / os.path.basename(os.path.dirname(f))
        d.mkdir(parents=True, exist_ok=True)
        shutil.copy(f, d / os.path.basename(f))
    out = str(tmp_path / "out")

    q = run_etl_stream(spark, str(logs), out, str(tmp_path / "ckpt"))
    assert q.awaitTermination(180), "stream did not drain in time"
    q.stop()
    time.sleep(0.2)

    assert used and set(used) == {"_HadoopMetaFS"}, used
    assert spark.read.parquet(f"{out}/games").count() == len(src_files)
    # the commit marker landed through the Hadoop impl too
    assert glob.glob(f"{out}/_batch_commits/*")
