"""Right-to-be-forgotten for the persisted index families
(streaming/ann_index_stream.py::forget_from_index +
plans/compaction.py::forget_rows): deletion requests must reach the
DERIVED stores — MinHash bands/shingles encode the document's text,
PQ codes encode the vector — without a rebuild, via the same
journaled snapshot swap (lease, manifest, in-flight-batch skip) the
compaction plane ships."""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import functions as F

from mahjong_etl_spark.operators.minhash_index import (
    query_minhash_index,
    read_minhash_index,
    write_minhash_index,
)
from mahjong_etl_spark.streaming.ann_index_stream import (
    forget_from_index,
    run_neardup_admission_stream,
)

DOC_SCHEMA = "doc_id long, text string"


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )


def _stage(df, tmp_path, drop, name, mtime):
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / f"stage_{name}")
    )
    (src,) = glob.glob(str(tmp_path / f"stage_{name}" / "part-*.parquet"))
    dst = drop / f"{name}.parquet"
    os.rename(src, dst)
    os.utime(dst, (mtime, mtime))


def _rows(spark, path, cols):
    return {tuple(r) for r in spark.read.parquet(path).select(*cols).collect()}


def test_forget_minhash_scrubs_bands_shingles_admissions(
    spark, sf_dir, tmp_path, index_cache
):
    """Forget a mix of build-time docs and a GATE-admitted doc: every
    bands/shingles/admissions row of theirs goes, every other row is
    byte-preserved, the forgotten docs stop matching probes, and a
    second run is a no-op."""
    docs = _docs(spark, sf_dir)
    index_dir = str(tmp_path / "mh")
    # shared prebuilt full-corpus index (conftest.index_cache; same
    # key as test_minhash_index's — identical deterministic bytes)
    index_cache.fresh(
        "mhidx_full",
        lambda d: write_minhash_index(spark, docs, d),
        index_dir,
    )

    fresh = "forget me gate admitted text with unique tokens zz1 zz2"
    b1 = spark.createDataFrame([(10_001, fresh)], DOC_SCHEMA)
    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(b1, tmp_path, drop, "b1", 1_000)
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = run_neardup_admission_stream(
        spark, stream, index_dir, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(180)
    q.stop()
    time.sleep(0.2)

    forget = [3, 7, 10_001]
    bands0 = _rows(spark, f"{index_dir}/bands", ["band", "bh", "doc_id"])
    sh0 = _rows(spark, f"{index_dir}/shingles", ["doc_id"])
    adm0 = _rows(spark, f"{index_dir}/admissions", ["doc_id", "admitted"])

    rep = forget_from_index(spark, index_dir, forget)
    assert rep["kind"] == "minhash"
    assert not rep["skipped_in_flight"]
    from mahjong_etl_spark.operators.dedup import BANDS

    # bands: 16 rows per forgotten doc; shingles + admissions: 1 each
    assert rep["tables"]["bands"]["rows_deleted"] == 3 * BANDS
    assert rep["tables"]["shingles"]["rows_deleted"] == 3
    assert rep["tables"]["admissions"]["rows_deleted"] == 1

    bands1 = _rows(spark, f"{index_dir}/bands", ["band", "bh", "doc_id"])
    assert bands1 == {r for r in bands0 if r[2] not in forget}
    assert _rows(spark, f"{index_dir}/shingles", ["doc_id"]) == {
        r for r in sh0 if r[0] not in forget
    }
    assert _rows(spark, f"{index_dir}/admissions", ["doc_id", "admitted"]) == {
        r for r in adm0 if r[0] not in forget
    }

    # a copy of a forgotten doc's text no longer matches it (and the
    # gate-admitted forgotten text matches nothing at all)
    (t3,) = docs.where("doc_id = 3").collect()
    probe = spark.createDataFrame(
        [(90_001, t3.text), (90_002, fresh)], DOC_SCHEMA
    )
    got = query_minhash_index(
        spark,
        probe,
        docs.unionByName(b1),
        read_minhash_index(spark, index_dir),
        index_dir=index_dir,
    ).collect()
    assert all(r.match_id not in forget for r in got)
    assert not [r for r in got if r.doc_id == 90_002]

    # idempotent
    rep2 = forget_from_index(spark, index_dir, forget)
    assert rep2["rows_deleted"] == 0 and not rep2["tables"]["bands"][
        "partitions_rewritten"
    ]


def test_forget_ann_families(spark, sf_dir, tmp_path, index_cache):
    """vec_id membership leaves the postings/codes of all three ANN
    families; untouched rows survive byte-for-byte."""
    forget = [1, 5, 9]
    for kind, table in (
        ("ivf", "postings"),
        ("pq", "codes"),
        ("ivfpq", "codes"),
    ):
        idx = str(tmp_path / kind)
        index_cache.ann_full(spark, sf_dir, kind, idx)
        before = _rows(spark, f"{idx}/{table}", ["vec_id"])
        rep = forget_from_index(spark, idx, forget)
        assert rep["kind"] == kind, kind
        assert rep["rows_deleted"] == 3
        after = _rows(spark, f"{idx}/{table}", ["vec_id"])
        assert after == {r for r in before if r[0] not in forget}


def test_forget_skips_in_flight_partitions_and_reports(
    spark, sf_dir, tmp_path
):
    """A partition holding an UNCOMMITTED streaming batch's files is
    left alone and reported — replay erases by filename prefix, which
    folding into anonymous files would break.  Re-running after the
    batch commits scrubs it."""
    from mahjong_etl_spark.streaming.ann_index_stream import (
        run_minhash_maintenance_stream,
    )

    docs = _docs(spark, sf_dir)
    cut = int(docs.count() * 0.8)
    index_dir = str(tmp_path / "mh")
    write_minhash_index(spark, docs.where(F.col("doc_id") < cut), index_dir)

    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(
        docs.where(F.col("doc_id") >= cut), tmp_path, drop, "arr", 1_000
    )
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = run_minhash_maintenance_stream(
        spark, stream, index_dir, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(180)
    q.stop()
    time.sleep(0.2)

    # wipe the bands marker: its files now look in-flight
    (marker,) = glob.glob(f"{index_dir}/_batch_commits/*-0")
    mbytes = open(marker, "rb").read()
    os.remove(marker)

    target = int(docs.where(F.col("doc_id") >= cut).agg(F.min("doc_id")).first()[0])
    rep = forget_from_index(spark, index_dir, [target])
    from mahjong_etl_spark.operators.dedup import BANDS

    # every band partition holds a file of the uncommitted batch
    assert len(rep["skipped_in_flight"]["bands"]) == BANDS
    assert rep["tables"]["bands"]["rows_deleted"] == 0
    assert (
        spark.read.parquet(f"{index_dir}/bands")
        .where(F.col("doc_id") == target)
        .count()
        == BANDS
    )

    # batch commits again -> the re-run scrubs it
    with open(marker, "wb") as f:
        f.write(mbytes)
    rep2 = forget_from_index(spark, index_dir, [target])
    assert not rep2["skipped_in_flight"]
    assert rep2["tables"]["bands"]["rows_deleted"] == BANDS
    assert (
        spark.read.parquet(f"{index_dir}/bands")
        .where(F.col("doc_id") == target)
        .count()
        == 0
    )


def test_cli_index_forget(spark, sf_dir, tmp_path, capsys, index_cache):
    """`index --kind minhash --forget ids.parquet` drives the same
    cascade and reports the verb."""
    from mahjong_etl_spark.cli import main

    docs = _docs(spark, sf_dir)
    index_dir = str(tmp_path / "mh")
    # shared prebuilt full-corpus index (conftest.index_cache; same
    # key as test_minhash_index's — identical deterministic bytes)
    index_cache.fresh(
        "mhidx_full",
        lambda d: write_minhash_index(spark, docs, d),
        index_dir,
    )
    ids_pq = str(tmp_path / "ids")
    spark.createDataFrame([(2,), (4,)], "doc_id long").write.parquet(ids_pq)

    rc = main(
        ["index", "--kind", "minhash", "-I", index_dir, "--forget", ids_pq]
    )
    assert rc == 0
    out = capsys.readouterr().out
    from mahjong_etl_spark.operators.dedup import BANDS

    assert f"forgot {2 * BANDS + 2} rows" in out  # bands + shingles
    assert (
        spark.read.parquet(f"{index_dir}/bands")
        .where(F.col("doc_id").isin([2, 4]))
        .count()
        == 0
    )
