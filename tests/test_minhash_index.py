"""Persisted + maintained MinHash band index
(operators/minhash_index.py + streaming/ann_index_stream.py::
run_minhash_maintenance_stream): the maintained postings must be
BIT-IDENTICAL to a batch write over the union corpus (deterministic
signatures), the persisted query path must reproduce the in-corpus
pair path pair-for-pair, and the lifecycle (epoch fence, replay
idempotence, dup-rate drift, compaction) must mirror the ANN
families'."""

from __future__ import annotations

import glob
import os
import time

import pytest
from pyspark.sql import functions as F

from mahjong_etl_spark.operators.minhash_index import (
    query_minhash_index,
    read_minhash_index,
    write_minhash_index,
)
from mahjong_etl_spark.streaming.ann_index_stream import (
    run_minhash_maintenance_stream,
)

DOC_SCHEMA = "doc_id long, text string"


def _load_docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )



def _prebuilt_mh(index_cache, spark, sf_dir, dst, bare=False):
    """Pristine full-corpus minhash index, built ONCE per session
    (conftest.index_cache) and copied per test; ``bare`` strips the
    shingles relation from the copy — equivalent to a
    with_shingles=False build (readers detect the relation by
    directory existence only)."""
    return index_cache.fresh(
        "mhidx_full",
        lambda d: write_minhash_index(spark, _load_docs(spark, sf_dir), d),
        dst,
        strip=("shingles",) if bare else (),
    )

def _stage(df, tmp_path, drop, name, mtime):
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / f"stage_{name}")
    )
    (src,) = glob.glob(str(tmp_path / f"stage_{name}" / "part-*.parquet"))
    dst = drop / f"{name}.parquet"
    os.rename(src, dst)
    os.utime(dst, (mtime, mtime))


def _drain(spark, drop, index_dir, ckpt):
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = run_minhash_maintenance_stream(spark, stream, index_dir, str(ckpt))
    assert q.awaitTermination(180), "maintenance stream did not drain"
    q.stop()
    time.sleep(0.2)


def _bands_set(spark, index_dir):
    return {
        (r.band, r.bh, r.doc_id)
        for r in read_minhash_index(spark, index_dir).collect()
    }


def _matches(spark, docs, index_dir):
    return {
        (r.doc_id, r.match_id, r.jaccard)
        for r in query_minhash_index(
            spark, docs, docs, read_minhash_index(spark, index_dir)
        ).collect()
    }


def test_persisted_query_matches_pair_path(spark, sf_dir, tmp_path, index_cache):
    """Querying the corpus against its own persisted index reproduces
    minhash_lsh_pairs pair-for-pair (shared banding + verify)."""
    from mahjong_etl_spark.operators.dedup import minhash_lsh_pairs

    docs = _load_docs(spark, sf_dir)
    index_dir = str(tmp_path / "mh")
    _prebuilt_mh(index_cache, spark, sf_dir, index_dir)
    got = {
        (min(a, b), max(a, b), j)
        for a, b, j in (
            (r.doc_id, r.match_id, r.jaccard)
            for r in query_minhash_index(
                spark, docs, docs, read_minhash_index(spark, index_dir)
            ).collect()
        )
    }
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert got == want and got


def test_maintained_bands_match_batch_rebuild(spark, sf_dir, tmp_path):
    """Build on 60% of the corpus, stream the rest in as three files:
    the maintained postings equal a from-scratch write over the FULL
    corpus (signatures are deterministic), and queries served from
    the maintained index return rows identical to the rebuild's."""
    docs = _load_docs(spark, sf_dir)
    cut = int(docs.count() * 0.6)
    index_dir = str(tmp_path / "mh")
    write_minhash_index(
        spark, docs.where(F.col("doc_id") < cut), index_dir
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    parts = docs.where(F.col("doc_id") >= cut).randomSplit(
        [1.0] * 3, seed=7
    )
    for i, p in enumerate(parts):
        _stage(p, tmp_path, drop, f"arrival{i}", 1_000 + i)
    _drain(spark, drop, index_dir, tmp_path / "ckpt")

    rebuilt = str(tmp_path / "rebuilt")
    write_minhash_index(spark, docs, rebuilt)
    assert _bands_set(spark, index_dir) == _bands_set(spark, rebuilt)
    # every doc is indexed in every band exactly once
    from mahjong_etl_spark.operators.dedup import BANDS

    bands = read_minhash_index(spark, index_dir)
    assert bands.count() == docs.count() * BANDS

    got = _matches(spark, docs, index_dir)
    want = _matches(spark, docs, rebuilt)
    assert got == want and got


def test_replay_does_not_duplicate_bands(spark, sf_dir, tmp_path):
    """Crash-window replay (marker + checkpoint commit wiped): the
    re-drain lands the SAME final postings set."""
    docs = _load_docs(spark, sf_dir)
    cut = int(docs.count() * 0.8)
    index_dir = str(tmp_path / "mh")
    write_minhash_index(
        spark, docs.where(F.col("doc_id") < cut), index_dir
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(
        docs.where(F.col("doc_id") >= cut), tmp_path, drop, "arrival", 1_000
    )
    ckpt = tmp_path / "ckpt"
    _drain(spark, drop, index_dir, ckpt)
    want = _bands_set(spark, index_dir)

    (marker,) = glob.glob(f"{index_dir}/_batch_commits/*-0")
    os.remove(marker)
    os.remove(os.path.join(str(ckpt), "commits", "0"))
    crc = os.path.join(str(ckpt), "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    _drain(spark, drop, index_dir, ckpt)
    assert _bands_set(spark, index_dir) == want


def test_rebuild_fences_stale_checkpoint(spark, sf_dir, tmp_path):
    """An in-place write_minhash_index rebuild (fresh epoch) refuses
    the old maintenance checkpoint."""
    docs = _load_docs(spark, sf_dir)
    cut = int(docs.count() * 0.8)
    index_dir = str(tmp_path / "mh")
    write_minhash_index(
        spark, docs.where(F.col("doc_id") < cut), index_dir
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(
        docs.where(F.col("doc_id") >= cut), tmp_path, drop, "arrival", 1_000
    )
    ckpt = tmp_path / "ckpt"
    _drain(spark, drop, index_dir, ckpt)

    write_minhash_index(spark, docs, index_dir)
    assert not os.path.exists(f"{index_dir}/_batch_commits")
    with pytest.raises(RuntimeError, match="REBUILT"):
        _drain(spark, drop, index_dir, ckpt)


def test_drift_flags_boilerplate_surge(spark, sf_dir, tmp_path, index_cache):
    """The dup-rate drift signal: an in-distribution batch (the
    corpus under fresh ids — dup-free) records without flagging; a
    copy-heavy batch (every text triplicated) crosses the absolute +
    ratio bars and flips the flag, surfaced through the SAME
    read_drift / rebuild_recommended face as the ANN families."""
    from mahjong_etl_spark.streaming.ann_index_stream import (
        DRIFT_MIN_BATCH,
        MINHASH_DRIFT_MIN_DUP_RATE,
        read_drift,
        rebuild_recommended,
    )

    docs = _load_docs(spark, sf_dir)
    n = docs.count()
    assert n >= DRIFT_MIN_BATCH
    index_dir = str(tmp_path / "mh")
    _prebuilt_mh(index_cache, spark, sf_dir, index_dir)

    drop = tmp_path / "drop"
    drop.mkdir()
    same = docs.select((F.col("doc_id") + n).alias("doc_id"), "text")
    surge = docs.selectExpr(
        f"explode(sequence(1, 3)) AS copy", f"doc_id", "text"
    ).select(
        (F.col("doc_id") + 2 * n + F.col("copy") * 10 * n).alias("doc_id"),
        "text",
    )
    _stage(same, tmp_path, drop, "same", 1_000)
    _stage(surge, tmp_path, drop, "surge", 2_000)
    _drain(spark, drop, index_dir, tmp_path / "ckpt")

    rows = sorted(
        read_drift(spark, index_dir).collect(), key=lambda r: r.batch_id
    )
    assert len(rows) == 2
    assert not rows[0].rebuild_recommended
    assert rows[0].mean_residual == 0.0  # dup-free batch
    assert rows[1].rebuild_recommended
    assert rows[1].mean_residual > MINHASH_DRIFT_MIN_DUP_RATE
    assert rebuild_recommended(spark, index_dir)["rebuild_recommended"]


def test_minhash_index_lifecycle_end_to_end(spark, sf_dir, tmp_path, index_cache):
    """The composed walk, mirroring the ANN families': build →
    maintain (dup-free + surge batches) → the flag flips → in-place
    rebuild under a fresh epoch → old checkpoint fenced →
    fresh-checkpoint maintenance resumes → compact the band layout →
    query parity with a from-scratch index over the full corpus."""
    from mahjong_etl_spark.plans.compaction import compact_table
    from mahjong_etl_spark.streaming.ann_index_stream import (
        compact_recommended,
        rebuild_recommended,
    )

    docs = _load_docs(spark, sf_dir)
    n = docs.count()

    # 1. build
    index_dir = str(tmp_path / "mh")
    _prebuilt_mh(index_cache, spark, sf_dir, index_dir)

    # 2. maintain: dup-free then surge
    drop = tmp_path / "drop"
    drop.mkdir()
    same = docs.select((F.col("doc_id") + n).alias("doc_id"), "text")
    surge = docs.selectExpr(
        "explode(sequence(1, 3)) AS copy", "doc_id", "text"
    ).select(
        (F.col("doc_id") + 2 * n + F.col("copy") * 10 * n).alias("doc_id"),
        "text",
    )
    _stage(same, tmp_path, drop, "same", 1_000)
    _stage(surge, tmp_path, drop, "surge", 2_000)
    ckpt = tmp_path / "ckpt"
    _drain(spark, drop, index_dir, ckpt)

    union = docs.unionByName(same).unionByName(surge)
    scratch1 = str(tmp_path / "scratch1")
    write_minhash_index(spark, union, scratch1)
    assert _bands_set(spark, index_dir) == _bands_set(spark, scratch1)

    # 3. the surge flips the data-driven signal
    assert rebuild_recommended(spark, index_dir)["rebuild_recommended"]

    # 4-5. in-place rebuild fences the old checkpoint
    write_minhash_index(spark, union, index_dir)
    with pytest.raises(RuntimeError, match="REBUILT"):
        _drain(spark, drop, index_dir, ckpt)

    # 6. fresh-checkpoint maintenance resumes, then compaction
    drop2 = tmp_path / "drop2"
    drop2.mkdir()
    more = docs.select((F.col("doc_id") + 40 * n).alias("doc_id"), "text")
    parts = more.randomSplit([1.0] * 4, seed=5)
    for i, p in enumerate(parts):
        _stage(p, tmp_path, drop2, f"late{i}", 3_000 + i)
    _drain(spark, drop2, index_dir, tmp_path / "ckpt2")
    full = union.unionByName(more)

    before = compact_recommended(spark, index_dir, table="bands")["files"]
    want_rows = _bands_set(spark, index_dir)
    rewritten = compact_table(spark, index_dir, "bands", part_col="band")
    assert rewritten
    assert compact_recommended(spark, index_dir, table="bands")[
        "files"
    ] < before
    assert _bands_set(spark, index_dir) == want_rows

    # 7. query parity with from-scratch over the full corpus
    scratch2 = str(tmp_path / "scratch2")
    write_minhash_index(spark, full, scratch2)
    queries = docs.where("doc_id < 50")
    got = {
        tuple(r)
        for r in query_minhash_index(
            spark, queries, full, read_minhash_index(spark, index_dir)
        ).collect()
    }
    want = {
        tuple(r)
        for r in query_minhash_index(
            spark, queries, full, read_minhash_index(spark, scratch2)
        ).collect()
    }
    assert got == want and got


def test_cli_index_minhash_kind(spark, sf_dir, tmp_path, capsys):
    """`index --kind minhash` drives the dedup-plane index through
    the same lifecycle verbs: build (band-partitioned postings),
    maintain (streaming sign-and-append with the dup-rate drift
    summary + compact signal), compact."""
    from mahjong_etl_spark.cli import main

    docs = _load_docs(spark, sf_dir)
    cut = int(docs.count() * 0.8)
    base = str(tmp_path / "base_docs")
    docs.where(F.col("doc_id") < cut).write.parquet(base)
    index_dir = str(tmp_path / "mh")

    rc = main(["index", "--kind", "minhash", "-I", index_dir, "-V", base])
    assert rc == 0
    assert "built MINHASH index" in capsys.readouterr().out
    assert glob.glob(f"{index_dir}/bands/band=*")

    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(
        docs.where(F.col("doc_id") >= cut), tmp_path, drop, "arrival", 1_000
    )
    rc = main(
        [
            "index", "--kind", "minhash", "-I", index_dir,
            "-M", str(drop),
            "-C", str(tmp_path / "ckpt"),
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    from mahjong_etl_spark.operators.dedup import BANDS

    assert f"{docs.count() * BANDS} bands" in out
    assert "rebuild recommended: False" in out
    assert "compact recommended" in out

    rc = main(["index", "--kind", "minhash", "-I", index_dir, "--compact"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "compacted" in out
    assert f"{docs.count()} shingles" in out  # r14: verify relation too
    assert read_minhash_index(spark, index_dir).count() == docs.count() * BANDS
    assert (
        spark.read.parquet(f"{index_dir}/shingles").count() == docs.count()
    )


def test_query_collapse_matches_direct_path(spark, tmp_path, monkeypatch):
    """The adaptive query-side collapse (copy-heavy batches probe as
    distinct-text reps, matches expand back) must emit EXACTLY the
    direct path's rows when no bucket caps bind: 6 texts x 50 copies
    (294 copies >= BUCKET_CAP) trips the collapse organically; the
    direct shape is forced by stubbing the deciding aggregate."""
    from mahjong_etl_spark.operators import dedup as D
    from mahjong_etl_spark.operators import minhash_index as M

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu",
        "one two three four five six seven eight nine ten eleven twelve",
        "one two three four five six seven eight nine ten eleven thirteen",
        "totally unrelated text about mahjong tiles and parquet files here",
        "another completely different document mentioning spark and arrow",
    ]
    docs = spark.createDataFrame(
        [(i * 1000 + c, t) for i, t in enumerate(texts) for c in range(50)],
        "doc_id long, text string",
    )
    index_dir = str(tmp_path / "mh")
    write_minhash_index(spark, docs, index_dir)
    postings = read_minhash_index(spark, index_dir)

    collapsed = {
        tuple(r)
        for r in query_minhash_index(
            spark, docs, docs, postings
        ).collect()
    }

    class R:
        n_docs = 300
        n_texts = 300  # forces the direct (no-collapse) shape

    monkeypatch.setattr(M, "_dup_stats", None, raising=False)
    monkeypatch.setattr(D, "_dup_stats", lambda df: R)
    direct = {
        tuple(r)
        for r in query_minhash_index(
            spark, docs, docs, postings
        ).collect()
    }
    assert collapsed == direct and collapsed
    # every copy finds its 49 siblings at jaccard exactly 1.0
    sib = [m for q, m, j in collapsed if q == 0 and j == 1.0]
    assert len([m for m in sib if m // 1000 == 0]) == 49


def test_neardup_admission_routes_and_self_maintains(spark, sf_dir, tmp_path, index_cache):
    """The admission gate over a persisted index: exact copies of
    indexed docs are flagged (all 16 bands hit), fresh texts admit
    and their bands JOIN THE INDEX, within-batch copies collapse to
    their rep, and — the self-maintenance proof — a copy of a doc
    admitted in batch 1 is flagged in batch 2 with no rebuild."""
    from mahjong_etl_spark.operators.dedup import BANDS
    from mahjong_etl_spark.streaming.ann_index_stream import (
        run_neardup_admission_stream,
    )

    docs = _load_docs(spark, sf_dir)
    index_dir = str(tmp_path / "mh")
    _prebuilt_mh(index_cache, spark, sf_dir, index_dir)
    base_bands = _bands_set(spark, index_dir)

    fresh_a = "a genuinely new document about spark admission gates"
    fresh_b = "another brand new text that matches nothing indexed yet"
    (copy_row,) = docs.where("doc_id = 7").collect()

    # batch 1: fresh rep + its in-batch copy, an exact corpus copy,
    # a second fresh text
    b1 = spark.createDataFrame(
        [
            (10_001, fresh_a),
            (10_002, fresh_a),          # in-batch copy -> rep 10_001
            (10_003, copy_row.text),    # exact copy of indexed doc 7
            (10_004, fresh_b),
        ],
        DOC_SCHEMA,
    )
    # batch 2: a copy of batch-1-admitted fresh_a (self-maintenance)
    b2 = spark.createDataFrame([(20_001, fresh_a)], DOC_SCHEMA)

    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(b1, tmp_path, drop, "b1", 1_000)
    _stage(b2, tmp_path, drop, "b2", 2_000)
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

    adm = {
        r.doc_id: r
        for r in spark.read.parquet(f"{index_dir}/admissions").collect()
    }
    assert set(adm) == {10_001, 10_002, 10_003, 10_004, 20_001}
    assert adm[10_001].admitted and adm[10_001].n_band_hits == 0
    assert adm[10_004].admitted
    # in-batch copy: collapsed to its rep at jaccard exactly 1.0
    assert not adm[10_002].admitted
    assert adm[10_002].matched_id == 10_001
    assert adm[10_002].jaccard == 1.0
    # exact copy of an indexed doc: every band collides
    assert not adm[10_003].admitted
    assert adm[10_003].n_band_hits == BANDS
    assert adm[10_003].matched_id == 7
    # self-maintenance: batch 2's copy of the batch-1 admit flags
    assert not adm[20_001].admitted
    assert adm[20_001].n_band_hits == BANDS
    assert adm[20_001].matched_id == 10_001

    # only the admitted reps' bands joined the index
    now = _bands_set(spark, index_dir)
    added_ids = {d for _, _, d in now - base_bands}
    assert added_ids == {10_001, 10_004}
    assert len(now - base_bands) == 2 * BANDS

    # the gate= partitioning lets the quarantine reader prune
    import glob as g

    assert g.glob(f"{index_dir}/admissions/gate=quarantine/*")
    assert g.glob(f"{index_dir}/admissions/gate=admit/*")


def test_neardup_admission_replay_lands_same_tables(spark, sf_dir, tmp_path, index_cache):
    """Crash-window replay of an admission batch (both markers + the
    checkpoint commit wiped): the re-drain re-derives identical
    decisions and the same final band set — the two-marker publish
    replays each table idempotently."""
    import glob as g

    from mahjong_etl_spark.streaming.ann_index_stream import (
        run_neardup_admission_stream,
    )

    docs = _load_docs(spark, sf_dir)
    index_dir = str(tmp_path / "mh")
    _prebuilt_mh(index_cache, spark, sf_dir, index_dir)

    (copy_row,) = docs.where("doc_id = 3").collect()
    b1 = spark.createDataFrame(
        [
            (10_001, "one fresh admission replay probe text here"),
            (10_002, copy_row.text),
        ],
        DOC_SCHEMA,
    )
    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(b1, tmp_path, drop, "b1", 1_000)
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop))
        )
        q = run_neardup_admission_stream(spark, stream, index_dir, ckpt)
        assert q.awaitTermination(180)
        q.stop()
        time.sleep(0.2)

    drain()
    want_bands = _bands_set(spark, index_dir)
    want_adm = {
        tuple(r)
        for r in spark.read.parquet(f"{index_dir}/admissions").collect()
    }

    for marker in g.glob(f"{index_dir}/_batch_commits/*-0-bands") + g.glob(
        f"{index_dir}/_batch_commits/*-0-adm"
    ):
        os.remove(marker)
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    drain()

    assert _bands_set(spark, index_dir) == want_bands
    got_adm = {
        tuple(r)
        for r in spark.read.parquet(f"{index_dir}/admissions").collect()
    }
    assert got_adm == want_adm


def test_neardup_admission_verify_mode_is_exact(spark, sf_dir, tmp_path, index_cache):
    """With verify_docs, band hits only NOMINATE: a planted near-dup
    of an indexed text flags with its exact Jaccard in the decision
    row; an unrelated text that would never clear the verify admits."""
    from mahjong_etl_spark.streaming.ann_index_stream import (
        run_neardup_admission_stream,
    )

    docs = _load_docs(spark, sf_dir)
    index_dir = str(tmp_path / "mh")
    _prebuilt_mh(index_cache, spark, sf_dir, index_dir)

    (row,) = docs.where("doc_id = 11").collect()
    toks = row.text.split(" ")
    toks[-1] = "zzzneardupzzz"  # one-token edit: high-Jaccard near-dup
    near = " ".join(toks)

    b1 = spark.createDataFrame(
        [
            (10_001, near),
            (10_002, "wholly unrelated admission text with no match"),
        ],
        DOC_SCHEMA,
    )
    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(b1, tmp_path, drop, "b1", 1_000)
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = run_neardup_admission_stream(
        spark,
        stream,
        index_dir,
        str(tmp_path / "ckpt"),
        verify_docs=docs,
        threshold=0.5,
    )
    assert q.awaitTermination(180)
    q.stop()
    time.sleep(0.2)

    adm = {
        r.doc_id: r
        for r in spark.read.parquet(f"{index_dir}/admissions").collect()
    }
    assert not adm[10_001].admitted
    assert adm[10_001].matched_id == 11
    assert adm[10_001].jaccard is not None and adm[10_001].jaccard >= 0.5
    assert adm[10_002].admitted and adm[10_002].jaccard is None


def test_query_collapse_novel_copy_group_matches_nothing(
    spark, tmp_path, monkeypatch
):
    """r13 review finding: a batch of >= BUCKET_CAP copies of a
    brand-NEW text probed against an index that does NOT contain it
    must return zero matches for that group — the collapse path's
    (member, rep) self-links are gated on the rep being INDEXED, so
    fellow arrivals are never fabricated as matches.  Copies of an
    indexed text in the same batch still match normally, and the
    collapsed output equals the forced direct shape row-for-row."""
    from mahjong_etl_spark.operators import dedup as D
    from mahjong_etl_spark.operators import minhash_index as M

    indexed_text = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    )
    novel_text = (
        "completely novel arrival text never seen by this band index"
    )
    corpus = spark.createDataFrame(
        [(0, indexed_text)], "doc_id long, text string"
    )
    index_dir = str(tmp_path / "mh")
    write_minhash_index(spark, corpus, index_dir)
    postings = read_minhash_index(spark, index_dir)

    queries = spark.createDataFrame(
        [(1000 + i, novel_text) for i in range(300)]
        + [(5000 + i, indexed_text) for i in range(10)],
        "doc_id long, text string",
    )
    # 299 + 9 copies >= BUCKET_CAP -> the collapse path organically
    collapsed = {
        tuple(r)
        for r in query_minhash_index(
            spark, queries, corpus, postings
        ).collect()
    }
    # no novel-group row anywhere: the rep is not indexed
    assert not any(q >= 1000 and q < 5000 for q, _, _ in collapsed)
    assert not any(m >= 1000 and m < 5000 for _, m, _ in collapsed)
    # every indexed-text copy matches doc 0 at exactly 1.0
    assert {(q, m, j) for q, m, j in collapsed} == {
        (5000 + i, 0, 1.0) for i in range(10)
    }

    class R:
        n_docs = 310
        n_texts = 310  # force the direct shape

    monkeypatch.setattr(D, "_dup_stats", lambda df: R)
    direct = {
        tuple(r)
        for r in query_minhash_index(
            spark, queries, corpus, postings
        ).collect()
    }
    assert collapsed == direct


def test_nondefault_geometry_recorded_and_honored(spark, tmp_path):
    """r13 review finding: an index built with non-default banding
    geometry must be probed and MAINTAINED with that geometry — the
    build records it, the maintenance stream reads it, and a query
    passing it finds the planted match (hardcoded defaults would
    silently match nothing: different band slice hashes)."""
    from mahjong_etl_spark.operators.minhash_index import (
        read_minhash_geometry,
    )

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten eleven",
    ]
    corpus = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    index_dir = str(tmp_path / "mh")
    write_minhash_index(
        spark, corpus, index_dir, bands=8, rows_per_band=2
    )
    geo = read_minhash_geometry(spark, index_dir)
    assert geo == {"n": 3, "bands": 8, "rows_per_band": 2}
    # postings carry 8 bands per doc, not the default 16
    assert read_minhash_index(spark, index_dir).count() == 2 * 8

    # the maintenance stream bands arrivals with the INDEX's geometry
    arrival = spark.createDataFrame(
        [(100, "a third document with its own words entirely here")],
        DOC_SCHEMA,
    )
    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(arrival, tmp_path, drop, "a0", 1_000)
    _drain(spark, drop, index_dir, tmp_path / "ckpt")
    assert read_minhash_index(spark, index_dir).count() == 3 * 8

    # a query passing the recorded geometry finds an exact copy
    probe = spark.createDataFrame(
        [(500, texts[0])], "doc_id long, text string"
    )
    got = query_minhash_index(
        spark,
        probe,
        corpus.unionByName(arrival),
        read_minhash_index(spark, index_dir),
        n=geo["n"],
        bands=geo["bands"],
        rows_per_band=geo["rows_per_band"],
    ).collect()
    assert [(r.doc_id, r.match_id, r.jaccard) for r in got] == [
        (500, 0, 1.0)
    ]


# ---------------------------------------------------------------------------
# r14: persisted verify relation, within-batch gate, baseline-rated
# admission drift, rebuild ledger reset, bucket-pressure counters
# ---------------------------------------------------------------------------


def _sh_rows(spark, index_dir):
    return {
        (r.doc_id, tuple(r.shingles))
        for r in spark.read.parquet(f"{index_dir}/shingles")
        .select("doc_id", "shingles")
        .collect()
    }


def test_maintained_shingles_match_batch_rebuild(spark, sf_dir, tmp_path):
    """The persisted verify relation is maintained alongside the
    bands: after streaming arrivals in, {index}/shingles equals a
    from-scratch write over the union corpus row-for-row."""
    docs = _load_docs(spark, sf_dir)
    cut = int(docs.count() * 0.6)
    index_dir = str(tmp_path / "mh")
    write_minhash_index(spark, docs.where(F.col("doc_id") < cut), index_dir)

    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(
        docs.where(F.col("doc_id") >= cut), tmp_path, drop, "arrival", 1_000
    )
    _drain(spark, drop, index_dir, tmp_path / "ckpt")

    rebuilt = str(tmp_path / "rebuilt")
    write_minhash_index(spark, docs, rebuilt)
    assert _sh_rows(spark, index_dir) == _sh_rows(spark, rebuilt)

    # and read_minhash_shingles serves it / reports a bands-only
    # index as None
    from mahjong_etl_spark.operators.minhash_index import (
        read_minhash_shingles,
    )

    assert read_minhash_shingles(spark, index_dir).count() == docs.count()
    bare = str(tmp_path / "bare")
    write_minhash_index(spark, docs, bare, with_shingles=False)
    assert read_minhash_shingles(spark, bare) is None


def test_maintenance_replay_covers_shingles_table(spark, sf_dir, tmp_path):
    """Crash-window replay with BOTH markers (bands + shingles) wiped
    re-lands identical band AND shingle sets — the third table rides
    the same exactly-once contract."""
    docs = _load_docs(spark, sf_dir)
    cut = int(docs.count() * 0.8)
    index_dir = str(tmp_path / "mh")
    write_minhash_index(spark, docs.where(F.col("doc_id") < cut), index_dir)

    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(
        docs.where(F.col("doc_id") >= cut), tmp_path, drop, "arrival", 1_000
    )
    ckpt = tmp_path / "ckpt"
    _drain(spark, drop, index_dir, ckpt)
    want_bands = _bands_set(spark, index_dir)
    want_sh = _sh_rows(spark, index_dir)

    for marker in glob.glob(f"{index_dir}/_batch_commits/*-0") + glob.glob(
        f"{index_dir}/_batch_commits/*-0-sh"
    ):
        os.remove(marker)
    os.remove(os.path.join(str(ckpt), "commits", "0"))
    crc = os.path.join(str(ckpt), "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    _drain(spark, drop, index_dir, ckpt)
    assert _bands_set(spark, index_dir) == want_bands
    assert _sh_rows(spark, index_dir) == want_sh


def test_rebuild_clears_drift_ledger(spark, sf_dir, tmp_path, index_cache):
    """r13 ADVICE: after an in-place rebuild, rebuild_recommended
    must NOT report the pre-rebuild flagged rows — the rebuild is
    what those rows asked for."""
    from mahjong_etl_spark.streaming.ann_index_stream import (
        rebuild_recommended,
    )

    docs = _load_docs(spark, sf_dir)
    n = docs.count()
    index_dir = str(tmp_path / "mh")
    _prebuilt_mh(index_cache, spark, sf_dir, index_dir)

    drop = tmp_path / "drop"
    drop.mkdir()
    surge = docs.selectExpr(
        "explode(sequence(1, 3)) AS copy", "doc_id", "text"
    ).select(
        (F.col("doc_id") + 2 * n + F.col("copy") * 10 * n).alias("doc_id"),
        "text",
    )
    _stage(surge, tmp_path, drop, "surge", 1_000)
    _drain(spark, drop, index_dir, tmp_path / "ckpt")
    assert rebuild_recommended(spark, index_dir)["rebuild_recommended"]

    write_minhash_index(spark, docs.unionByName(surge), index_dir)
    rec = rebuild_recommended(spark, index_dir)
    assert rec == {
        "rebuild_recommended": False,
        "batches": 0,
        "flagged": 0,
    }


def _drain_adm(spark, drop, index_dir, ckpt, **kw):
    from mahjong_etl_spark.streaming.ann_index_stream import (
        run_neardup_admission_stream,
    )

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = run_neardup_admission_stream(spark, stream, index_dir, str(ckpt), **kw)
    assert q.awaitTermination(240)
    q.stop()
    time.sleep(0.2)


def _adm_rows(spark, index_dir):
    return {
        r.doc_id: r
        for r in spark.read.parquet(f"{index_dir}/admissions").collect()
    }


WB_TEXT = "qq1 qq2 qq3 qq4 qq5 qq6 qq7 qq8 qq9 qq10 qq11 qq12"
WB_NEAR = "qq1 qq2 qq3 qq4 qq5 qq6 qq7 qq8 qq9 qq10 qq11 zz99"
WB_OTHER = "rr1 rr2 rr3 rr4 rr5 rr6 rr7 rr8 rr9 rr10 rr11 rr12"


def test_within_batch_neardup_quarantines(spark, sf_dir, tmp_path, index_cache):
    """r13 verdict item 2: with within_batch=True, the SECOND of two
    non-identical near-dup texts arriving in ONE batch quarantines
    with the first as matched_id; default-off both admit (the
    documented hole, unchanged)."""
    docs = _load_docs(spark, sf_dir)
    b = spark.createDataFrame(
        [(10_001, WB_TEXT), (10_002, WB_NEAR), (10_003, WB_OTHER)],
        DOC_SCHEMA,
    )

    for mode, flagged in ((False, False), (True, True)):
        index_dir = str(tmp_path / f"mh{int(mode)}")
        _prebuilt_mh(index_cache, spark, sf_dir, index_dir)
        base_bands = _bands_set(spark, index_dir)
        drop = tmp_path / f"drop{int(mode)}"
        drop.mkdir()
        _stage(b, tmp_path, drop, "b1", 1_000)
        _drain_adm(
            spark,
            drop,
            index_dir,
            tmp_path / f"ckpt{int(mode)}",
            within_batch=mode,
        )
        adm = _adm_rows(spark, index_dir)
        assert adm[10_001].admitted and adm[10_003].admitted
        assert adm[10_002].admitted is (not flagged)
        added = {d for _, _, d in _bands_set(spark, index_dir) - base_bands}
        if flagged:
            assert adm[10_002].matched_id == 10_001
            assert adm[10_002].n_band_hits >= 2
            assert added == {10_001, 10_003}
        else:
            assert added == {10_001, 10_002, 10_003}


def test_within_batch_verify_records_exact_jaccard(spark, sf_dir, tmp_path, index_cache):
    """within_batch composes with verify mode: the in-batch match is
    verified against the batch's own texts and the decision carries
    the exact Jaccard."""
    docs = _load_docs(spark, sf_dir)
    index_dir = str(tmp_path / "mh")
    _prebuilt_mh(index_cache, spark, sf_dir, index_dir)
    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(
        spark.createDataFrame(
            [(10_001, WB_TEXT), (10_002, WB_NEAR)], DOC_SCHEMA
        ),
        tmp_path,
        drop,
        "b1",
        1_000,
    )
    _drain_adm(
        spark,
        drop,
        index_dir,
        tmp_path / "ckpt",
        within_batch=True,
        threshold=0.5,
    )
    adm = _adm_rows(spark, index_dir)
    assert adm[10_001].admitted
    assert not adm[10_002].admitted
    assert adm[10_002].matched_id == 10_001
    assert adm[10_002].jaccard is not None and 0.5 <= adm[10_002].jaccard < 1


def test_verify_mode_self_maintains_via_persisted_shingles(
    spark, sf_dir, tmp_path, index_cache
):
    """r13 ADVICE (medium) closed: verify mode WITHOUT verify_docs —
    the persisted shingle relation is the verify side, it is appended
    per batch, so a near-dup of a doc the GATE ITSELF admitted in an
    earlier batch is flagged with its exact Jaccard."""
    docs = _load_docs(spark, sf_dir)
    index_dir = str(tmp_path / "mh")
    _prebuilt_mh(index_cache, spark, sf_dir, index_dir)

    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(
        spark.createDataFrame([(10_001, WB_TEXT)], DOC_SCHEMA),
        tmp_path, drop, "b1", 1_000,
    )
    _stage(
        spark.createDataFrame([(20_001, WB_NEAR)], DOC_SCHEMA),
        tmp_path, drop, "b2", 2_000,
    )
    _drain_adm(
        spark, drop, index_dir, tmp_path / "ckpt", threshold=0.5
    )
    adm = _adm_rows(spark, index_dir)
    assert adm[10_001].admitted
    assert not adm[20_001].admitted
    assert adm[20_001].matched_id == 10_001
    assert adm[20_001].jaccard is not None and 0.5 <= adm[20_001].jaccard < 1
    # the admitted rep's shingles joined the verify relation
    assert 10_001 in {d for d, _ in _sh_rows(spark, index_dir)}
    assert 20_001 not in {d for d, _ in _sh_rows(spark, index_dir)}


def test_verify_mode_fails_closed_without_shingle_source(
    spark, sf_dir, tmp_path, index_cache
):
    """A bands-only index + a verify_docs snapshot that does NOT
    contain a gate-admitted doc: the near-dup's candidate cannot be
    verified, so it falls back to the band-hit flag and QUARANTINES
    (the pre-r14 inner-join verify silently admitted it)."""
    docs = _load_docs(spark, sf_dir)
    index_dir = str(tmp_path / "mh")
    _prebuilt_mh(index_cache, spark, sf_dir, index_dir, bare=True)

    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(
        spark.createDataFrame([(10_001, WB_TEXT)], DOC_SCHEMA),
        tmp_path, drop, "b1", 1_000,
    )
    _stage(
        spark.createDataFrame([(20_001, WB_NEAR)], DOC_SCHEMA),
        tmp_path, drop, "b2", 2_000,
    )
    _drain_adm(
        spark,
        drop,
        index_dir,
        tmp_path / "ckpt",
        verify_docs=docs,
        threshold=0.5,
    )
    adm = _adm_rows(spark, index_dir)
    assert adm[10_001].admitted
    assert not adm[20_001].admitted
    assert adm[20_001].matched_id == 10_001
    assert adm[20_001].jaccard is None  # band-hit fallback, not verified
    assert adm[20_001].n_band_hits >= 2


def test_threshold_without_verify_source_raises(spark, sf_dir, tmp_path, index_cache):
    """r13 ADVICE (low): a threshold with nothing to verify against
    must refuse loudly, not silently flag on band hits."""
    from mahjong_etl_spark.streaming.ann_index_stream import (
        run_neardup_admission_stream,
    )

    docs = _load_docs(spark, sf_dir)
    index_dir = str(tmp_path / "mh")
    _prebuilt_mh(index_cache, spark, sf_dir, index_dir, bare=True)
    drop = tmp_path / "drop"
    drop.mkdir()
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    with pytest.raises(ValueError, match="no persisted shingle relation"):
        run_neardup_admission_stream(
            spark, stream, index_dir, str(tmp_path / "ckpt"), threshold=0.5
        )


def test_admission_replay_covers_shingles_table(spark, sf_dir, tmp_path, index_cache):
    """Admission replay with all THREE markers wiped re-derives
    identical decisions, bands AND shingle rows."""
    import glob as g

    docs = _load_docs(spark, sf_dir)
    index_dir = str(tmp_path / "mh")
    _prebuilt_mh(index_cache, spark, sf_dir, index_dir)

    (copy_row,) = docs.where("doc_id = 3").collect()
    b1 = spark.createDataFrame(
        [(10_001, WB_TEXT), (10_002, copy_row.text)], DOC_SCHEMA
    )
    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(b1, tmp_path, drop, "b1", 1_000)
    ckpt = tmp_path / "ckpt"

    _drain_adm(spark, drop, index_dir, ckpt)
    want = (
        _bands_set(spark, index_dir),
        _sh_rows(spark, index_dir),
        {tuple(r) for r in spark.read.parquet(f"{index_dir}/admissions").collect()},
    )
    for pat in ("*-0-bands", "*-0-sh", "*-0-adm"):
        for marker in g.glob(f"{index_dir}/_batch_commits/{pat}"):
            os.remove(marker)
    os.remove(os.path.join(str(ckpt), "commits", "0"))
    crc = os.path.join(str(ckpt), "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    _drain_adm(spark, drop, index_dir, ckpt)
    got = (
        _bands_set(spark, index_dir),
        _sh_rows(spark, index_dir),
        {tuple(r) for r in spark.read.parquet(f"{index_dir}/admissions").collect()},
    )
    assert got == want


def test_admission_drift_rates_against_baseline(spark, tmp_path):
    """r13 verdict item 4 / ADVICE (low): an index built FROM a
    high-dup corpus must not flag an arrival batch whose flag rate
    matches that baseline (ratio ~1), and must still flag a genuine
    surge (ratio over the bar)."""
    from mahjong_etl_spark.streaming.ann_index_stream import (
        MINHASH_DRIFT_MIN_DUP_RATE,
        read_drift,
    )

    # 200 distinct + 86 copies -> build dup_rate ~0.30 (> the 0.2
    # absolute bar, so the ratio bar is what decides)
    distinct = [
        (i, f"c{i}a c{i}b c{i}c c{i}d c{i}e c{i}f c{i}g c{i}h")
        for i in range(200)
    ]
    copies = [(1000 + i, distinct[i][1]) for i in range(86)]
    corpus = spark.createDataFrame(distinct + copies, DOC_SCHEMA)
    index_dir = str(tmp_path / "mh")
    write_minhash_index(spark, corpus, index_dir)

    # batch 1: 30/100 arrivals duplicate indexed texts (rate ~ base)
    b1 = spark.createDataFrame(
        [(10_000 + i, distinct[i][1]) for i in range(30)]
        + [
            (11_000 + i, f"f{i}a f{i}b f{i}c f{i}d f{i}e f{i}f f{i}g")
            for i in range(70)
        ],
        DOC_SCHEMA,
    )
    # batch 2: 80/100 duplicate (a genuine surge, ratio ~2.7)
    b2 = spark.createDataFrame(
        [(20_000 + i, distinct[100 + i][1]) for i in range(80)]
        + [
            (21_000 + i, f"g{i}a g{i}b g{i}c g{i}d g{i}e g{i}f g{i}g")
            for i in range(20)
        ],
        DOC_SCHEMA,
    )
    drop = tmp_path / "drop"
    drop.mkdir()
    _stage(b1, tmp_path, drop, "b1", 1_000)
    _stage(b2, tmp_path, drop, "b2", 2_000)
    _drain_adm(spark, drop, index_dir, tmp_path / "ckpt")

    rows = sorted(
        read_drift(spark, index_dir).collect(), key=lambda r: r.batch_id
    )
    assert len(rows) == 2
    assert rows[0].baseline_residual == pytest.approx(86 / 286)
    assert rows[0].mean_residual > MINHASH_DRIFT_MIN_DUP_RATE
    assert rows[0].residual_ratio == pytest.approx(1.0, abs=0.25)
    assert not rows[0].rebuild_recommended  # same-rate: ratio bar holds
    assert rows[1].residual_ratio > 2.0
    assert rows[1].rebuild_recommended


def test_bucket_pressure_observable(spark, tmp_path, caplog):
    """r13 verdict item 6: a band bucket within 2x of BUCKET_CAP is
    surfaced as data — minhash_lsh_pairs' opt-in diagnostics dict +
    a loud log in the skip regime, and the persisted index build's
    baseline counters."""
    import json
    import logging

    from mahjong_etl_spark.operators.dedup import (
        BUCKET_PRESSURE_BAR,
        minhash_lsh_pairs,
    )

    # 140 copies of one text: n_copies=139 < BUCKET_CAP -> the skip
    # regime; every copy lands in the same band buckets -> bucket
    # size 140 >= the 128 pressure bar
    docs = spark.createDataFrame(
        [(i, "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10") for i in range(140)]
        + [(1000, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")],
        DOC_SCHEMA,
    )
    diag = {}
    with caplog.at_level(logging.WARNING):
        minhash_lsh_pairs(docs, diagnostics=diag).collect()
    assert diag["regime"] == "skip"
    assert diag["max_bucket"] == 140
    assert diag["near_cap_buckets"] >= 1
    assert diag["pressure_bar"] == BUCKET_PRESSURE_BAR
    assert any("within 2x of" in r.message for r in caplog.records)

    index_dir = str(tmp_path / "mh")
    with caplog.at_level(logging.WARNING):
        write_minhash_index(spark, docs, index_dir)
    base = json.loads(
        open(f"{index_dir}/_drift/baseline.json").read()
    )
    assert base["max_bucket"] == 140
    assert base["near_cap_buckets"] >= 1

    # a pressure-free corpus reports zeros and stays silent
    calm = spark.createDataFrame(
        [(i, f"c{i}a c{i}b c{i}c c{i}d c{i}e") for i in range(50)],
        DOC_SCHEMA,
    )
    diag2 = {}
    caplog.clear()
    with caplog.at_level(logging.WARNING):
        minhash_lsh_pairs(calm, diagnostics=diag2).collect()
    assert diag2["near_cap_buckets"] == 0
    assert not any("within 2x of" in r.message for r in caplog.records)
