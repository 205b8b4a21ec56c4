"""End-to-end ETL golden test: fixture logs -> Spark pipeline ->
partitioned parquet -> row-for-row parity with the reference parser,
plus layout/pruning and paiyama property checks."""

from __future__ import annotations

import datetime
import glob
import math
import os
from decimal import Decimal

import pytest

from mahjong_etl_spark.plans.catalog import register_tables
from mahjong_etl_spark.plans.etl import run_etl
from mahjong_etl_spark.sources.paiyama import wall_df

from .reference_oracle import run_reference_date
from .test_mahjong_parser import FIXTURE_ROOT, _fixture_files

DATES = ["20240102", "20240103"]


@pytest.fixture(scope="module")
def etl_out(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("mahjong_out"))
    counts = run_etl(spark, FIXTURE_ROOT, out)
    return out, counts


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return round(v, 9) if not math.isnan(v) else "NaN"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return str(v)[:10]
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _rowset(rows: list[dict]) -> set:
    out = set()
    for r in rows:
        out.add(tuple(sorted((k, _norm(v)) for k, v in r.items())))
    return out


def test_etl_output_matches_reference(spark, etl_out):
    out, _ = etl_out
    expected: dict[str, list[dict]] = {}
    for dt_dir in DATES:
        ref_rows = run_reference_date(_fixture_files(dt_dir), dt_dir)
        for t, rows in ref_rows.items():
            expected.setdefault(t, []).extend(rows)
    for table, exp_rows in expected.items():
        df = spark.read.parquet(f"{out}/{table}").drop("dt")
        # Row.asDict(recursive=True) keeps nested structs comparable
        act_rows = [r.asDict(recursive=True) for r in df.collect()]
        assert _rowset(act_rows) == _rowset(exp_rows), f"{table} differs"


def test_partition_layout_and_pruning(spark, etl_out):
    out, counts = etl_out
    # Hive layout contract: {table}/dt=YYYY-MM-DD/
    assert glob.glob(f"{out}/kyokus/dt=2024-01-02/*.parquet")
    assert glob.glob(f"{out}/kyokus/dt=2024-01-03/*.parquet")
    assert counts["games"] == 4 and counts["kyokus"] == 5
    registered = register_tables(spark, out)
    assert "games_wide" in registered
    # dt filter must prune partitions at scan time
    plan = (
        spark.sql("SELECT count(*) FROM kyokus WHERE dt = '2024-01-02'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "2024-01-02" in plan

    # the ER join graph runs end-to-end through SQL
    n = spark.sql(
        """
        SELECT count(*) AS n FROM kyokus k
        JOIN games g ON k.game_id = g.id
        JOIN haipais h ON h.kyoku_id = k.id
        WHERE k.dt = '2024-01-02'
        """
    ).collect()[0]["n"]
    assert n == 12  # 3 kyokus x 4 seats on that date


def test_games_wide_view(spark, etl_out):
    out, _ = etl_out
    register_tables(spark, out)
    rows = {
        r["id"]: r
        for r in spark.sql(
            "SELECT id, is_sanma, has_aka, level FROM games_wide"
        ).collect()
    }
    assert rows["g4sanma"]["is_sanma"] is True
    assert rows["g2melds"]["has_aka"] is True
    assert rows["g1minimal"]["level"] == 3  # GO type 169: bits 5+7 set


def test_paiyama_walls_are_permutations(spark):
    df = wall_df(spark, 64, datetime.date(2024, 1, 2), seed=7)
    from pyspark.sql import functions as F

    bad = df.where(
        F.array_sort("pai_ids") != F.sequence(F.lit(0), F.lit(135)).cast("array<long>")
    ).count()
    assert bad == 0
    ids = [r.id for r in df.select("id").collect()]
    assert len(set(ids)) == 64
    assert min(ids) == 900_000_000_000 + 19724 * 100000
    # seeded determinism + distinct walls
    again = wall_df(spark, 64, datetime.date(2024, 1, 2), seed=7)
    assert [r.pai_ids for r in df.orderBy("id").limit(2).collect()] == [
        r.pai_ids for r in again.orderBy("id").limit(2).collect()
    ]
    w0, w1 = [r.pai_ids for r in df.orderBy("id").limit(2).collect()]
    assert w0 != w1


def test_etl_compat_false_quirks_absent_in_written_parquet(spark, etl_out, tmp_path):
    """Pipeline-level compat=False check: the fixed-semantics flag must
    thread scan -> mapInPandas parse -> sink, and the two documented
    reference quirks (SURVEY.md §1.6) must be ABSENT from the written
    parquet — compared row-for-row against the compat=True run.

    Quirk 2 (discard rendering): g2melds has three from-hand discards
    (XML D20/E33/F42 after T56); compat=True renders the last DRAWN
    tile ("p6") for all three, compat=False the actual discarded tile.
    Quirk 1 (meld member ids): every meld's packed word must differ
    between the runs (the member-id formulas disagree on every chi/pon
    member and on the kan id), and compat=False member bytes must be
    true tile ids (< 136).
    """
    from pyspark.sql import functions as F

    out_true, _ = etl_out
    out_false = str(tmp_path / "nocompat")
    run_etl(spark, FIXTURE_ROOT, out_false, compat=False)

    def actions_with_game(out):
        k = (
            spark.read.parquet(f"{out}/kyokus")
            .select(F.col("id").alias("kyoku_id"), "game_id")
        )
        return spark.read.parquet(f"{out}/actions").join(k, "kyoku_id")

    a_true = {
        (r.game_id, r.kyoku_id, r.seq): r
        for r in actions_with_game(out_true).collect()
    }
    a_false = {
        (r.game_id, r.kyoku_id, r.seq): r
        for r in actions_with_game(out_false).collect()
    }
    assert set(a_true) == set(a_false) and a_true

    # --- quirk 2: from-hand discards render the DISCARDED tile -------
    fh_true = sorted(
        r.pais
        for r in a_true.values()
        if r.game_id == "g2melds" and r.type == "sutehai" and "_" not in r.pais
    )
    fh_false = sorted(
        r.pais
        for r in a_false.values()
        if r.game_id == "g2melds" and r.type == "sutehai" and "_" not in r.pais
    )
    assert fh_true == ["p6", "p6", "p6"]  # the quirk, reproduced
    assert fh_false == ["m6", "m9", "p2"]  # the fix: D20/E33/F42

    # tsumogiri discards and every non-discard row render identically
    for key, rt in a_true.items():
        rf = a_false[key]
        if rt.type == "sutehai" and "_" not in rt.pais:
            continue
        assert rt.pais == rf.pais, key

    # --- quirk 1: meld packed words carry true tile ids --------------
    melds_true = {k: r.pai_id for k, r in a_true.items() if r.type in ("tii", "pon", "kan")}
    melds_false = {k: r.pai_id for k, r in a_false.items() if r.type in ("tii", "pon", "kan")}
    assert len(melds_false) >= 4  # fixture exercises chi, pon, 2 kans
    for key, packed in melds_false.items():
        assert packed != melds_true[key], key
        assert (packed & 0xFF) < 136 and ((packed >> 8) & 0xFF) < 136 and (
            (packed >> 16) & 0xFF
        ) < 136, key


@pytest.mark.parametrize(
    "seed,rare",
    [(7, False), (11, True), (13, True)],
    ids=["common", "rare-a", "rare-b"],
)
def test_synthetic_corpus_matches_reference(spark, tmp_path, seed, rare):
    """Fuzz parity: 25 generator games (melds, riichi, tsumogiri and
    from-hand discards, AGARI/RYUUKYOKU endings, owari) through the
    full ETL must match the reference parser row-for-row — the same
    contract as the hand-written fixtures, on two orders of magnitude
    more variety.  The ``rare`` corpora additionally force the
    reference's rare branches: sanma empty-hai3 skip and nuki-dora N
    words, mid-game DORA reveals, mid-game UN re-joins (last name
    wins), BYE disconnects (ignored), and double-ron kyokus."""
    from mahjong_etl_spark.sources.synth_games import generate_corpus

    src = str(tmp_path / "synth_src")
    generate_corpus(src, n_games=25, seed=seed, n_dates=2, rare=rare)
    out = str(tmp_path / "synth_out")
    run_etl(spark, src, out)

    expected: dict[str, list[dict]] = {}
    for dt_dir in sorted(os.listdir(src)):
        if not dt_dir.isdigit():
            continue
        files = [
            (f[:-4], os.path.join(src, dt_dir, f))
            for f in sorted(os.listdir(os.path.join(src, dt_dir)))
        ]
        for t, rows in run_reference_date(files, dt_dir).items():
            expected.setdefault(t, []).extend(rows)
    for table, exp_rows in expected.items():
        df = spark.read.parquet(f"{out}/{table}").drop("dt")
        act_rows = [r.asDict(recursive=True) for r in df.collect()]
        assert _rowset(act_rows) == _rowset(exp_rows), f"{table} differs"


def test_incremental_date_scoped_etl(spark, tmp_path):
    """run_etl(date_prefix=...) must parse ONLY the matching date dirs
    and dynamic-overwrite ONLY their dt= partitions: a one-day re-run
    over an existing output tree leaves the other day's files
    byte-identical (inode untouched)."""
    out = str(tmp_path / "incr")
    full = run_etl(spark, FIXTURE_ROOT, out)  # backfill: both dates
    assert full["games"] == 4

    day3_files = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(f"{out}/*/dt=2024-01-03/*.parquet")
    }
    assert day3_files

    incr = run_etl(spark, FIXTURE_ROOT, out, date_prefix="20240102")
    # counts reflect only the re-run day (2 fixture games on 01-02)
    assert incr["games"] == 2
    # day-03 partitions were not rewritten
    assert {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(f"{out}/*/dt=2024-01-03/*.parquet")
    } == day3_files
    # day-02 rows unchanged vs the backfill (same input, same output)
    k = spark.read.parquet(f"{out}/kyokus")
    assert k.where("dt = '2024-01-02'").count() == 3
    assert k.count() == 5

    import pytest as _pytest

    with _pytest.raises(Exception):  # typo'd date must fail loudly
        run_etl(spark, FIXTURE_ROOT, str(tmp_path / "x"), date_prefix="2099")


def test_output_manifest_reconciles_with_reported_counts(spark, tmp_path):
    """The footer-only manifest must account for every written file and
    its row totals must reconcile EXACTLY with what run_etl reported —
    the release-gate audit, paid in footer reads, never a second scan."""
    from mahjong_etl_spark.plans.manifest import output_manifest
    from mahjong_etl_spark.schemas import TABLE_SCHEMAS

    out = str(tmp_path / "etl_manifest")
    counts = run_etl(spark, FIXTURE_ROOT, out)
    man = output_manifest(spark, out, list(TABLE_SCHEMAS)).collect()
    assert man, "manifest must list the written files"
    by_table: dict[str, int] = {}
    for r in man:
        assert r.file.endswith(".parquet") and r.bytes > 0
        assert r.dt is not None, "partition value must be recovered"
        assert r.n_rows >= 0 and r.n_row_groups >= 1
        by_table[r.table] = by_table.get(r.table, 0) + r.n_rows
    for t, n in by_table.items():
        assert n == counts[t], (t, n, counts[t])
    # tables that wrote nothing simply have no manifest rows
    for t, n in counts.items():
        if t != "_corrupt" and n > 0:
            assert by_table.get(t) == n


def test_tiny_sink_path_vs_rebalance_path_identical(spark, etl_out, tmp_path, monkeypatch):
    """r9 micro-batch sink sizing: the fixture run rides the tiny path
    (every table under SMALL_SINK_ROWS -> coalesced narrow writes, ONE
    file per (table, dt)); forcing the threshold to 0 re-runs the
    REBALANCE(dt) backfill path — both must write byte-identical rows."""
    import mahjong_etl_spark.plans.etl as etl_mod

    out, counts = etl_out
    # the tiny path produced exactly one file per written partition
    for table in ("games", "actions"):
        for dt_dir in glob.glob(f"{out}/{table}/dt=*"):
            parts = [
                f for f in os.listdir(dt_dir) if f.endswith(".parquet")
            ]
            assert len(parts) == 1, (dt_dir, parts)

    monkeypatch.setattr(etl_mod, "SMALL_SINK_ROWS", 0)  # force rebalance
    out2 = str(tmp_path / "rebalanced")
    counts2 = run_etl(spark, FIXTURE_ROOT, out2)
    assert counts2 == counts
    for table in ("games", "actions", "agaris"):
        a = sorted(
            tuple(str(v) for v in r)
            for r in spark.read.parquet(f"{out}/{table}")
            .select(*sorted(spark.read.parquet(f"{out}/{table}").columns))
            .collect()
        )
        b = sorted(
            tuple(str(v) for v in r)
            for r in spark.read.parquet(f"{out2}/{table}")
            .select(*sorted(spark.read.parquet(f"{out2}/{table}").columns))
            .collect()
        )
        assert a == b, table


@pytest.fixture(scope="module")
def sized_corpus(spark, tmp_path_factory):
    """Enough synthetic games that the raw binaryFile scan splits into
    more partitions than the session has cores (each ~6 KB log is
    charged the 4 MB openCostInBytes, so a 128 MB split holds ~31),
    and more than PARSE_BATCH_GAMES + 40 of them."""
    from mahjong_etl_spark.sources.synth_games import generate_corpus

    n_games = 40 * max(8, spark.sparkContext.defaultParallelism)
    return generate_corpus(
        str(tmp_path_factory.mktemp("sized_corpus")), n_games=n_games, seed=5
    )


def test_parse_stage_sized_by_xml_bytes(spark, sized_corpus, tmp_path):
    """parse_logs plans about one Python task per core (more only when
    the XML bytes fill maxPartitionBytes splits), never more than the
    scan's own splits, and the ETL over that plan counts exactly the
    rows the parser yields driver-side over the same files.  Neither
    call leaves a session conf changed."""
    from mahjong_etl_spark.operators.mahjong_parse import parse_game
    from mahjong_etl_spark.plans.etl import parse_logs
    from mahjong_etl_spark.schemas import TABLE_SCHEMAS
    from mahjong_etl_spark.sources.xml_source import scan_logs

    files = sorted(glob.glob(f"{sized_corpus}/*/*.xml"))
    xml_bytes = sum(os.path.getsize(f) for f in files)
    max_split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    cores = spark.sparkContext.defaultParallelism
    raw = scan_logs(spark, sized_corpus).rdd.getNumPartitions()
    assert raw > cores, "corpus too small to exercise the sizing"
    conf = spark.conf.getAll
    tasks = parse_logs(spark, sized_corpus).rdd.getNumPartitions()
    assert tasks <= max(cores, -(-xml_bytes // max_split))
    assert tasks < raw

    counts = run_etl(spark, sized_corpus, str(tmp_path / "out"))
    assert spark.conf.getAll == conf
    expected = {t: 0 for t in TABLE_SCHEMAS}
    for f in files:
        dt_dir, name = f.split(os.sep)[-2:]
        with open(f, "rb") as fh:
            tables = parse_game(
                fh.read(),
                name[: -len(".xml")],
                datetime.datetime.strptime(dt_dir, "%Y%m%d").date(),
            )
        for t, rows in tables.items():
            expected[t] += len(rows)
    assert counts == {"_corrupt": 0, **expected}


def test_parse_batches_bound_output_frames(sized_corpus):
    """One input frame of more than PARSE_BATCH_GAMES games comes out
    as frames of at most PARSE_BATCH_GAMES rows, quarantined rows
    included, and their concatenation equals a one-game-per-frame run
    row for row, in order."""
    import pandas as pd

    from mahjong_etl_spark.plans.etl import PARSE_BATCH_GAMES, _parse_batches

    rows = []
    for f in sorted(glob.glob(f"{sized_corpus}/*/*.xml"))[: PARSE_BATCH_GAMES + 40]:
        dt_dir, name = f.split(os.sep)[-2:]
        with open(f, "rb") as fh:
            rows.append((dt_dir, name[: -len(".xml")], fh.read()))
    rows.insert(3, ("20241332", "bad_date", rows[0][2]))  # month 13
    rows.insert(PARSE_BATCH_GAMES, ("20240201", "corrupt", b"<mjloggm><GO"))
    pdf = pd.DataFrame(rows, columns=["dt_raw", "game_id", "content"])
    parse = _parse_batches(True)

    frames = list(parse(iter([pdf])))
    assert len(frames) > 1
    assert all(len(f) <= PARSE_BATCH_GAMES for f in frames)
    single = [
        f for i in range(len(pdf)) for f in parse(iter([pdf.iloc[i : i + 1]]))
    ]
    got = pd.concat(frames, ignore_index=True)
    want = pd.concat(single, ignore_index=True)
    assert len(got) == len(want) == len(pdf)
    assert got["game_id"].tolist() == want["game_id"].tolist() == pdf["game_id"].tolist()
    assert got["n_kyokus"].tolist() == want["n_kyokus"].tolist()
    errors = [e if isinstance(e, str) else None for e in got["error"]]
    assert errors == [e if isinstance(e, str) else None for e in want["error"]]
    assert [g for g, e in zip(got["game_id"], errors) if e] == ["bad_date", "corrupt"]
    assert got.to_dict("records") == want.to_dict("records")
