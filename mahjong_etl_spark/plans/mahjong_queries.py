"""Mahjong-plane queries exposed on the driver's query surface.

The mahjong ETL plane (reference parity proper) is proven two ways:

1. Row-level parser parity against the reference code on the same
   fixtures — tests/test_mahjong_*.py (pytest-only).
2. HERE: the real pipeline (binaryFile scan → mapInPandas parse → key
   minting → partitioned parquet sink, reference scrape.py:612-668) is
   run once per process into a pinned output root, and each query is a
   RELATIONAL query over the written files.  The DuckDB oracle reads
   the very same parquet via read_parquet(..., hive_partitioning=1),
   so the driver's hash-match exercises the full ETL → storage-layout
   → query path, not just an in-memory DataFrame.

The comparison is deliberately asymmetric:

- the SPARK side runs the full ETL fresh into a scratch directory
  once per application and queries the files it just wrote, so the
  scan → parse → mint → sink → read-back path is exercised every run;
- the ORACLE side reads the COMMITTED golden tree (tests/fixtures/
  etl_oracle_output), which is never touched at runtime.

Because the pipeline is deterministic (seqno minting is
game_id-ordered, see plans/etl.py), fresh output and the golden tree
hold identical rows — so any `run_etl` regression shows up as a
driver hash mismatch against the golden bytes instead of being masked
by both engines reading the same freshly-regressed files.  It also
keeps the git worktree clean (no part-file churn in the committed
fixture).  An ETL failure raises; there is no silent fallback.

``sf_dir`` is accepted for signature compatibility and ignored — the
input is the fixture log tree, pinned so results are stable across
scale factors and rounds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scratch_dir, snapshot_cache
from .registry import query

_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
)
FIXTURE_LOGS = os.path.join(_FIXTURES, "logs")
ORACLE_ETL_ROOT = os.path.join(_FIXTURES, "etl_oracle_output")
PAIYAMA_FIXTURE = os.path.join(_FIXTURES, "paiyama_walls.parquet")

@snapshot_cache
def _ensure_etl(spark: SparkSession) -> str:
    """Run the fixture ETL into a fresh scratch root once per
    application.

    The committed golden tree is left untouched; a failure raises so a
    broken pipeline can never silently fall back to stale bytes.
    """
    from .etl import run_etl

    root = scratch_dir("mahjong_etl_scratch_")
    run_etl(spark, FIXTURE_LOGS, root)
    return root


def _read(spark: SparkSession, table: str) -> DataFrame:
    return spark.read.parquet(f"{_ensure_etl(spark)}/{table}")


def _pq(table: str) -> str:
    return f"read_parquet('{ORACLE_ETL_ROOT}/{table}/*/*.parquet', hive_partitioning=1)"


@query(
    "mahjong_er_join_graph",
    oracle=f"""
    SELECT CAST(k.dt AS VARCHAR) AS dt,
           CAST(count(DISTINCT k.game_id) AS BIGINT) AS n_games,
           CAST(count(DISTINCT k.id) AS BIGINT)      AS n_kyokus,
           count(*)                                  AS n_haipai_rows
    FROM {_pq('kyokus')} k
    JOIN {_pq('games')}  g ON k.game_id = g.id
    JOIN {_pq('haipais')} h ON h.kyoku_id = k.id
    GROUP BY 1
    """,
    bench=False,
)
def mahjong_er_join_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ER join graph end-to-end over the WRITTEN tables: games ⋈
    kyokus ⋈ haipais with per-date grains — the reference's core
    Athena query shape (reference scrape.py:613-622 layout)."""
    g = _read(spark, "games")
    k = _read(spark, "kyokus")
    h = _read(spark, "haipais")
    return (
        k.join(g.select(F.col("id").alias("gid")), k.game_id == F.col("gid"))
        .join(h, h.kyoku_id == k.id)
        .groupBy(k.dt.cast("string").alias("dt"))
        .agg(
            F.countDistinct("game_id").alias("n_games"),
            F.countDistinct(k.id).alias("n_kyokus"),
            F.count(F.lit(1)).alias("n_haipai_rows"),
        )
        .orderBy("dt")
    )


@query(
    "mahjong_agari_yaku_stats",
    oracle=f"""
    SELECT y.name AS yaku_name,
           count(*) AS n,
           CAST(sum(y.han) AS BIGINT) AS total_han
    FROM (SELECT unnest(yaku) AS y FROM {_pq('agaris')})
    GROUP BY 1
    """,
    bench=False,
)
def mahjong_agari_yaku_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-of-struct UNNEST over the written agaris.yaku column (the
    per-yaku stats idiom the star schema was designed for, reference
    scrape.py:355-609 agari decode)."""
    return (
        _read(spark, "agaris")
        .select(F.explode("yaku").alias("y"))
        .groupBy(F.col("y.name").alias("yaku_name"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y.han").alias("total_han"),
        )
        .orderBy("yaku_name")
    )


@query(
    "mahjong_action_sequences",
    oracle=f"""
    SELECT kyoku_id, player_index,
           count(*) AS n_actions,
           CAST(sum(CASE WHEN type LIKE 'tsumo%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_draws,
           CAST(sum(CASE WHEN type = 'sutehai' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_discards,
           max(seq) AS last_seq
    FROM {_pq('actions')}
    GROUP BY 1, 2
    """,
    bench=False,
)
def mahjong_action_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-event analytics over the written actions table: per
    (kyoku, player) draw/discard counts and the max turn number
    (reference scrape.py draw/discard decode)."""
    return (
        _read(spark, "actions")
        .groupBy("kyoku_id", "player_index")
        .agg(
            F.count(F.lit(1)).alias("n_actions"),
            F.sum(F.when(F.col("type").startswith("tsumo"), 1).otherwise(0))
            .cast("long")
            .alias("n_draws"),
            F.sum(F.when(F.col("type") == "sutehai", 1).otherwise(0))
            .cast("long")
            .alias("n_discards"),
            F.max("seq").alias("last_seq"),
        )
        .orderBy("kyoku_id", "player_index")
    )


@query(
    "mahjong_paiyama_walls",
    oracle=f"""
    SELECT id,
           dt,
           array_to_string(pai_ids, ',') AS pai_str,
           CAST(list_sort(pai_ids) = range(0, 136) AS INT) AS is_perm,
           CAST(id - 900000000000 - 19724 * 100000 AS BIGINT) AS ordinal
    FROM read_parquet('{PAIYAMA_FIXTURE}')
    """,
    bench=False,
)
def mahjong_paiyama_walls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded synthetic walls (reference random_pailist.py re-expressed,
    see sources/paiyama.py): the generator runs FRESH here, while the
    oracle reads the committed golden parquet produced by the same
    generator — so the driver hash pins the full 64×136 permutation
    bytes, the id formula (900e9 + days_since_epoch*100000 + ordinal,
    days(2024-01-02) = 19724), and permutation validity, not just row
    counts.  Any change to the seeded-xxhash shuffle shows up as a
    hash mismatch against the golden file.

    The permutation is emitted as a comma-joined STRING (not a raw
    array column): the driver's canonicalizer sorts result cells with
    pandas, which cannot order python lists (r3 row errored with
    "unhashable type: 'list'").  The string carries the identical
    bytes, so nothing is lost from the check."""
    import datetime

    from ..sources.paiyama import ID_OFFSET, wall_df

    walls = wall_df(spark, 64, datetime.date(2024, 1, 2), seed=7)
    is_perm = F.expr(
        "array_sort(pai_ids) = transform(sequence(0,135), x -> cast(x AS long))"
    )
    days = (datetime.date(2024, 1, 2) - datetime.date(1970, 1, 1)).days
    return walls.select(
        "id",
        "dt",
        F.concat_ws(",", F.col("pai_ids")).alias("pai_str"),
        is_perm.cast("int").alias("is_perm"),
        (F.col("id") - F.lit(ID_OFFSET + days * 100000)).alias("ordinal"),
    )


@query(
    "mahjong_riichi_outcomes",
    oracle=f"""
    WITH r AS (
        SELECT DISTINCT kyoku_id, player_index
        FROM {_pq('actions')}
        WHERE type = 'sutehai' AND pais LIKE '%*'
    )
    SELECT count(*) AS n_riichi,
           CAST(sum(CASE WHEN a.kyoku_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_won,
           CAST(coalesce(sum(a.score), 0) AS BIGINT) AS won_score_total
    FROM r LEFT JOIN {_pq('agaris')} a
      ON a.kyoku_id = r.kyoku_id AND a.who = r.player_index
    """,
    bench=False,
)
def mahjong_riichi_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the riichi pay off?  Joins the riichi-marked discards (the
    ``*`` suffix the parser renders, reference scrape.py:592-597) with
    the same kyoku's win record — the cross-table outcome analysis the
    star schema exists for.  Riichi discards are found by a pushed-down
    LIKE on the actions scan; the per-kyoku riichi set is tiny and
    broadcasts against agaris."""
    r = (
        _read(spark, "actions")
        .where((F.col("type") == "sutehai") & F.col("pais").endswith("*"))
        .select("kyoku_id", "player_index")
        .distinct()
    )
    a = _read(spark, "agaris").select(
        F.col("kyoku_id").alias("a_kyoku"), "who", "score"
    )
    return (
        r.join(
            a,
            (F.col("a_kyoku") == F.col("kyoku_id"))
            & (F.col("who") == F.col("player_index")),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_riichi"),
            F.sum(F.when(F.col("a_kyoku").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_won"),
            F.coalesce(F.sum("score"), F.lit(0)).cast("long").alias("won_score_total"),
        )
    )


@query(
    "mahjong_placement_stats",
    oracle=f"""
    WITH ranked AS (
        SELECT game_id, player_index, score, point,
               row_number() OVER (PARTITION BY game_id
                                  ORDER BY score DESC, player_index) AS rnk
        FROM {_pq('game_scores')}
    )
    SELECT player_index,
           count(*) AS n_games,
           CAST(sum(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
           CAST(sum(score) AS BIGINT) AS total_score,
           CAST(sum(CAST(round(point * 10) AS BIGINT)) AS DOUBLE) / 10.0
               AS total_point
    FROM ranked GROUP BY player_index
    """,
    bench=False,
)
def mahjong_placement_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seat-advantage profile over the written star schema: per seat,
    games played, first-place finishes (rank by final score, ties to
    the lower seat — the reference's placement convention), total
    score and total point.

    The ``point`` column is the reference's decimal128(4,1)
    (scrape.py:57) and stays DecimalType end-to-end in STORAGE; for
    the result it is snapped to exact integer deci-units and emitted
    as one double division (registry.py output-type rule).  One window
    over the written files + one aggregate — the same two-exchange
    shape at any scale."""
    from pyspark.sql.window import Window

    gs = _read(spark, "game_scores")
    w = Window.partitionBy("game_id").orderBy(
        F.desc("score"), F.asc("player_index")
    )
    ranked = gs.withColumn("rnk", F.row_number().over(w))
    return ranked.groupBy("player_index").agg(
        F.count(F.lit(1)).alias("n_games"),
        F.sum(F.when(F.col("rnk") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_first"),
        F.sum("score").cast("long").alias("total_score"),
        (
            F.sum(F.round(F.col("point") * 10).cast("long")).cast("double")
            / F.lit(10.0)
        ).alias("total_point"),
    )


@query(
    "mahjong_machi_distribution",
    oracle=f"""
    SELECT CAST(machipai // 4 AS BIGINT) AS machi_kind,
           count(*)                      AS n_agari,
           CAST(sum(score) AS BIGINT)    AS total_score,
           CAST(max(han) AS BIGINT)      AS max_han
    FROM {_pq('agaris')}
    GROUP BY machi_kind
    """,
    bench=False,
)
def mahjong_machi_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winning-tile (machi) distribution over the written agaris: wins,
    total score and max han per tile KIND (id div 4 collapses the four
    physical copies of each tile, reference scrape.py tile encoding —
    see functions/codec.py).  The reference's Athena workflow answers
    exactly this kind of question over the agaris table; one pruned
    scan + one tiny aggregate (<= 34 groups at any scale)."""
    a = _read(spark, "agaris")
    return a.groupBy(
        F.expr("machipai div 4").cast("long").alias("machi_kind")
    ).agg(
        F.count(F.lit(1)).alias("n_agari"),
        F.sum("score").cast("long").alias("total_score"),
        F.max("han").cast("long").alias("max_han"),
    )


@query(
    "mahjong_dealer_advantage",
    oracle=f"""
    SELECT CAST(sum(CASE WHEN a.who = k.kyoku_num % 4 THEN 1 ELSE 0 END)
                AS BIGINT)                                  AS n_dealer_wins,
           CAST(sum(CASE WHEN a.who <> k.kyoku_num % 4 THEN 1 ELSE 0 END)
                AS BIGINT)                                  AS n_other_wins,
           CAST(sum(CASE WHEN a.who = a.by THEN 1 ELSE 0 END)
                AS BIGINT)                                  AS n_tsumo,
           CAST(sum(CASE WHEN a.who <> a.by THEN 1 ELSE 0 END)
                AS BIGINT)                                  AS n_ron,
           CAST(max(CASE WHEN a.who = k.kyoku_num % 4
                         THEN a.score ELSE 0 END) AS BIGINT) AS max_dealer_score,
           CAST(max(CASE WHEN a.who <> k.kyoku_num % 4
                         THEN a.score ELSE 0 END) AS BIGINT) AS max_other_score
    FROM {_pq('agaris')} a
    JOIN {_pq('kyokus')} k ON a.kyoku_id = k.id
    """,
    bench=False,
)
def mahjong_dealer_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dealer (oya) vs non-dealer win analysis over the written star
    schema: Tenhou numbers kyokus so the dealer seat is
    kyoku_num % 4 (East-1 = seat 0, East-2 = seat 1, ..., reference
    scrape.py INIT/kyoku handling), and a win is a tsumo when the
    winner and the discarder field coincide (who == by, reference
    scrape.py AGARI decode).  The dealer-retention question — do
    dealers win more and bigger — is the first thing every mahjong
    stats page computes from this schema.  One dim-sized join
    (kyokus ⋈ agaris on the minted kyoku_id) and a scalar aggregate."""
    a = _read(spark, "agaris")
    k = _read(spark, "kyokus")
    is_dealer = F.col("who") == (F.col("kyoku_num") % 4)
    is_tsumo = F.col("who") == F.col("by")
    return (
        a.join(k, a.kyoku_id == k.id)
        .agg(
            F.sum(F.when(is_dealer, 1).otherwise(0))
            .cast("long")
            .alias("n_dealer_wins"),
            F.sum(F.when(~is_dealer, 1).otherwise(0))
            .cast("long")
            .alias("n_other_wins"),
            F.sum(F.when(is_tsumo, 1).otherwise(0))
            .cast("long")
            .alias("n_tsumo"),
            F.sum(F.when(~is_tsumo, 1).otherwise(0))
            .cast("long")
            .alias("n_ron"),
            F.max(F.when(is_dealer, F.col("score")).otherwise(0))
            .cast("long")
            .alias("max_dealer_score"),
            F.max(F.when(~is_dealer, F.col("score")).otherwise(0))
            .cast("long")
            .alias("max_other_score"),
        )
    )


@query(
    "mahjong_han_fu_table",
    oracle=f"""
    SELECT CAST(han AS BIGINT) AS han,
           CAST(fu AS BIGINT)  AS fu,
           count(*)            AS n_agari,
           CAST(min(score) AS BIGINT) AS min_score,
           CAST(max(score) AS BIGINT) AS max_score,
           CAST(sum(CASE WHEN len(yaku) > 0 THEN 1 ELSE 0 END)
                AS BIGINT)     AS n_with_yaku
    FROM {_pq('agaris')}
    GROUP BY han, fu
    """,
    bench=False,
)
def mahjong_han_fu_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The empirical (han, fu) -> score table over the written agaris —
    the payout-grid distribution every scoring-correctness audit of a
    mahjong dataset starts from (score is a deterministic function of
    han/fu/dealer/tsumo, so min==max within a (han, fu, seat-role)
    slice flags parser corruption).  Bounded output (han <= 13ish,
    fu in {{20..110}} steps of 5-10): the aggregate is partial map-side
    everywhere and the result dim-sized at any corpus scale."""
    a = _read(spark, "agaris")
    return a.groupBy(
        F.col("han").cast("long").alias("han"),
        F.col("fu").cast("long").alias("fu"),
    ).agg(
        F.count(F.lit(1)).alias("n_agari"),
        F.min("score").cast("long").alias("min_score"),
        F.max("score").cast("long").alias("max_score"),
        F.sum(F.when(F.size("yaku") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_with_yaku"),
    )


# SQL text of the engine-registered dora codec (functions/codec.py::
# next_dora re-expressed as a Spark SQL scalar UDF — CREATE FUNCTION
# ... RETURN <expr> inlines into whole-stage codegen, so SQL users get
# the domain codec at JVM expression speed, never a Python UDF).
_NEXT_DORA_SQL_UDF = """
CREATE OR REPLACE TEMPORARY FUNCTION next_dora(ind BIGINT) RETURNS BIGINT RETURN
  (ind div 36) * 36 +
  (CASE WHEN (ind div 36) = 3 THEN
      CASE ((ind % 36) div 4) + 1 WHEN 4 THEN 0 WHEN 7 THEN 4
           ELSE ((ind % 36) div 4) + 1 END
   ELSE CASE WHEN ((ind % 36) div 4) + 1 >= 9 THEN 0
             ELSE ((ind % 36) div 4) + 1 END END) * 4 +
  (ind % 4)
"""


@query(
    "mahjong_sql_udf_dora",
    oracle=f"""
    WITH ex AS (
        SELECT unnest(range(len(dora_orig))) + 1 AS i, dora_orig, dora
        FROM {_pq('agaris')}
        WHERE len(dora_orig) > 0
    ),
    p AS (SELECT dora_orig[i] AS ind, dora[i] AS stored FROM ex),
    r AS (
        SELECT ind, stored,
               (ind // 36) * 36 +
               (CASE WHEN ind // 36 = 3 THEN
                   CASE ((ind % 36) // 4) + 1 WHEN 4 THEN 0 WHEN 7 THEN 4
                        ELSE ((ind % 36) // 4) + 1 END
                ELSE CASE WHEN ((ind % 36) // 4) + 1 >= 9 THEN 0
                          ELSE ((ind % 36) // 4) + 1 END END) * 4 +
               ind % 4 AS rec
        FROM p
    )
    SELECT CAST(ind // 36 AS INT) AS suit,
           count(*) AS n_indicators,
           CAST(sum(CASE WHEN rec = stored THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match
    FROM r GROUP BY 1
    """,
    bench=False,
)
def mahjong_sql_udf_dora(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 lifecycle completion: a SQL user calls the ENGINE-REGISTERED
    domain codec from verbatim SQL.  ``next_dora`` (the C2 dora
    derivation, reference scrape.py dora arithmetic) is registered as
    a Spark SQL scalar UDF — a declarative RETURN expression, so
    Catalyst inlines it into whole-stage codegen (the probe plan shows
    pure Project arithmetic, no Python eval).  The query re-derives
    every agari's dora list from its indicators and counts agreement
    with the ETL-stored column per suit; the DuckDB oracle recomputes
    the same arithmetic inline over the same written parquet, so the
    codec's semantics are pinned through BOTH engines independently of
    the Python implementation (whose parity with the reference is
    pinned in tests/test_mahjong_parser.py)."""
    spark.sql(_NEXT_DORA_SQL_UDF)
    _read(spark, "agaris").createOrReplaceTempView("agaris_udf_v")
    return spark.sql(
        """
        SELECT CAST(ind div 36 AS INT) AS suit,
               count(*) AS n_indicators,
               CAST(sum(CASE WHEN next_dora(ind) = stored THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_match
        FROM (
            SELECT element_at(dora_orig, i) AS ind,
                   element_at(dora, i) AS stored
            FROM agaris_udf_v
            LATERAL VIEW explode(sequence(1, size(dora_orig))) t AS i
            WHERE size(dora_orig) > 0
        )
        GROUP BY 1
        """
    )


@query(
    "mahjong_experiments_games",
    oracle=f"""
    WITH experiments AS (
        SELECT DISTINCT CAST(dt AS VARCHAR) AS id FROM {_pq('games')}
    )
    SELECT e.id AS experiment_id,
           count(*)                                   AS n_games,
           CAST(min(g.started_at) AS VARCHAR)         AS first_game,
           CAST(max(g.started_at) AS VARCHAR)         AS last_game,
           CAST(count(DISTINCT g.id) AS BIGINT)       AS n_distinct_ids
    FROM experiments e
    JOIN {_pq('games')} g ON CAST(g.dt AS VARCHAR) = e.id
    GROUP BY 1
    ORDER BY 1
    """,
    bench=False,
)
def mahjong_experiments_games(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ER diagram's final relation, experiments ||--|{ games
    (reference er/mahjong.md:3,14-16), exercised as a real FK
    equi-join over the WRITTEN tables: the derived scrape-batch
    dimension (plans/catalog.py registers it as the `experiments`
    view; schemas.py EXPERIMENTS) joined back to games on the batch
    id.  The reference declares the entity but never produces it, so
    the derived-dimension view is the engine's realization — this
    query is the proof the registration joins cleanly.  The dimension
    is one row per dt, so the join side broadcasts trivially at any
    scale."""
    g = _read(spark, "games")
    experiments = (
        g.select(F.col("dt").cast("string").alias("experiment_id"))
        .distinct()
        .alias("e")
    )
    return (
        experiments.join(
            g.alias("g"),
            F.col("g.dt").cast("string") == F.col("e.experiment_id"),
        )
        .groupBy("e.experiment_id")
        .agg(
            F.count(F.lit(1)).alias("n_games"),
            F.min("g.started_at").cast("string").alias("first_game"),
            F.max("g.started_at").cast("string").alias("last_game"),
            F.countDistinct("g.id").alias("n_distinct_ids"),
        )
        .orderBy("experiment_id")
    )


@query(
    "tenhou_source_actions",
    oracle=f"""
    SELECT CAST(k.dt AS VARCHAR) AS dt,
           a.type                AS action_type,
           count(*)              AS n_actions,
           CAST(count(DISTINCT a.kyoku_id) AS BIGINT) AS n_kyokus
    FROM {_pq('actions')} a
    JOIN {_pq('kyokus')}  k ON k.id = a.kyoku_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    bench=False,
)
def tenhou_source_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource (sources/tenhou_datasource.py) on
    the driver-verified surface: actions and kyokus are read DIRECTLY
    off the raw fixture log tree via ``format("tenhou")`` — no ETL
    run, no parquet materialization — and the per-(date, action-type)
    profile must hash-match the oracle aggregating the COMMITTED
    golden parquet the full pipeline wrote.  Green here proves the
    source's per-date-partition parse + kyoku-id minting is
    row-identical to the 9-sink ETL, end-to-end, from a second
    independent code path."""
    from ..sources.tenhou_datasource import register_tenhou_source

    register_tenhou_source(spark)
    a = (
        spark.read.format("tenhou")
        .option("table", "actions")
        .load(FIXTURE_LOGS)
    )
    k = (
        spark.read.format("tenhou")
        .option("table", "kyokus")
        .load(FIXTURE_LOGS)
    )
    return (
        a.join(k.select(F.col("id").alias("kid")), a.kyoku_id == F.col("kid"))
        .groupBy(
            F.col("dt").cast("string").alias("dt"),
            F.col("type").alias("action_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_actions"),
            F.countDistinct("kyoku_id").alias("n_kyokus"),
        )
        .orderBy("dt", "action_type")
    )
