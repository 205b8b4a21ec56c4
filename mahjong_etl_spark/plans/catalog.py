"""Catalog: register the written mahjong tables as Spark SQL views.

Mirrors the external-table setup the reference assumes on the Athena
side (reference README.md:2): each ``{root}/{table}/dt=*/`` directory
becomes a queryable view with ``dt`` as the partition-pruning column,
plus the ER diagram's intended wide ``games`` exposed as
``games_wide`` (games ⋈ rules 1:1 — SURVEY §1.5: the seven rule flags
were designed into games but physically live in rules).

Each view is read with its declared schema (``schemas.py`` plus the
``dt DATE`` partition column), so registering runs no Spark job: a
schemaless ``spark.read.parquet`` runs one footer-inference job per
table, nine ~0.1 s job floors per daily ingest.  The writers' output
equals these schemas (pinned by tests/test_ingest_floors.py), so the views
read the same columns and types an inferred read would.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.types import DateType, StructField, StructType

from ..schemas import EXPERIMENTS, PAIYAMAS, TABLE_SCHEMAS

VIEW_SCHEMAS = {
    t: StructType(s.fields + [StructField("dt", DateType())])
    for t, s in {**TABLE_SCHEMAS, "paiyamas": PAIYAMAS}.items()
}


def register_tables(spark: SparkSession, root: str) -> list[str]:
    registered = []
    for table, schema in VIEW_SCHEMAS.items():
        path = f"{root}/{table}"
        if not os.path.isdir(path):
            continue
        spark.read.schema(schema).parquet(path).createOrReplaceTempView(table)
        registered.append(table)
    if "games" in registered and "rules" in registered:
        spark.sql(
            """
            CREATE OR REPLACE TEMP VIEW games_wide AS
            SELECT g.id, g.started_at, g.dt,
                   r.is_demo, r.is_soku, r.is_sanma, r.level,
                   r.aka_type <> 0 AS has_aka,
                   r.nannyu_score = 0 AS tonpu,
                   r.enable_kuitan AS ariari
            FROM games g JOIN rules r ON g.id = r.game_id AND g.dt = r.dt
            """
        )
        registered.append("games_wide")
    if "games" in registered:
        # ER entity `experiments` (er/mahjong.md:14-16): declared
        # upstream, never produced by the reference — realized as the
        # scrape-batch dimension (one row per dt batch).  A view, not
        # a sink: it is fully derivable.  Column list comes from the
        # EXPERIMENTS schema constant so view and schema cannot drift.
        (id_col,) = [f.name for f in EXPERIMENTS.fields]
        spark.sql(
            f"""
            CREATE OR REPLACE TEMP VIEW experiments AS
            SELECT DISTINCT CAST(dt AS STRING) AS {id_col} FROM games
            """
        )
        registered.append("experiments")
    return registered
