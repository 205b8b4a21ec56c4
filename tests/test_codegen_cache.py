"""Generated-code reuse: the session factory sizes Spark's JVM-wide
codegen class cache to hold the working set of the paper's path, so a
repeated ETL + query pass compiles nothing.  At Spark's default of 100
entries the ~190 classes of one pass evicted each other in cyclic
order and every repeat recompiled roughly the whole set."""

from __future__ import annotations

import re

from mahjong_etl_spark.plans.catalog import register_tables
from mahjong_etl_spark.plans.etl import run_etl
from mahjong_etl_spark.plans.mahjong_queries import FIXTURE_LOGS
from mahjong_etl_spark.plans.registry import registry
from mahjong_etl_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles


def _plan_shape(df) -> str:
    """The optimized plan with expression ids stripped."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "", plan)


def _etl_and_queries(spark, root: str, queries: dict) -> None:
    run_etl(spark, FIXTURE_LOGS, root)
    register_tables(spark, root)
    for name in sorted(queries):
        queries[name].spark_fn(spark, "").collect()


def test_repeat_pass_compiles_no_class(spark, tmp_path):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    queries = {n: q for n, q in registry().items() if n.startswith("mahjong_")}
    _etl_and_queries(spark, str(tmp_path / "fill"), queries)
    # mahjong_er_join_graph has two countDistinct groups.
    # RewriteDistinctAggregates numbers them in hash order of their
    # children, and that hash includes the fresh expression ids, so
    # each build plans one of two Expand orders, each with its own
    # generated code. The fill compiles both orders.
    shapes: set[str] = set()
    for _ in range(64):
        df = queries["mahjong_er_join_graph"].spark_fn(spark, "")
        shape = _plan_shape(df)
        if shape not in shapes:
            shapes.add(shape)
            df.collect()
        if len(shapes) == 2:
            break

    before = codegen_compiles(spark)
    _etl_and_queries(spark, str(tmp_path / "repeat"), queries)
    assert codegen_compiles(spark) - before == 0
