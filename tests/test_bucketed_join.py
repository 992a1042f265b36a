"""Bucketed-table co-location gate (sinks.save_bucketed_table).

The TPC-H exchange-budget program (SCALE.md, "Round 8: the TPC-H
star-join exchange budget" and "Round 8 additions") showed the star
joins' dominant cost is the one fact-side orderkey exchange, and that
bucketing orders+lineitem on orderkey deletes it (Q5 0.64x, Q10 0.56x,
Q4 0.39x, Q12 0.37x at x100). This test pins the mechanism itself so the
sink can't silently regress: a join between two tables bucketed the same
way must read pre-bucketed scans with NO Exchange on either side, and
return exactly the plain join's rows.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from duckdb_pst_spark.sinks import save_bucketed_table
from duckdb_pst_spark.tables import table


@pytest.fixture(scope="module")
def bucketed_pair(spark, sf_dir):
    # default warehouse dir (spark-warehouse/, gitignored) — the
    # warehouse conf is static and cannot move per-test
    spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
    spark.sql("DROP TABLE IF EXISTS t_o_bucketed")
    # a stale location from a killed run blocks saveAsTable even after
    # DROP (the table was never in THIS session's in-memory catalog)
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("t_li_bucketed", "t_o_bucketed"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    save_bucketed_table(
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        "t_li_bucketed",
        bucket_by=["l_orderkey"],
        n_buckets=4,
        sort_by=["l_orderkey"],
    )
    save_bucketed_table(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        "t_o_bucketed",
        bucket_by=["o_orderkey"],
        n_buckets=4,
        sort_by=["o_orderkey"],
    )
    yield "t_li_bucketed", "t_o_bucketed"
    spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
    spark.sql("DROP TABLE IF EXISTS t_o_bucketed")


def test_bucketed_join_is_exchange_free(spark, sf_dir, bucketed_pair):
    li_t, o_t = bucketed_pair
    # force the SortMergeJoin shape bucketing exists for — at the test
    # sf AQE would broadcast the small side and mark the scans
    # "Bucketed: false (disabled by query planner)", gating nothing
    j = spark.table(li_t).hint("merge").join(
        spark.table(o_t).hint("merge"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert not re.search(r"\bExchange\b", plan), plan
    assert "Bucketed: true" in plan, plan


def test_bucketed_join_equals_plain_join(spark, sf_dir, bucketed_pair):
    li_t, o_t = bucketed_pair
    bucketed = (
        spark.table(li_t)
        .join(spark.table(o_t), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_c"),
        )
    )
    plain = (
        table(spark, sf_dir, "lineitem")
        .join(
            table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_c"),
        )
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(
        map(tuple, plain.collect())
    )
