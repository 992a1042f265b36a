"""Bucketed-layout twins for the TPC-H fact-exchange class.

The exchange-budget program (SCALE.md, "Round 8: the TPC-H star-join
exchange budget" and the round-8 sections after it) measured the star
joins' dominant cost as the single fact-side orderkey shuffle, and the
orderkey-bucketed layout as its cure: Q21 0.31x, Q4 0.39x, Q12 0.37x,
Q9 0.50x at x100, same session, results pinned equal. These queries
ship that cure as oracle-checked, plan-gated queries: each twin shares
its plain sibling's oracle verbatim (the answer is layout-invariant — only
the physical plan changes) and materializes the layout through
``sinks.export_bucketed`` on first use in a session, reusing it for
every later orderkey query against the same source.

This mirrors the reference's own design point — its partition planning
(/root/reference/src/table_function.cpp:191-212) exists precisely to
make the scan layout serve the query; Spark's bucketed managed tables
are the lake-scale equivalent (hash-co-located, per-bucket sorted, so
the SortMergeJoin needs neither Exchange nor Sort on either side).

Plan contract (gated in tests/test_bucketed_twins.py): the fact join
reads ``Bucketed: true`` scans with ZERO shuffle exchange beneath it;
only dim broadcasts (fixed-cardinality chains, or AQE's choice for the
SF-scaled sides) and the final tiny rollup cross a wire.

WHEN A LAYOUT PAYS (the rule distilled from the family's 16 measured
A/B verdicts — 13 cures, 3 no-ships): bucketing deletes an exchange
worth deleting only when that exchange carries O(|fact|) rows — joins
or aggregates keyed near-uniquely per fact row (orderkey, custkey,
partkey-per-line pairs). It does NOT pay when the plan already
collapses the exchange before it crosses a wire: map-side partial
aggregation over a LOW-cardinality key (Q15's per-suppkey revenue —
the combine reduces 15M windowed rows to <=|partitions|x|suppliers|
before shuffling), or a semi-prune that shrinks the fact first
(Q16's part-spec at 1.33x, Q20's red-parts x year window at 0.85x —
both measured no-ship, SCALE.md "Q16 partkey-layout twin: measured
NO-SHIP" and "Q20 on the partkey layout: measured NO-SHIP"). Price the
exchange's post-combine, post-prune row count before writing a layout
for it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_pst_spark.operators import relational  # noqa: F401  (oracle reuse)
from duckdb_pst_spark.registry import REGISTRY, query
from duckdb_pst_spark.tables import table

N_BUCKETS = 32

# Twin BENCH rows read at the x10 replica corpus (repo .cache/x10): at
# sf0.1 AQE broadcasts the tiny fact sides and the twins invert
# (documented in SCALE.md), so an sf0.1 row cannot catch a regression in
# the thing the twins exist for. x10 is the smallest corpus where the
# layout matters (twin/plain 0.29-0.66x); bench.py records the override
# under "bench_dir_overrides" and falls back to the session corpus when
# the replica is absent on a host. Correctness runs are unaffected — the
# driver's gate calls builders with its own sf_dir.
_X10_BENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".cache", "x10",
)


def ensure_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Create-or-reuse the orderkey layout for ``sf_dir`` (one write per
    session per source; reused by every twin afterwards). Returns the
    (orders, lineitem) catalog names."""
    from duckdb_pst_spark.sinks import export_bucketed

    names = export_bucketed(spark, sf_dir, n_buckets=N_BUCKETS)
    return names["orders"], names["lineitem"]


def bucketed_tables(spark: SparkSession, sf_dir: str):
    """(orders, lineitem) DataFrames over the co-located layout, with a
    LOUD plain-scan fallback if the layout cannot be materialized (e.g.
    an unwritable warehouse dir in a foreign harness): the twins'
    ANSWERS are layout-invariant, so the correctness contract must
    never fail on an environment detail the oracle doesn't see — only
    the physical plan degrades (the exchanges return). The plan gates
    in tests/test_bucketed_twins.py run where the warehouse works, so a
    silent layout regression still fails CI."""
    import sys

    try:
        o_t, li_t = ensure_bucketed(spark, sf_dir)
        return spark.table(o_t), spark.table(li_t)
    except Exception as exc:  # pragma: no cover - environment-dependent
        print(
            f"bucketed layout unavailable ({type(exc).__name__}: {exc}); "
            "falling back to plain scans",
            file=sys.stderr,
        )
        return table(spark, sf_dir, "orders"), table(spark, sf_dir, "lineitem")


def _oracle_of(plain_name: str) -> str:
    """The twin's oracle IS the plain query's oracle — same answer,
    different physical layout. Referencing it (instead of copying the
    string) keeps the pair in sync by construction."""
    return REGISTRY[plain_name].oracle


# The (plain, twin) pairing — single source of truth for every consumer
# that compares a twin against its plain sibling on the SAME corpus:
# bench.py emits the same-session twin/plain ratios into the bench JSON
# (a layout regression then moves a driver-recorded number), and
# `tools/ab.py <plain> <twin>` runs the interleaved min-of-N A/B.
TWIN_PAIRS: tuple[tuple[str, str], ...] = (
    ("q_tpch_q4", "q_tpch_q4_bucketed"),
    ("q_tpch_q12", "q_tpch_q12_bucketed"),
    ("q_tpch_q9", "q_tpch_q9_bucketed"),
    ("q_tpch_q21", "q_tpch_q21_bucketed"),
    ("q_tpch_q5", "q_tpch_q5_bucketed"),
    ("q_tpch_q10", "q_tpch_q10_bucketed"),
    ("q_tpch_q7", "q_tpch_q7_bucketed"),
    ("q_tpch_q8", "q_tpch_q8_bucketed"),
    ("q_tpch_q11", "q_tpch_q11_bucketed"),
    ("q_tpch_q18", "q_tpch_q18_bucketed"),
    # round 11: Q3 on the existing orderkey layout (whole plan
    # exchange-free, same contract class as Q18's twin)
    ("q_tpch_q3", "q_tpch_q3_bucketed"),
    # round 11: Q13 on a custkey layout (the third layout family;
    # only the ~dozen-row histogram rollup crosses a wire)
    ("q_tpch_q13", "q_tpch_q13_bucketed"),
    # round 11: Q22 rides the same custkey layout (the lapsed-customer
    # anti-join runs bucket-local; only constant-size rollups shuffle)
    ("q_tpch_q22", "q_tpch_q22_bucketed"),
)


# ------------------------------------------------- Q4 on the layout
@query(
    "q_tpch_q4_bucketed",
    oracle=_oracle_of("q_tpch_q4"),
    tags=("relational", "join", "agg", "bucketed"),
    bench=True,
    bench_dir=_X10_BENCH,
)
def q_tpch_q4_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_tpch_q4 on the orderkey-bucketed layout: the quarter-windowed
    orders EXISTS-semi against lineitem runs as a merge-hinted
    SortMergeJoin over co-bucketed, per-bucket-sorted scans — no
    exchange, no sort, on either fact side (measured 0.39x plain at
    x100, SCALE.md "Round 8 additions"). The merge hint pins the shape
    the layout exists for; without it AQE would broadcast the tiny
    test-scale orders side and mark the bucketed scan unused."""
    o_b, li_b = bucketed_tables(spark, sf_dir)
    o = o_b.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = li_b.select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(li.hint("merge"), late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# ------------------------------------------------ Q12 on the layout
@query(
    "q_tpch_q12_bucketed",
    oracle=_oracle_of("q_tpch_q12"),
    tags=("relational", "join", "agg", "bucketed"),
    bench=True,
    bench_dir=_X10_BENCH,
)
def q_tpch_q12_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_tpch_q12 on the orderkey-bucketed layout: the year-windowed
    fact scan joins orders bucket-aligned (zero exchange, zero sort);
    the CASE split still combines map-side so the only shuffle in the
    whole plan is the <=2-group final rollup (measured 0.37x plain at
    x100, SCALE.md "Round 8 additions")."""
    o_b, li_b = bucketed_tables(spark, sf_dir)
    li = (
        li_b
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_linestatus")
    )
    o = o_b.select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# ------------------------------------------------- Q9 on the layout
@query(
    "q_tpch_q9_bucketed",
    oracle=_oracle_of("q_tpch_q9"),
    tags=("relational", "join", "agg", "bucketed"),
    bench=True,
    bench_dir=_X10_BENCH,
)
def q_tpch_q9_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_tpch_q9 on the orderkey-bucketed layout: part and supplier
    attach first and stay DECLARATIVE (they scale with the corpus; AQE
    broadcasts them while they fit — a broadcast attach preserves the
    probe side's bucket partitioning, so the orders join after it is
    still exchange-free); the li⋈o join is the merge-hinted
    bucket-aligned SortMergeJoin (measured 0.50x plain at x100, SCALE.md
    "Round 8: the TPC-H suite completion"). When a deployment's part
    side outgrows broadcast, the partkey shuffle re-keys the fact and
    the layout's win shrinks to the sort — the docstring contract, not a
    silent cliff; profit arithmetic identical to the plain twin
    (FLOOR-cast quantities)."""
    o_b, li_b = bucketed_tables(spark, sf_dir)
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "nation")
    )
    o = o_b.select("o_orderkey", "o_orderdate")
    li = li_b.select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    amount_c = (
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
            "long"
        )
        - F.floor(F.col("p_retailprice") * 100).cast("long")
        * F.floor(F.col("l_quantity")).cast("long")
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "nation",
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount_c.alias("amount_c"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount_c").cast("long").alias("sum_profit_c"))
        .orderBy("nation", F.col("o_year").desc())
    )


# ------------------------------------------------- Q5 on the layout
@query(
    "q_tpch_q5_bucketed",
    oracle=_oracle_of("q_tpch_q5"),
    tags=("relational", "join", "agg", "bucketed"),
    bench=True,
    bench_dir=_X10_BENCH,
)
def q_tpch_q5_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_tpch_q5 on the orderkey-bucketed layout: inner joins commute,
    so the star is re-rooted at the bucket-aligned li⋈o join (zero
    exchange, zero sort — measured 0.64x plain at x100, SCALE.md "Round
    8: the TPC-H star-join exchange budget"); the date window prunes the
    bucketed orders scan, then customer/supplier attach declaratively
    ABOVE it (broadcast at test scale; at cluster scale their shuffles
    carry only the window's surviving rows, never the full fact)."""
    o_b, li_b = bucketed_tables(spark, sf_dir)
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = table(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    s = table(spark, sf_dir, "supplier")
    o = o_b.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = li_b.select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    ol = li.join(o.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
    return (
        ol.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("long")
            )
            .cast("long")
            .alias("revenue_c")
        )
        .orderBy(F.desc("revenue_c"), F.asc("n_name"))
    )


# ------------------------------------------------ Q10 on the layout
@query(
    "q_tpch_q10_bucketed",
    oracle=_oracle_of("q_tpch_q10"),
    tags=("relational", "join", "agg", "bucketed"),
    bench=True,
    bench_dir=_X10_BENCH,
)
def q_tpch_q10_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_tpch_q10 on the orderkey-bucketed layout: the returnflag
    filter prunes the bucketed lineitem scan, the quarter window the
    bucketed orders scan, and the li⋈o join is bucket-aligned
    (measured 0.56x plain at x100, SCALE.md "Round 8: the TPC-H
    star-join exchange budget");
    customer attaches declaratively above, nation broadcasts, and the
    customer rollup + top-20 end the plan."""
    o_b, li_b = bucketed_tables(spark, sf_dir)
    li = (
        li_b
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    o = o_b.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    ol = li.join(o.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
    return (
        ol.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("long")
            )
            .cast("long")
            .alias("revenue_c")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue_c",
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("acctbal_c"),
            "n_name",
        )
        .orderBy(F.desc("revenue_c"), F.asc("c_custkey"))
        .limit(20)
    )


# ------------------------------------------------- Q7 on the layout
@query(
    "q_tpch_q7_bucketed",
    oracle=_oracle_of("q_tpch_q7"),
    tags=("relational", "join", "agg", "bucketed"),
    bench=True,
    bench_dir=_X10_BENCH,
)
def q_tpch_q7_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_tpch_q7 on the orderkey-bucketed layout, fact-join-FIRST: the
    merge-hinted li⋈o SortMergeJoin runs directly over the two
    bucketed scans (only the scan-level ship-date window below it), so
    its subtree is exchange-free at ANY scale and under ANY planner
    size estimate — the Q9-style dims-below shape broke here because
    the static planner broadcast the tiny smoke-scale FACT side as the
    build, discarding its bucket partitioning. The nation-pair
    supplier/customer attaches ride ABOVE the fact join,
    declaratively: at test scale they broadcast; at cluster scale
    their shuffles carry fact-survivor rows — the one exchange Q7
    keeps even bucketed (the suppkey/custkey re-key), while the
    orderkey exchange the layout exists to delete is gone. This is
    the row the 64 MB threshold knob was measured to REGRESS
    (SCALE.md round 8); the layout cure doesn't gamble on a planner
    estimate."""
    o_b, li_b = bucketed_tables(spark, sf_dir)
    pair = ["NATION_3", "NATION_8"]
    n = table(spark, sf_dir, "nation").filter(F.col("n_name").isin(pair))
    s = (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    c = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(n.select(
            F.col("n_nationkey").alias("cn_key"),
            F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey", "cust_nation")
    )
    o = o_b.select("o_orderkey", "o_custkey")
    li = (
        li_b
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate",
                "l_extendedprice", "l_discount")
    )
    rev_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(o.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .select(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            rev_c.alias("rev_c"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("rev_c").cast("long").alias("revenue_c"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ------------------------------------------------- Q8 on the layout
@query(
    "q_tpch_q8_bucketed",
    oracle=_oracle_of("q_tpch_q8"),
    tags=("relational", "join", "agg", "bucketed"),
    bench=True,
    bench_dir=_X10_BENCH,
)
def q_tpch_q8_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_tpch_q8 on the orderkey-bucketed layout, fact-join-FIRST (see
    q_tpch_q7_bucketed for why the dims-below shape is fragile at
    smoke scale): the merge-hinted li⋈o SortMergeJoin runs directly
    over the bucketed scans with only the pushed order-date window
    below it; the part/supplier/ASIA-customer attaches ride above,
    declaratively — the part filter then prunes the joined stream to
    1/6 before the remaining attaches. The round-8 forced-broadcast
    A/B on the orders side measured a tie — the layout deletes the
    orderkey exchange instead of betting on the broadcast."""
    o_b, li_b = bucketed_tables(spark, sf_dir)
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(n2.select("n_nationkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    o = (
        o_b
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = li_b.select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    j = (
        li.join(o.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        # INNER, not LEFT SEMI: c_custkey is unique so the semantics are
        # identical, but PushDownLeftSemiAntiJoin would sink a semi BELOW
        # the fact join onto the orders side, re-keying it by custkey and
        # discarding the bucket partitioning the layout exists for —
        # inner joins stay in declared order (CBO reordering is off).
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            rev_c.alias("rev_c"),
            "supp_nation",
        )
    )
    nat = F.when(F.col("supp_nation") == "NATION_3", F.col("rev_c")).otherwise(0)
    return (
        j.groupBy("o_year")
        .agg(
            F.sum(nat).cast("long").alias("nation_rev_c"),
            F.sum("rev_c").cast("long").alias("total_rev_c"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_3' "
                "THEN rev_c ELSE 0 END) AS DECIMAL(38,0)) * 1000000"
                " div sum(rev_c) AS BIGINT)"
            ).alias("mkt_share_ppm"),
        )
        .orderBy("o_year")
    )


# ------------------------------------------------ Q21 on the layout
@query(
    "q_tpch_q21_bucketed",
    oracle=_oracle_of("q_tpch_q21"),
    tags=("relational", "join", "subquery", "bucketed"),
    bench=True,
    bench_dir=_X10_BENCH,
)
def q_tpch_q21_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_tpch_q21 on the orderkey-bucketed layout — the biggest
    measured win in the class (11.45 → 3.59 s, 0.31x, at x100; SCALE.md
    "Round 8: the TPC-H suite completion") because the layout pays
    TWICE: the li⋈o join is bucket-aligned (no exchange, no sort) and
    the decorrelating window over l_orderkey rides the same bucket
    partitioning (HashPartitioning on the window key — no window
    exchange either). The plan's only shuffles are the
    |suppliers|-bounded rollup and the top-100 sort."""
    o_b, li_b = bucketed_tables(spark, sf_dir)
    o = (
        o_b
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = li_b.select("l_orderkey", "l_suppkey", "l_shipdate")
    j = li.join(o.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "late",
        F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
    )
    w = Window.partitionBy("l_orderkey")
    j = j.withColumn(
        "n_supp", F.size(F.collect_set("l_suppkey").over(w))
    ).withColumn(
        "n_late",
        F.size(F.collect_set(F.when(F.col("late"), F.col("l_suppkey"))).over(w)),
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        j.filter(F.col("late") & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# --------------------------------------- Q11 on a partkey layout
def bucketed_lineitem_partkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem over the PARTKEY-bucketed layout (create-or-reuse per
    session/source, same digest discipline as the orderkey layout),
    with the same LOUD plain-scan fallback as ``bucketed_tables``."""
    import sys

    from duckdb_pst_spark.sinks import export_bucketed

    try:
        names = export_bucketed(
            spark, sf_dir, key="partkey", tables=("lineitem",), n_buckets=N_BUCKETS
        )
        return spark.table(names["lineitem"])
    except Exception as exc:  # pragma: no cover - environment-dependent
        print(
            f"partkey layout unavailable ({type(exc).__name__}: {exc}); "
            "falling back to plain scan",
            file=sys.stderr,
        )
        return table(spark, sf_dir, "lineitem")


def q11_value_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-part traded-value aggregate over the partkey layout —
    factored out un-checkpointed so tests/test_bucketed_twins.py can
    plan-gate the fragment the layout exists for (the builder
    checkpoints it, which hides the aggregate from the returned plan)."""
    li = bucketed_lineitem_partkey(spark, sf_dir)
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    afs = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    return (
        li.select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(F.broadcast(afs), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100).cast("long")
                * F.floor(F.col("l_quantity")).cast("long")
            )
            .cast("long")
            .alias("value_c")
        )
    )


@query(
    "q_tpch_q11_bucketed",
    oracle=_oracle_of("q_tpch_q11"),
    tags=("relational", "agg", "subquery", "bucketed"),
    bench=True,
    bench_dir=_X10_BENCH,
)
def q_tpch_q11_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_tpch_q11 on a PARTKEY-bucketed lineitem layout — the cure for
    the one exchange the plain plan can't avoid: the |region-lines|
    partkey aggregate shuffle (Q11's growth term; the plain plan's wall
    grows 3.0x over 100x data, SCALE.md). On the layout the partial and
    final HashAggregate both run bucket-local — ZERO exchange beneath
    the aggregate; the region-supplier membership joins as an explicit
    keys-only broadcast semi (8 B/row, 1/5 of suppliers: ~16 MB even at
    TPC-H SF100k — and if a deployment's supplier pool outgrows that, a
    bloom-filter prune (q_bloom_prune's shape) replaces it; an SMJ semi
    here would re-shuffle the fact by suppkey and erase the layout, the
    shape the static planner picked unhinted).

    Same oracle as the plain twin — the answer is layout-invariant.
    Plan-gated in tests/test_bucketed_twins.py (Bucketed: true scan,
    zero shuffle exchange under the aggregate)."""
    val = q11_value_view(spark, sf_dir).localCheckpoint(eager=True)  # read twice
    tot = val.agg(F.expr("CAST(sum(value_c) AS BIGINT) div 800").alias("thr"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("value_c") > F.col("thr"))
        .select(F.col("pk").alias("p_partkey"), "value_c")
        .orderBy(F.col("value_c").desc(), "p_partkey")
    )


# --------------------------------------------- Q18 on the layout
@query(
    "q_tpch_q18_bucketed",
    oracle=_oracle_of("q_tpch_q18"),
    tags=("relational", "join", "agg", "bucketed"),
    bench=True,
    bench_dir=_X10_BENCH,
)
def q_tpch_q18_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_tpch_q18 on the orderkey-bucketed layout — the cheapest twin in
    the family because the layout ALREADY exists for the star joins: the
    large-volume-order aggregate (the plain plan's one big exchange — a
    |orders|-sized map-combined shuffle of the whole fact) runs
    bucket-local, the survivor semi-joins stay broadcasts, and the final
    per-order rollup inherits the bucket partitioning through the
    broadcast joins (BHJ propagates stream-side partitioning across join
    -key equivalence), so the ENTIRE plan has ZERO shuffle exchanges
    (plan-gated in tests/test_bucketed_twins.py). Measured 0.68x plain
    at x100 (7.23 -> 4.95 s), results pinned equal (2.93M rows)."""
    o_b, li = bucketed_tables(spark, sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    c = table(spark, sf_dir, "customer")
    li_big = li.join(F.broadcast(big), "l_orderkey", "left_semi")
    o_big = o_b.join(
        F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    )
    return (
        li_big.join(F.broadcast(o_big), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.sum(F.floor(F.col("l_quantity")).cast("long"))
            .cast("long")
            .alias("sum_qty")
        )
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("totalprice_cents"),
            "sum_qty",
        )
    )


# --------------------------------------------- Q3 on the layout
@query(
    "q_tpch_q3_bucketed",
    oracle=_oracle_of("q_tpch_q3"),
    tags=("relational", "join", "agg", "bucketed"),
    bench=True,
    bench_dir=_X10_BENCH,
)
def q_tpch_q3_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_tpch_q3 on the orderkey-bucketed layout (round-11 twin): the
    plain plan's one corpus-sized exchange is the lineitem⋈orders join
    + revenue rollup on orderkey; here the segment-filtered customer
    broadcasts into the BUCKETED orders scan (BHJ preserves the stream
    side's bucket partitioning and per-bucket sort), the fact join runs
    as a merge-hinted SortMergeJoin over co-bucketed scans, and the
    (l_orderkey, o_orderdate) rollup is satisfied by the join's
    orderkey partitioning — so like Q18's twin the ENTIRE plan carries
    ZERO shuffle exchanges (plan-gated in tests/test_bucketed_twins.py;
    the top-10 is a TakeOrderedAndProject, not a sort exchange).
    Same oracle as the plain twin — the answer is layout-invariant.
    Measured same-session interleaved min-of-3 vs plain before shipping
    (SCALE.md round-11 ledger): 0.48x at x10 (1.51 -> 0.73 s), 0.49x
    at x100 (4.70 -> 2.32 s), results pinned equal."""
    o_b, li_b = bucketed_tables(spark, sf_dir)
    cutoff = F.lit("1995-03-15").cast("date")
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        o_b.filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_orderdate", "o_custkey")
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
    )
    li = (
        li_b.filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(o.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("long")
            ).cast("long").alias("revenue_cents")
        )
        .select("l_orderkey", "revenue_cents", "o_orderdate")
        .orderBy(F.col("revenue_cents").desc(), F.col("o_orderdate").asc(),
                 F.col("l_orderkey").asc())
        .limit(10)
    )


# --------------------------------------- Q13 on a custkey layout
def bucketed_custkey_tables(spark: SparkSession, sf_dir: str):
    """(customer, orders) over a CUSTKEY-bucketed layout — the third
    layout family (after orderkey and partkey), created-or-reused per
    session/source with the same digest/GC discipline, same LOUD
    plain-scan fallback as ``bucketed_tables``. Serves every custkey
    equi-join/aggregate (Q13's order-count distribution is the
    registered consumer)."""
    import sys

    from duckdb_pst_spark.sinks import export_bucketed

    try:
        names = export_bucketed(
            spark, sf_dir, key="custkey", tables=("customer", "orders"),
            n_buckets=N_BUCKETS,
        )
        return spark.table(names["customer"]), spark.table(names["orders"])
    except Exception as exc:  # pragma: no cover - environment-dependent
        print(
            f"custkey layout unavailable ({type(exc).__name__}: {exc}); "
            "falling back to plain scans",
            file=sys.stderr,
        )
        return table(spark, sf_dir, "customer"), table(spark, sf_dir, "orders")


@query(
    "q_tpch_q13_bucketed",
    oracle=_oracle_of("q_tpch_q13"),
    tags=("relational", "join", "agg", "bucketed"),
    bench=True,
    bench_dir=_X10_BENCH,
)
def q_tpch_q13_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_tpch_q13 on a CUSTKEY-bucketed (customer, orders) layout —
    the round-11 twelfth twin and the third layout family. The plain
    plan's one corpus-sized exchange is orders shuffled by custkey
    into the LEFT OUTER join (the per-customer count rides the join
    partitioning); here the join is a merge-pinned SMJ over two
    co-bucketed per-bucket-sorted scans with the priority predicate as
    the join residual, the per-customer count runs bucket-local, and
    the ONLY shuffle in the plan is the ~dozen-row count-of-counts
    rollup (plan-gated in tests/test_bucketed_twins.py — the Q12
    contract class). Measured same-session interleaved min-of-3 vs
    plain, results pinned equal (SCALE.md "Twelfth twin"): 0.32x at
    x10 (1.77 -> 0.57 s), 0.30x at x100 (2.76 -> 0.82 s). Layout once:
    13.6 s at x10, 17.9 s at x100 (orders + customer are the two
    SMALL fact-adjacent tables — this family is an order of magnitude
    cheaper to materialize than the lineitem layouts)."""
    c_b, o_b = bucketed_custkey_tables(spark, sf_dir)
    per_cust = (
        c_b.join(
            o_b.hint("merge"),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


@query(
    "q_tpch_q22_bucketed",
    oracle=_oracle_of("q_tpch_q22"),
    tags=("relational", "agg", "subquery", "bucketed"),
    bench=True,
    bench_dir=_X10_BENCH,
)
def q_tpch_q22_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_tpch_q22 on the custkey layout — the thirteenth twin rides the
    (customer, orders) tables Q13's twin already materializes, so a
    deployment gets this cure for free with that layout. The plain
    plan's one fact-sized exchange (its own docstring names it) is the
    custkey LEFT ANTI of the customer pool against the date-windowed
    orders scan; here the anti-join runs FIRST as a merge-pinned SMJ
    over the two co-bucketed scans (keeping the scans directly under
    the join — threading the 1-row threshold broadcast below it would
    interpose a BNLJ and cost a local re-sort), then the broadcast
    above-mean threshold filter (it commutes with the anti-join — both
    filter pool attributes), then the <=7-group rollup. The three
    remaining shuffles are all constant-size (threshold
    SinglePartition, rollup hash, orderBy range) — plan-gated in
    tests/test_bucketed_twins.py. Measured same-session interleaved
    min-of-3 vs plain, results pinned equal (SCALE.md "Thirteenth twin"):
    0.85x at x10 (0.78 -> 0.67 s), 0.48x at x100 (1.85 -> 0.89 s) —
    improving with scale because the deleted exchange is the growth
    term."""
    c_b, o_b = bucketed_custkey_tables(spark, sf_dir)
    pool = (
        c_b.filter(F.col("c_nationkey").isin(2, 5, 9, 13, 17, 21, 24))
        .select(
            "c_custkey",
            F.col("c_nationkey").cast("long").alias("cntrycode"),
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("acctbal_c"),
        )
    )
    pos = pool.filter(F.col("acctbal_c") > 0).agg(
        F.expr("CAST(sum(acctbal_c) AS BIGINT) div count(*)").alias("thr")
    )
    recent = (
        o_b.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    lapsed = pool.join(
        recent.hint("merge"), F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        lapsed.crossJoin(F.broadcast(pos))
        .filter(F.col("acctbal_c") > F.col("thr"))
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum("acctbal_c").cast("long").alias("totacctbal_c"),
        )
        .orderBy("cntrycode")
    )
