"""Relational capability surface — SURVEY.md §2.B.

Each builder reproduces a construct the reference exercises through DuckDB
(citations are into /root/reference/). All are declarative DataFrame
programs: Catalyst supplies predicate pushdown, column pruning, join
selection and AQE; nothing here hand-schedules execution.

Oracle-parity rules (see functions/portable.py): aggregate sums over
doubles go through floor-scaled BIGINTs; every computed column is aliased
identically in the DataFrame code and the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_pst_spark.functions.portable import P_HASH
from duckdb_pst_spark.registry import query
from duckdb_pst_spark.tables import table


# --------------------------------------------------------------- B1 scan
@query(
    "q_scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem
    """,
    tags=("scan", "projection"),
    bench=True,
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: full scan + projection (`select * from read_pst_messages`,
    reference README.md:42). Column pruning reaches the parquet scan."""
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"
    )


# ------------------------------------------------------------- B2 filter
@query(
    "q_filter_eq",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_mktsegment = 'BUILDING'
    """,
    tags=("filter",),
)
def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: equality predicate (reference
    test/sql/table_function_parameters.test:33). Pushed to parquet."""
    return (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@query(
    "q_filter_like",
    oracle="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_name LIKE 'large%'
    """,
    tags=("filter",),
)
def q_filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: LIKE prefix filter (`conversation_topic like 'Test%'`,
    reference test/sql/query_optimizations.test:51). A prefix LIKE is
    sargable — Catalyst pushes StringStartsWith to the source."""
    return (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("large%"))
        .select("p_partkey", "p_name", "p_type")
    )


@query(
    "q_filter_null",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey IS NULL
    """,
    tags=("filter", "join"),
)
def q_filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: IS NULL / IS NOT NULL (reference
    test/sql/table_function_parameters.test:21) — expressed as the classic
    anti-join ("customers with no orders"); also covers LEFT OUTER JOIN."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .filter(F.col("o_orderkey").isNull())
        .select("c_custkey", "c_name")
    )


# --------------------------------------------------------- B5/B6 counts
@query(
    "q_count_star",
    oracle="SELECT COUNT(*) AS cnt FROM lineitem",
    tags=("agg",),
    bench=True,
)
def q_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: count(*) (reference README.md:11). With
    spark.sql.parquet.aggregatePushdown the count is answered from parquet
    footer statistics without reading row data — the Spark analogue of the
    reference's stats-based COLUMN_DATA_SCAN rewrite
    (src/table_function.cpp:325-351). The two knobs that enable the
    stats path (aggregate pushdown + the DSv2 parquet scan it requires)
    are set here so the capability holds in ANY host session, not just
    the tuned session factory."""
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    return table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "q_count_distinct",
    oracle="SELECT COUNT(DISTINCT l_partkey) AS distinct_parts FROM lineitem",
    tags=("agg",),
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6: count(DISTINCT col) (reference test/sql/read_pst_folders.test:21-23)."""
    return table(spark, sf_dir, "lineitem").agg(
        F.countDistinct("l_partkey").alias("distinct_parts")
    )


# ------------------------------------------------------------ B7 groupby
@query(
    "q_groupby_count_order",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS c
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY c DESC, o_orderpriority
    """,
    tags=("agg", "sort"),
    bench=True,
)
def q_groupby_count_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 (flagship): hash group-by + count + order by count desc — the
    reference's README headline query shape (`select message_class,
    count(*) c ... group by ... order by c desc`, README.md:25).
    Partial aggregation happens map-side; only the per-group counts
    shuffle."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("o_orderpriority"))
    )


# ------------------------------------------------------------- B8 order
@query(
    "q_orderby_multi",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_regionkey ASC, n_name DESC
    """,
    tags=("sort",),
)
def q_orderby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8: multi-key ORDER BY asc/desc (reference
    test/sql/read_unittest_pst.test:20, read_pst_folders.test:33)."""
    return (
        table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy(F.asc("n_regionkey"), F.desc("n_name"))
    )


@query(
    "q_topn",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("sort", "limit"),
    bench=True,
)
def q_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9: order+limit top-n (reference test/sql/query_optimizations.test:51).
    Catalyst compiles this to TakeOrderedAndProject — per-partition heaps,
    no global sort, no full shuffle: exactly the plan shape the reference
    gets from its late-materialization rewrite (§3 entry point 3) without
    needing a custom hook. Unique tiebreak key keeps top-n deterministic."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q_late_materialization",
    oracle="""
    SELECT d.doc_id, d.n_chars, d.lang, d.source, length(d.text) AS text_len
    FROM documents d
    JOIN (SELECT doc_id FROM documents ORDER BY n_chars DESC, doc_id LIMIT 5) k
      ON d.doc_id = k.doc_id
    """,
    tags=("scan", "topn"),
)
def q_late_materialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 parity: the reference rewrites order/limit-then-project into a
    top-n over virtual row-ids hash-joined back to a re-scan
    (late_materialization=true, pst_extension.cpp:26-34; HASH_JOIN plan
    asserted in query_optimizations.test:49-53). Spark emulation of the
    same physical idea: the top-n heap runs over a 2-column pruned scan
    (doc_id, n_chars — 16 bytes/row), and the wide columns (text is
    ~KB/row) are fetched by broadcast-joining the 5 winning keys back
    against a second pruned scan. At 100 TB this sorts 16-byte pairs
    instead of KB-wide rows."""
    d = table(spark, sf_dir, "documents")
    keys = (
        d.select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(5)
        .select("doc_id")
    )
    return d.join(F.broadcast(keys), "doc_id").select(
        "doc_id",
        "n_chars",
        "lang",
        "source",
        F.length("text").cast("long").alias("text_len"),
    )


@query(
    "q_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    tags=("distinct",),
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: DISTINCT (reference test/sql/read_pst_folders.test:26-29).
    Partial-aggregate dedup map-side before the shuffle."""
    return table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# -------------------------------------------------------------- B11 join
@query(
    "q_join_inner",
    oracle="""
    SELECT r.r_name, n.n_name, COUNT(*) AS cnt_cust
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY r.r_name, n.n_name
    ORDER BY r.r_name, n.n_name
    """,
    tags=("join", "agg"),
    bench=True,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: inner equi hash join (reference README.md:414 recursive-CTE body,
    HASH_JOIN plan in query_optimizations.test:53). region/nation are
    dimension tables → broadcast explicitly so the fact side never
    shuffles for the join (at 100 TB, customer is the big side)."""
    r = F.broadcast(table(spark, sf_dir, "region"))
    n = F.broadcast(table(spark, sf_dir, "nation"))
    c = table(spark, sf_dir, "customer")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("cnt_cust"))
        .orderBy("r_name", "n_name")
    )


@query(
    "q_semi_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 30000
    )
    """,
    tags=("join",),
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / left-semi join: customers having a large order. Semi join
    avoids materializing the orders side in the output."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 30000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


# ----------------------------------------------------------- B14 subquery
@query(
    "q_from_subquery",
    oracle="""
    SELECT COUNT(*) AS cnt
    FROM (SELECT * FROM orders WHERE o_totalprice > 1000) t
    """,
    tags=("subquery", "agg"),
)
def q_from_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14: subquery in FROM (reference
    test/sql/table_function_parameters.test:15). Catalyst collapses the
    nesting; the filter still pushes to the scan."""
    sub = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 1000)
    return sub.agg(F.count(F.lit(1)).alias("cnt"))


# ----------------------------------------------------------- B15 case
@query(
    "q_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'F' THEN 'finished'
                WHEN o_orderstatus = 'O' THEN 'open'
                ELSE 'other' END AS status_label
    FROM orders
    """,
    tags=("expr",),
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15: CASE WHEN (reference test/sql/read_unittest_pst.test:20)."""
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", "finished")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("other")
        .alias("status_label"),
    )


# ------------------------------------------------------- B17 struct access
@query(
    "q_struct_access",
    oracle="""
    SELECT s.name AS cust_name, s.bal AS bal
    FROM (SELECT {'name': c_name, 'bal': c_acctbal} AS s FROM customer) t
    """,
    tags=("nested",),
)
def q_struct_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B17: struct construction + field access (`member['display_name']`,
    reference test/sql/read_unittest_pst.test:66)."""
    c = table(spark, sf_dir, "customer")
    s = c.select(F.struct(F.col("c_name").alias("name"), F.col("c_acctbal").alias("bal")).alias("s"))
    return s.select(F.col("s.name").alias("cust_name"), F.col("s.bal").alias("bal"))


# ----------------------------------------------------------- B21 order expr
@query(
    "q_orderby_expr",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    ORDER BY length(c_name) DESC, c_custkey
    LIMIT 20
    """,
    tags=("sort", "expr"),
)
def q_orderby_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B21: ORDER BY over an expression (reference
    read_unittest_pst.test:66 orders by a struct field expression)."""
    return (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .orderBy(F.length("c_name").desc(), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------- set ops
@query(
    "q_union",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    UNION
    SELECT s_nationkey AS nk FROM supplier
    """,
    tags=("setop",),
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION with dedup — the construct that terminates the reference's
    recursive CTEs (README.md:461-468)."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.union(s).distinct()


# ------------------------------------------------------ TPC-H-style aggs
@query(
    "q_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_c,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2025-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
    bench=True,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary. Money sums use floor-scaled
    BIGINTs (functions/portable.py) so group sums are order-independent
    and hash-match the oracle exactly; at scale this is also the faster
    plan (integer sum beats double sum, and partial aggregation pushes
    map-side)."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2025-06-01 00:00:00").cast("timestamp_ntz")
    )
    cents = lambda c: F.floor(c * 100).cast("long")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents(F.col("l_quantity"))).alias("sum_qty_c"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_c"),
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_c"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q_join_agg_topn",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_c,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY rev_c DESC, l.l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "sort"),
    bench=True,
)
def q_join_agg_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dim filter → fact join → group → top-n.

    Join order is dimension-first: orders is reduced through the
    filtered customer side BEFORE lineitem enters, so the widest stream
    (lineitem ⋈ orders output) is never re-shuffled on a second key —
    shuffled bytes are O + C + L + O/5 instead of L + O + wide·C. No
    explicit broadcast: at this SF, AQE converts both reduced sides to
    broadcast from runtime stats; at 100 TB they exceed the threshold
    and shuffle — same plan text, right strategy either way."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    rev_c = F.sum(
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    ).alias("rev_c")
    oc = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "o_orderdate")
    # The fact join carries a shuffle_hash hint on the REDUCED side: build
    # a hash table from orders-after-the-dim-filter and stream lineitem
    # through it — no sort of the widest relation, and the static planner
    # can no longer pick lineitem itself as a broadcast build (its
    # pruned-scan size estimate sits under the threshold at bench SF,
    # which is wrong at every scale). Measured 40% faster at sf0.1; at
    # 100 TB a shuffled hash join on the join key with the reduced side
    # as build is the textbook plan (AQE skew-split still applies).
    return (
        l.join(oc.hint("shuffle_hash"), l.l_orderkey == oc.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(rev_c)
        .orderBy(F.desc("rev_c"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q_multi_join",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_c
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY rev_c DESC, n.n_name
    """,
    tags=("join", "agg"),
    bench=True,
)
def q_multi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-table join, dimension-first.

    The region→nation chain broadcasts into customer, the ASIA-only
    customer side reduces orders, and only then does lineitem join —
    the widest stream is shuffled once on one key and never again. At
    this SF, AQE broadcast-converts the reduced orders side from
    runtime stats; at 100 TB it shuffles — same code. supplier stays an
    explicit broadcast (bounded dimension at every scale)."""
    r = F.broadcast(table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    n = F.broadcast(table(spark, sf_dir, "nation"))
    s = F.broadcast(table(spark, sf_dir, "supplier"))
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    cn = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_nationkey", "n_name")
    )
    oc = o.join(cn, o.o_custkey == cn.c_custkey).select(
        "o_orderkey", "n_nationkey", "n_name"
    )
    # shuffle_hash on the reduced orders side — same rationale as
    # q_join_agg_topn: hash-build the small side, never sort lineitem
    return (
        l.join(oc.hint("shuffle_hash"), l.l_orderkey == oc.o_orderkey)
        .join(s, (s.s_suppkey == l.l_suppkey) & (s.s_nationkey == oc.n_nationkey))
        .groupBy("n_name")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
            ).alias("rev_c")
        )
        .orderBy(F.desc("rev_c"), F.asc("n_name"))
    )


@query(
    "q_agg_stats",
    oracle="""
    SELECT o_orderstatus,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("agg",),
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/count per group — min/max over doubles and timestamps are
    exact (no accumulation), so they compare raw."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("o_orderstatus")
    )


# ------------------------------------------- beyond-reference relational ops
# (the reference has none of these — SURVEY.md §2.D — but a user migrating
# real analytics onto this engine expects them; all pure Spark SQL built-ins)


@query(
    "q_rollup_agg",
    oracle="""
    SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_cust
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("agg", "grouping"),
)
def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region→nation hierarchy: per-nation, per-region
    subtotal, and grand total in one pass — partial aggregation handles
    all grouping sets in the same shuffle."""
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )


@query(
    "q_cube_agg",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "grouping"),
)
def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dims — all 4 grouping sets."""
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_intersect",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    INTERSECT
    SELECT o_custkey AS custkey FROM orders
    """,
    tags=("setop",),
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): customers that have orders."""
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.intersect(o)


@query(
    "q_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    """,
    tags=("setop",),
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): customers with no orders — the anti-join
    shape Catalyst compiles this to."""
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.exceptAll(o.distinct()).distinct()


@query(
    "q_join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    """,
    tags=("join",),
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join: every customer row survives; order columns are
    NULL for customers with no orders. Same shuffle-on-key shape as the
    inner join — outer-ness changes row emission, not partitioning."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey"
    )


@query(
    "q_join_full_outer",
    oracle="""
    SELECT c.c_custkey, s.s_suppkey
    FROM customer c
    FULL OUTER JOIN supplier s ON s.s_suppkey = c.c_custkey
    """,
    tags=("join",),
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join on overlapping key ranges — unmatched rows from
    BOTH sides survive with NULLs. Full outer cannot broadcast either
    side (every row of both must be emitted), so it is always a shuffle
    join; key-range overlap decides the NULL fraction, not the plan."""
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    return c.join(s, c.c_custkey == s.s_suppkey, "full").select("c_custkey", "s_suppkey")


@query(
    "q_anti_join",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join",),
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no orders. The probe
    side streams; only the distinct key set of orders is built — at
    scale this is the cheapest of the join family."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q_percentile",
    oracle="""
    SELECT o_orderstatus,
           CAST(FLOOR(quantile_cont(o_totalprice, 0.5) * 100) AS BIGINT) AS median_price_c,
           CAST(FLOOR(MIN(o_totalprice) * 100) AS BIGINT) AS min_price_c,
           CAST(FLOOR(MAX(o_totalprice) * 100) AS BIGINT) AS max_price_c
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg", "stats"),
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median per group (Spark `percentile` ==
    DuckDB `quantile_cont`). Floor-scaled to cents: the even-count
    midpoint is a half-cent average, exactly representable in a double,
    so both engines floor identically. At 100 TB you'd switch to
    `approx_percentile` (t-digest, mergeable partial aggregation) —
    exact percentile requires a full sort of every group."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.floor(F.expr("percentile(o_totalprice, 0.5)") * 100)
        .cast("long")
        .alias("median_price_c"),
        F.floor(F.min("o_totalprice") * 100).cast("long").alias("min_price_c"),
        F.floor(F.max("o_totalprice") * 100).cast("long").alias("max_price_c"),
    )


@query(
    "q_pivot",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (o_orderstatus = 'F') AS "F",
           count(*) FILTER (o_orderstatus = 'O') AS "O",
           count(*) FILTER (o_orderstatus = 'P') AS "P"
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg", "pivot"),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: one column per order status, counts per priority. Pivot
    values are declared explicitly — with them the plan is a single
    group-by with conditional aggregates (one shuffle); without them
    Spark must first run a distinct scan to discover the columns."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )


@query(
    "q_correlated_scalar",
    oracle="""
    SELECT o.o_orderkey
    FROM orders o
    WHERE CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)
            * (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
          > (SELECT SUM(CAST(FLOOR(o2.o_totalprice * 100) AS BIGINT))
             FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
    tags=("join", "subquery"),
)
def q_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — orders priced above their customer's
    average — decorrelated the way every engine executes it: one
    aggregate over the correlation key joined back to the outer table.
    All-integer comparison (price_c * n > sum_c) so no double division
    crosses the engine boundary."""
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_ord"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("sum_c"),
    )
    return (
        o.join(per_cust.withColumnRenamed("o_custkey", "ck"), F.col("o_custkey") == F.col("ck"))
        .filter(F.floor(F.col("o_totalprice") * 100).cast("long") * F.col("n_ord") > F.col("sum_c"))
        .select("o_orderkey")
    )


@query(
    "q_having",
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS c
    FROM lineitem GROUP BY l_returnflag, l_linestatus HAVING count(*) >= 100
    """,
    tags=("agg", "filter"),
)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING — post-aggregation predicate. Catalyst places the filter
    after the final hash aggregate, so it runs on group states (one per
    key), never on rows; same single-shuffle plan as a plain groupBy."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 100)
    )


@query(
    "q_in_subquery",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
    tags=("subquery", "join"),
)
def q_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (SELECT ...) — Catalyst decorrelates to a left-semi hash join
    on the subquery key, the same rewrite every engine applies; at scale
    the semi join build side is the filtered orders keys only."""
    import uuid as _uuid

    cv = f"insub_c_{_uuid.uuid4().hex[:8]}"
    ov = f"insub_o_{_uuid.uuid4().hex[:8]}"
    table(spark, sf_dir, "customer").createOrReplaceTempView(cv)
    table(spark, sf_dir, "orders").createOrReplaceTempView(ov)
    return spark.sql(
        f"""
        SELECT c_custkey, c_name FROM {cv}
        WHERE c_custkey IN (SELECT o_custkey FROM {ov} WHERE o_totalprice > 300000)
        """
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INT) AS g_flag,
           CAST(grouping(l_linestatus) AS INT) AS g_status,
           CAST(count(*) AS BIGINT) AS c,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    tags=("agg", "grouping-sets"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond the rollup/cube shorthands) with
    grouping() indicator columns — compiles to the same single-shuffle
    expand + hash aggregate as rollup/cube; each input row is expanded
    once per set, partial-aggregated map-side."""
    import uuid as _uuid

    lv = f"gsets_l_{_uuid.uuid4().hex[:8]}"
    table(spark, sf_dir, "lineitem").createOrReplaceTempView(lv)
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status,
               count(*) AS c,
               CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        FROM {lv}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@query(
    "q_string_agg",
    oracle="""
    SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
    FROM nation GROUP BY n_regionkey
    """,
    tags=("agg", "string"),
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — DuckDB string_agg(... ORDER BY) ≡
    Spark 4 listagg(...) WITHIN GROUP (ORDER BY ...). The in-group sort
    happens inside the aggregate buffer; deterministic output needs the
    explicit WITHIN GROUP order on both engines."""
    import uuid as _uuid

    nv = f"sagg_n_{_uuid.uuid4().hex[:8]}"
    table(spark, sf_dir, "nation").createOrReplaceTempView(nv)
    return spark.sql(
        f"""
        SELECT n_regionkey,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names
        FROM {nv} GROUP BY n_regionkey
        """
    )


@query(
    "q_sql_functions",
    oracle="""
    SELECT o_orderkey,
           upper(substring(o_orderpriority, 1, 3)) AS pri3,
           concat(o_orderstatus, '-', CAST(year(o_orderdate) AS VARCHAR)) AS status_year,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(length(o_orderpriority) AS BIGINT) AS pri_len,
           mod(o_orderkey, 7) AS k7,
           coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
           trim(o_orderpriority) AS pri_trim
    FROM orders WHERE o_orderkey <= 1000
    """,
    tags=("functions",),
)
def q_sql_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function parity pack: string (upper/substring/concat/
    length/trim), date (year/month/date_trunc), conditional (coalesce/
    nullif), arithmetic (mod) — every expression is JVM codegen, chosen
    for bit-identical semantics across Spark and DuckDB (date-only
    values, integer math, no float formatting)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    return o.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 3)).alias("pri3"),
        F.concat_ws("-", "o_orderstatus", F.year("o_orderdate").cast("string")).alias(
            "status_year"
        ),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("order_month"),
        F.month("o_orderdate").cast("int").alias("m"),
        F.length("o_orderpriority").cast("long").alias("pri_len"),
        (F.col("o_orderkey") % 7).alias("k7"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias(
            "status_or_open"
        ),
        F.trim("o_orderpriority").alias("pri_trim"),
    )


@query(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    tags=("functions", "json"),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over the events ``props`` column —
    get_json_object ≡ DuckDB json_extract_string. The extraction is a
    per-row JVM expression (Jackson under codegen), aggregated with the
    usual single partial-agg shuffle; at scale prefer from_json with an
    explicit schema once the shape is fixed, which vectorizes better
    than repeated path probes."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS value FROM part
    """,
    tags=("relational", "reshape"),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (UNPIVOT / melt), the inverse of q_pivot: the
    numeric part measures become (measure, value) rows via the native
    ``DataFrame.unpivot`` — physically a generator projection (each
    input row emits one row per measure), no shuffle, no UDF. The
    oracle states the same relation as the canonical UNION ALL."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return p.unpivot("p_partkey", ["p_size", "p_retailprice"], "measure", "value")


# ------------------------------------------------- LATERAL correlated join
@query(
    "q_lateral_topk",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 2
    ) t
    WHERE c.c_custkey < 20
    """,
    tags=("relational", "join"),
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — top-2 orders per customer, written
    as the per-row dependent subquery every analyst reaches for, not a
    hand-rolled window. Both engines accept the IDENTICAL SQL text
    (modern-SQL surface parity); the point is what Catalyst compiles it
    to: the correlation decorrelates into a per-key WindowGroupLimit
    (partial top-k heaps BEFORE the exchange, then final top-k after —
    no per-customer re-execution, no nested loop), and the c_custkey<20
    predicate pushes through the correlation into BOTH parquet scans.

    Scale shape: one orders shuffle on the correlation key carrying at
    most 2 rows per key out of the partial heaps, broadcast join with
    the filtered customer side. A naive engine executes the subquery
    once per outer row; the decorrelated plan is O(orders) once —
    which is the difference between LATERAL being a trap and a tool at
    100 TB."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("v_lat_customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM v_lat_customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice FROM v_lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC
          LIMIT 2
        ) t
        WHERE c.c_custkey < 20
        """
    )


# ---------------------------------------------------- z-order layout
def _zorder_oracle() -> str:
    from duckdb_pst_spark.functions.zorder import duck_zval

    z = duck_zval("o_custkey", "o_orderkey", "mnx", "mxx", "mny", "mxy")
    return f"""
    WITH mm AS (
      SELECT min(o_custkey) AS mnx, max(o_custkey) AS mxx,
             min(o_orderkey) AS mny, max(o_orderkey) AS mxy
      FROM orders
    ),
    z AS (
      SELECT o_orderkey, o_custkey, CAST({z} AS BIGINT) AS zval
      FROM orders CROSS JOIN mm
    ),
    b AS (SELECT o_orderkey, o_custkey, zval // {1 << 12} AS bucket FROM z)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
           min(o_orderkey) AS min_ord, max(o_orderkey) AS max_ord
    FROM b GROUP BY bucket
    """


@query(
    "q_zorder_stats",
    oracle=_zorder_oracle(),
    tags=("relational", "layout"),
)
def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering statistics: every order keyed by the
    bit-interleave of equal-width-normalized (o_custkey, o_orderkey)
    bucket ids, grouped into the curve's top-4-bit buckets, reporting
    each bucket's min/max of BOTH keys. Normalization first is the
    load-bearing step — interleaving RAW keys with asymmetric domains
    (14-bit orderkey vs 8-bit custkey) puts every leading z bit on the
    wide key and collapses to a single-key sort, which is why every
    production z-order (Delta/Iceberg OPTIMIZE ZORDER) range-buckets
    per column before interleaving. The output shows the payoff: each
    bucket bounds BOTH dimensions at once, so a z-sorted file layout
    prunes on either column's filter (write path: sinks.export_zorder;
    footer-stats pruning measured in tests/test_sinks.py). All integer
    shift-by-division algebra — exact and identical on both engines.

    Scale shape: min/max come from ONE tiny aggregate broadcast back;
    the z-value is then a scan-local codegen'd projection and the
    rollup a 16-group map-side-combined groupBy. The export's z-sort is
    a range exchange — the only corpus-sized movement, paid once at
    layout time."""
    from duckdb_pst_spark.functions.zorder import spark_zval

    o = table(spark, sf_dir, "orders")
    mm = F.broadcast(
        o.agg(
            F.min("o_custkey").alias("mnx"), F.max("o_custkey").alias("mxx"),
            F.min("o_orderkey").alias("mny"), F.max("o_orderkey").alias("mxy"),
        )
    )
    z = o.crossJoin(mm).select(
        "o_orderkey",
        "o_custkey",
        F.expr(spark_zval("o_custkey", "o_orderkey", "mnx", "mxx", "mny", "mxy"))
        .cast("long")
        .alias("zval"),
    )
    return (
        z.withColumn("bucket", F.expr(f"zval div {1 << 12}").cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("o_orderkey").alias("min_ord"),
            F.max("o_orderkey").alias("max_ord"),
        )
    )


# ------------------------------------------------------- JSONL ingest
def _jsonl_oracle() -> str:
    from duckdb_pst_spark.sources.jsonl import fixture_path

    p = fixture_path()
    return f"""
    SELECT lang, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id
    FROM read_json('{p}', format='newline_delimited',
                   columns={{'doc_id': 'BIGINT', 'text': 'VARCHAR',
                             'lang': 'VARCHAR', 'n_tokens': 'BIGINT'}},
                   ignore_errors=true)
    WHERE doc_id IS NOT NULL
    GROUP BY lang
    """


@query(
    "q_jsonl_ingest",
    oracle=_jsonl_oracle(),
    tags=("source", "relational"),
)
def q_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingest with corrupt-line tolerance — the interchange format
    every training-data pipeline receives. Explicit-schema PERMISSIVE
    read: malformed lines (the fixture interleaves truncated JSON, the
    crawler-kill case) become tagged corrupt records instead of job
    failures — the A18 error-tolerance stance applied to the text-lake
    world — and the per-language rollup runs on the valid rows, which
    both engines agree on exactly (DuckDB reads the same file with
    ignore_errors).

    Scale shape: .jsonl is line-splittable, so the scan parallelizes
    like any text source; the explicit schema keeps ingest ONE pass
    (inference is a full extra read at 100 TB and differs between
    engines); the rollup is a 4-group map-side-combined aggregate."""
    from duckdb_pst_spark.sources.jsonl import fixture_path, read_jsonl

    d = read_jsonl(spark, fixture_path())
    valid = d.filter(F.col("_corrupt_record").isNull() & F.col("doc_id").isNotNull())
    return valid.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.max("doc_id").cast("long").alias("max_id"),
    )


# --------------------------------------------------------- CSV ingest
def _csv_oracle() -> str:
    from duckdb_pst_spark.sources.csvio import fixture_path

    p = fixture_path()
    return f"""
    SELECT lang, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id,
           CAST(max(length(text)) AS BIGINT) AS max_text_len
    FROM read_csv('{p}', header=true,
                  columns={{'doc_id': 'BIGINT', 'text': 'VARCHAR',
                            'lang': 'VARCHAR', 'n_tokens': 'BIGINT'}},
                  ignore_errors=true)
    WHERE doc_id IS NOT NULL AND doc_id < 9000
    GROUP BY lang
    """


@query(
    "q_csv_ingest",
    oracle=_csv_oracle(),
    tags=("source", "relational"),
)
def q_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest with corrupt-row tolerance — the q_jsonl_ingest
    stance applied to the other interchange format a pipeline receives
    (the reference imports through DuckDB built-ins, read_csv
    included). Explicit-schema PERMISSIVE read: a bad-typed field, an
    extra column, or a missing column becomes a tagged corrupt record
    instead of a job failure, and the per-language rollup runs on the
    valid rows only — DuckDB reads the same file with ignore_errors
    and must agree on the valid set exactly. max(length(text)) pins
    the RFC-4180 quoted-comma handling cross-engine, and the id guard
    excludes the partially-parseable corrupt rows both engines keep
    (a row whose FIELDS all parse but with surplus columns is corrupt
    to Spark, parseable-prefix to some readers — the fixture ids them
    >= 9000 so the contract is explicit, not parser luck).

    Scale shape: header'd single-line CSV is line-splittable, so the
    scan parallelizes like any text source; the explicit schema keeps
    ingest one pass; the rollup is a 4-group map-side-combined
    aggregate. Embedded newlines are deliberately unsupported
    (multiLine CSV is single-task at scale — land JSONL/parquet
    instead; sources/csvio.py docstring)."""
    from duckdb_pst_spark.sources.csvio import fixture_path, read_csv

    d = read_csv(spark, fixture_path())
    valid = d.filter(
        F.col("_corrupt_record").isNull()
        & F.col("doc_id").isNotNull()
        & (F.col("doc_id") < 9000)
    )
    return valid.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.max("doc_id").cast("long").alias("max_id"),
        F.max(F.length("text")).cast("long").alias("max_text_len"),
    )


# ------------------------------------------------------ TPC-H Q19 shape
_Q19_PRED = """
    (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 21)
    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 30)
    OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 40)
"""


@query(
    "q_tpch_q19",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE {_Q19_PRED}
    """,
    tags=("relational", "join"),
    bench=True,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted-revenue over a 3-branch disjunctive
    brand/size/quantity predicate) — the classic planner stress test
    for OR-of-ANDs: a naive engine evaluates the whole disjunction
    post-join; a good one pushes the common-branch implications down.
    Catalyst extracts p_brand IN (...) + the covering p_size/l_quantity
    ranges below the join (visible as PushedFilters on BOTH scans), so
    the join's build side is the pre-filtered sliver of part, then
    re-checks the exact per-branch conjunctions above. Revenue is the
    floor-scaled integer sum (portable.scaled_long discipline).

    Scale shape: one broadcast join (brand-filtered part is tiny), zero
    shuffles beyond the scalar aggregate — at 100 TB the win is the
    pushed residual ranges cutting the lineitem scan via row-group
    stats before a single join row materializes."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    return joined.filter(F.expr(_Q19_PRED)).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                "long"
            )
        )
        .cast("long")
        .alias("revenue_cents"),
    )


# ------------------------------------------------------ TPC-H Q13 shape
@query(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey,
             CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) d
    GROUP BY c_count
    """,
    tags=("relational", "join", "agg"),
    bench=True,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join with a predicate ON THE JOIN CONDITION (not a WHERE — the
    filter must not drop order-less customers), then the double
    aggregation count → count-of-counts. The outer-join-with-residual
    and the histogram-of-groups are the two things Q13 exists to test;
    count(o_orderkey) counts only matched rows (NULL-skipping), giving
    orderless customers c_count = 0.

    Scale shape: one shuffle joining orders to customer on custkey, one
    map-side-combined count per customer riding the same partitioning
    (no re-shuffle — the groupBy key equals the join key), then the
    count-of-counts aggregate touches |customers| rows collapsing to a
    ~dozen-row histogram."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
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


# ----------------------------------------------------- multiset set ops
@query(
    "q_except_all",
    oracle="""
    SELECT text AS t FROM documents WHERE doc_id % 2 = 0
    EXCEPT ALL
    SELECT text FROM documents WHERE doc_id % 3 = 0
    """,
    tags=("relational", "setop"),
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag-semantics difference: each duplicate of a row
    survives as many times as (count_left − count_right), unlike
    EXCEPT's set semantics which q_except covers. On a corpus with
    duplicated documents the two differ materially (the whole reason
    dedup pipelines must reason in multisets); both engines implement
    the identical SQL-standard multiset arithmetic. Spark compiles
    exceptAll to a tagged union + count aggregate + generator replay —
    one shuffle on the row value, no join."""
    d = table(spark, sf_dir, "documents")
    left = d.filter(F.col("doc_id") % 2 == 0).select(F.col("text").alias("t"))
    right = d.filter(F.col("doc_id") % 3 == 0).select(F.col("text").alias("t"))
    return left.exceptAll(right)


@query(
    "q_intersect_all",
    oracle="""
    SELECT text AS t FROM documents WHERE doc_id % 2 = 0
    INTERSECT ALL
    SELECT text FROM documents WHERE doc_id % 3 = 0
    """,
    tags=("relational", "setop"),
)
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag-semantics intersection: each row appears
    min(count_left, count_right) times. The multiset twin of
    q_intersect; same single-shuffle tagged-count compilation as
    q_except_all."""
    d = table(spark, sf_dir, "documents")
    left = d.filter(F.col("doc_id") % 2 == 0).select(F.col("text").alias("t"))
    right = d.filter(F.col("doc_id") % 3 == 0).select(F.col("text").alias("t"))
    return left.intersectAll(right)


# ------------------------------------------------------ null-safe join
@query(
    "q_nullsafe_join",
    oracle="""
    WITH c AS (
      SELECT c_custkey,
             CASE WHEN c_custkey < 3 THEN NULL ELSE c_custkey END AS k
      FROM customer
    ),
    o AS (
      SELECT o_orderkey,
             CASE WHEN o_custkey < 3 THEN NULL ELSE o_custkey END AS k
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS nullsafe_pairs,
           CAST(sum(CASE WHEN c.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_key_pairs
    FROM c JOIN o ON c.k IS NOT DISTINCT FROM o.k
    """,
    tags=("relational", "join"),
)
def q_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the
    semantics every plain equi-join silently drops: NULL = NULL is
    UNKNOWN, so rows with null keys vanish from an inner join, the
    classic silent-data-loss bug when joining on nullable business
    keys. The null-safe operator treats NULL as a joinable value;
    the output counts how many matched pairs exist and how many of
    them joined on the NULL key — exactly the rows a plain join
    would have lost. Crucially `<=>` is still an EQUI-join predicate:
    Catalyst hash-joins on it (no nested loop), same single-shuffle
    plan as `=`.

    Scale caution baked into the shape: under `<=>` ALL null keys join
    each other, so the null class is a quadratic hot key — a demo with
    a fat null share (first cut: a 7-value key) measured 194 s at
    100× replica volume on BOTH engines. The production-faithful form
    nulls a BOUNDED key set (here: custkeys < 3) over an otherwise
    high-cardinality equi-key, so the null bucket is O(1) pairs and
    the join stays linear — which is also the only regime where a
    null-safe join is sane to run at 100 TB."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr("CASE WHEN c_custkey < 3 THEN NULL ELSE c_custkey END").alias("ck"),
    )
    s = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CASE WHEN o_custkey < 3 THEN NULL ELSE o_custkey END").alias("sk"),
    )
    j = c.join(s, F.col("ck").eqNullSafe(F.col("sk")))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("nullsafe_pairs"),
        F.sum(F.when(F.col("ck").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_key_pairs"),
    )


# ---------------------------------------------------- null ordering
@query(
    "q_orderby_nulls",
    oracle="""
    SELECT o_orderkey, nullif(o_custkey % 11, 0) AS nk
    FROM orders
    ORDER BY nk ASC NULLS LAST, o_orderkey ASC
    LIMIT 25
    """,
    tags=("relational", "sort"),
)
def q_orderby_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS LAST ordering — pinned because the engine
    DEFAULTS silently disagree: Spark sorts ascending NULLS FIRST,
    DuckDB (and Postgres) NULLS LAST, so any ORDER BY on a nullable
    key that omits the placement produces different row sets under
    LIMIT on different engines. The fix is discipline, not cleverness:
    always state NULLS FIRST/LAST on nullable sort keys; this query is
    the regression canary for that rule (asc_nulls_last + the unique
    orderkey tiebreak → identical top-25 everywhere). Plan: still
    TakeOrderedAndProject — null placement costs nothing."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.expr("nullif(o_custkey % 11, 0)").alias("nk")
    )
    return o.orderBy(F.asc_nulls_last("nk"), F.asc("o_orderkey")).limit(25)


# --------------------------------------------- NOT IN three-valued logic
@query(
    "q_not_in_nulls",
    oracle="""
    WITH probe AS (
      SELECT CASE WHEN o_custkey % 50 = 0 THEN NULL ELSE o_custkey END AS k
      FROM orders WHERE o_orderkey < 2000
    )
    SELECT
      CAST((SELECT count(*) FROM customer
            WHERE c_custkey NOT IN (SELECT k FROM probe)) AS BIGINT)
        AS not_in_count,
      CAST((SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = c.c_custkey))
            AS BIGINT)
        AS not_exists_count
    """,
    tags=("relational", "subquery"),
)
def q_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap, pinned on both engines: when the subquery
    list contains a single NULL, `x NOT IN (list)` is never TRUE under
    three-valued logic (x <> NULL is UNKNOWN), so NOT IN returns ZERO
    rows while the NOT EXISTS form — which most authors actually mean —
    returns the real anti-join count. The output carries both counts
    side by side (0 vs the true count), making the footgun visible in
    data rather than folklore; both engines implement the identical
    SQL-standard semantics, which is exactly why the discipline is
    'NOT EXISTS for nullable subqueries', everywhere.

    Plan note: Spark compiles NOT IN over a nullable subquery to a
    null-aware anti-join (a broadcast variant at scale) — correct but
    costlier than the plain left-anti the NOT EXISTS form produces;
    semantics AND plan both favor NOT EXISTS."""
    spark_probe = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(
            F.expr(
                "CASE WHEN o_custkey % 50 = 0 THEN NULL ELSE o_custkey END"
            ).alias("k")
        )
    )
    spark_probe.createOrReplaceTempView("v_nin_probe")
    table(spark, sf_dir, "customer").createOrReplaceTempView("v_nin_customer")
    return spark.sql(
        """
        SELECT
          CAST((SELECT count(*) FROM v_nin_customer
                WHERE c_custkey NOT IN (SELECT k FROM v_nin_probe)) AS BIGINT)
            AS not_in_count,
          CAST((SELECT count(*) FROM v_nin_customer c
                WHERE NOT EXISTS (SELECT 1 FROM v_nin_probe p
                                  WHERE p.k = c.c_custkey)) AS BIGINT)
            AS not_exists_count
        """
    )


# ------------------------------------------------------ native DECIMAL
@query(
    "q_decimal_money",
    oracle="""
    SELECT o_orderstatus,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS total_price_cents,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                         * CAST('0.9' AS DECIMAL(3,2)) * 10000
                         AS BIGINT)) AS BIGINT) AS discounted_e4,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("relational", "agg"),
)
def q_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native DECIMAL money arithmetic: the row-level cast to
    DECIMAL(12,2) and the scalar product by DECIMAL(3,2) are exact and
    order-independent by the SQL standard, so the per-row values agree
    across engines bit-for-bit. Promotion rules still differ (Spark
    sum(DECIMAL(12,2)) → DECIMAL(22,2), DuckDB → DECIMAL(38,2);
    multiplication widens scale differently), and — found live in the
    round-5 driver window — the verification harness's value-hash is
    representation-sensitive for decimal128 outputs (rows and schema
    matched, values printed identically on both sides, hash still
    differed; every one of the other 212 green oracles emits only
    ints/floats/strings). So the DECIMAL arithmetic stays native and
    row-level (the point of this operator), and the OUTPUT is rendered
    in the repo's scaled-BIGINT discipline: cents (scale 2 → ×100) and
    e4 units (scale 4 → ×10000) are exact integers by construction,
    and int64 sums are associative and engine-stable. The scale-4
    product must keep its full scale before the integer render:
    rounding at scale-reducing casts is engine-specific (Spark HALF_UP
    vs DuckDB gave ...01.91 vs ...01.90 on this data).

    When to use which at 100 TB: DECIMAL for row-level money math with
    fixed scale (native, readable, exact); scaled BIGINT for the
    aggregate/exchange layer — int64 agg is measurably faster than
    decimal128 and immune to promotion-rule and hash-representation
    drift across engines."""
    o = table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(12,2)")
    return o.groupBy("o_orderstatus").agg(
        F.sum((p * 100).cast("long")).cast("long").alias("total_price_cents"),
        F.sum((p * F.lit("0.9").cast("decimal(3,2)") * 10000).cast("long"))
        .cast("long")
        .alias("discounted_e4"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


# ---------------------------------------------- higher-order functions
@query(
    "q_hof_parity",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(toks, t -> length(t) > 3)) AS BIGINT) AS n_long,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(toks, t -> CAST(length(t) AS BIGINT))),
                (a, x) -> a + x) AS BIGINT) AS total_len,
           CAST(list_max(list_transform(toks, t -> CAST(length(t) AS BIGINT)))
                AS BIGINT) AS max_len,
           CASE WHEN len(list_filter(toks, t -> t = 'the')) > 0
                THEN 1 ELSE 0 END AS has_the
    FROM (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents WHERE doc_id < 200
    ) t
    """,
    tags=("relational", "nested"),
)
def q_hof_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function parity pack — filter / transform /
    aggregate(fold) / array_max / exists over a nested column, the
    SQL:2016 lambda surface both engines implement (Spark HOFs ↔
    DuckDB list_* functions). These are the primitives every array
    kernel in this repo is built from (shingles, signatures, vector
    folds); this query pins their semantics head-to-head on one row
    set: per doc, the long-token count, the exact total token length
    (a left fold, engine-identical), the max length, and an exists
    flag. All JVM codegen on the Spark side — per-row nested algebra,
    zero shuffles beyond the scan."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id", F.expr("filter(split(text, ' '), x -> x != '')").alias("toks")
        )
    )
    return d.select(
        "doc_id",
        F.expr("size(filter(toks, t -> length(t) > 3))").cast("long").alias("n_long"),
        F.expr(
            "aggregate(toks, CAST(0 AS BIGINT), (a, t) -> a + CAST(length(t) AS BIGINT))"
        ).alias("total_len"),
        F.expr("array_max(transform(toks, t -> CAST(length(t) AS BIGINT)))").alias(
            "max_len"
        ),
        F.expr("CASE WHEN exists(toks, t -> t = 'the') THEN 1 ELSE 0 END").alias(
            "has_the"
        ),
    )


# -------------------------------------------------- sequence gap audit
@query(
    "q_sequence_gaps",
    oracle="""
    SELECT prev_id + 1 AS gap_start, event_id - 1 AS gap_end,
           event_id - prev_id - 1 AS n_missing
    FROM (
      SELECT event_id,
             lag(event_id) OVER (ORDER BY event_id) AS prev_id
      FROM (SELECT DISTINCT event_id FROM events WHERE event_id % 97 <> 0) d
    ) w
    WHERE prev_id IS NOT NULL AND event_id - prev_id > 1
    """,
    tags=("relational", "quality"),
)
def q_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap audit — the ingest data-quality check that catches
    dropped batches: contiguous runs of missing ids reported as
    (gap_start, gap_end, n_missing) ranges, one row per HOLE rather
    than per missing id (a 10⁶-row hole is one row). Probe workload
    drops every 97th event id; the lag-over-sorted-ids islands
    complement finds exactly those holes.

    Scale shape: ONE corpus exchange — the id stream is NOT
    deduplicated first: a duplicate id sorts adjacent to its twin, so
    its lag-diff is 0 and the ``> 1`` hole filter drops it, which makes
    an up-front DISTINCT (a second corpus-keyed exchange, and the r4
    plan's dominant cost) pure overhead; the ids flow straight into the
    bucket-partitioned window. The lag runs inside fixed id-range
    buckets, so per-bucket sorts parallelize across the cluster; holes
    spanning bucket borders (including entirely-empty buckets) are
    stitched from a tiny per-bucket (min, max) table whose own lag
    window is |buckets|-sized — the same distributed prefix-scan
    stitching as q_skyline's bucket table. No corpus-sized data ever
    crosses an unpartitioned window. The bounds side re-scans parquet
    rather than sharing a checkpoint: the scan is ONE pruned int64
    column with the %97 filter pushed, and the r5 checkpoint's
    write-then-read-twice costs more than reading that column twice —
    round-7 interleaved min-of-3 at plain x100: 1.57 s (checkpoint) →
    1.00 s (two pruned scans) vs DuckDB 2.06 s = 0.49×, which deletes
    the VERDICT-flagged 'distinct-exchange residual' (it was the
    checkpoint, not an exchange)."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 97 != 0)
        .select("event_id")
        .withColumn("b", F.expr("event_id div 100000"))
    )
    # intra-bucket gaps: the lag window partitions by a fixed id-range
    # bucket, so per-bucket sorts parallelize (the global-window form
    # funnels every id through one task — same-session at 100×: 5.3 →
    # 4.1 s here, where the distinct exchange dominates; the gap widens
    # with id volume since the single-task sort is the part that cannot
    # scale out)
    wb = Window.partitionBy("b").orderBy("event_id")
    intra = (
        ev.withColumn("prev_id", F.lag("event_id").over(wb))
        .filter(F.col("prev_id").isNotNull() & (F.col("event_id") - F.col("prev_id") > 1))
        .select("prev_id", F.col("event_id").alias("next_id"))
    )
    # boundary gaps: one (min, max) row per bucket, then a lag over that
    # TINY table (|buckets| rows) stitches holes that span bucket
    # borders — including entirely-empty buckets in between
    bounds = ev.groupBy("b").agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    )
    wg = Window.orderBy("b")
    border = (
        bounds.withColumn("prev_hi", F.lag("hi").over(wg))
        .filter(F.col("prev_hi").isNotNull() & (F.col("lo") - F.col("prev_hi") > 1))
        .select(F.col("prev_hi").alias("prev_id"), F.col("lo").alias("next_id"))
    )
    g = intra.unionByName(border)
    return g.select(
        (F.col("prev_id") + 1).alias("gap_start"),
        (F.col("next_id") - 1).alias("gap_end"),
        (F.col("next_id") - F.col("prev_id") - 1).alias("n_missing"),
    )


# --------------------------------------------------- Benford digit audit
@query(
    "q_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d)
    SELECT digit, CAST(count(*) AS BIGINT) AS cnt,
           1000000 * CAST(count(*) AS BIGINT) // (SELECT total FROM n) AS share_ppm
    FROM d GROUP BY digit
    """,
    tags=("relational", "quality"),
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit (Benford) distribution of order totals — the audit
    analytics classic: naturally-occurring multiplicative amounts lead
    with 1 ~30% of the time, and a flat or spiked first-digit share is
    the standard fabricated-data / broken-generator tell. Shares in
    exact ppm (digit extraction and integer division only — no float
    log anywhere), so the audit table is engine-identical.

    Scale shape: scan-local digit projection, one 9-group map-side-
    combined aggregate, a 1-row count broadcast for the share — the
    cheapest possible full-corpus audit, which is why financial
    pipelines run it on everything."""
    d = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.expr(
                "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1)"
                " AS BIGINT)"
            ).alias("digit")
        )
    )
    n = F.broadcast(d.agg(F.count(F.lit(1)).cast("long").alias("total")))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .crossJoin(n)
        .select(
            "digit", "cnt",
            F.expr("1000000 * cnt div total").alias("share_ppm"),
        )
    )


# ------------------------------------------------------- TPC-H Q3 shape
@query(
    "q_tpch_q3",
    oracle="""
    SELECT l_orderkey,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           o_orderdate
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1995-03-15'
      AND l_shipdate > DATE '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue_cents DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
    tags=("relational", "join", "agg"),
    bench=True,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping-priority top-10): the canonical
    filter→join→join→agg→top-n chain the reference runs through DuckDB
    (`/root/reference/README.md` positions the engine as full TPC-H-class
    SQL on message exports). Revenue uses the repo's floor-scaled
    integer-cents discipline so both engines agree bit-for-bit, and the
    ORDER BY carries (o_orderdate, l_orderkey) tie-breaks — at sf0.01
    revenue ties exist and an underspecified top-10 is not
    hash-checkable.

    Scale shape: the segment filter keeps ~1/5 of customers — still far
    smaller than lineitem, so customers broadcast into orders (no
    shuffle), the date filters are pushed into BOTH parquet scans
    (row-group pruning on o_orderdate / l_shipdate), and the only
    corpus-sized exchange is the orderkey-keyed join+agg, whose
    partitioning the groupBy reuses (join key == group key, no second
    shuffle). The top-10 is a TakeOrderedAndProject — O(10) per
    partition, never a global sort of the aggregate."""
    cutoff = F.lit("1995-03-15").cast("date")
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
                 .select("o_orderkey", "o_orderdate"),
                F.col("l_orderkey") == F.col("o_orderkey"))
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


# ------------------------------------------------------ TPC-H Q18 shape
@query(
    "q_tpch_q18",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
           CAST(sum(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
    tags=("relational", "join", "agg"),
    bench=True,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume orders): find orders whose total quantity
    exceeds a threshold, then rebuild the full customer/order detail for
    just those. The interesting plan property is that the HAVING
    subquery is itself lineitem-sized — the naive form aggregates
    lineitem TWICE; the right form aggregates once and semi-joins the
    survivor keys back.

    Scale shape: one orderkey-keyed aggregate over lineitem produces the
    `big` key set (tiny: threshold survivors), which broadcasts as a
    LEFT SEMI into the second lineitem pass — so the detail join only
    ever sees survivor rows, and orders/customer attach by broadcast of
    the already-semi-filtered orders. At 100 TB the survivor set stays
    KB-sized while the naive double aggregate would shuffle the full
    fact table twice; quantity sums ride the repo's FLOOR-before-cast
    discipline (DuckDB CAST rounds half-away, Spark CAST truncates —
    FLOOR on both engines agrees on any corpus, integral or not)."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li_big = li.join(F.broadcast(big), "l_orderkey", "left_semi")
    o_big = o.join(
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


# ------------------------------------------------------------ TPC-H Q5
@query(
    "q_tpch_q5",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_c
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue_c DESC, n_name
    """,
    tags=("relational", "join", "agg"),
    bench=True,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local-supplier volume): revenue per nation where the
    ordering customer and the line's supplier share that nation, one
    region, one order-date year — the canonical star-join + selective-
    dim benchmark (reference README.md:402-469 query family; revenue in
    floor-scaled cents per the repo money discipline).

    Scale shape: the true dimensions (region → nation, 5/25 rows) are
    broadcast into customer so the ASIA filter prunes customers before
    any fact join; the fact-side joins (orders⋈customer on custkey,
    then lineitem⋈that on orderkey, supplier on suppkey) are declared
    as plain equi-joins and left to Catalyst/AQE — at test scale the
    statistics pick broadcasts, on a 100 TB cluster AQE picks
    sort-merge with the date filter already pushed into the orders
    scan and only ASIA-customer orders surviving to the big join. The
    c_nationkey = s_nationkey locality predicate rides the supplier
    probe; the ≤|nations| aggregate is map-side combined."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = table(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    oc = o.join(c, F.col("o_custkey") == F.col("c_custkey"))
    return (
        li.join(oc, F.col("l_orderkey") == F.col("o_orderkey"))
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


# ------------------------------------------------------------ TPC-H Q6
@query(
    "q_tpch_q6",
    oracle="""
    SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_c,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
    tags=("relational", "agg"),
    bench=True,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the purest
    scan-filter-aggregate benchmark — one table, three pushable
    predicates, one global sum. Revenue in floor-scaled cents per the
    repo money discipline (SUM over per-row floors is order-free).

    Scale shape: all three filters reach the parquet scan (row-group
    pruning does the heavy lifting at 100 TB), the whole pipeline is
    one WholeStageCodegen span into a partial+final aggregate — zero
    corpus-keyed exchanges at any scale."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("long")
        )
        .cast("long")
        .alias("revenue_c"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


# ----------------------------------------------------------- TPC-H Q10
@query(
    "q_tpch_q10",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_c,
           CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_c,
           n_name
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue_c DESC, c_custkey
    LIMIT 20
    """,
    tags=("relational", "join", "agg"),
    bench=True,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): the 20 customers who cost
    the most revenue in returned items over one quarter — the classic
    selective-fact star join with a wide grouped output and a top-n.
    Revenue in floor-scaled cents per the repo money discipline.

    Scale shape: both fact filters (order-date range, returnflag='R')
    are pushed into their scans; nation broadcasts; the fact-fact joins
    stay declarative for Catalyst/AQE (broadcast at test scale,
    sort-merge on a cluster). The grouped aggregate is map-side
    combined on the customer key and the top-20 is a TakeOrdered heap
    with a deterministic custkey tie-break — no global sort."""
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
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


# --------------------------------------------------- one-pass table profile
_PROFILE_COLS: list[tuple[str, str]] = [
    # (column, integer projection for min/max; None -> string column)
    ("l_orderkey", "l_orderkey"),
    ("l_partkey", "l_partkey"),
    ("l_suppkey", "l_suppkey"),
    ("l_linenumber", "l_linenumber"),
    # FLOOR before the BIGINT cast: DuckDB CAST rounds half-away, Spark
    # CAST truncates — FLOOR makes both engines agree on any corpus.
    ("l_quantity", "CAST(FLOOR(l_quantity) AS BIGINT)"),
    ("l_returnflag", None),
    ("l_linestatus", None),
]


def _profile_oracle() -> str:
    parts = []
    for col, proj in _PROFILE_COLS:
        mn = f"CAST(min({proj}) AS BIGINT)" if proj else "CAST(NULL AS BIGINT)"
        mx = f"CAST(max({proj}) AS BIGINT)" if proj else "CAST(NULL AS BIGINT)"
        parts.append(
            f"""
    SELECT '{col}' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({col}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
           {mn} AS min_i, {mx} AS max_i
    FROM lineitem"""
        )
    return " UNION ALL ".join(parts)


@query(
    "q_profile_columns",
    oracle=_profile_oracle(),
    tags=("relational", "agg", "quality"),
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile — the ANALYZE/data-quality sweep every
    ingest runs before trusting a new drop: per column, row count, null
    count, EXACT distinct count, and integer min/max (numerics only;
    doubles ride exact integral projections per the repo's no-float
    oracle rule), emitted long-form as one row per column so downstream
    checks diff profiles across drops by key.

    Scale shape: one aggregate BRANCH per column, unioned — every
    branch's scan is column-pruned to exactly its own column, so the
    union's total parquet bytes equal ONE full-table read while each
    exact COUNT(DISTINCT) plans as a plain two-phase distinct aggregate.
    The tempting alternative — all statistics in one wide aggregate —
    makes Catalyst plan an Expand that fans every input row once per
    distinct-column (7× the row volume through aggregation state;
    measured same-session at 100×: 17.3 s wide-Expand vs 1.4 s
    branches). Swap exact distinct for approx_count_distinct/KMV
    (q_kmv_grouped) when ±2% is acceptable and the distinct exchanges
    themselves bind."""
    li = table(spark, sf_dir, "lineitem")
    parts = []
    for col, proj in _PROFILE_COLS:
        mn = F.min(F.expr(proj)).cast("long") if proj else F.lit(None).cast("long")
        mx = F.max(F.expr(proj)).cast("long") if proj else F.lit(None).cast("long")
        parts.append(
            li.select(col)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                (F.count(F.lit(1)) - F.count(col)).cast("long").alias("n_nulls"),
                F.count_distinct(F.col(col)).cast("long").alias("n_distinct"),
                mn.alias("min_i"),
                mx.alias("max_i"),
            )
            .select(
                F.lit(col).alias("column_name"),
                "n_rows",
                "n_nulls",
                "n_distinct",
                "min_i",
                "max_i",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ------------------------------------------------------------ TPC-H Q4
@query(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("relational", "join", "agg"),
    bench=True,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking), adapted to the schema at
    hand: the reference's commitdate<receiptdate lateness predicate
    becomes l_shipdate >= o_orderdate + 90 days (the testdata lineitem
    carries no commit/receipt dates) — the SHAPE is preserved exactly:
    a quarter-windowed order scan EXISTS-joined to the fact table with
    an inequality ON TOP of the equi-key, rolled up by priority
    (reference README.md:402-469 query family).

    Scale shape: the date window prunes orders at the scan (pushed);
    the EXISTS compiles to a left-semi SortMergeJoin on orderkey with
    the lateness inequality as a join-side residual — the semi form
    stops probing an order's lines at the FIRST late hit and never
    materializes the join payload; output is a ≤5-row rollup. The
    orderkey exchange is this plan's budget; on bucketed tables
    (q_tpch_q4_bucketed) it disappears."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# ----------------------------------------------------------- TPC-H Q12
@query(
    "q_tpch_q12",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    tags=("relational", "join", "agg"),
    bench=True,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping-mode / priority), adapted: the testdata has
    no l_shipmode, so the grouping key is l_linestatus — the shape (a
    year-windowed fact scan joined to orders for a conditional
    two-priority count split) is the reference's (README.md:402-469).

    Scale shape: the ship-date window prunes lineitem at the scan; the
    join carries only (l_orderkey, l_linestatus) against
    (o_orderkey, o_orderpriority) — two skinny columns per side; the
    CASE split happens inside the map-side partial aggregate so the
    final exchange is ≤2 groups. One orderkey exchange is the budget
    (bucketed twin: zero)."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# ----------------------------------------------------------- TPC-H Q14
@query(
    "q_tpch_q14",
    oracle="""
    SELECT
      CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                              AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_rev_c,
      CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS total_rev_c,
      CAST(1000000 * SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                              AS BIGINT) ELSE 0 END)
           // SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS promo_share_ppm
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
    tags=("relational", "join", "agg"),
    bench=True,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): the revenue share of promo parts
    in one ship month. The testdata's p_type is a plain category
    ('PROMO' among six), so the predicate is equality instead of the
    reference's LIKE 'PROMO%' — same shape (README.md:402-469). Share
    in exact-integer ppm over floor-scaled cents (the repo money
    discipline; a float ratio would be engine-ordering-dependent).

    Scale shape: the one-month window prunes lineitem to ~1/80 at the
    scan; the join carries (l_partkey, revenue cents) against
    (p_partkey, p_type) — part is the smaller side and AQE picks the
    strategy (forcing a broadcast on the 2M-row x100 part measured
    worse on q_tpch_q10's analogous choice); one global single-row
    aggregate ends the plan map-side."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_c = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    j = li.join(p, F.col("l_partkey") == F.col("p_partkey")).select(
        F.when(F.col("p_type") == "PROMO", rev_c).otherwise(F.lit(0)).alias("promo_c"),
        rev_c.alias("rev_c"),
    )
    return j.agg(
        F.sum("promo_c").cast("long").alias("promo_rev_c"),
        F.sum("rev_c").cast("long").alias("total_rev_c"),
        F.expr(
            # decimal(38) product — exact past the 2^63/1e6 cents where
            # the int64 form wraps (DuckDB's HUGEINT sum never does)
            "CAST(CAST(sum(promo_c) AS DECIMAL(38,0)) * 1000000"
            " div sum(rev_c) AS BIGINT)"
        ).alias("promo_share_ppm"),
    )


# ----------------------------------------------------------- TPC-H Q17
@query(
    "q_tpch_q17",
    oracle="""
    WITH pq AS (
      SELECT l_partkey AS pk,
             CAST(sum(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(count(*) AS BIGINT) AS cnt_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS small_qty_rev_c,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pq   ON pk = l_partkey
    WHERE p_brand = 'Brand#12'
      AND 5 * CAST(FLOOR(l_quantity) AS BIGINT) * cnt_qty < sum_qty
    """,
    tags=("relational", "join", "agg"),
    bench=True,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue of brand lines
    whose quantity is below 20% of that part's average — the canonical
    correlated-aggregate query, decorrelated to a per-part aggregate
    joined back to the fact table. The threshold is evaluated in EXACT
    integers: qty < 0.2·avg(qty) ⇔ 5·qty·cnt < sum, with quantities
    FLOOR-ed before the BIGINT cast on both engines (DuckDB CAST
    rounds half-away, Spark CAST truncates — FLOOR agrees on any
    corpus), so no float-avg boundary row can flip — the repo's
    exact-arithmetic discipline applied to a predicate.

    Scale shape: brand is a per-PART property, so every line of a
    Brand#12 part is itself a Brand#12 line — the per-part (sum, cnt)
    aggregate is therefore computed over the brand-filtered broadcast
    join output (1/|brands| of the fact), NOT the full table, with
    values identical for every surviving part (the oracle aggregates
    the full table and hash-matches, proving the restriction exact).
    Both consumers of the filtered join — the aggregate and the probe
    side — hash-partition it by l_partkey over an identical subtree,
    so Catalyst's ReuseExchange ships ONE fact exchange of the
    filtered lines (plan-gated); its output is |brand parts|-sized and
    the final rollup is a single row. Same-session A/B vs the naive
    full-fact aggregate plan at x100: 2.29 vs 2.34 s — a LOCAL tie
    (both plans scan lineitem twice and the scan dominates on one
    box), but exchanged fact rows drop 60M → ~2.4M (1/|brands|),
    which is the term a cluster pays in network; the cheaper exchange
    wins the tie."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    lif = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    pq = lif.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.floor(F.col("l_quantity")).cast("long")).cast("long").alias("sum_qty"),
        F.count(F.lit(1)).cast("long").alias("cnt_qty"),
    )
    j = lif.join(pq, F.col("pk") == F.col("l_partkey")).filter(
        5 * F.floor(F.col("l_quantity")).cast("long") * F.col("cnt_qty")
        < F.col("sum_qty")
    )
    return j.agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("small_qty_rev_c"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


# ----------------------------------------------------------- TPC-H Q15
@query(
    "q_tpch_q15",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS sk,
             CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS total_rev_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev_c
    FROM supplier JOIN rev ON sk = s_suppkey
    WHERE total_rev_c = (SELECT max(total_rev_c) FROM rev)
    ORDER BY s_suppkey
    """,
    tags=("relational", "join", "agg"),
    bench=True,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) with maximum revenue
    in one quarter — the view-plus-scalar-max shape (ties all
    returned, which is why the predicate is = max, not a top-1 limit).
    Revenue in floor-scaled cents, so the max and the tie comparison
    are exact integers on both engines.

    Scale shape: the quarter filter prunes lineitem at the scan; ONE
    map-side-combined suppkey aggregate produces the |suppliers|-sized
    revenue view, read twice (max + filter) from its materialization —
    at 100 TB that view is the small side and broadcasts into the
    supplier join; nothing fact-sized crosses a second exchange."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("sk"))
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            )
            .cast("long")
            .alias("total_rev_c")
        )
        .localCheckpoint(eager=True)  # read twice: max + tie filter
    )
    mx = rev.agg(F.max("total_rev_c").alias("mx"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev_c") == F.col("mx"))
        .join(s, F.col("sk") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev_c")
        .orderBy("s_suppkey")
    )


# ------------------------------------------------------------ TPC-H Q7
@query(
    "q_tpch_q7",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(rev_c) AS BIGINT) AS revenue_c
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT) AS rev_c
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
          OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("relational", "join", "agg"),
    bench=True,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade revenue between two
    nations by ship year (reference README.md:402-469 query family;
    nations adapted to the synthetic NATION_* names, revenue in
    floor-scaled cents, year as BIGINT to match DuckDB's year()).

    Scale shape: the two-nation filter (a broadcast of the
    fixed-cardinality nation dim) prunes supplier and customer to 2/25
    of their rows BEFORE any fact join, so the orders⋈customer and
    lineitem⋈supplier joins prune the facts early; the cross-pair
    disjunction then only removes same-nation pairs post-join (cheap,
    two string columns). The ship-date window is pushed into the
    lineitem scan. The fact-side joins carry NO broadcast hints:
    supplier and customer scale WITH the corpus (unlike region/
    nation), so AQE broadcasts them while they fit — it always does at
    test scale — and right-sizes to shuffled joins past that; the
    final aggregate has ≤ 2·2·years groups and map-side combines."""
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
    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    li = (
        table(spark, sf_dir, "lineitem")
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
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
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


# ------------------------------------------------------------ TPC-H Q8
@query(
    "q_tpch_q8",
    oracle="""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_c
                         ELSE 0 END) AS BIGINT) AS nation_rev_c,
           CAST(SUM(rev_c) AS BIGINT) AS total_rev_c,
           CAST(1000000 * SUM(CASE WHEN supp_nation = 'NATION_3'
                                   THEN rev_c ELSE 0 END)
                // SUM(rev_c) AS BIGINT) AS mkt_share_ppm
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT) AS rev_c,
             n1.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    tags=("relational", "join", "agg"),
    bench=True,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): the share of ASIA-market
    revenue for one part type supplied by one nation, by order year
    (reference README.md:402-469 family; p_type equality instead of
    the reference's LIKE — the synthetic type is a plain category —
    and the share in exact-integer ppm over floor-scaled cents, the
    q_tpch_q14 discipline, so no float division crosses engines).

    Scale shape: THE most selective filter (p_type, 1/6 of part)
    joins into lineitem first, pruning the fact before anything else
    touches it; region→nation (ASIA, fixed cardinality) broadcasts
    into customer exactly as q_tpch_q5; the order-date window is
    pushed into the orders scan. Every join of an SF-scaled side
    (part, the fact⋈fact orderkey join) is declarative — AQE
    broadcasts the filtered part side while it fits and right-sizes
    past that (the forced-broadcast A/B on the orders side measured a
    tie, SCALE.md "Round 8: the TPC-H suite completion").

    Aggregate before the shuffle: the fact is PARTIALLY AGGREGATED to
    ≤|suppkey|·|2 years| rows BEFORE the supplier attach — supplier is
    the only dim the assembled fact still needed, and nothing in the
    final rollup depends on anything but (suppkey, year, sum rev), so
    the supplier join now probes a dimension-sized aggregate instead of
    every fact row. Past the broadcast cliff (supplier scales with the
    corpus) this replaces a fact-sized suppkey exchange with a
    dimension-sized one. Measured interleaved min-of-3
    (OPTIMIZATION_r12.md §3): broadcast-on 1.01x sf0.1 / 0.96x x10
    (tie); broadcast-disabled (the post-cliff shape) 0.88x x10 / 0.92x
    x100. Exactness: int64 partial sums regrouped by (supp_nation, year)
    — sum re-association only; supplier's s_suppkey is unique so the
    inner attach drops whole groups exactly as it dropped their rows.
    The same restructure measured as a NO-SHIP for Q5/Q7/Q9
    (OPTIMIZATION_r12.md §3: Q5 1.09–1.30x, Q7 1.07–1.16x everywhere; Q9
    0.94x at sf0.1/x100-off but 1.17x at x10-on — not uniform, stands
    as-is). The final aggregate is ≤ |years| groups, map-side combined,
    and the CASE split rides inside it — one pass computes both revenue
    arms from the partial sums."""
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
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    part_agg = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "l_suppkey", F.year("o_orderdate").cast("long").alias("o_year")
        )
        .agg(F.sum(rev_c).alias("rev_part"))
    )
    j = part_agg.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
    nat = F.when(F.col("supp_nation") == "NATION_3", F.col("rev_part")).otherwise(0)
    return (
        j.groupBy("o_year")
        .agg(
            F.sum(nat).cast("long").alias("nation_rev_c"),
            F.sum("rev_part").cast("long").alias("total_rev_c"),
            F.expr(
                # decimal(38) product (the q_quality_ks 128-bit-safe
                # rescale): an int64 1e6*sum wraps past ~9.2e12 cents
                # per year group while DuckDB's HUGEINT sum does not
                "CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_3' "
                "THEN rev_part ELSE 0 END) AS DECIMAL(38,0)) * 1000000"
                " div sum(rev_part) AS BIGINT)"
            ).alias("mkt_share_ppm"),
        )
        .orderBy("o_year")
    )


# ------------------------------------------------------------ TPC-H Q9
@query(
    "q_tpch_q9",
    oracle="""
    SELECT nation, o_year, CAST(SUM(amount_c) AS BIGINT) AS sum_profit_c
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
               - CAST(FLOOR(p_retailprice * 100) AS BIGINT)
                 * CAST(FLOOR(l_quantity) AS BIGINT) AS amount_c
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    tags=("relational", "join", "agg"),
    bench=True,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): profit on name-matched parts by
    supplier nation and order year (reference README.md:402-469
    family). The testdata has no partsupp table, so the reference's
    ps_supplycost becomes p_retailprice — the cost side of the profit
    expression rides the part row the join already carries, keeping
    Q9's defining shape: a substring part filter, a 5-table join, and
    profit arithmetic INSIDE the aggregate. All money is exact
    integers (floor-cents × floor-cast quantity — FLOOR before the
    BIGINT cast on both engines), so cross-engine sums cannot drift.

    Scale shape: the p_name LIKE filter (~1/8 of parts) joins into
    lineitem first — the only fact-sized rows that survive carry a
    matched part; nation (fixed cardinality) broadcasts into supplier;
    the part, supplier and lineitem⋈orders joins are all declarative,
    since part/supplier scale WITH the corpus — AQE broadcasts them
    while they fit (always at test scale) and shuffles past that. The
    final aggregate is ≤ |nations|·|years| groups, map-side combined.
    One fact exchange (orderkey) is the plan's budget — the same
    class (and the same bucketed-twin cure) as q_tpch_q5/q4/q12."""
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
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select(
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
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "nation",
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount_c.alias("amount_c"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount_c").cast("long").alias("sum_profit_c"))
        .orderBy("nation", F.col("o_year").desc())
    )


# ------------------------------------------------------------ TPC-H Q2
@query(
    "q_tpch_q2",
    oracle="""
    WITH offers AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             MIN(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)) AS cost_c
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
      SELECT s_suppkey, s_name,
             CAST(FLOOR(s_acctbal * 100) AS BIGINT) AS acctbal_c, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT acctbal_c, s_name, n_name, p_partkey, p_brand, cost_c
    FROM part
    JOIN offers ON pk = p_partkey
    JOIN eu ON sk = s_suppkey
    WHERE p_size <= 25 AND p_type = 'LARGE'
      AND cost_c = (SELECT MIN(o2.cost_c) FROM offers o2
                    JOIN eu e2 ON o2.sk = e2.s_suppkey
                    WHERE o2.pk = p_partkey)
    ORDER BY acctbal_c DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    tags=("relational", "join", "subquery"),
    bench=True,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): for each qualifying part, the
    EUROPE supplier(s) quoting the minimum cost, top-100 by account
    balance (reference README.md:402-469 family). The testdata has no
    partsupp table, so the part↔supplier catalog is derived from the
    lineitem bridge: an offer is min observed discounted line cents
    per (partkey, suppkey) — Q2's defining correlated-min subquery
    over a per-part supplier pool is preserved exactly, and ties
    (several suppliers at the min) are all returned, as in the
    reference.

    Scale shape: the part filter (type × size, ~1/12 of part) prunes
    lineitem through a LEFT SEMI BEFORE the offers aggregate —
    filters on group keys commute with the groupBy, so the
    (partkey, suppkey) exchange carries only matching parts' lines;
    the EUROPE supplier pool semi-filters the same scan. The
    correlated min decorrelates to a partkey aggregate joined back on
    its own partitioning. None of these SF-scaled sides carries a
    broadcast hint — part and supplier grow with the corpus, so AQE
    broadcasts them while they fit (always at test scale) and
    shuffles past that; only the fixed-cardinality region→nation
    chain is hinted. The top-100 is TakeOrdered over a deterministic
    4-key order."""
    p = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 25) & (F.col("p_type") == "LARGE"))
        .select("p_partkey", "p_brand")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    eu = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_suppkey", "s_name",
            F.floor(F.col("s_acctbal") * 100).cast("long").alias("acctbal_c"),
            "n_name",
        )
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(p.select("p_partkey"),
              F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(eu.select("s_suppkey"),
              F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
    )
    offers = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.min(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).alias("cost_c")
    )
    best = offers.groupBy("pk").agg(F.min("cost_c").alias("best_c"))
    return (
        offers.join(best, "pk")
        .filter(F.col("cost_c") == F.col("best_c"))
        .join(eu, F.col("sk") == F.col("s_suppkey"))
        .join(p, F.col("pk") == F.col("p_partkey"))
        .select("acctbal_c", "s_name", "n_name", "p_partkey", "p_brand", "cost_c")
        .orderBy(F.col("acctbal_c").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ----------------------------------------------------------- TPC-H Q11
@query(
    "q_tpch_q11",
    oracle="""
    WITH val AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
                      * CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS value_c
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'AFRICA'
      GROUP BY l_partkey
    )
    SELECT pk AS p_partkey, value_c
    FROM val
    WHERE value_c > (SELECT CAST(SUM(value_c) AS BIGINT) FROM val) // 800
    ORDER BY value_c DESC, p_partkey
    """,
    tags=("relational", "agg", "subquery"),
    # Deployment knob (measured at x100, SCALE.md "Round 8: the TPC-H
    # suite completion", re-verified through applied_confs in "The
    # Q16/Q11 threshold cure shipped as QuerySpec.confs"): 64 MB broadcast
    # threshold reads 0.78x here (the region-supplier semi side).
    # PER-QUERY — the same knob regressed Q7; see q_tpch_q16.
    confs=(("spark.sql.autoBroadcastJoinThreshold", "64m"),),
    bench=True,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): parts whose traded value through
    one region's suppliers exceeds a fixed fraction (1/800) of that
    region's total — the defining group-vs-global-scalar-subquery
    shape (reference README.md:402-469 family; no partsupp table, so
    ps_supplycost·ps_availqty becomes floor-cents·quantity over the
    lineitem bridge, and the supplier filter is region-wide so the
    pool is non-empty at every test scale).

    The fraction test is exact-integer: value > total div 800 is
    algebraically identical to value·800 > total for positive BIGINTs
    but can never overflow — the multiplication form would wrap once
    a part's value passes 2^63/800 (the q_quality_ks overflow class,
    fixed by the same rewrite).

    Scale shape: the region's supplier keys LEFT-SEMI-prune lineitem
    before the aggregate (declarative — suppliers scale with the
    corpus, AQE broadcasts the 1/5 subset while it fits), so the ONE
    partkey exchange carries only that region's lines; the
    |parts|-sized value view localCheckpoints and is read twice
    (global sum + filter) without recomputing the fact pass; the
    scalar total is a genuine 1-row broadcast."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    afs = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    val = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(afs, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100).cast("long")
                * F.floor(F.col("l_quantity")).cast("long")
            )
            .cast("long")
            .alias("value_c")
        )
        .localCheckpoint(eager=True)  # read twice: total + filter
    )
    tot = val.agg(F.expr("CAST(sum(value_c) AS BIGINT) div 800").alias("thr"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("value_c") > F.col("thr"))
        .select(F.col("pk").alias("p_partkey"), "value_c")
        .orderBy(F.col("value_c").desc(), "p_partkey")
    )


# ----------------------------------------------------------- TPC-H Q16
@query(
    "q_tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#3'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("relational", "agg", "subquery"),
    # Deployment knob (measured at x100, SCALE.md "Round 8: the TPC-H
    # suite completion", re-verified through applied_confs in "The
    # Q16/Q11 threshold cure shipped as QuerySpec.confs"): the static planner's
    # 10 MB default misses the spec-join broadcast here — 64 MB reads
    # 0.62x. PER-QUERY because the same knob REGRESSED Q7 1.7x (it
    # broadcasts a mid-sized join output there).
    confs=(("spark.sql.autoBroadcastJoinThreshold", "64m"),),
    bench=True,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): distinct suppliers per
    (brand, type, size) for a negated part spec, excluding a
    blacklisted supplier set (reference README.md:402-469 family; the
    part↔supplier pairs come from the lineitem bridge — no partsupp —
    and the reference's comment-LIKE complaint filter becomes a
    negative-balance filter, the closest predicate the schema
    carries). NOT IN is safe here because s_suppkey is never null;
    the Spark side still uses LEFT ANTI, which is the null-robust
    form.

    Scale shape: the part spec (8 sizes × negated brand/type) joins
    into lineitem, pruning the fact early; the blacklist excludes
    suppliers through a LEFT ANTI. Both sides are SF-scaled, so both
    joins are declarative — AQE broadcasts them while they fit
    (always at test scale) and shuffles past that. The
    count-distinct compiles to Spark's two-phase distinct aggregate:
    partial (group, suppkey) dedup map-side, then ONE exchange on the
    group keys — the same shape DuckDB runs, and the only exchange in
    the plan."""
    p = (
        table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#3")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# ----------------------------------------------------------- TPC-H Q20
@query(
    "q_tpch_q20",
    oracle="""
    SELECT s_name, CAST(FLOOR(s_acctbal * 100) AS BIGINT) AS acctbal_c
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'AFRICA'
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'red%')
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CAST(FLOOR(l_quantity) AS BIGINT)) > 25
      )
    ORDER BY s_name
    """,
    tags=("relational", "join", "subquery"),
    bench=True,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers in one region
    who moved more than a threshold quantity of a name-matched part in
    one year (reference README.md:402-469 family). Without partsupp
    there is no availqty, so the reference's 0.5·shipped-vs-stock test
    becomes an absolute shipped-quantity threshold over the same
    nested-IN chain: part-name semi → grouped quantity HAVING → 
    supplier semi — the three-level nesting is the point of Q20 and
    survives intact. Quantity sums FLOOR before the BIGINT cast on
    both engines (DuckDB CAST rounds half-away, Spark truncates), so
    the strict HAVING sum > 25 boundary is exact on any corpus.

    Scale shape: the name-filtered part keys LEFT-SEMI-prune the
    year-windowed lineitem scan (both filters pushed), so the
    (suppkey, partkey) aggregate exchange carries only candidate
    lines; the qualifying suppkey set is |suppliers|-bounded and LEFT
    SEMI joins into the region's suppliers — nothing fact-sized
    crosses a second exchange. Only the fixed-cardinality
    region→nation chain is broadcast-hinted; the part and supplier
    joins stay declarative (both scale with the corpus — AQE
    broadcasts while they fit, always at test scale)."""
    redp = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(redp, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    qual = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.floor(F.col("l_quantity")).cast("long")).alias("sq"))
        .filter(F.col("sq") > 25)
        .select("l_suppkey")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    return (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(qual, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select(
            "s_name",
            F.floor(F.col("s_acctbal") * 100).cast("long").alias("acctbal_c"),
        )
        .orderBy("s_name")
    )


# ----------------------------------------------------------- TPC-H Q21
@query(
    "q_tpch_q21",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderstatus = 'F'
      AND r_name = 'AFRICA'
      AND l1.l_shipdate >= o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate >= o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    tags=("relational", "join", "subquery"),
    bench=True,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): for finished
    multi-supplier orders, count late lines whose supplier was the
    ONLY late one — the EXISTS + NOT-EXISTS self-join pair that makes
    Q21 the hardest decorrelation in the suite (reference
    README.md:402-469 family; lateness adapted to l_shipdate ≥
    o_orderdate + 90 days, the q_tpch_q4 convention — the testdata
    carries no commit/receipt dates).

    Scale shape: both correlated subqueries are per-order set
    predicates, so they decorrelate into ONE window pass over the
    orderkey-partitioned fact: n_supp = |collect_set(suppkey)| and
    n_late = |collect_set(late suppkey)| per order (sets bounded by
    suppliers-per-order, ~4 — never corpus-sized). EXISTS l2 ⇔
    n_supp ≥ 2; NOT EXISTS late l3 ⇔ n_late = 1 (the probe line is
    itself late, so its supplier is the one). One orderkey exchange
    + sort replaces BOTH self-joins — three skinny columns cross it;
    the status filter prunes orders at the scan, the fixed-cardinality
    region→nation chain broadcasts, and the SF-scaled supplier attach
    stays declarative (AQE broadcasts it while it fits); the final
    rollup is |suppliers|-bounded with a TakeOrdered top-100."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "late",
        F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
    )
    w = Window.partitionBy("l_orderkey")
    j = j.withColumn(
        "n_supp", F.size(F.collect_set("l_suppkey").over(w))
    ).withColumn(
        "n_late",
        F.size(
            F.collect_set(
                F.when(F.col("late"), F.col("l_suppkey"))
            ).over(w)
        ),
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


# ----------------------------------------------------------- TPC-H Q22
@query(
    "q_tpch_q22",
    oracle="""
    WITH pool AS (
      SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS cntrycode,
             CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_c
      FROM customer
      WHERE c_nationkey IN (2, 5, 9, 13, 17, 21, 24)
    ), pos AS (
      SELECT CAST(SUM(acctbal_c) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pool WHERE acctbal_c > 0
    )
    SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(acctbal_c) AS BIGINT) AS totacctbal_c
    FROM pool, pos
    WHERE acctbal_c > s // n
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    tags=("relational", "agg", "subquery"),
    bench=True,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): well-funded customers in
    a country set who have LAPSED — no orders in the trailing window —
    grouped by country (reference README.md:402-469 family). The
    testdata has no c_phone, so the country code is c_nationkey (an
    IN-set of 7); and since every synthetic customer has at least one
    order, the reference's NOT-EXISTS-any-order becomes NOT EXISTS an
    order since 2000-01-01 — the anti-join shape is identical and
    non-trivial at every test scale.

    The above-average-balance test is exact-integer: acctbal_c >
    sum div n over the positive-balance pool (algebraically equal to
    acctbal_c·n > sum for n > 0, but overflow-free — the q_tpch_q11
    rewrite). No float mean crosses engines.

    Scale shape: the pool filter prunes customer at the scan; the
    positive-pool mean is a 1-row broadcast; the lapsed test is a
    LEFT ANTI against the date-windowed orders scan (the window
    pushed down, so the anti probe side is the recent fraction of the
    fact, not all of it); the rollup is ≤7 groups, map-side combined.
    The custkey anti-join exchange is the plan's only fact-sized
    shuffle."""
    pool = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(2, 5, 9, 13, 17, 21, 24))
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
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        pool.crossJoin(F.broadcast(pos))
        .filter(F.col("acctbal_c") > F.col("thr"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum("acctbal_c").cast("long").alias("totacctbal_c"),
        )
        .orderBy("cntrycode")
    )


# ------------------------------------------------- schema evolution
@query(
    "q_schema_evolution",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
             AS n_with_chars,
           CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
             AS total_chars
    FROM documents
    GROUP BY lang
    """,
    tags=("source", "relational"),
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read — the lake-ingest reality the other source
    queries assume away: vendor batches drift columns over time, and a
    100 TB directory holds files written under several schema versions.
    Two parquet batches land in ONE directory (v1: doc_id/lang only;
    v2 adds n_chars), then a single ``mergeSchema`` scan reads the
    union schema with NULLs where a file predates a column, and the
    rollup counts exactly which rows carry the evolved column. The
    oracle recomputes the same semantics from the source table (v1 =
    even doc_ids, v2 = odd), so the parity check proves no row was
    dropped or backfilled by the merge.

    Scale shape: mergeSchema's cost is footer-schema reconciliation at
    PLANNING time (per file, driver-side — why lakes cap files per
    directory); the data path stays ordinary parquet scan + one
    map-side-combined |langs|-group aggregate. Column pruning still
    reaches both file versions (ReadSchema carries the union)."""
    import shutil
    import uuid as _uuid

    from duckdb_pst_spark.streaming.finalize import _CACHE_DIR

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    lake = str(_CACHE_DIR / f"schema_evo_{_uuid.uuid4().hex[:8]}")
    try:
        # v1 writer: the column didn't exist yet
        d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").coalesce(
            2
        ).write.mode("append").parquet(lake)
        # v2 writer: evolved schema, same directory
        d.filter(F.col("doc_id") % 2 == 1).coalesce(2).write.mode(
            "append"
        ).parquet(lake)
        merged = spark.read.option("mergeSchema", "true").parquet(lake)
        out = (
            merged.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.count("n_chars").cast("long").alias("n_with_chars"),
                F.sum("n_chars").cast("long").alias("total_chars"),
            )
        )
        # materialize before the temp lake is removed
        out = out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(lake, ignore_errors=True)
    return out


@query(
    "q_partition_pruning",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang IN ('en', 'de')
    GROUP BY source
    """,
    tags=("source", "relational"),
)
def q_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned lake read with directory pruning — the layout
    the reference's planning-time class filter (A5) maps to at lake
    scale: documents land partitioned by lang
    (``write.partitionBy("lang")``), and a lang predicate then prunes
    WHOLE DIRECTORIES at planning time (PartitionFilters in the scan,
    gated in tests/test_plan_shapes.py) — files for other langs are
    never opened, the exact analogue of the reference skipping
    non-matching PST nodes before any read. The rollup runs on the
    pruned scan; the oracle recomputes from the source table, proving
    the partitioned round-trip loses and invents nothing.

    Scale shape: partitioning column cardinality is bounded (langs,
    classes, dates) so the directory tree stays listable; the one-time
    partitioned write is the ingest cost every subsequent selective
    scan amortizes. One map-side-combined aggregate after the pruned
    scan."""
    import shutil
    import uuid as _uuid

    from duckdb_pst_spark.streaming.finalize import _CACHE_DIR

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    lake = str(_CACHE_DIR / f"part_lake_{_uuid.uuid4().hex[:8]}")
    try:
        d.write.partitionBy("lang").mode("overwrite").parquet(lake)
        out = (
            spark.read.parquet(lake)
            .filter(F.col("lang").isin("en", "de"))
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
            )
        ).localCheckpoint(eager=True)  # materialize before the lake is removed
    finally:
        shutil.rmtree(lake, ignore_errors=True)
    return out


@query(
    "q_lake_ignore_corrupt",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id % 2 = 0
    GROUP BY lang
    """,
    tags=("source", "relational"),
)
def q_lake_ignore_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file error tolerance on the PARQUET lake — the reference's
    A18 contract (corrupt archive → log & skip the file, never kill the
    scan, table_function.cpp:228-235) applied to the primary lake
    format, completing the family (PST: per-file skip; CSV/JSONL:
    per-row _corrupt_record; parquet: per-file skip, since a truncated
    parquet file has no trailing footer and nothing row-level to
    salvage). Two files land in one directory, one is truncated
    mid-write (the way an interrupted upload actually breaks); the
    ``ignoreCorruptFiles`` read skips it and returns exactly the
    healthy file's rows — the oracle recomputes that set from the
    source table (even doc_ids), so silent row loss OR invention in
    the healthy file both fail the hash.

    Scale shape: the skip decision is per-file at footer-read time
    (planning), so a 100 TB directory with a few bad uploads costs
    nothing extra; the data path is an ordinary pruned scan + one
    map-side-combined aggregate."""
    import os
    import shutil
    import uuid as _uuid

    from duckdb_pst_spark.streaming.finalize import _CACHE_DIR

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    lake = str(_CACHE_DIR / f"corrupt_lake_{_uuid.uuid4().hex[:8]}")
    try:
        for name, pred in (("good", F.col("doc_id") % 2 == 0),
                           ("bad", F.col("doc_id") % 2 == 1)):
            part = os.path.join(lake, f"_{name}")
            d.filter(pred).coalesce(1).write.mode("overwrite").parquet(part)
            src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
            shutil.move(os.path.join(part, src), os.path.join(lake, f"{name}.parquet"))
            shutil.rmtree(part, ignore_errors=True)
        bad = os.path.join(lake, "bad.parquet")
        half = os.path.getsize(bad) // 2
        with open(bad, "r+b") as f:
            f.truncate(half)  # interrupted upload: no footer survives
        out = (
            # explicit schema: inference itself reads footers and would
            # trip on the corrupt file before the skip option applies
            spark.read.schema("doc_id long, lang string, n_chars long")
            .option("ignoreCorruptFiles", "true")
            .parquet(lake)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
            )
        ).localCheckpoint(eager=True)  # materialize before the lake is removed
    finally:
        shutil.rmtree(lake, ignore_errors=True)
    return out


# ----------------------------------------------- iterated key stretching
#: rounds of the polynomial stretch fold — sized so the row is CPU-bound
#: enough to express core-count scaling while staying a small fraction
#: of the bench total (~44 core-seconds at sf0.1). Measured
#: local[8]/local[32] ratio: 2.83x isolated, 2.45x inside a full
#: 70-row session, and 2.23x at 1.5x the rounds — the ceiling is NOT
#: work size but per-core frequency scaling (8 active cores boost
#: higher than 32; 32 physical cores, no SMT, lscpu-verified), so more
#: rounds only make the row pricier. 2.2-2.8x is this host's honest
#: CPU-bound band, an order of magnitude above the ~1.0 every
#: overhead-bound sf0.1 row reads — which is what the scaling block
#: needs to tell overhead-bound SF from a real serial bottleneck.
KEY_STRETCH_ROUNDS = 1024


@query(
    "q_key_stretch",
    oracle=f"""
    SELECT CAST(SUM(list_reduce(
             list_prepend(CAST(l_orderkey % {P_HASH} AS BIGINT),
                          range(1, {KEY_STRETCH_ROUNDS + 1})),
             (acc, x) -> (acc * 31 + x) % {P_HASH})) AS BIGINT) AS h_sum,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    """,
    tags=("relational", "agg", "scaling"),
    bench=True,
)
def q_key_stretch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated polynomial key stretching over every lineitem key, plus
    a corpus checksum: each l_orderkey is folded through
    KEY_STRETCH_ROUNDS (1024) rounds of (acc*31 + i) % P — the
    key-hardening shape (PBKDF-style) a pipeline uses to derive
    non-invertible record fingerprints — and the stretched keys are
    summed into one portable corpus digest. Pure 64-bit integer
    arithmetic, identical in any engine (functions/portable.py
    discipline: acc < P ≈ 1e9, so acc*31 + i stays far below 2^63).

    Scale shape AND bench role (VERDICT r11 item 4): the work is
    embarrassingly parallel per-row CPU — ~44 core-seconds at sf0.1 —
    behind one tiny hash exchange (600k 8-byte keys; hash repartition
    on the key, not round-robin, so no sort-before-repartition pass
    and deterministic placement under retries, guide §2.5) and one
    map-side-combined global sum. That makes this row the bench's
    PARALLEL-SCALING probe: every other sf0.1 row is fixed-cost/
    scheduling-bound (the r11 scaling block read all 71 low/high-core
    ratios ≈1), so this is the row that lets the driver's 8-vs-32-core
    comparison distinguish "overhead-bound at this SF" from a real
    serialization bottleneck — measured local[8]/local[32] ratio
    2.45-2.83 at sf0.1 (the ceiling is per-core turbo, not work size;
    see KEY_STRETCH_ROUNDS). The repartition width scales with
    sc.defaultParallelism (not a constant), so the probe stays
    parallel at any core count."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    sp = li.repartition(
        4 * spark.sparkContext.defaultParallelism, "l_orderkey"
    )
    stretched = F.aggregate(
        F.sequence(F.lit(1), F.lit(KEY_STRETCH_ROUNDS)),
        (F.col("l_orderkey") % P_HASH).cast("long"),
        lambda acc, i: (acc * F.lit(31) + i) % F.lit(P_HASH),
    )
    return sp.agg(
        F.sum(stretched).cast("long").alias("h_sum"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
