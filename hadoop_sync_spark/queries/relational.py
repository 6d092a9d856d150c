"""L2 relational surface (SURVEY.md §2B): the SQL the reference *enables*.

The reference syncs HDFS metadata so CitusDB can answer SQL over the files
(``README.md:44-51``); here the same query surface is the Spark DataFrame API
over directory-backed parquet tables.  Each query is one row of the §2B
capability table, with its DuckDB oracle.

Scale notes are per-query docstrings: every join names its intended physical
strategy (broadcast for dims — the reference's catalog-sized joins
``CitusMasterNode.java:33-37`` — shuffle hash/sort-merge for fact-fact), and
aggregations rely on Spark's partial aggregation (map-side combine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from hadoop_sync_spark.queries import register
from hadoop_sync_spark.queries._util import (
    memo,
    davg,
    dsum,
    scaled,
    sql_davg,
    sql_dsum,
    sql_scaled,
    t,
)


def _revenue4() -> F.Column:
    """Exact per-row revenue term scaled by 1e4:
    round(price*100) * (100 - round(discount*100)), as BIGINT."""
    return scaled("l_extendedprice") * (
        F.lit(100).cast("long") - scaled("l_discount")
    )


def _charge6() -> F.Column:
    """Exact per-row charge term scaled by 1e6:
    revenue4 * (100 + round(tax*100)), as BIGINT."""
    return _revenue4() * (F.lit(100).cast("long") + scaled("l_tax"))


#: DuckDB twin of :func:`_revenue4` (scaled-by-1e4 BIGINT term).
_SQL_REVENUE4 = (
    f"{sql_scaled('l_extendedprice')} * (100 - {sql_scaled('l_discount')})"
)
#: DuckDB twin of :func:`_charge6` (scaled-by-1e6 BIGINT term).
_SQL_CHARGE6 = f"({_SQL_REVENUE4}) * (100 + {sql_scaled('l_tax')})"


# --------------------------------------------------------------------------
# q01 — flagship: TPC-H Q1-style pricing summary (scan → filter → agg → sort)
# --------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           CAST(SUM({_SQL_REVENUE4}) AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(SUM({_SQL_CHARGE6}) AS DOUBLE) / 1000000.0 AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "filter", "flagship"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (A17's min/max agg generalized to full
    sum/avg/count; filter exercises parquet predicate pushdown on the
    stat-pruning column `l_shipdate` — SURVEY §4.1 P2).

    Scale: single shuffle on the 2 low-cardinality group keys; partial
    aggregation collapses each map task to ≤|groups| rows, so shuffle volume
    is O(partitions), not O(rows)."""
    li = t(spark, sf_dir, "lineitem")
    filt, aggs = memo(
        "q01",
        lambda: (
            F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"),
            [
                dsum("l_quantity").alias("sum_qty"),
                dsum("l_extendedprice").alias("sum_base_price"),
                (F.sum(_revenue4()).cast("double") / F.lit(10000.0)).alias(
                    "sum_disc_price"
                ),
                (F.sum(_charge6()).cast("double") / F.lit(1000000.0)).alias(
                    "sum_charge"
                ),
                davg("l_quantity").alias("avg_qty"),
                davg("l_extendedprice").alias("avg_price"),
                davg("l_discount").alias("avg_disc"),
                F.count("*").alias("count_order"),
            ],
        ),
    )
    return li.filter(filt).groupBy("l_returnflag", "l_linestatus").agg(*aggs)


# --------------------------------------------------------------------------
# q02 — predicate zoo: range + IN + LIKE + null-safe filters, projection
# --------------------------------------------------------------------------
@register(
    "q02_filter_predicates",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_quantity,
           CAST({_SQL_REVENUE4} AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.09
      AND l_quantity < 24
      AND l_returnflag IN ('A', 'R')
      AND l_linestatus LIKE 'F%'
      AND l_orderkey IS NOT NULL
    """,
    tags=("filter", "projection"),
)
def q02_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point/range/IN/LIKE/null predicates with narrow projection.

    Scale: no shuffle at all — filters and the 6-column ReadSchema reach the
    parquet scan (PushedFilters), so a 100 TB table reads only matching
    row groups and 6 columns."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.02, 0.09)
        & (F.col("l_quantity") < 24)
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_linestatus").like("F%")
        & F.col("l_orderkey").isNotNull()
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (_revenue4().cast("double") / F.lit(10000.0)).alias("revenue"),
    )


# --------------------------------------------------------------------------
# q03 — TPC-H Q3-style: 3-way join, agg, total-order top-k
# --------------------------------------------------------------------------
@register(
    "q03_top_unshipped_orders",
    oracle=f"""
    SELECT l_orderkey,
           CAST(SUM({_SQL_REVENUE4}) AS DOUBLE) / 10000.0 AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk"),
)
def q03_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority top-10: customer⋈orders⋈lineitem with filters on all
    three, aggregated revenue, total-ordered limit (TakeOrderedAndProject).

    Scale: customer (dim-sized after the segment filter) broadcasts; the
    orders⋈lineitem join shuffles on orderkey — the natural co-partition key
    for both facts (bucketing candidates at 100 TB).  LIMIT is executed as
    TakeOrderedAndProject: each partition keeps 10 rows, no global sort."""
    fc, fo, fl, rev, order = memo(
        "q03",
        lambda: (
            F.col("c_mktsegment") == "BUILDING",
            F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz"),
            F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp_ntz"),
            (F.sum(_revenue4()).cast("double") / F.lit(10000.0)).alias(
                "revenue"
            ),
            [F.col("revenue").desc(), F.col("l_orderkey")],
        ),
    )
    cust = t(spark, sf_dir, "customer").filter(fc)
    orders = t(spark, sf_dir, "orders").filter(fo)
    li = t(spark, sf_dir, "lineitem").filter(fl)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(*order)
        .limit(10)
    )


# --------------------------------------------------------------------------
# q04 — broadcast dim-chain join (the reference's catalog-sized joins A7/A8)
# --------------------------------------------------------------------------
@register(
    "q04_supplier_by_region",
    oracle="""
    SELECT r_name,
           COUNT(*) AS supplier_cnt,
           CAST(SUM(CAST(ROUND((s_acctbal) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    tags=("join", "broadcast", "agg"),
)
def q04_supplier_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier roll-up through the nation→region dim chain — the Spark
    analogue of the reference's catalog equi-joins (A7
    `CitusMasterNode.java:33-37`, A8 `:64-66`): small-side broadcast, zero
    shuffle of the big side."""
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region")
    return (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("supplier_cnt"),
            dsum("s_acctbal").alias("total_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# q05 — left outer join + two-level aggregation (TPC-H Q13 pattern)
# --------------------------------------------------------------------------
@register(
    "q05_order_count_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    tags=("join", "outer", "agg"),
)
def q05_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers-per-order-count histogram: LEFT JOIN preserving order-less
    customers (COUNT of a null column = 0), then re-aggregate.

    Scale: first agg keys on c_custkey (high cardinality — the shuffle that
    matters); second agg input is |customers| rows, negligible."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --------------------------------------------------------------------------
# q06 — semi join (A16's existence assertion as a query)
# --------------------------------------------------------------------------
@register(
    "q06_customers_with_open_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    """,
    tags=("join", "semi"),
)
def q06_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — the reference's ≥1-placement existence check
    (A16, `HdfsSynchronizer.java:282-289`) generalized.  Semi join never
    duplicates left rows and drops the right side entirely after probing."""
    cust = t(spark, sf_dir, "customer")
    open_orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return cust.join(
        open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# q07 — anti join (A12's set difference, the reference's core diff)
# --------------------------------------------------------------------------
@register(
    "q07_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderstatus = 'O'
                        AND o_orderpriority = '1-URGENT')
    """,
    tags=("join", "anti"),
)
def q07_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — exactly the reference's metadata diff
    (A12 `HdfsSynchronizer.java:172-188`: `citus − hdfs` / `hdfs − citus`
    via removeAll) as a relational operator.

    The anti side is restricted to open URGENT orders: on the fixture
    every customer has at least one order, so the unrestricted form was
    vacuously empty and its r1 green driver row validated nothing (found
    by the round-3 vacuity guard alongside q38/q55); the restricted form
    keeps half the customers and still plans the same left-anti hash
    join with the filter pushed to the build side."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "O")
        & (F.col("o_orderpriority") == "1-URGENT")
    )
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --------------------------------------------------------------------------
# q08 — theta / range join (equi key + non-equi interval predicate)
# --------------------------------------------------------------------------
@register(
    "q08_late_shipments",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS late_line_cnt,
           CAST(SUM(CAST(ROUND((l_extendedprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS late_value
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY o_orderpriority
    """,
    tags=("join", "theta"),
)
def q08_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-predicate join: lines shipped >90 days after their order date.

    Scale: the equi conjunct (orderkey) carries the join — Spark hashes on it
    and applies the interval predicate as a post-join filter, so this stays a
    hash join, never a cartesian."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    joined = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 90 DAYS")),
    )
    aggs = memo(
        "q08",
        lambda: [
            F.count("*").alias("late_line_cnt"),
            dsum("l_extendedprice").alias("late_value"),
        ],
    )
    return joined.groupBy("o_orderpriority").agg(*aggs)


# --------------------------------------------------------------------------
# q09 — multi-distinct aggregation (A3's dedup generalized)
# --------------------------------------------------------------------------
@register(
    "q09_distinct_counts",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS supp_cnt,
           COUNT(DISTINCT l_partkey) AS part_cnt,
           COUNT(*) AS line_cnt
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "distinct"),
)
def q09_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) ×2 + COUNT(*) per group — the reference's
    shardId-set dedup (A3 `HdfsMasterNode.java:53-71`) generalized.
    Spark expands multi-distinct via a single Expand + two-phase agg."""
    aggs = memo(
        "q09",
        lambda: [
            F.countDistinct("l_suppkey").alias("supp_cnt"),
            F.countDistinct("l_partkey").alias("part_cnt"),
            F.count("*").alias("line_cnt"),
        ],
    )
    return t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(*aggs)


# --------------------------------------------------------------------------
# q10 — ROLLUP with explicit grouping indicators
# --------------------------------------------------------------------------
@register(
    "q10_rollup_orders",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           o_orderstatus,
           CAST(GROUPING(year(o_orderdate)) AS BIGINT) AS g_year,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           COUNT(*) AS order_cnt,
           CAST(SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)
    """,
    tags=("agg", "rollup"),
)
def q10_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals year→status→grand-total; GROUPING() flags
    distinguish subtotal NULLs from data NULLs."""
    orders = t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("long")
    )
    return orders.rollup("order_year", "o_orderstatus").agg(
        F.grouping("order_year").cast("long").alias("g_year"),
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.count("*").alias("order_cnt"),
        dsum("o_totalprice").alias("total_value"),
    ).select(
        "order_year", "o_orderstatus", "g_year", "g_status",
        "order_cnt", "total_value",
    )


# --------------------------------------------------------------------------
# q11 — CUBE
# --------------------------------------------------------------------------
@register(
    "q11_cube_lineitem",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
           CAST(SUM(CAST(ROUND((l_quantity) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "cube"),
)
def q11_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 2-D cube over the two flag columns with exact decimal sums."""
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_rf"),
            F.grouping("l_linestatus").cast("long").alias("g_ls"),
            dsum("l_quantity").alias("sum_qty"),
            F.count("*").alias("cnt"),
        )
        .select("l_returnflag", "l_linestatus", "g_rf", "g_ls", "sum_qty", "cnt")
    )


# --------------------------------------------------------------------------
# q12 — window: deterministic top-k per group
# --------------------------------------------------------------------------
@register(
    "q12_top_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
    tags=("window", "topk"),
)
def q12_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via ROW_NUMBER with a total order
    (tiebreak on o_orderkey makes the k-set deterministic).

    Scale: one shuffle on o_custkey; the rn<=3 filter collapses each
    partition immediately (Spark 3.5+ pushes a per-group limit into the
    window exec via WindowGroupLimit)."""
    rn, keep = memo(
        "q12",
        lambda: (
            F.row_number()
            .over(
                Window.partitionBy("o_custkey").orderBy(
                    F.col("o_totalprice").desc(), F.col("o_orderkey")
                )
            )
            .cast("long")
            .alias("rn"),
            F.col("rn") <= 3,
        ),
    )
    return (
        t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", rn)
        .filter(keep)
    )


# --------------------------------------------------------------------------
# q13 — window: lag/lead event-time deltas
# --------------------------------------------------------------------------
@register(
    "q13_event_gaps",
    oracle="""
    SELECT event_id, user_id, event_type,
           epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)) AS gap_us,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
    """,
    tags=("window", "lag", "events"),
)
def q13_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap (µs) and next event type via LAG/LEAD over
    event time with event_id tiebreak."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


# --------------------------------------------------------------------------
# q14 — window: running aggregate over a frame
# --------------------------------------------------------------------------
@register(
    "q14_running_customer_spend",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100.0 AS running_spend
    FROM orders
    """,
    tags=("window", "frame"),
)
def q14_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer — frame-bounded window SUM kept exact
    via decimal, so the running prefix sums match the oracle bit-for-bit."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.sum(scaled("o_totalprice")).over(w).cast("double") / F.lit(100.0)).alias(
            "running_spend"
        ),
    )


# --------------------------------------------------------------------------
# q15 — set operations (A12/A14 generalized)
# --------------------------------------------------------------------------
@register(
    "q15_nation_set_ops",
    oracle="""
    SELECT 'customer_only' AS side, nk FROM (
        SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nk FROM customer
        EXCEPT
        SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nk FROM supplier
    )
    UNION ALL
    SELECT 'both' AS side, nk FROM (
        SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nk FROM customer
        INTERSECT
        SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nk FROM supplier
    )
    """,
    tags=("setops",),
)
def q15_nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / INTERSECT / UNION ALL — the reference's removeAll diff (A12)
    and `(citus − deleted) ∪ inserted` merge (A14,
    `HdfsSynchronizer.java:253-257`) as native set operators."""
    cust_nk = (
        t(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").cast("long").alias("nk"))
        .distinct()
    )
    supp_nk = (
        t(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").cast("long").alias("nk"))
        .distinct()
    )
    only_cust = cust_nk.exceptAll(supp_nk).select(
        F.lit("customer_only").alias("side"), "nk"
    )
    both = cust_nk.intersect(supp_nk).select(F.lit("both").alias("side"), "nk")
    return only_cust.unionByName(both)


# --------------------------------------------------------------------------
# q16 — distinct projection (A3)
# --------------------------------------------------------------------------
@register(
    "q16_distinct_segments",
    oracle="""
    SELECT DISTINCT c_mktsegment, CAST(c_nationkey AS BIGINT) AS nationkey
    FROM customer
    """,
    tags=("distinct",),
)
def q16_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + DISTINCT — the reference's shardId set build
    (A3, `HdfsMasterNode.java:53-71`)."""
    return (
        t(spark, sf_dir, "customer")
        .select("c_mktsegment", F.col("c_nationkey").cast("long").alias("nationkey"))
        .distinct()
    )


# --------------------------------------------------------------------------
# q17 — scalar function library: string / date / math / conditional
# --------------------------------------------------------------------------
@register(
    "q17_scalar_functions",
    oracle="""
    SELECT o_orderkey,
           lower(o_orderstatus) AS status_lower,
           upper(substr(o_orderpriority, 1, 1)) AS prio_code,
           concat(o_orderstatus, '/', o_orderpriority) AS status_prio,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month_start,
           CAST(abs(o_totalprice - 250000.0) AS DOUBLE) AS dist_from_250k,
           CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) / 1000, 0) AS DOUBLE)
             AS price_k,
           CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS price_band
    FROM orders
    WHERE o_orderpriority LIKE '_-%'
    """,
    tags=("scalar", "projection"),
)
def q17_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar functions, all JVM-side builtins inside
    whole-stage codegen (no UDFs).  round() is applied to an exact DECIMAL so
    both engines round the same value."""
    o = t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderpriority").like("_-%")).select(
        "o_orderkey",
        F.lower("o_orderstatus").alias("status_lower"),
        F.upper(F.substring("o_orderpriority", 1, 1)).alias("prio_code"),
        F.concat_ws("/", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.date_trunc("month", "o_orderdate").cast("timestamp_ntz")
        .alias("order_month_start"),
        F.abs(F.col("o_totalprice") - 250000.0).cast("double")
        .alias("dist_from_250k"),
        F.round(F.col("o_totalprice").cast("decimal(18,2)") / 1000, 0)
        .cast("double")
        .alias("price_k"),
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
    )


# --------------------------------------------------------------------------
# q18 — JSON access (events.props) — A9's key/value unnest analogue
# --------------------------------------------------------------------------
@register(
    "q18_json_extract",
    oracle=f"""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS cnt,
           {sql_davg('value')} AS avg_value
    FROM events
    GROUP BY event_type
    """,
    tags=("json", "events", "agg"),
)
def q18_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + aggregation — the reference's
    `pg_options_to_table` key/value option lookup (A9,
    `CitusMasterNode.java:338-381`) re-expressed over a JSON column."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count("*").alias("cnt"),
        davg("value").alias("avg_value"),
    )


# --------------------------------------------------------------------------
# q19 — array functions over embeddings (A4's explode-family)
# --------------------------------------------------------------------------
@register(
    "q19_array_ops",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_elem,
           CAST(embedding[-1] AS DOUBLE) AS last_elem,
           sqrt(list_reduce(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                (a, b) -> a + b)) AS l2_norm,
           CAST(label AS BIGINT) AS label
    FROM embeddings
    WHERE vec_id < 100
    """,
    tags=("array", "vectors"),
)
def q19_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array element access, size, and an exact sequential-fold L2 norm
    (F.aggregate == DuckDB list_reduce: both left-fold in DOUBLE, so the sum
    is bit-identical — no rounding slop)."""
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    sq_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_elem"),
        F.element_at("embedding", -1).cast("double").alias("last_elem"),
        F.sqrt(sq_sum).alias("l2_norm"),
        F.col("label").cast("long").alias("label"),
    )


# --------------------------------------------------------------------------
# q20 — HAVING (post-aggregation filter)
# --------------------------------------------------------------------------
@register(
    "q20_brand_stats_having",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS part_cnt,
           CAST(SUM(CAST(ROUND((p_retailprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0
             / COUNT(p_retailprice) AS avg_price
    FROM part
    GROUP BY p_brand
    HAVING COUNT(*) >= 5
    """,
    tags=("agg", "having"),
)
def q20_brand_stats_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING — aggregate filter after partial+final agg."""
    return (
        t(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("part_cnt"),
            davg("p_retailprice").alias("avg_price"),
        )
        .filter(F.col("part_cnt") >= 5)
    )


# --------------------------------------------------------------------------
# q21 — TPC-H Q5-style 6-table join
# --------------------------------------------------------------------------
@register(
    "q21_regional_revenue",
    oracle=f"""
    SELECT n_name,
           CAST(SUM({_SQL_REVENUE4}) AS DOUBLE) / 10000.0 AS revenue,
           COUNT(*) AS line_cnt
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n_name
    """,
    tags=("join", "multijoin", "agg"),
)
def q21_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table star join filtered to one region.

    Scale: lineitem⋈orders shuffles on orderkey (the only fact-fact edge);
    customer/supplier/nation/region all broadcast.  Catalyst + AQE handle
    join reordering; the region filter prunes via the broadcast chain."""
    fo, fr, aggs = memo(
        "q21",
        lambda: (
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz")),
            F.col("r_name") == "ASIA",
            [
                (F.sum(_revenue4()).cast("double") / F.lit(10000.0)).alias(
                    "revenue"
                ),
                F.count("*").alias("line_cnt"),
            ],
        ),
    )
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(fo)
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(fr)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(*aggs)
    )


# --------------------------------------------------------------------------
# q22 — explode / lateral unnest (A4's block→replica flatten)
# --------------------------------------------------------------------------
@register(
    "q22_explode_embedding_prefix",
    oracle="""
    SELECT vec_id, CAST(u.pos AS BIGINT) AS pos, CAST(u.x AS DOUBLE) AS val
    FROM (SELECT vec_id, list_slice(embedding, 1, 4) AS prefix
          FROM embeddings WHERE vec_id < 50) e,
         LATERAL (SELECT generate_subscripts(e.prefix, 1) AS pos,
                         unnest(e.prefix) AS x) u
    """,
    tags=("array", "explode"),
)
def q22_explode_embedding_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode of an array slice — the reference's block×replica flatten
    (A4, `HdfsMasterNode.java:78-103`) as a lateral unnest."""
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    return (
        emb.select("vec_id", F.slice("embedding", 1, 4).alias("prefix"))
        .select("vec_id", F.posexplode("prefix").alias("pos0", "x"))
        .select(
            "vec_id",
            (F.col("pos0") + 1).cast("long").alias("pos"),
            F.col("x").cast("double").alias("val"),
        )
    )
