"""Star-schema analytics queries (SURVEY.md §2.3 'engine adds').

The reference has NO joins, aggregations, window functions, or set ops
(SURVEY.md §2.1) — this module is the analytics surface the north star
mandates, over the driver's TPC-H-ish tables. Every query is registered
with a DuckDB oracle.

Scale/plan notes (verified via .explain, see tests/test_plans.py):
- dimension joins broadcast explicitly (region/nation/customer/supplier
  are small at every realistic SF; lineitem/orders never broadcast);
- aggregates go partial->final (map-side combine) automatically;
- money math: DECIMAL(18,2) casts are exact (inputs are 2-decimal),
  decimal x decimal products are exact at scale 4, sums accumulate in
  decimal and only the final value casts to DOUBLE -> bitwise-equal to
  the oracle regardless of partition/accumulation order;
- date columns leave results as 'yyyy-MM-dd' strings (engines disagree
  on timestamp dtype plumbing, not on values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from redis_lsm_timeseries_spark.plans.catalog import register
from redis_lsm_timeseries_spark.sources.testdata import load_events, load_table

# Exact per-row revenue term: decimal x decimal, scale 2+2=4, no rounding.
_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,2)")


def _revenue() -> F.Column:
    return _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))


# ------------------------------------------------------------------ TPC-H Q1
@register(
    "tpch_q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum({_REV}) AS DOUBLE) AS sum_disc_price,
       CAST(sum({_REV} * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("analytics", "aggregation", "tpch"),
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical wide hash aggregation. Partial
    aggregation means each of the ~1000 executors ships 4 rows, not
    100 TB, to the final stage."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = _revenue()
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(rev).cast("double").alias("sum_disc_price"),
            F.sum(rev * (one + _dec("l_tax"))).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ------------------------------------------------------------------ TPC-H Q3
@register(
    "tpch_q3_shipping_priority",
    oracle=f"""
SELECT o_orderkey,
       CAST(sum({_REV}) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
""",
    tags=("analytics", "join", "tpch"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: fact-fact join + dim filter + top-K. The
    orders<->lineitem equi-join shuffles on the order key; the final
    top-10 is TakeOrdered, not a global sort.

    customer is NOT force-broadcast: it grows with SF (~150k rows x SF),
    so a hint that is right at sf0.1 becomes an executor-OOM at 100 TB.
    The optimizer broadcasts it while its size estimate is under the
    threshold and falls back to a shuffle join beyond — AQE re-plans at
    runtime from actual sizes."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


# ------------------------------------------------------------------ TPC-H Q5
@register(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
SELECT n_name,
       CAST(sum({_REV}) AS DOUBLE) AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN supplier ON s_nationkey = n_nationkey
JOIN lineitem ON l_suppkey = s_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""",
    tags=("analytics", "join", "tpch"),
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-way join. Only the genuinely bounded dims
    (region: 5 rows, nation: 25 rows — fixed at every SF) carry explicit
    broadcast hints; supplier and customer scale with SF, so their join
    strategy is left to the optimizer/AQE (broadcast while small,
    shuffle join at 100 TB). The lineitem<->orders fact-fact join
    shuffles on the order key. Join order keeps the selective region
    filter upstream so dynamic partition pruning can kick in on a
    partitioned fact."""
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    dims = (
        supplier.join(
            F.broadcast(nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)),
            supplier.s_nationkey == F.col("n_nationkey"),
        )
    )
    return (
        li.join(dims, li.l_suppkey == dims.s_suppkey)
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(
            customer,
            (orders.o_custkey == customer.c_custkey)
            & (customer.c_nationkey == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


# ------------------------------------------------------------------ TPC-H Q10
Q10_SQL = f"""
SELECT c_custkey, c_name,
       CAST(sum({_REV}) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


@register(
    "tpch_q10_returned_items",
    oracle=Q10_SQL,
    tags=("analytics", "join", "tpch", "sql-api"),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (top customers by returned-item revenue),
    executed through the SQL API: tables registered as temp views, the
    ONE SQL text runs on both engines verbatim. Demonstrates that the
    engine's surface is DataFrame AND SQL — Catalyst plans the SQL to
    the same physical operators (broadcast nation, shuffled fact-fact
    join, TakeOrdered top-20) as the DataFrame form would."""
    for name in ("customer", "orders", "lineitem", "nation"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(Q10_SQL)


# ------------------------------------------------------ TPC-H Q4 / Q17
# Unregistered (50-entry driver cap): pytest-differential fixtures for
# the two SUBQUERY decorrelation shapes the registered catalog doesn't
# exercise — correlated EXISTS (Q4: Catalyst rewrites to a left-semi
# join) and a correlated SCALAR subquery (Q17: rewritten to an
# aggregate + join). One SQL text runs verbatim on Spark and DuckDB;
# tests/test_plans.py compares results and gates the physical plan.

Q4_EXISTS_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

Q17_SCALAR_SQL = """
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            / 7.0 AS DOUBLE) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_small
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
"""


def tpch_q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS over the fact table. Catalyst
    decorrelates the subquery into a LEFT-SEMI join on l_orderkey — at
    scale that is one shuffle (or broadcast) semi-join, never a
    per-row subquery execution."""
    for name in ("orders", "lineitem"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(Q4_EXISTS_SQL)


def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated SCALAR subquery (per-part average
    threshold). Catalyst decorrelates it into a per-key aggregate
    joined back to the fact — two scans + one join, never N subquery
    executions. The revenue sum accumulates in DECIMAL and casts to
    DOUBLE once, so the value is bitwise-stable across engines."""
    for name in ("lineitem", "part"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(Q17_SCALAR_SQL)


# ------------------------------------------------------------------ TPC-H Q14
# Unregistered since round 3: tpch_q19_disjunctive covers the same
# fact x part join + conditional aggregation shape, and the driver's
# correctness window caps at 50 catalog entries. Kept as a plan-gate
# fixture (tests/test_plans.py asserts no cartesian/BNLJ on it).
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact x part-dimension join with conditional
    aggregation (promo revenue share). part scales with SF, so no
    forced broadcast — the optimizer/AQE picks the strategy. Both
    revenue sums accumulate in DECIMAL and cast to DOUBLE once, then
    divide — bitwise-stable across engines."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = _revenue()
    zero = F.lit(0).cast("decimal(18,2)")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return joined.agg(
        (
            F.lit(100.0).cast("double")
            * F.sum(
                F.when(F.col("p_type").like("PROMO%"), rev).otherwise(zero)
            ).cast("double")
            / F.sum(rev).cast("double")
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


# ------------------------------------------------------------------ TPC-H Q18
@register(
    "tpch_q18_large_orders",
    oracle="""
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(o_totalprice AS DOUBLE) AS totalprice,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
""",
    tags=("analytics", "join", "tpch", "semi"),
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-filtered semi-join (orders whose
    total quantity exceeds a threshold). The HAVING subquery is a
    partial-aggregated groupBy of lineitem followed by a left-semi join
    back onto the fact — two shuffles on the order key, no forced
    broadcasts (the qualifying-order set scales with SF)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("q"))
        .where(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        orders.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            "sum_qty",
        )
    )


# ------------------------------------------------------------------ TPC-H Q19
@register(
    "tpch_q19_disjunctive",
    oracle=f"""
SELECT CAST(sum({_REV}) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
""",
    tags=("analytics", "join", "tpch", "disjunctive"),
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: equi-join with a DISJUNCTIVE residual mixing
    columns from both sides. The join key (p_partkey = l_partkey)
    stays a hash-joinable equi-condition; only the OR-of-ANDs runs as a
    post-join filter — the pattern that keeps disjunctive predicates
    off the nested-loop path."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    def arm(brand: str, size_hi: int, q_lo: int, q_hi: int) -> F.Column:
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )

    cond = (
        arm("Brand#12", 15, 1, 11)
        | arm("Brand#23", 25, 10, 20)
        | arm("Brand#34", 35, 20, 30)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(
            F.sum(_revenue()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# ------------------------------------------------------------- semi / anti
@register(
    "join_semi_anti_presence",
    oracle="""
SELECT 'with_hv_order' AS presence, c_custkey, c_name FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 150000
)
UNION ALL
SELECT 'without_hv_order' AS presence, c_custkey, c_name FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 150000
)
""",
    tags=("analytics", "join", "semi", "anti"),
)
def join_semi_anti_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi AND left-anti joins in one catalog entry: every
    customer labeled by high-value-order presence. The semi join is the
    existence check without duplicating the left side; the anti join is
    the purge-ack delete primitive (ack-purge.lua member removal) as a
    standalone relational operator. Filtered to high-value orders so
    both branches are non-trivial at every SF. Both branches shuffle on
    the same key, and neither materializes order payload columns."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 150_000
    )
    semi = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select(F.lit("with_hv_order").alias("presence"), "c_custkey", "c_name")
    anti = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select(F.lit("without_hv_order").alias("presence"), "c_custkey", "c_name")
    return semi.unionAll(anti)


# ------------------------------------------------------------ rollup / cube
@register(
    "agg_rollup_region_nation",
    oracle="""
SELECT coalesce(r_name, '<all>') AS region_name,
       coalesce(n_name, '<all>') AS nation_name,
       CAST(GROUPING(r_name) + GROUPING(n_name) AS BIGINT) AS lvl,
       count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    tags=("analytics", "aggregation", "rollup"),
)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP over region -> nation with grouping level
    (SURVEY.md §2.3 aggregations: grouping sets)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name") + F.grouping("n_name")).cast("long").alias("lvl"),
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("sum_acctbal"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("<all>")).alias("region_name"),
            F.coalesce(F.col("n_name"), F.lit("<all>")).alias("nation_name"),
            "lvl",
            "n_customers",
            "sum_acctbal",
        )
    )


# r13: unregistered — its slot went to `metadata_fast_stats` (the
# driver checks exactly 50 entries). CUBE is a special case of the
# Expand machinery `agg_rollup_region_nation` and `agg_grouping_sets`
# keep full driver rows for; this entry keeps the identical
# rows+schema+values parity check via UNREGISTERED_ORACLES below.
AGG_CUBE_ORACLE = """
SELECT coalesce(o_orderstatus, '<all>') AS status,
       coalesce(o_orderpriority, '<all>') AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over two categorical dimensions."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_total"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("<all>")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("<all>")).alias("priority"),
            "n_orders",
            "sum_total",
        )
    )


# ----------------------------------------------------------- grouping sets
GROUPING_SETS_SQL = """
SELECT coalesce(o_orderstatus, '<all>') AS status,
       coalesce(o_orderpriority, '<all>') AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""


@register(
    "agg_grouping_sets",
    oracle=GROUPING_SETS_SQL,
    tags=("analytics", "aggregation", "grouping-sets", "sql-api"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (two independent groupings in one pass —
    neither a rollup nor a cube), via the SQL API: Catalyst plans one
    Expand + hash aggregate instead of two scans + union."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(GROUPING_SETS_SQL)


# ------------------------------------------------------------------ unpivot
# Unregistered in round 14: its slot carries tiering_purge_lifecycle_mhot
# (the purge protocol over a ManifestCommit store, end to end).
# Pivot/unpivot stays differentially verified with the
# identical rows+schema+values check via UNREGISTERED_ORACLES below.
UNPIVOT_STATUS_ORACLE = """
WITH p AS (
  SELECT o_orderpriority,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
         CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
         CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, 'n_f' AS status_col, n_f AS n FROM p
UNION ALL
SELECT o_orderpriority, 'n_o' AS status_col, n_o AS n FROM p
UNION ALL
SELECT o_orderpriority, 'n_p' AS status_col, n_p AS n FROM p
"""


def unpivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot + unpivot round-trip in one entry: the wide table is the
    pivot (conditional aggregation — the shuffle-count-stable form
    df.pivot() is sugar for), then melted back to rows via
    DataFrame.unpivot — Catalyst's Expand node, the inverse operator.
    One driver row covers both directions."""
    orders = load_table(spark, sf_dir, "orders")

    def n_status(s: str) -> F.Column:
        return F.sum(
            F.when(F.col("o_orderstatus") == s, F.lit(1)).otherwise(F.lit(0))
        ).cast("long")

    wide = orders.groupBy("o_orderpriority").agg(
        n_status("F").alias("n_f"),
        n_status("O").alias("n_o"),
        n_status("P").alias("n_p"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_f", "n_o", "n_p"],
        variableColumnName="status_col",
        valueColumnName="n",
    )


# ------------------------------------------------------------------ set ops
@register(
    "set_ops_nation_presence",
    oracle="""
SELECT 'both' AS which, nk FROM (
  SELECT DISTINCT c_nationkey AS nk FROM customer
  INTERSECT
  SELECT DISTINCT s_nationkey AS nk FROM supplier
)
UNION ALL
SELECT 'customer_only' AS which, nk FROM (
  SELECT DISTINCT c_nationkey AS nk FROM customer
  EXCEPT
  SELECT DISTINCT s_nationkey AS nk FROM supplier
)
""",
    tags=("analytics", "setops"),
)
def set_ops_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL in one result (SURVEY.md §2.3 set
    ops; the reference's only set-op is the implicit anti-join in
    ack-purge.lua:13-18)."""
    cust_nk = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nk"))
        .distinct()
    )
    supp_nk = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nk"))
        .distinct()
    )
    both = cust_nk.intersect(supp_nk).select(F.lit("both").alias("which"), "nk")
    cust_only = cust_nk.exceptAll(supp_nk).select(
        F.lit("customer_only").alias("which"), "nk"
    )
    return both.unionAll(cust_only)


# ------------------------------------------------------------ scalar funcs
# Unregistered in r15 (50-entry driver window): the scalar surface is
# exercised inside a dozen other entries' oracles, and the freed slot
# certifies the rlts_table connector (connector_roundtrip) in the
# driver's own CORRECTNESS artifact. Keeps the identical
# rows+schema+values parity check via UNREGISTERED_ORACLES below.
SCALAR_FUNCTIONS_ORACLE = """
SELECT event_id,
       upper(event_type) AS type_upper,
       substr(event_type, 1, 3) AS type_prefix,
       length(props) AS props_len,
       CAST(props::JSON ->> 'k' AS BIGINT) AS k_val,
       CAST(round("value", 1) AS DOUBLE) AS value_rounded,
       abs("value" - 100.0) AS value_abs_dist,
       CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS day_number,
       strftime(ts, '%Y-%m-%d') AS day_str,
       CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
       md5(concat(event_type, CAST(event_id AS VARCHAR))) AS row_digest
FROM events
WHERE event_id % 100 = 0
"""


def scalar_functions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String / JSON / math / date / hash scalar functions in one
    projection (SURVEY.md §2.3 scalar functions; the reference's whole
    scalar library is JSON encode/decode + string concat + SHA-256).

    The calendar columns derive from epoch arithmetic, NOT from
    rendering the TIMESTAMP column: date_format/hour on an LTZ
    timestamp apply the SESSION timezone, so a driver session in any
    zone but UTC would silently disagree with the oracle's naive-UTC
    strftime/extract. Integer division and date_add are zone-free."""
    ev = load_events(spark, sf_dir)
    day_num = F.floor(F.col("ts_ms") / F.lit(86_400_000)).cast("long")
    return ev.where(F.col("event_id") % 100 == 0).select(
        "event_id",
        F.upper("event_type").alias("type_upper"),
        F.substring("event_type", 1, 3).alias("type_prefix"),
        F.length("props").cast("long").alias("props_len"),
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        F.round(F.col("value"), 1).cast("double").alias("value_rounded"),
        F.abs(F.col("value") - F.lit(100.0)).alias("value_abs_dist"),
        day_num.alias("day_number"),
        F.date_add(F.lit("1970-01-01").cast("date"), day_num.cast("int"))
        .cast("string")
        .alias("day_str"),
        F.expr("(ts_ms div 3600000) % 24").cast("long").alias("hour_of_day"),
        F.md5(F.concat(F.col("event_type"), F.col("event_id").cast("string"))).alias(
            "row_digest"
        ),
    )


# ----------------------------------------------------------- distinct aggs
# Unregistered since round 3 (50-entry driver window): the exact
# count_distinct aggregation is driver-checked inside ts_rollup_hourly
# (n_users column). Kept as the exact twin for the HLL bounded-error
# gate in tests/test_plans.py.
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand+two-phase under the hood)."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# approx_distinct_users was unregistered in round 7 (50-entry driver
# window) in favor of data_mix_sample: as a no-oracle entry it only
# bought a rows-only check, while its exact twin stays hash-checked
# inside ts_rollup_hourly and the sketch's bounded error stays gated
# in tests/test_plans.py::test_hll_bounded_error — swapping it for a
# full-hash entry strictly increases driver-visible coverage.
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the 100 TB path where an
    exact distinct would shuffle every key. No oracle — sketch values
    are engine-specific by construction; correctness is bounded-error
    vs the exact count, asserted in tests/test_plans.py."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ------------------------------------------------------------ top-k / rank
# Unregistered since round 3 (50-entry driver window): global top-K is
# driver-checked via tpch_q3 (DataFrame orderBy+limit) and tpch_q10
# (SQL ORDER BY + LIMIT), both planned as TakeOrderedAndProject. Kept
# as the minimal fixture for the TakeOrdered plan gate.
def top_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-K: Spark plans TakeOrderedAndProject — per-partition
    heaps + driver merge of K rows, never a full sort."""
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


@register(
    "window_rank_suppliers_in_nation",
    oracle="""
SELECT s_suppkey, s_name, n_name, s_acctbal,
       CAST(rank() OVER (PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey ASC) AS BIGINT) AS bal_rank
FROM supplier JOIN nation ON s_nationkey = n_nationkey
""",
    tags=("analytics", "window", "rank"),
)
def window_rank_suppliers_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() window over a broadcast-joined dimension."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey").asc()
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            "s_acctbal",
            F.rank().over(w).cast("long").alias("bal_rank"),
        )
    )


# ------------------------------------------------------- range join (bucketed)
RANGE_W_MS = 300_000  # +/- 5 minutes


@register(
    "range_join_user_activity",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type FROM events
), p AS (
  SELECT * FROM e WHERE event_type = 'error'
)
SELECT p.event_id,
       CAST(sum(CASE WHEN e.event_id != p.event_id
                      AND abs(e.ts_ms - p.ts_ms) <= {RANGE_W_MS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_nearby
FROM p JOIN e ON e.user_id = p.user_id
GROUP BY p.event_id
""",
    tags=("analytics", "join", "range"),
)
def range_join_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join, 100 TB shape: same-user events within +/- 5
    minutes of each error event.

    A naive non-equi join plans as BroadcastNestedLoopJoin — O(N*M) and
    an OOM at scale. The bucketed form turns it into an EQUI-join: each
    probe explodes into its 3 candidate time buckets (bucket width =
    the range width, so |dt| <= W spans at most adjacent buckets), the
    join key is (user_id, bucket), and the exact range predicate runs
    as a residual on the tiny candidate set. The oracle brute-forces
    the per-user pairs — same answer, different (unscalable) plan."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id", "ts_ms", "event_type"
    )
    bucket = F.expr(f"ts_ms div {RANGE_W_MS}")
    probes = (
        ev.where(F.col("event_type") == "error")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("p_event_id"),
            F.col("ts_ms").alias("p_ts_ms"),
            F.explode(
                F.array(bucket - 1, bucket, bucket + 1)
            ).alias("bucket"),
        )
    )
    cands = ev.select(
        "user_id", "event_id", "ts_ms", bucket.alias("bucket")
    )
    hit = (
        (F.col("event_id") != F.col("p_event_id"))
        & (F.abs(F.col("ts_ms") - F.col("p_ts_ms")) <= RANGE_W_MS)
    )
    return (
        probes.join(cands, ["user_id", "bucket"])
        .groupBy(F.col("p_event_id").alias("event_id"))
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_nearby")
        )
    )


# --------------------------------------------------- range-frame window
@register(
    "window_range_frame_trailing",
    oracle="""
SELECT event_type AS tag,
       epoch_ms(ts) AS ts_ms,
       event_id,
       CAST(sum(CAST("value" AS DECIMAL(18,2))) OVER (
         PARTITION BY event_type ORDER BY epoch_ms(ts)
         RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS sum_10m,
       CAST(count(*) OVER (
         PARTITION BY event_type ORDER BY epoch_ms(ts)
         RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_10m
FROM events
WHERE event_id % 10 = 0
""",
    tags=("analytics", "window", "range-frame"),
)
def window_range_frame_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-range window frame (rangeBetween): trailing-10-minute sum
    and count per tag — the canonical TSDB sliding aggregate, distinct
    from the row-count frames elsewhere in the catalog. Range frames
    include all peer rows of the boundary timestamps, so tie order
    never affects the result (engine-agnostic determinism); the sum
    accumulates in DECIMAL."""
    ev = load_events(spark, sf_dir).where(F.col("event_id") % 10 == 0)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_ms")
        .rangeBetween(-600_000, 0)
    )
    return ev.select(
        F.col("event_type").alias("tag"),
        "ts_ms",
        "event_id",
        F.sum(_dec("value")).over(w).cast("double").alias("sum_10m"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_10m"),
    )


# ------------------------------------------------- approx percentile sketch
# NOT registered (the catalog is capped at the driver's 50-entry
# correctness window, and its slot went to dedup_cluster_canonical,
# which holds a FULL oracle row where this sketch could only ever be
# rows-only). The sketch path stays: bounded error vs the exact
# percentiles is asserted in tests/test_plans.py, and
# approx_distinct_users keeps a sketch representative in the catalog.
def approx_percentile_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (p50/p95 of value per event type): the sketch
    path for quantiles at 100 TB, pairing percentile_disc_by_type the
    way approx_distinct_users pairs the exact distinct count."""
    ev = load_events(spark, sf_dir)
    # ONE sketch aggregate returning both quantiles, indexed after the
    # agg — never rely on Catalyst to dedupe two identical sketches.
    return (
        ev.groupBy(F.col("event_type").alias("tag"))
        .agg(
            F.percentile_approx("value", [0.5, 0.95], 10_000).alias("pcts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "tag",
            F.col("pcts")[0].alias("p50_approx"),
            F.col("pcts")[1].alias("p95_approx"),
            "n_events",
        )
    )


# --------------------------------------------------- exact percentile (disc)
@register(
    "percentile_disc_by_type",
    oracle="""
WITH e AS (
  SELECT event_type AS tag, "value" AS v, event_id FROM events
), r AS (
  SELECT tag, v,
         row_number() OVER (PARTITION BY tag ORDER BY v, event_id) AS rn,
         count(*) OVER (PARTITION BY tag) AS n
  FROM e
)
SELECT tag,
       max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN v END) AS p25,
       max(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN v END) AS p50,
       max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN v END) AS p75
FROM r GROUP BY tag
""",
    tags=("analytics", "aggregation", "percentile"),
)
def percentile_disc_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles (p25/p50/p75 of value per event
    type) via rank selection — percentile_disc semantics: the returned
    value is an actual input value at the ceil(q*n)-th position, so
    both engines select the identical double (interpolating variants
    differ in float rounding between engines). Tie-break on event_id
    makes the selection deterministic."""
    ev = load_events(spark, sf_dir).select(
        F.col("event_type").alias("tag"), F.col("value").alias("v"), "event_id"
    )
    w = Window.partitionBy("tag").orderBy(F.col("v").asc(), F.col("event_id").asc())
    r = ev.select(
        "tag",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("tag")).alias("n"),
    )

    def pick(q: float) -> F.Column:
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("long"),
                F.col("v"),
            )
        )

    return r.groupBy("tag").agg(
        pick(0.25).alias("p25"), pick(0.50).alias("p50"), pick(0.75).alias("p75")
    )


# ------------------------------------------------ grouped-map UDF (trend)
@register(
    "udf_grouped_trend",
    oracle="""
WITH e AS (
  SELECT event_type AS tag,
         CAST(epoch_ms(ts) AS HUGEINT) AS x,
         CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS HUGEINT) AS y
  FROM events
), s AS (
  SELECT tag, CAST(count(*) AS HUGEINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM e GROUP BY tag
)
SELECT tag,
       CAST(n AS BIGINT) AS n_points,
       -- the final int->double conversions go THROUGH VARCHAR:
       -- DuckDB's direct HUGEINT->DOUBLE cast is not round-to-nearest
       -- for all 128-bit values (observed one-ulp drift at sf0.001),
       -- while its string->double parse is correctly rounded, matching
       -- Python's int->float on the Spark side bit for bit.
       CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
         / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
         AS slope
FROM s
""",
    tags=("analytics", "udf", "grouped-map"),
)
def udf_grouped_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas UDF (applyInPandas): per-event-type
    least-squares trend of value-over-time. All accumulation is exact
    integer arithmetic on both sides (Python ints / HUGEINT), so the
    Arrow + Pandas surface is differentially checked bit-for-bit, not
    rows-only. y is value scaled to integer cents; x is epoch ms."""
    from redis_lsm_timeseries_spark.operators.grouped import (
        per_group_linear_trend,
    )

    ev = load_events(spark, sf_dir).select(
        F.col("event_type").alias("tag"),
        F.col("ts_ms").alias("x"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("y"),
    )
    return per_group_linear_trend(ev, "tag", "x", "y")


# asof_order_latest_event was unregistered and removed in round 3 (the
# driver checks at most 50 catalog entries): its arg-max-per-group
# max_by aggregation shape is driver-checked by ts_lww_update, and the
# as-of join semantics by ts_asof_join.


# keep the cube query's full differential check despite losing its
# driver slot (see note at its definition)
from redis_lsm_timeseries_spark.plans.reference_queries import (  # noqa: E402
    UNREGISTERED_ORACLES,
)

UNREGISTERED_ORACLES["agg_cube_status_priority"] = (
    agg_cube_status_priority,
    AGG_CUBE_ORACLE,
)
UNREGISTERED_ORACLES["unpivot_status_counts"] = (
    unpivot_status_counts,
    UNPIVOT_STATUS_ORACLE,
)
UNREGISTERED_ORACLES["scalar_functions_events"] = (
    scalar_functions_events,
    SCALAR_FUNCTIONS_ORACLE,
)
