"""TPC-H query shapes Q1-Q22 (SURVEY.md §7 M2).

The reference has no relational surface at all (SURVEY.md §2.3/§2.7:
joins, aggregations and subqueries are ABSENT — its only aggregate is the
SeekLT top-1 peek at /root/reference/server/pebble/service.go:820-840).
This module holds the classic TPC-H query-shape suite over the driver's
reduced schema, each query paired with a DuckDB oracle:

- no `partsupp` table -> the observed (l_partkey, l_suppkey) pairs in
  `lineitem` serve as the supply relation (Q2/Q11/Q16/Q20), with
  min(l_extendedprice/l_quantity) as the derived supply cost; Q9's
  profit has no supply-cost term;
- no commit/receipt dates -> "late" = l_shipdate > o_orderdate + N days
  (Q4/Q12/Q21);
- no c_phone -> c_nationkey % 10 is the country code (Q22).

Every query is expressed declaratively (Catalyst plans the joins), from
a few named pieces that each hold one rule: `revenue()`, `during()`,
`_late()`, `with_nation()`, `_exact_money_sum()` and
`operators.half_up()`.
Broadcast policy: explicit `F.broadcast` ONLY on frames whose size is
scale-invariant (nation=25, region=5 rows, single-row aggregates);
everything that grows with SF (customer/supplier/part and frames keyed
by them) is left to stats + AQE, which broadcast them at harness scale
and fall back to shuffle joins at 100 TB. Fact-fact joins
(orders⋈lineitem) shuffle on the join key, which AQE re-plans at
runtime; aggregations are partial (map-side combine) by construction.
Correlated subqueries become window-min / broadcast-scalar joins,
EXISTS/NOT EXISTS become left_semi/left_anti joins — the idiomatic Spark
rewrites of each shape. Determinism rules follow operators/relational.py
(round doubles in both engines, BIGINT casts in DuckDB, unique-key
tiebreaks on every top-k).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streams_spark.operators import half_up
from streams_spark.registry import register
from streams_spark.sources.tables import load_table


def revenue() -> Column:
    """TPC-H's discounted revenue of a lineitem row:
    l_extendedprice * (1 - l_discount). A function, because `F.col`
    needs an active session."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _exact_money_sum(c: Column) -> Column:
    """sum(c) rounded to 2 dp, accumulated in EXACT integer 1e-4 units,
    not as a double sum. `c` is a product of 2-dp values (revenue():
    l_extendedprice and l_discount are 2-dp), so each row lies on the
    1e-4 grid and both engines quantize it to the SAME int64 (the
    double product is identical bit-for-bit; round() just snaps the
    ~1e-9 fp residue back to the grid). Int64 addition is order-free,
    so the group sum cannot drift with partition/merge order — the
    double-sum formulation flipped a rounded cent on two Q9 (nation,
    year) groups under seed-6 money jitter, on Q3 under seed-11 and on
    Q19 under the seed-18 3%-NULL probe (fuzz class: cross-engine fp
    summation trees straddling a .005 boundary). The final 2-dp
    rounding is pure integer arithmetic ((s+50)/100 then /100), so no
    tie can re-enter through the division; group sums stay < 2^53,
    exact under the double-typed floor().

    Oracle-side twin: floor((sum(CAST(round(c * 10000) AS BIGINT)) + 50)
    / 100) / 100."""
    return F.floor((F.sum(F.round(c * 10000).cast("long")) + 50) / 100) / 100


def during(col: str, lo: str, hi: str | None = None) -> Column:
    """The half-open timestamp range lo <= col < hi; with no `hi`,
    col >= lo. Bounds are timestamp strings."""
    c = F.col(col)
    cond = c >= F.lit(lo).cast("timestamp")
    return cond if hi is None else cond & (c < F.lit(hi).cast("timestamp"))


def _late(shipdate: str, days: int) -> Column:
    """The reduced schema's lateness rule: the line shipped more than
    `days` days after its order date (there are no commit or receipt
    dates)."""
    return F.col(shipdate) > F.col("o_orderdate") + F.expr(f"INTERVAL {days} DAYS")


def with_nation(
    spark: SparkSession, sf_dir: str, df: DataFrame, key: str, region: str | None = None
) -> DataFrame:
    """`df` joined on its nation-key column `key` to broadcast `nation`,
    then, when a region name is given, to broadcast `region` restricted
    to it. Both tables keep their size at every scale factor, so they
    are the dimension the rows broadcast explicitly. The caller
    projects the columns it keeps."""
    nation = load_table(spark, sf_dir, "nation")
    out = df.join(F.broadcast(nation), F.col(key) == nation.n_nationkey)
    if region is None:
        return out
    reg = load_table(spark, sf_dir, "region").where(F.col("r_name") == region)
    return out.join(F.broadcast(reg), nation.n_regionkey == reg.r_regionkey)


# ---------------------------------------------------------------------------
# q1: full-scan grouped aggregation (TPC-H Q1 shape)
# ---------------------------------------------------------------------------

_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                  AS sum_qty,
       round(sum(l_extendedprice), 2)                             AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)          AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                                                                  AS sum_charge,
       floor(avg(l_quantity) * 10000 + 0.5) / 10000               AS avg_qty,
       floor(avg(l_extendedprice) * 10000 + 0.5) / 10000          AS avg_price,
       floor(avg(l_discount) * 10000 + 0.5) / 10000               AS avg_disc,
       count(*)                                                   AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(revenue()), 2).alias("sum_disc_price"),
            F.round(F.sum(revenue() * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            # half_up, not round(): averages of small-denominator values
            # land on exact 4dp midpoints
            half_up(F.avg("l_quantity")).alias("avg_qty"),
            half_up(F.avg("l_extendedprice")).alias("avg_price"),
            half_up(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q2: min-cost supplier (TPC-H Q2 shape — correlated MIN subquery)
# ---------------------------------------------------------------------------

_Q2 = """
WITH ps AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         min(l_extendedprice / l_quantity) AS supplycost
  FROM lineitem GROUP BY 1, 2
), eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier, nation, region
  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
    AND r_name = 'EUROPE'
)
SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
       p_partkey, p_name,
       -- floor rule, not round(): Spark HALF_UP vs DuckDB HALF_EVEN
       -- diverge on midpoint doubles (hit at sf0.1: 1257.85775)
       floor(supplycost * 10000 + 0.5) / 10000 AS supplycost
FROM part, ps, eu
WHERE p_partkey = partkey AND suppkey = s_suppkey
  AND p_size <= 10 AND p_type = 'LARGE'
  AND supplycost = (SELECT min(ps2.supplycost) FROM ps ps2, eu eu2
                    WHERE ps2.partkey = p_partkey
                      AND ps2.suppkey = eu2.s_suppkey)
"""


@register("q2_min_cost_supplier", oracle=_Q2)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-min subquery rewritten as a per-part window min: the
    supply relation is pre-restricted to EUROPE suppliers (broadcast), so
    `min(supplycost) OVER (PARTITION BY p_partkey)` equals the correlated
    scalar and one pass replaces a rescan per outer row."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") <= 10) & (F.col("p_type") == "LARGE")
    )
    eu = with_nation(spark, sf_dir, supplier, "s_nationkey", "EUROPE").select(
        "s_suppkey", "s_name", "s_acctbal", "n_name"
    )
    # prune BEFORE the wide (partkey, suppkey) aggregate: the correlated
    # min only ranges over EU suppliers, and only filtered parts are ever
    # output — both semi-joins shrink the aggregate's input and group
    # count by the joint selectivity (semantics-preserving)
    li_pruned = li.join(
        eu.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"), "left_semi"
    ).join(
        part.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "left_semi"
    )
    ps = li_pruned.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supplycost")
    )
    joined = ps.join(eu, ps.suppkey == eu.s_suppkey).join(
        part, ps.partkey == part.p_partkey
    )
    w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("min_sc", F.min("supplycost").over(w))
        .where(F.col("supplycost") == F.col("min_sc"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            half_up(F.col("supplycost")).alias("supplycost"),
        )
    )


# ---------------------------------------------------------------------------
# q3: 3-way join + top-k (TPC-H Q3 shape)
# ---------------------------------------------------------------------------

_Q3 = """
SELECT l_orderkey,
       -- exact integer 1e-4 accumulation, same rationale as q9: a
       -- double sum straddled a .005 midpoint differently per engine
       -- under seed-11 money jitter
       floor((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                       AS BIGINT)) + 50) / 100) / 100 AS revenue,
       o_orderdate, o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", oracle=_Q3)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_exact_money_sum(revenue()).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q4: order priority checking (TPC-H Q4 shape — EXISTS -> left_semi)
# ---------------------------------------------------------------------------

_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
"""


@register("q4_order_priority", oracle=_Q4)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(
        during("o_orderdate", "1997-01-01", "1997-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # semi join hashes on the equi key; the date comparison stays a residual
    semi = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & _late("l_shipdate", 90),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


# ---------------------------------------------------------------------------
# q5: 6-way join (TPC-H Q5 shape)
# ---------------------------------------------------------------------------

_Q5 = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


@register("q5_local_supplier_volume", oracle=_Q5)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        during("o_orderdate", "1996-01-01", "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    # stats/AQE broadcast the dim sides at this SF; the fact-fact join
    # (lineitem ⋈ orders) shuffles on orderkey
    dim = with_nation(spark, sf_dir, supplier, "s_nationkey", "ASIA").select(
        "s_suppkey", "s_nationkey", "n_name"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            dim,
            (li.l_suppkey == dim.s_suppkey)
            & (customer.c_nationkey == dim.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue()), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# q6: selective scan-aggregate (TPC-H Q6 shape)
# ---------------------------------------------------------------------------

_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", oracle=_Q6)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            during("l_shipdate", "1997-01-01", "1998-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# q7: bi-nation volume (TPC-H Q7 shape)
# ---------------------------------------------------------------------------

_Q7 = """
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey
    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@register("q7_nation_volume", oracle=_Q7)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum(revenue()), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# q8: national market share (TPC-H Q8 shape — share-of-total CASE agg)
# ---------------------------------------------------------------------------

_Q8 = """
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 4) AS mkt_share
FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer,
           nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND p_type = 'ECONOMY') allnations
GROUP BY o_year
"""


@register("q8_market_share", oracle=_Q8)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        during("o_orderdate", "1996-01-01", "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    # customer-side: nations restricted to AMERICA (pre-joined, broadcast)
    cust_dim = with_nation(
        spark, sf_dir, customer, "c_nationkey", "AMERICA"
    ).select("c_custkey")
    # supplier-side: a renamed copy of nation, projected before the
    # broadcast, like q7's n1/n2
    nation = load_table(spark, sf_dir, "nation")
    supp_dim = supplier.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "nation")
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_dim, orders.o_custkey == cust_dim.c_custkey)
        .join(supp_dim, li.l_suppkey == supp_dim.s_suppkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            revenue().alias("volume"),
            "nation",
        )
    )
    return joined.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(0.0))
            / F.sum("volume"),
            4,
        ).alias("mkt_share")
    )


# ---------------------------------------------------------------------------
# q9: profit by nation/year (TPC-H Q9 shape, adapted: no partsupp table)
# ---------------------------------------------------------------------------

_Q9 = """
SELECT n_name AS nation_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       floor((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                       AS BIGINT)) + 50) / 100) / 100 AS profit
FROM part, supplier, lineitem, orders, nation
WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
  AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
  AND p_name LIKE '%red%'
GROUP BY nation_name, o_year
"""


@register("q9_profit_by_nation_year", oracle=_Q9)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sn = with_nation(spark, sf_dir, supplier, "s_nationkey").select(
        "s_suppkey", F.col("n_name").alias("nation_name")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sn, li.l_suppkey == sn.s_suppkey)
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("nation_name", "o_year")
        .agg(_exact_money_sum(revenue()).alias("profit"))
    )


# ---------------------------------------------------------------------------
# q10: returned-item revenue, top 20 customers (TPC-H Q10 shape)
# ---------------------------------------------------------------------------

_Q10 = """
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(c_acctbal, 2) AS c_acctbal, n_name, c_mktsegment
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("q10_returned_items", oracle=_Q10)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        during("o_orderdate", "1997-01-01", "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        customer, orders.o_custkey == customer.c_custkey
    )
    return (
        with_nation(spark, sf_dir, joined, "c_nationkey")
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(F.round(F.sum(revenue()), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
            "c_mktsegment",
        )
    )


# ---------------------------------------------------------------------------
# q11: important stock (TPC-H Q11 shape — HAVING vs global scalar)
# ---------------------------------------------------------------------------

_Q11 = """
WITH ps AS (
  SELECT l_partkey AS partkey, sum(l_extendedprice) AS value
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_7'
  GROUP BY 1)
SELECT partkey, round(value, 2) AS value
FROM ps
WHERE value > (SELECT sum(value) * 0.001 FROM ps)
"""


@register("q11_important_stock", oracle=_Q11)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-scalar HAVING rewritten as a broadcast of the 1-row total:
    the per-part aggregate is computed once and reused for both the
    group values and the threshold (no rescan)."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    supp = (
        with_nation(spark, sf_dir, supplier, "s_nationkey")
        .where(F.col("n_name") == "NATION_7")
        .select("s_suppkey")
    )
    ps = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum("l_extendedprice").alias("value"))
    )
    total = ps.agg((F.sum("value") * 0.001).alias("threshold"))
    return (
        ps.join(F.broadcast(total))
        .where(F.col("value") > F.col("threshold"))
        .select("partkey", F.round("value", 2).alias("value"))
    )


# ---------------------------------------------------------------------------
# q12: late shipments by class (TPC-H Q12 shape — conditional counts)
# ---------------------------------------------------------------------------

_Q12 = """
SELECT l_returnflag AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
"""


@register("q12_late_shipments", oracle=_Q12)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        during("l_shipdate", "1997-01-01", "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(_late("l_shipdate", 60))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# q13: outer join + count distribution (TPC-H Q13 shape)
# ---------------------------------------------------------------------------

_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


@register("q13_order_distribution", oracle=_Q13)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# q14: conditional aggregation ratio (TPC-H Q14 shape)
# ---------------------------------------------------------------------------

_Q14 = """
SELECT round(
         100.0 * sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END)
         / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
"""


@register("q14_promo_revenue", oracle=_Q14)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").where(
        during("l_shipdate", "1997-06-01", "1997-07-01")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", revenue()).otherwise(0.0))
                / F.sum(revenue()),
                4,
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# q15: top supplier (TPC-H Q15 shape — view + MAX scalar subquery)
# ---------------------------------------------------------------------------

_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY 1)
SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@register("q15_top_supplier", oracle=_Q15)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        during("l_shipdate", "1997-01-01", "1997-04-01")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(revenue()).alias("total_revenue")
    )
    top = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.join(F.broadcast(top))
        .where(F.col("total_revenue") == F.col("max_rev"))
        .join(supplier, F.col("supplier_no") == supplier.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.round("total_revenue", 2).alias("total_revenue")
        )
    )


# ---------------------------------------------------------------------------
# q16: supplier count by part attrs (TPC-H Q16 shape — NOT IN + distinct agg)
# ---------------------------------------------------------------------------

_Q16 = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) psl, part
WHERE p_partkey = l_partkey
  AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


@register("q16_supplier_part_count", oracle=_Q16)
def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a never-null key -> left_anti join (the idiomatic and
    null-safe Spark rewrite). The supply relation is the distinct
    (partkey, suppkey) projection of lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    bad_supp = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    psl = li.select("l_partkey", "l_suppkey").distinct()
    return (
        psl.join(bad_supp, psl.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(part, psl.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q17: small-quantity-order revenue (TPC-H Q17 shape — correlated AVG)
# ---------------------------------------------------------------------------

_Q17 = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand = 'Brand#3'
  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


@register("q17_small_qty_revenue", oracle=_Q17)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated AVG -> one per-part aggregate joined back (the classic
    decorrelation). Restricting lineitem to Brand#3 parts BEFORE the avg
    is safe because the correlation key is the part itself."""
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_brand") == "Brand#3"
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").join(
        part, F.col("l_partkey") == F.col("p_partkey")
    )
    thr = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(thr, F.col("l_partkey") == F.col("t_partkey"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# q18: large-volume customers (TPC-H Q18 shape — having over grouped join)
# ---------------------------------------------------------------------------

_Q18 = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS o_totalprice,
       round(sum(l_quantity), 2) AS total_qty
FROM customer, orders, lineitem
WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
HAVING sum(l_quantity) > 300
"""


@register("q18_large_volume_customer", oracle=_Q18)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .where(F.col("raw_qty") > 300)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("raw_qty", 2).alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# q19: disjunctive predicate revenue (TPC-H Q19 shape)
# ---------------------------------------------------------------------------

_Q19 = """
-- exact integer 1e-4 accumulation, same rationale as q3/q9: under the
-- r8 3%-NULL-rate probe (seed 18) the double sum straddled a .005
-- midpoint differently per engine; int64 addition is order-free
SELECT floor((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                       AS BIGINT)) + 50) / 100) / 100 AS revenue
FROM lineitem, part
WHERE p_partkey = l_partkey AND (
   (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
    AND l_quantity BETWEEN 1 AND 11)
OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
    AND l_quantity BETWEEN 10 AND 20)
OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
    AND l_quantity BETWEEN 20 AND 30))
"""


@register("q19_disjunctive_revenue", oracle=_Q19)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")

    def bundle(brand: str, max_size: int, qlo: int, qhi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, max_size)
            & F.col("l_quantity").between(qlo, qhi)
        )

    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(
            bundle("Brand#1", 15, 1, 11)
            | bundle("Brand#2", 25, 10, 20)
            | bundle("Brand#3", 35, 20, 30)
        )
        .agg(_exact_money_sum(revenue()).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# q20: potential part promotion (TPC-H Q20 shape — nested IN -> semi join)
# ---------------------------------------------------------------------------

_Q20 = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem, part
  WHERE l_partkey = p_partkey AND p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey HAVING sum(l_quantity) > 350)
"""


@register("q20_promotion_suppliers", oracle=_Q20)
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").where(
        during("l_shipdate", "1997-01-01", "1998-01-01")
    )
    qualified = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 350)
        .select("l_suppkey")
    )
    return supplier.join(
        qualified, supplier.s_suppkey == qualified.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


# ---------------------------------------------------------------------------
# q21: suppliers who kept orders waiting (TPC-H Q21 shape — EXISTS+NOT EXISTS)
# ---------------------------------------------------------------------------

_Q21 = """
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
"""


@register("q21_waiting_suppliers", oracle=_Q21)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS -> left_semi, NOT EXISTS -> left_anti, both hashing on
    l_orderkey with the inequality residuals evaluated in the join;
    the sole shuffles are the o⋈l join and the two orderkey-keyed
    semi/anti probes (AQE coalesces them at runtime)."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    base = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(_late("l_shipdate", 60))
    )
    l2 = li.select(
        F.col("l_orderkey").alias("lo2"), F.col("l_suppkey").alias("ls2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("lo3"),
        F.col("l_suppkey").alias("ls3"),
        F.col("l_shipdate").alias("sd3"),
    )
    waiting = base.join(
        l2,
        (F.col("lo2") == F.col("l_orderkey")) & (F.col("ls2") != F.col("l_suppkey")),
        "left_semi",
    ).join(
        l3,
        (F.col("lo3") == F.col("l_orderkey"))
        & (F.col("ls3") != F.col("l_suppkey"))
        & _late("sd3", 60),
        "left_anti",
    )
    return (
        waiting.join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# q22: global sales opportunity (TPC-H Q22 shape — AVG scalar + NOT EXISTS)
# ---------------------------------------------------------------------------

_Q22 = """
WITH pot AS (
  SELECT c_custkey, c_acctbal, CAST(c_nationkey % 10 AS INTEGER) AS cntrycode
  FROM customer
  WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5)
    AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                     WHERE c_acctbal > 0 AND c_nationkey % 10 IN (1, 2, 3, 4, 5)))
SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM pot
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY cntrycode
"""


@register("q22_sales_opportunity", oracle=_Q22)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    code = (F.col("c_nationkey") % 10).alias("cntrycode")
    in_codes = (F.col("c_nationkey") % 10).isin(1, 2, 3, 4, 5)
    avg_bal = customer.where(in_codes & (F.col("c_acctbal") > 0)).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    pot = (
        customer.where(in_codes)
        .join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_acctbal", code)
    )
    recent = orders.where(during("o_orderdate", "2000-01-01")).select("o_custkey")
    return (
        pot.join(recent, pot.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )
