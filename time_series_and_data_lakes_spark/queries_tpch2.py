"""Second TPC-H query-shape pack: join-topology patterns the first pack does
not cover — multi-dim double-broadcast joins (Q7), outer-join count
distributions (Q13), view + scalar-max selection (Q15), anti-join + COUNT
DISTINCT grouping (Q16), disjunctive mixed-side predicates (Q19), and the
double-correlated EXISTS / NOT EXISTS shape (Q21).

These are engine extensions beyond the reference surface (SURVEY.md §2.3/§2.4
note the reference has only two tiny-dim equi joins, `README.md:411-444`); the
driver testdata is a trimmed TPC-H (no partsupp / l_shipmode / l_commitdate /
l_receiptdate), so each query keeps the canonical plan topology while adapting
the predicates to the columns that exist (TESTDATA.md).

Every aggregate is summed in exact DECIMAL and cast to string so hashes are
engine-order-independent; every computed column carries the same alias in the
Spark program and the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from time_series_and_data_lakes_spark.queries import load

    return load(spark, sf_dir, name)


def _rev():
    return (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )


_REV_SQL = "CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))"


# --------------------------------------------------------------------------
# Q7 — volume shipped between two nations, by direction and year.
# --------------------------------------------------------------------------


def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue flowing between two nations in either
    direction, per shipping year. The two fact joins (lineitem⋈orders on the
    order key, then ⋈customer / ⋈supplier on their keys) shuffle; the nation
    dim is broadcast TWICE under different roles (supplier-side and
    customer-side), so no exchange is added by the 4-way dim resolution. The
    direction filter is applied after both broadcasts as a residual OR of
    conjunctions — it cannot be pushed below the joins because it references
    both sides."""
    li = _load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _load(spark, sf_dir, "orders")
    customer = _load(spark, sf_dir, "customer")
    supplier = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    n_supp = nation.select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    n_cust = nation.select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n_supp), supplier.s_nationkey == F.col("_sn_key"))
        .join(F.broadcast(n_cust), customer.c_nationkey == F.col("_cn_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum(_rev()).alias("_vol"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            F.col("_vol").cast("string").alias("volume"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


TPCH_Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year, CAST(sum(rev) AS VARCHAR) AS volume
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year, {_REV_SQL} AS rev
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --------------------------------------------------------------------------
# Q13 — customer distribution by order count (zero-order customers included).
# --------------------------------------------------------------------------


def tpch_q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed exactly N qualifying
    orders, INCLUDING the zero-order customers — which forces a LEFT OUTER
    join with the qualification predicate inside the join condition (in a
    WHERE clause it would silently drop the NULL-extended rows and turn the
    join inner). Orders pre-aggregate to one row per customer before the
    outer join, so the exchange carries |customers| rows, not |orders|; the
    second aggregation on the count is a near-free ~K-row shuffle."""
    customer = _load(spark, sf_dir, "customer")
    # count(o_orderkey), not count(*): the oracle's outer-join form counts
    # non-null order keys, so a NULL-orderkey row that matches on custkey
    # must contribute 0 on both engines.
    per_cust = (
        _load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .groupBy("o_custkey")
        .agg(F.count("o_orderkey").alias("_n"))
    )
    # GROUP BY c_custkey, not one row per customer row: SQL GROUP BY treats
    # NULLs as equal, so all NULL-custkey customers collapse into ONE
    # zero-order group in the oracle (r9 sweep find). sum(_n) re-derives the
    # group's count(o_orderkey) — null joins contribute NULL, which sum
    # skips — and reuses the join's custkey partitioning (no extra shuffle).
    return (
        customer.join(per_cust, customer.c_custkey == per_cust.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.coalesce(F.sum("_n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


TPCH_Q13_ORACLE = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --------------------------------------------------------------------------
# Q15 — top supplier(s) by quarterly revenue (view + scalar-max selection).
# --------------------------------------------------------------------------


def tpch_q15_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: an aggregated revenue view reused twice — once to
    compute the global max and once to select the supplier(s) attaining it.
    Naively (scalar subquery joined back) the view is recomputed and the
    fact is SCANNED TWICE; the engine instead takes the max as a window
    over the already-aggregated view — the fact is scanned once, and the
    window pass moves only the ~|suppliers|-row aggregate through one
    single-partition exchange (the right trade at 100 TB: |suppliers| ≪
    |lineitem|). The plan gate asserts exactly one lineitem scan. Revenue
    compares in exact DECIMAL, so ties and the max are engine-exact."""
    revenue_view = (
        _load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_rev()).alias("_total"))
    )
    # Empty partitionBy is deliberate: the relation is post-aggregation tiny.
    top = revenue_view.withColumn(
        "_max_total", F.max("_total").over(Window.partitionBy())
    ).filter(F.col("_total") == F.col("_max_total"))
    supplier = _load(spark, sf_dir, "supplier")
    return (
        top.join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("_total").cast("string").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


TPCH_Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey, sum({_REV_SQL}) AS total
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total AS VARCHAR) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total = (SELECT max(total) FROM revenue)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# Q16 — supplier count per part group, excluding flagged suppliers (NOT IN).
# --------------------------------------------------------------------------


def tpch_q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    part group, excluding a NOT-IN set of flagged suppliers. The part→
    supplier link is the distinct (l_partkey, l_suppkey) projection of
    lineitem (the trimmed testdata has no partsupp; TESTDATA.md) — the
    distinct is a map-side partial on the narrowest possible projection.
    NOT IN compiles to a broadcast LEFT ANTI join against the (tiny) flagged
    set; the part qualification filters before its join. COUNT(DISTINCT
    l_suppkey) per group runs as Spark's two-phase distinct-aggregate
    expand, keyed on the group columns.

    NULL-suppkey links are excluded EXPLICITLY on both engines: SQL NOT IN
    drops them via three-valued logic whenever the flagged set is
    non-empty, while a plain anti join always keeps them (they could mint
    phantom zero-count groups); the unconditional filter makes the two
    agree in every world — a null link can never contribute to
    supplier_cnt regardless.

    A NULL key inside the FLAGGED set is the dual hazard (r9 sweep find):
    ``x NOT IN (set with NULL)`` is UNKNOWN for every x, emptying the SQL
    result, while a plain equality anti join ignores the null row. The
    anti-join condition therefore carries ``OR s_suppkey IS NULL`` — the
    same null-aware anti-join rewrite Spark's planner applies to the SQL
    form: one flagged NULL matches (and drops) every link row."""
    flagged = (
        _load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    link = (
        _load(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey").isNotNull())
        .select("l_partkey", "l_suppkey")
        .distinct()
        .join(
            F.broadcast(flagged),
            (F.col("l_suppkey") == F.col("s_suppkey")) | F.col("s_suppkey").isNull(),
            "left_anti",
        )
    )
    part = _load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    return (
        part.join(link, part.p_partkey == link.l_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


TPCH_Q16_ORACLE = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_suppkey IS NOT NULL) link
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --------------------------------------------------------------------------
# Q19 — disjunctive mixed-side predicates (OR of brand/size/quantity bands).
# --------------------------------------------------------------------------


def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three OR-ed brand/size/quantity bands.
    The predicate mixes columns of both join sides inside each conjunct, so
    it cannot move below the join as-is — but Catalyst derives the per-side
    disjunctive envelopes (p_brand IN (…) ∧ p_size ≤ 15 on the part scan;
    l_quantity BETWEEN 1 AND 30 on the lineitem scan) and pushes those into
    the parquet scans, leaving the exact OR as a post-join residual. The
    plan gate in tests/test_plans.py asserts both pushdowns."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    band = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & qty.between(20, 30))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(band)
        .agg(
            F.sum(_rev()).cast("string").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


TPCH_Q19_ORACLE = f"""
SELECT CAST(sum({_REV_SQL}) AS VARCHAR) AS revenue, count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


# --------------------------------------------------------------------------
# Q21 — suppliers who were the sole late shipper on multi-supplier orders.
# --------------------------------------------------------------------------


def tpch_q21_sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: for finished orders served by MORE than one supplier
    where EXACTLY one supplier shipped late, count that supplier's late
    lines. Lateness is l_shipdate > o_orderdate + 90 days (the trimmed
    schema has no commit/receipt dates). The canonical form is a
    double-correlated EXISTS + NOT EXISTS over lineitem (see the oracle);
    the engine decorrelates BOTH into a two-level aggregation over the
    order key: level 1 collapses the fact to (order, supplier) groups with
    a late-line count; level 2 derives the distinct-supplier count (EXISTS
    ⟺ > 1), distinct late suppliers (NOT EXISTS ⟺ exactly 1), the argmax
    late supplier, and its late-line count — one fact pass instead of two
    correlated self-joins. Stacked exact aggregates, NOT count-DISTINCTs:
    RewriteDistinctAggregates would Expand the joined fact 3× and number
    its gid branches nondeterministically (the plan fingerprint flipped
    run-to-run — r10 find); this shape plans deterministically."""
    orders_f = _load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _load(spark, sf_dir, "lineitem")
    j = li.join(orders_f, li.l_orderkey == orders_f.o_orderkey).withColumn(
        "_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
    )
    per_ps = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("_late"), 1).otherwise(0)).alias("_late_ln")
    )
    # NULL-suppkey late lines never join supplier in the oracle's l1 pass
    # (nor block its NOT EXISTS — <> is UNKNOWN), so the NULL group is
    # excluded from every aggregate below.
    nn = F.col("l_suppkey").isNotNull()
    per_order = per_ps.groupBy("l_orderkey").agg(
        F.count(F.when(nn, 1)).alias("_n_supp"),
        F.count(F.when(nn & (F.col("_late_ln") > 0), 1)).alias("_n_late"),
        F.max(F.when(F.col("_late_ln") > 0, F.col("l_suppkey"))).alias("_late_supp"),
        F.sum(F.when(nn, F.col("_late_ln")).otherwise(0)).alias("_late_lines"),
    )
    supplier = _load(spark, sf_dir, "supplier")
    return (
        per_order.filter((F.col("_n_supp") > 1) & (F.col("_n_late") == 1))
        .join(supplier, F.col("_late_supp") == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("_late_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc_nulls_last("s_name"))
        .limit(100)
    )


TPCH_Q21_ORACLE = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# --------------------------------------------------------------------------
# Q8 — national market share within a region's market.
# --------------------------------------------------------------------------


def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's revenue for one part
    type, per order year. Topology: two fact shuffles (lineitem⋈orders on
    the order key, ⋈customer on the cust key); every dim resolves by
    broadcast — part is filtered to one type BEFORE the join (partition
    pruning of the pair space), region⋈nation pre-joins to the Asian nation
    keys, and the supplier-side nation is a second broadcast under a
    different role (as in Q7). The share is a conditional-aggregate ratio
    (as in Q14): numerator and denominator summed exactly in DECIMAL in the
    same pass, divided once in double."""
    part = (
        _load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    orders = _load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    region = _load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _load(spark, sf_dir, "nation")
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("_an_key"))
    n_supp = nation.select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    li = _load(spark, sf_dir, "lineitem")
    customer = _load(spark, sf_dir, "customer")
    supplier = _load(spark, sf_dir, "supplier")
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(asia_nations), customer.c_nationkey == F.col("_an_key"))
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n_supp), supplier.s_nationkey == F.col("_sn_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_1", _rev()).otherwise(zero)
            ).alias("_num"),
            F.sum(_rev()).alias("_den"),
        )
        .select(
            "o_year",
            (F.col("_num").cast("double") / F.col("_den").cast("double")).alias(
                "mkt_share"
            ),
            F.col("_den").cast("string").alias("total_volume"),
        )
        .orderBy("o_year")
    )


TPCH_Q8_ORACLE = f"""
SELECT o_year,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS mkt_share,
       CAST(den AS VARCHAR) AS total_volume
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         sum(CASE WHEN n1.n_name = 'NATION_1' THEN {_REV_SQL}
                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS num,
         sum({_REV_SQL}) AS den
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region   ON n2.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  WHERE p_type = 'PROMO' AND r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate <  TIMESTAMP '1997-01-01'
  GROUP BY o_year
)
ORDER BY o_year
"""


# --------------------------------------------------------------------------
# Q9 — profit by supplier nation and order year.
# --------------------------------------------------------------------------


def tpch_q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit per supplier nation per year.
    The testdata has no partsupp, so supply cost is proxied as 10% of
    ``p_retailprice`` per unit (same join topology: the part dim filtered by
    a name predicate joins INTO the fact before dims resolve). Profit is one
    double expression tree per row cast once to DECIMAL (exact, order-free
    sums), then aggregated per (nation, year)."""
    part = (
        _load(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey", "p_retailprice")
    )
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    supplier = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.col("p_retailprice") * F.lit(0.1) * F.col("l_quantity")
    ).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(
            F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("nation"))),
            supplier.s_nationkey == F.col("n_nationkey"),
        )
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("nation", "o_year")
        .agg(F.sum(profit).alias("_p"))
        .select("nation", "o_year", F.col("_p").cast("string").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


TPCH_Q9_ORACLE = """
SELECT nation, o_year, CAST(sum(profit) AS VARCHAR) AS sum_profit
FROM (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice * (1.0 - l_discount)
              - p_retailprice * 0.1 * l_quantity AS DECIMAL(18,4)) AS profit
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%'
)
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated per-part average).
# --------------------------------------------------------------------------


def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders of less than 20% of a part's
    average quantity, for one brand. The correlated scalar subquery
    ``avg(l_quantity) per part`` is decorrelated into window aggregates over
    ONE l_partkey exchange (sum + count per part), and the 20%-of-average
    comparison is cross-multiplied into exact integer/decimal space
    (``5 · n · qty < Σqty``) so no engine ever divides — bit-exact and
    div-by-zero-free. The brand dim filter is broadcast into the fact scan
    before the exchange."""
    part = (
        _load(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li = _load(spark, sf_dir, "lineitem")
    qty_dec = F.col("l_quantity").cast("decimal(12,2)")
    w = Window.partitionBy("l_partkey")
    flagged = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .withColumn("_sum_qty", F.sum(qty_dec).over(w))
        .withColumn("_n_qty", F.count(F.lit(1)).over(w))
        .filter(qty_dec * 5 * F.col("_n_qty") < F.col("_sum_qty"))
    )
    return flagged.agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("string")
        .alias("total_revenue"),
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
            / F.lit(7.0)
        ).alias("avg_yearly"),
    )


TPCH_Q17_ORACLE = """
SELECT CAST(sum(ext) AS VARCHAR) AS total_revenue,
       CAST(sum(ext) AS DOUBLE) / 7.0 AS avg_yearly
FROM (
  SELECT CAST(l_extendedprice AS DECIMAL(18,4)) AS ext
  FROM (
    SELECT l_extendedprice, CAST(l_quantity AS DECIMAL(12,2)) AS qty,
           sum(CAST(l_quantity AS DECIMAL(12,2)))
             OVER (PARTITION BY l_partkey) AS sum_qty,
           count(*) OVER (PARTITION BY l_partkey) AS n_qty
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#1'
  )
  WHERE qty * 5 * n_qty < sum_qty
)
"""


# --------------------------------------------------------------------------
# Q2 — min-cost supplier per part (correlated scalar-min selection).
# --------------------------------------------------------------------------


def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each part in a filtered family, the supplier(s)
    offering the minimum cost, with supplier/nation detail. The canonical
    form correlates a scalar MIN subquery over partsupp per outer part;
    with no partsupp table the (part, supplier) cost relation is derived
    from lineitem (min observed price per pair — one fact aggregation).

    The decorrelation is the Q15 trick one level down: instead of
    re-evaluating the min per part (second fact pass), take the min as a
    window over the already-aggregated pair relation — the window moves
    only |part×supp within the filtered family| rows through one hash
    exchange. Dims broadcast; one lineitem scan total. Cost compares in
    exact DECIMAL, so ties survive cross-engine."""
    pairs = (
        _load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice").cast("decimal(18,4)")).alias("supply_cost"))
    )
    part = _load(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") == 15)
    )
    family = pairs.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    w = Window.partitionBy("l_partkey")
    cheapest = family.withColumn(
        "_min_cost", F.min("supply_cost").over(w)
    ).filter(F.col("supply_cost") == F.col("_min_cost"))
    supplier = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    return (
        cheapest.join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.col("supply_cost").cast("string").alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), F.asc_nulls_last("s_name"), "p_partkey")
        .limit(20)
    )


TPCH_Q2_ORACLE = """
WITH pairs AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(l_extendedprice AS DECIMAL(18,4))) AS supply_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
), family AS (
  SELECT pairs.*, p_partkey, p_type,
         min(supply_cost) OVER (PARTITION BY l_partkey) AS min_cost
  FROM pairs JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'ECONOMY' AND p_size = 15
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       CAST(supply_cost AS VARCHAR) AS supply_cost
FROM family
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE supply_cost = min_cost
ORDER BY s_acctbal DESC, s_name, p_partkey
LIMIT 20
"""


# --------------------------------------------------------------------------
# Q11 — important stock: per-part value above a global-share threshold.
# --------------------------------------------------------------------------


def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value restricted to one nation's
    suppliers, kept when the part's value exceeds a fraction of the
    nation-wide total (HAVING vs a global scalar). A naive scalar subquery
    references the per-part aggregation twice — Spark's static plan then
    scans the fact once per reference — so the global total is taken as an
    empty-partition window over the already-aggregated relation instead
    (the Q15 decorrelation one level up): ONE lineitem scan, and only the
    ~|parts|-row aggregate crosses the single-partition window exchange.
    The share test multiplies instead of divides (value * 1000 > total):
    exact DECIMAL on both sides, no float division drift, no ANSI
    div-by-zero guard needed."""
    supplier = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    nat_suppliers = supplier.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    value = (
        _load(spark, sf_dir, "lineitem")
        .join(F.broadcast(nat_suppliers), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_rev()).alias("value"))
    )
    return (
        value.withColumn("_total", F.sum("value").over(Window.partitionBy()))
        .filter(F.col("value") * 1000 > F.col("_total"))
        .orderBy(F.desc("value"), "l_partkey")
        .select("l_partkey", F.col("value").cast("string").alias("value"))
    )


TPCH_Q11_ORACLE = f"""
WITH value AS (
  SELECT l_partkey, sum({_REV_SQL}) AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
)
SELECT v.l_partkey, CAST(v.value AS VARCHAR) AS value
FROM value v
WHERE v.value * 1000 > (SELECT sum(value) FROM value)
ORDER BY v.value DESC, v.l_partkey
"""


# --------------------------------------------------------------------------
# Q12 — priority counts per line status (two-tier CASE aggregation).
# --------------------------------------------------------------------------


def tpch_q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: order-priority counts per shipping class over a
    date-bounded join (the testdata has no l_shipmode/commitdate, so
    l_linestatus stands in as the class and the date band applies to
    l_shipdate). Counts are CASE-conditional SUMs folded into ONE partial
    aggregation: the orders join carries only (orderkey, priority), the
    date filter pushes to the lineitem scan, and the exchange moves
    |classes| rows per task."""
    line = _load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    orders = _load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        line.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


TPCH_Q12_ORACLE = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <  TIMESTAMP '1996-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# --------------------------------------------------------------------------
# Q20 — suppliers shipping the majority of a part family (nested share
# semi-join).
# --------------------------------------------------------------------------


def tpch_q20_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers qualified by a correlated quantity
    threshold inside a nested IN. Canonically ps_availqty is compared to
    half the pair's shipped quantity; without partsupp the test becomes
    "ships an outsized share (>1/8) of the part family's total" — same
    topology: an inner
    two-level aggregation (per pair, then per part via a window) feeding a
    distinct supplier set that SEMI-joins supplier. The share test is
    8·pair_qty > part_qty in exact DECIMAL (multiplication, not division).
    One fact scan; the part-name filter broadcasts into it."""
    red_parts = _load(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("red")
    ).select("p_partkey")
    pair_qty = (
        _load(spark, sf_dir, "lineitem")
        .join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("pair_qty"))
    )
    w = Window.partitionBy("l_partkey")
    majority = (
        pair_qty.withColumn("part_qty", F.sum("pair_qty").over(w))
        .filter(F.col("pair_qty") * 8 > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    supplier = _load(spark, sf_dir, "supplier")
    return (
        supplier.join(majority, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


TPCH_Q20_ORACLE = """
WITH pair AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS pair_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
  GROUP BY l_partkey, l_suppkey
), majority AS (
  SELECT DISTINCT l_suppkey FROM (
    SELECT l_suppkey, pair_qty,
           sum(pair_qty) OVER (PARTITION BY l_partkey) AS part_qty
    FROM pair
  ) WHERE pair_qty * 8 > part_qty
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM majority)
ORDER BY s_suppkey
"""


# Single source of truth: (name, program, oracle) — the paired-dict form
# this replaces let a query be registered without its oracle twin.
_CATALOG: list[tuple[str, Callable[[SparkSession, str], DataFrame], str]] = [
    ("tpch_q7_nation_volume", tpch_q7_nation_volume, TPCH_Q7_ORACLE),
    ("tpch_q13_order_count_distribution", tpch_q13_order_count_distribution, TPCH_Q13_ORACLE),
    ("tpch_q15_top_supplier_revenue", tpch_q15_top_supplier_revenue, TPCH_Q15_ORACLE),
    ("tpch_q16_supplier_count", tpch_q16_supplier_count, TPCH_Q16_ORACLE),
    ("tpch_q19_disjunctive_revenue", tpch_q19_disjunctive_revenue, TPCH_Q19_ORACLE),
    ("tpch_q21_sole_late_suppliers", tpch_q21_sole_late_suppliers, TPCH_Q21_ORACLE),
    ("tpch_q8_market_share", tpch_q8_market_share, TPCH_Q8_ORACLE),
    ("tpch_q9_profit_by_nation", tpch_q9_profit_by_nation, TPCH_Q9_ORACLE),
    ("tpch_q17_small_quantity_revenue", tpch_q17_small_quantity_revenue, TPCH_Q17_ORACLE),
    ("tpch_q2_min_cost_supplier", tpch_q2_min_cost_supplier, TPCH_Q2_ORACLE),
    ("tpch_q11_important_parts", tpch_q11_important_parts, TPCH_Q11_ORACLE),
    ("tpch_q12_priority_by_status", tpch_q12_priority_by_status, TPCH_Q12_ORACLE),
    ("tpch_q20_excess_share_suppliers", tpch_q20_excess_share_suppliers, TPCH_Q20_ORACLE),
]

TPCH2_QUERIES = {n: f for n, f, _ in _CATALOG}
TPCH2_ORACLES = {n: s for n, _, s in _CATALOG}
