"""Flagship query: per-group photometry-summary analog on the driver tables.

Shape mirrors the reference's per-image-set diagnostics — counts and robust
stats over grouped detections (reference p_io.py:139-143 over the group loop
psf_phot.py:44) — expressed as one declarative plan over
lineitem ⋈ orders ⋈ customer: scan → filter → join → group agg → sort.

Scale notes: the two joins are on the natural keys; Catalyst plans
lineitem⋈orders as a shuffle join on orderkey and customer as a broadcast
(150·sf rows ≪ threshold). Filters on l_shipdate / o_orderdate are pushed
into the parquet scans. Aggregation is partial (map-side) then final —
the only full shuffle carries ~|groups| rows.

Determinism: every monetary/quantity aggregate sums EXACT integer
centi/1e-4 units (the data's intrinsic 2-decimal precision), so sums
and averages are exact and independent of partial-aggregation merge
order — which is what lets the fact scan spread across cores
(load_table(spread=True)) without exposing float addition order to the
oracle hash. The q_agg_salted precedent, promoted to the flagship
(r14: integer lanes replaced the DECIMAL lanes — same exactness, 9%
faster; headroom analysis at the aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import query

_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                                                       AS sum_disc_price,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        / COUNT(*), 6)                                 AS avg_qty,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        / COUNT(*), 6)                                 AS avg_order_price,
  COUNT(*)                                             AS n_rows,
  COUNT(DISTINCT c_custkey)                            AS n_custs
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  AND o_orderdate >= TIMESTAMP '1995-06-01'
GROUP BY l_returnflag, l_linestatus
"""


@query("q_flagship", oracle=_ORACLE)
def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan → filter → join×2 → groupBy agg → sort in one Catalyst plan."""
    lineitem = load_table(spark, sf_dir, "lineitem", spread=True)
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    # r14 (guide §2.3 "narrower types" / §1.2 per-task work): the four
    # monetary/quantity aggregates sum exact INTEGER centi/1e-4 units
    # (BIGINT hash-agg lanes) instead of DECIMAL(18,2)/(38,4) — 9% off
    # the whole query at sf0.1 (1.67 -> 1.51 interleaved min3), output
    # bit-identical (oracle-verified at sf0.001/0.01/0.1). Why exact:
    # the inputs are 2-decimal values, so the centi quantization is
    # lossless; the integer sums are order-free; and a BIGINT sum below
    # 2^53 converts to double with ONE correctly-rounded division,
    # which is precisely what BigDecimal.doubleValue() of the same
    # rational produces. Headroom: sum_disc's 1e-4-unit sum stays under
    # 2^53 through ~8.6e6 lineitems per GROUP, i.e. ~sf14 at TPC-H row
    # scales (the other sums have 100x more headroom). Past 2^53 the
    # conversion to double rounds and the decimal and integer paths can
    # differ in the last ulp, so every sum fails the query by name there
    # instead of diverging silently.
    qc = F.round(F.col("l_quantity") * 100).cast("long")
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    dc = F.round(F.col("l_discount") * 100).cast("long")
    dpc = pc * (100 - dc)  # exact 1e-4 units
    tc = F.round(F.col("o_totalprice") * 100).cast("long")
    n = F.count(F.lit(1))

    def exact_sum(units, name: str):
        s = F.sum(units)
        return F.when(F.abs(s) < 2 ** 53, s).otherwise(F.raise_error(F.lit(
            f"q_flagship: a group's {name} reaches 2^53 integer units, "
            "past which its double differs from the decimal sum")))

    return (
        lineitem
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .join(orders.filter(F.col("o_orderdate") >= F.lit("1995-06-01").cast("timestamp")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (exact_sum(qc, "sum_qty") / 100.0).alias("sum_qty"),
            (exact_sum(pc, "sum_base_price") / 100.0).alias("sum_base_price"),
            (exact_sum(dpc, "sum_disc_price") / 10000.0).alias("sum_disc_price"),
            F.round(exact_sum(qc, "sum_qty") / 100.0 / n, 6).alias("avg_qty"),
            F.round(exact_sum(tc, "o_totalprice sum") / 100.0 / n, 6)
            .alias("avg_order_price"),
            n.alias("n_rows"),
            F.countDistinct("c_custkey").alias("n_custs"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query("q_shipping_priority", oracle="""
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       CAST(o_orderdate AS VARCHAR) AS orderdate_s,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""")
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): the three-way
    customer ⋈ orders ⋈ lineitem with selective filters on BOTH date
    columns and the market segment, revenue per order, top-10 — the
    classic join-ordering workload. Catalyst broadcasts the filtered
    customer dim, the segment and date filters push into all three
    scans, and the top-10 on (revenue desc, orderkey) plans
    TakeOrderedAndProject (per-partition heaps, no global sort).

    Determinism: revenue is an EXACT DECIMAL(38,4) sum cast to double
    once (the flagship rule), and the LIMIT sits on a total order with
    the orderkey tiebreak. Timestamps stringify on both sides (DATE
    canonicalization differs between engines)."""
    c = (load_table(spark, sf_dir, "customer")
         .filter(F.col("c_mktsegment") == "BUILDING"))
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderdate") < "1995-03-15"))
    li = (load_table(spark, sf_dir, "lineitem", spread=True)
          .filter(F.col("l_shipdate") > "1995-03-15"))
    rev = F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(rev.cast("double").alias("revenue"))
            .select("l_orderkey", "revenue",
                    F.col("o_orderdate").cast("string").alias("orderdate_s"),
                    "o_orderpriority")
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10))


# ---------------------------------------------------------------------------
# Small-quantity-order revenue (TPC-H Q17 shape): correlated scalar
# subquery decorrelated into an aggregate + join
# ---------------------------------------------------------------------------

@query("q_small_order_revenue", oracle="""
WITH pf AS (
  SELECT p_partkey FROM part WHERE p_brand = 'Brand#2' AND p_size <= 15
), th AS (
  SELECT l.l_partkey,
         SUM(CAST(ROUND(l.l_quantity * 100) AS BIGINT)) AS qc,
         COUNT(*) AS n
  FROM lineitem l JOIN pf ON l.l_partkey = pf.p_partkey
  GROUP BY l.l_partkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
       ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
             / 100.0 / 7.0, 4) + 0.0 AS avg_yearly
FROM lineitem l
JOIN th ON l.l_partkey = th.l_partkey
WHERE CAST(ROUND(l.l_quantity * 100) AS BIGINT) * th.n * 5 < th.qc
""")
def q_small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked up in unusually small orders —
    lineitems of the filtered part set whose quantity is below 20% of
    that part's average order quantity. The reference workload's
    "correlated scalar subquery" pattern (avg per part, compared
    per row), hand-decorrelated the way Catalyst rewrites it: one
    per-part aggregate, joined back to the fact rows.

    Determinism: quantities are quantized to integer centi-units, so
    the 20%-of-average test is pure integer arithmetic
    (q*100 * n * 5 < sum_q*100 — no float threshold whose last ulp
    could flip a boundary row); revenue sums integer cents.

    Scale: the part filter broadcasts into BOTH lineitem passes
    (predicate reaches the scans), the per-part aggregate is
    map-side combined, and the threshold join is an equi-join on
    l_partkey — the two fact passes share the pushed part filter, so
    each reads only qualifying rows. At 100 TB the second pass can be
    eliminated by a windowed form; the two-scan form keeps every sum
    map-side combined."""
    p = (load_table(spark, sf_dir, "part")
         .filter((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 15))
         .select("p_partkey"))
    li = load_table(spark, sf_dir, "lineitem")
    qc = F.round(F.col("l_quantity") * 100).cast("bigint")
    th = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
          .groupBy("l_partkey")
          .agg(F.sum(qc).alias("qc"), F.count(F.lit(1)).alias("n")))
    fact = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .select("l_partkey", qc.alias("q100"),
                    F.round(F.col("l_extendedprice") * 100).cast("bigint")
                    .alias("price_c")))
    return (fact.join(th, "l_partkey")
            .filter(F.col("q100") * F.col("n") * 5 < F.col("qc"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_small"),
                 (F.round(F.sum("price_c") / 100.0 / 7.0, 4) + 0.0)
                 .alias("avg_yearly")))


# ---------------------------------------------------------------------------
# Sole-late-supplier blame (TPC-H Q21 shape): EXISTS + NOT EXISTS
# decorrelated into one per-order aggregate
# ---------------------------------------------------------------------------

@query("q_late_supplier", oracle="""
WITH l AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
  FROM l GROUP BY 1
), blamed AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM l JOIN per_order p ON p.l_orderkey = l.l_orderkey
  WHERE l.late AND p.n_supp >= 2 AND p.n_late_supp = 1
)
SELECT l_suppkey AS suppkey, CAST(COUNT(*) AS BIGINT) AS numwait
FROM blamed GROUP BY 1
ORDER BY numwait DESC, suppkey LIMIT 20
""")
def q_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    multi-supplier orders (shipped > 90 days after the order date
    while every co-supplier shipped on time) — the textbook
    EXISTS(other supplier) + NOT EXISTS(other late supplier)
    correlated pair. Hand-decorrelated PAST what Catalyst would do
    with the EXISTS form: both existence tests collapse into ONE
    per-order aggregate (distinct suppliers, distinct late
    suppliers), so the fact table is shuffled once on orderkey
    instead of twice more for the semi- and anti-join legs.

    Determinism: integer counts; the top-20 cut is a total order
    (numwait desc, suppkey).

    Scale: one orderkey-partitioned aggregate (map-side partial on
    the distincts), the blame filter re-joins per-order flags to the
    already-partitioned lateness rows, then a suppkey groupBy and a
    TakeOrdered top-20. No self-join of lineitem against itself
    anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    l = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
         .select("l_orderkey", "l_suppkey",
                 (F.col("l_shipdate")
                  > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
                 .alias("late")))
    # r13 (guide §2.3): collapse to DISTINCT (order, supplier) pairs
    # FIRST (max(late) = "late on any line"), so the two per-order
    # distinct counts become a plain count + sum over the deduped
    # pairs — no Expand row-doubling for the dual count_distinct, and
    # the blame leg needs no second distinct. Same algebra: a supplier
    # is late iff any of its lines is late; oracle-verified tri-scale.
    grp = (l.groupBy("l_orderkey", "l_suppkey")
           .agg(F.max("late").alias("late_any")))
    per_order = (grp.groupBy("l_orderkey")
                 .agg(F.count(F.lit(1)).alias("n_supp"),
                      F.sum(F.col("late_any").cast("int"))
                      .alias("n_late_supp")))
    blamed = (grp.filter(F.col("late_any"))
              .join(per_order, "l_orderkey")
              .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
              .select("l_orderkey", "l_suppkey"))
    return (blamed.groupBy(F.col("l_suppkey").alias("suppkey"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
            .orderBy(F.col("numwait").desc(), "suppkey").limit(20))


# ---------------------------------------------------------------------------
# Minimum-cost supplier (TPC-H Q2 shape): correlated MIN subquery
# decorrelated into aggregate + equality join, 4-way dim chain
# ---------------------------------------------------------------------------

@query("q_min_cost_supplier", oracle="""
WITH pf AS (
  SELECT p_partkey, p_name, p_type, p_size FROM part
  WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
), sales AS (
  SELECT l.l_partkey AS pk, l.l_suppkey AS sk,
         CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS price_c
  FROM lineitem l JOIN pf ON l.l_partkey = pf.p_partkey
), minp AS (
  SELECT pk, MIN(price_c) AS min_c FROM sales GROUP BY pk
), winner AS (
  SELECT s.pk, MIN(s.sk) AS sk, ANY_VALUE(m.min_c) AS min_c
  FROM sales s JOIN minp m ON s.pk = m.pk AND s.price_c = m.min_c
  GROUP BY s.pk
)
SELECT w.pk AS p_partkey, p.p_name, w.sk AS s_suppkey,
       n.n_name, r.r_name,
       ROUND(w.min_c / 100.0, 2) + 0.0 AS min_price,
       ROUND(s.s_acctbal, 2) + 0.0 AS s_acctbal
FROM winner w
JOIN pf p ON p.p_partkey = w.pk
JOIN supplier s ON s.s_suppkey = w.sk
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
ORDER BY CAST(ROUND(s.s_acctbal * 100) AS BIGINT) DESC, w.pk
LIMIT 100
""")
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for every part in a
    type/size band, the supplier achieving that part's MINIMUM sale
    price — the classic correlated-MIN subquery, decorrelated into a
    per-part aggregate plus an equality join back, then a 4-deep dim
    chain (supplier -> nation -> region). Top 100 by supplier balance.
    (The driver star schema carries no partsupp table; realized sale
    prices from lineitem stand in for supply cost, same plan shape.)

    Determinism: prices compare as exact centi integers; the winner
    among tied minimum prices is MIN(suppkey); the final ORDER BY
    ranks on the centi-integer balance with the partkey tiebreak.

    Scale: the filtered part set prunes lineitem through the join
    (broadcast dim); the min-price aggregate and the join back both
    key on partkey (one shuffle each side, AQE-coalesced); the dim
    chain is three broadcasts. No correlated per-row subquery ever
    executes — Catalyst sees only joins and aggregates."""
    pf = (load_table(spark, sf_dir, "part")
          .filter((F.col("p_type") == "LARGE")
                  & F.col("p_size").between(10, 20))
          .select("p_partkey", "p_name"))
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    sales = (li.join(F.broadcast(pf), li.l_partkey == pf.p_partkey)
             .select(F.col("l_partkey").alias("pk"),
                     F.col("l_suppkey").alias("sk"),
                     F.round(F.col("l_extendedprice") * 100)
                     .cast("bigint").alias("price_c")))
    minp = sales.groupBy("pk").agg(F.min("price_c").alias("min_c"))
    winner = (sales.join(minp, "pk")
              .filter(F.col("price_c") == F.col("min_c"))
              .groupBy("pk")
              .agg(F.min("sk").alias("sk"), F.first("min_c").alias("min_c")))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (winner
            .join(F.broadcast(pf), winner.pk == pf.p_partkey)
            .join(F.broadcast(s), winner.sk == s.s_suppkey)
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .select(F.col("pk").alias("p_partkey"), "p_name",
                    F.col("sk").alias("s_suppkey"), "n_name", "r_name",
                    (F.round(F.col("min_c") / 100.0, 2) + 0.0)
                    .alias("min_price"),
                    (F.round(F.col("s_acctbal"), 2) + 0.0)
                    .alias("s_acctbal"))
            .orderBy(F.desc(F.round(F.col("s_acctbal") * 100)
                            .cast("bigint")), "p_partkey")
            .limit(100))


# ---------------------------------------------------------------------------
# Order-priority pipeline check (TPC-H Q4 shape): EXISTS as semi-join
# ---------------------------------------------------------------------------

@query("q_priority_pipeline", oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")
def q_priority_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders of one quarter
    that had at least one lineitem shipped more than 30 days after
    the order date, counted by priority — THE canonical EXISTS
    workload. Spark expresses the predicate as a LEFT SEMI join with a
    non-equi residual condition (shipdate vs orderdate + 30 days), so
    each qualifying order counts once no matter how many late lines.

    Scale: the quarter filter pushes into the orders scan; the semi
    join keys on orderkey (the residual evaluates post-match);
    map-side-combined count on the 5-value priority key."""
    o = (load_table(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate") >= "1996-07-01")
                 & (F.col("o_orderdate") < "1996-10-01")))
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > F.date_add(o.o_orderdate, 30)),
        "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
            .orderBy("o_orderpriority"))


# ---------------------------------------------------------------------------
# Customer order-count distribution (TPC-H Q13 shape): outer join with
# a filtered join condition, then a distribution over the counts
# ---------------------------------------------------------------------------

@query("q_order_count_dist", oracle="""
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""")
def q_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): how many customers
    placed how many orders, INCLUDING the zero-order customers — the
    outer-join-with-filtered-ON-condition classic (the filter must sit
    in the JOIN condition, not WHERE, or the zero bucket vanishes),
    followed by a second aggregation over the first's results.

    Scale: both aggregations are map-side combined; the outer join
    keys on custkey; COUNT(o_orderkey) (not COUNT(*)) makes unmatched
    customers count zero on both engines."""
    c = load_table(spark, sf_dir, "customer")
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") != "1-URGENT"))
    per = (c.join(o, o.o_custkey == c.c_custkey, "left")
           .groupBy("c_custkey")
           .agg(F.count("o_orderkey").alias("c_count")))
    return (per.groupBy("c_count")
            .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
            .select(F.col("c_count").cast("long").alias("c_count"),
                    "custdist")
            .orderBy(F.desc("custdist"), F.desc("c_count")))


# ---------------------------------------------------------------------------
# Important-part value concentration (TPC-H Q11 shape): HAVING against
# a scalar fraction of the global total
# ---------------------------------------------------------------------------

@query("q_important_stock", oracle="""
WITH value_per_part AS (
  SELECT l_partkey,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS value_c
  FROM lineitem GROUP BY l_partkey
), total AS (
  SELECT SUM(value_c) AS total_c, COUNT(*) AS np FROM value_per_part
)
SELECT l_partkey AS p_partkey,
       ROUND(value_c / 100.0, 2) + 0.0 AS part_value,
       ROUND(value_c::DOUBLE / total_c, 9) + 0.0 AS share
FROM value_per_part CROSS JOIN total
WHERE value_c * np * 10 > total_c * 15
ORDER BY value_c DESC, l_partkey
LIMIT 100
""")
def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose realized sale
    value exceeds 0.1% of the GLOBAL total — the
    HAVING-against-a-scalar-subquery classic. The TPC-H fixed-share
    cut (0.01% at SF1) does not survive part-count growth, so the
    threshold is RELATIVE: value above 1.5x the average part value —
    a cut that keeps a stable head at any corpus size. The comparison
    is exact integer algebra (value_c * np * 10 > total_c * 15), so
    no float decides membership at the boundary.

    Scale: one map-side-combined aggregate to per-part values; the
    global total is the q_pagerank-style lazy 1-row broadcast (its
    subtree re-aggregates the bounded per-part relation, not the fact
    table); top-100 on the exact centi value plans TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    vpp = (li.groupBy("l_partkey")
           .agg(F.sum(F.round(F.col("l_extendedprice") * 100)
                      .cast("bigint")).alias("value_c")))
    total = F.broadcast(vpp.agg(F.sum("value_c").alias("total_c"),
                                F.count(F.lit(1)).alias("np")))
    return (vpp.crossJoin(total)
            .filter(F.col("value_c") * F.col("np") * 10
                    > F.col("total_c") * 15)
            .select(F.col("l_partkey").cast("long").alias("p_partkey"),
                    (F.round(F.col("value_c") / 100.0, 2) + 0.0)
                    .alias("part_value"),
                    (F.round(F.col("value_c").cast("double")
                             / F.col("total_c"), 9) + 0.0).alias("share"))
            .orderBy(F.desc(F.round(F.col("part_value") * 100)
                            .cast("bigint")), "p_partkey")
            .limit(100))


# ---------------------------------------------------------------------------
# Large-volume customers (TPC-H Q18 shape): HAVING sum > threshold,
# join back through orders to customers
# ---------------------------------------------------------------------------

@query("q_large_volume_cust", oracle="""
WITH big AS (
  SELECT l_orderkey,
         SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS qty_c
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 25000
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       CAST(o.o_orderdate AS VARCHAR) AS orderdate_s,
       ROUND(o.o_totalprice, 2) + 0.0 AS totalprice,
       ROUND(b.qty_c / 100.0, 2) + 0.0 AS total_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY CAST(ROUND(o.o_totalprice * 100) AS BIGINT) DESC, o.o_orderkey
LIMIT 100
""")
def q_large_volume_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    quantity exceeds the threshold (a HAVING over the fact aggregate),
    joined back through orders to the customers who placed them —
    the group-then-rejoin pattern every "whales report" uses. Top 100
    by order value.

    Determinism: quantities sum as exact centi integers; the HAVING
    boundary is integer; the ranking key is the centi-integer total
    price with the orderkey tiebreak.

    Scale: the fact aggregate is map-side combined on orderkey; the
    HAVING prunes to a tiny order set BEFORE the joins, which then
    broadcast-probe orders/customer."""
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(F.round(F.col("l_quantity") * 100).cast("bigint"))
                .alias("qty_c"))
           .filter(F.col("qty_c") > 25000))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (big.join(o, o.o_orderkey == big.l_orderkey)
            .join(c, c.c_custkey == o.o_custkey)
            .select("c_custkey", "c_name", "o_orderkey",
                    F.col("o_orderdate").cast("string").alias("orderdate_s"),
                    (F.round(F.col("o_totalprice"), 2) + 0.0)
                    .alias("totalprice"),
                    (F.round(F.col("qty_c") / 100.0, 2) + 0.0)
                    .alias("total_qty"))
            .orderBy(F.desc(F.round(F.col("totalprice") * 100)
                            .cast("bigint")), "o_orderkey")
            .limit(100))


# ---------------------------------------------------------------------------
# Dormant high-balance customers (TPC-H Q22 shape): anti-join plus a
# scalar-subquery threshold
# ---------------------------------------------------------------------------

@query("q_sales_opportunity", oracle="""
WITH avg_bal AS (
  SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
), rich_idle AS (
  SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
  FROM customer c CROSS JOIN avg_bal
  WHERE c.c_acctbal > ab
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
)
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0, 2)
         + 0.0 AS totacctbal
FROM rich_idle JOIN nation n ON n.n_nationkey = c_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
""")
def q_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average positive balances who placed NO order in the recent
    window, grouped by nation — the anti-join + scalar-subquery
    combination (NOT EXISTS against a date-filtered fact, threshold
    from a 1-row aggregate).

    Determinism: the average-balance threshold is one shared double
    (both engines average the identical doubles — the comparison is
    strict, and balances are 2-decimal values, so no boundary tie);
    per-nation totals sum exact centi integers.

    Scale: the anti-join keys on custkey with the date filter pushed
    into the orders scan; the threshold is a lazy 1-row broadcast;
    the nation dim broadcasts; final aggregate is 25 keys."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = F.broadcast(
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("ab")))
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderdate") >= "2000-01-01"))
    n = load_table(spark, sf_dir, "nation")
    rich_idle = (c.crossJoin(avg_bal)
                 .filter(F.col("c_acctbal") > F.col("ab"))
                 .join(o, o.o_custkey == c.c_custkey, "left_anti"))
    return (rich_idle.join(F.broadcast(n),
                           F.col("c_nationkey") == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).cast("long").alias("numcust"),
                 (F.round(F.sum(F.round(F.col("c_acctbal") * 100)
                                .cast("bigint")) / 100.0, 2) + 0.0)
                 .alias("totacctbal"))
            .orderBy("n_name"))


# ---------------------------------------------------------------------------
# Top supplier by revenue (TPC-H Q15 shape): view + MAX-equality scalar
# ---------------------------------------------------------------------------

@query("q_top_supplier", oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
                  AS BIGINT)) AS total_c
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
), mx AS (
  SELECT MAX(total_c) AS m FROM revenue
)
SELECT s.s_suppkey, s.s_name, n.n_name,
       ROUND(r.total_c / 10000.0, 4) + 0.0 AS total_revenue
FROM revenue r
JOIN mx ON r.total_c = mx.m
JOIN supplier s ON s.s_suppkey = r.supplier_no
JOIN nation n ON n.n_nationkey = s.s_nationkey
ORDER BY s.s_suppkey
""")
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the quarter's revenue view per
    supplier, then the supplier(s) whose revenue EQUALS the global
    maximum — the view + MAX-equality-scalar classic (ties all
    surface, unlike a LIMIT 1). Joined out to supplier and nation
    dims.

    Determinism: revenue aggregates as exact 1e-4-unit integers
    (price * (1 - discount) products at their intrinsic precision),
    so the MAX equality is an integer comparison — no float decides
    the winner.

    Scale: the date filter pushes into the fact scan; one map-side
    combined aggregate; the max is a lazy 1-row broadcast probing the
    bounded revenue view; dims broadcast."""
    li = (load_table(spark, sf_dir, "lineitem", spread=True)
          .filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1996-04-01")))
    revenue = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
               .agg(F.sum(F.round(F.col("l_extendedprice")
                                  * (1 - F.col("l_discount")) * 10000)
                          .cast("bigint")).alias("total_c")))
    mx = F.broadcast(revenue.agg(F.max("total_c").alias("m")))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (revenue.join(mx, F.col("total_c") == F.col("m"))
            .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .select("s_suppkey", "s_name", "n_name",
                    (F.round(F.col("total_c") / 10000.0, 4) + 0.0)
                    .alias("total_revenue"))
            .orderBy("s_suppkey"))


# ---------------------------------------------------------------------------
# Supplier variety per part attribute (TPC-H Q16 shape): NOT IN +
# COUNT(DISTINCT)
# ---------------------------------------------------------------------------

@query("q_supplier_variety", oracle="""
WITH bad AS (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
)
SELECT p.p_brand, p.p_type,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size BETWEEN 1 AND 15
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM bad)
GROUP BY p.p_brand, p.p_type
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type
""")
def q_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many DISTINCT
    acceptable suppliers ship each (brand, type) family — the NOT IN
    subquery + COUNT(DISTINCT) classic. The exclusion set here is
    suppliers in arrears (negative balance; the driver schema carries
    no comment column for the original complaint predicate — same
    plan shape).

    Scale: NOT IN over a non-null key column plans as a LEFT ANTI
    broadcast join (no null-aware cross); the size filter prunes part
    before its broadcast; COUNT(DISTINCT suppkey) expands to the
    standard two-level aggregate, both levels map-side combined."""
    bad = (load_table(spark, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < 0).select("s_suppkey"))
    p = (load_table(spark, sf_dir, "part")
         .filter(F.col("p_size").between(1, 15))
         .select("p_partkey", "p_brand", "p_type"))
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    return (li.join(F.broadcast(bad),
                    li.l_suppkey == bad.s_suppkey, "left_anti")
            .join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .groupBy("p_brand", "p_type")
            .agg(F.countDistinct("l_suppkey").cast("long")
                 .alias("supplier_cnt"))
            .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type"))


# ---------------------------------------------------------------------------
# Cross-nation shipping volume (TPC-H Q7 shape): 6-way join, nation
# pair filter in both directions, per-year revenue
# ---------------------------------------------------------------------------

@query("q_volume_shipping", oracle="""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       ROUND(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                            * 10000) AS BIGINT)) / 10000.0, 4) + 0.0
         AS revenue
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
  AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
  AND n1.n_name <> n2.n_name
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
""")
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing between a
    small nation GROUP (every ordered cross pair), by ship year — the 6-way join
    whose selectivity lives in the two nation dims (the classic
    join-order / broadcast-planning workload: both nation filters must
    broadcast and prune through supplier/customer BEFORE the fact
    join, and the date band pushes into the lineitem scan).

    Determinism: revenue sums exact 1e-4-unit integers; the output
    keys are the group-by columns (total order).

    Scale: nation -> supplier/customer are two broadcast chains; the
    fact joins key on orderkey/suppkey; the final aggregate has at
    most 2 x |years| rows. At 100 TB the two filtered dim chains are
    still broadcast-sized (suppliers/customers of ONE nation)."""
    li = (load_table(spark, sf_dir, "lineitem", spread=True)
          .filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1998-01-01")))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2",
                             "NATION_3", "NATION_4"))
    n1 = n.select(F.col("n_nationkey").alias("sk_n"),
                  F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("ck_n"),
                  F.col("n_name").alias("cust_nation"))
    sup = su.join(F.broadcast(n1), su.s_nationkey == F.col("sk_n")) \
            .select("s_suppkey", "supp_nation")
    cus = c.join(F.broadcast(n2), c.c_nationkey == F.col("ck_n")) \
           .select("c_custkey", "cust_nation")
    rev = F.sum(F.round(F.col("l_extendedprice")
                        * (1 - F.col("l_discount")) * 10000)
                .cast("bigint"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(cus), o.o_custkey == cus.c_custkey)
            .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
            .filter(F.col("supp_nation") != F.col("cust_nation"))
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("int").alias("l_year"))
            .agg((F.round(rev / 10000.0, 4) + 0.0).alias("revenue"))
            .orderBy("supp_nation", "cust_nation", "l_year"))
