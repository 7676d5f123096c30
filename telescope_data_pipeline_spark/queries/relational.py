"""Projections, filters, predicates, map/JSON ops (SURVEY.md §2.2, §2.8).

Each query mirrors a concrete reference behavior (file:line cited per
query) re-expressed declaratively so Catalyst pushes the predicate /
prunes the columns at the parquet scan.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import NATION
from ..sources import load_table, register_views
from .registry import query


@query("q_project", oracle="""
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice, 2) AS price,
       ROUND(l_quantity, 2)      AS qty
FROM lineitem
WHERE l_extendedprice > 0 AND l_returnflag = 'R'
""")
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection + positive-value filter.

    Reference: column picks at core.py:311-316 / core.py:474-477 and the
    ``flux_fit > 0`` sink predicate at p_io.py:107. The projection reaches
    the parquet reader (ReadSchema prunes to 5 of 11 columns).
    """
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_extendedprice") > 0) & (F.col("l_returnflag") == "R"))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
            F.round("l_quantity", 2).alias("qty"),
        )
    )


@query("q_filter_range", oracle="""
SELECT p_partkey, p_name, p_size, ROUND(p_retailprice, 2) AS price
FROM part
WHERE p_size > 10 AND p_size < 40
  AND p_retailprice > 920 AND p_retailprice < 980
""")
def q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive 4-term range predicate.

    Reference: the border predicate at core.py:309-310 (star must sit
    ``hsize`` px inside every edge — four conjunctive comparisons).
    All four terms push down to the scan as one PushedFilters entry.
    """
    return (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_size") > 10) & (F.col("p_size") < 40)
            & (F.col("p_retailprice") > 920) & (F.col("p_retailprice") < 980)
        )
        .select("p_partkey", "p_name", "p_size",
                F.round("p_retailprice", 2).alias("price"))
    )


@query("q_filter_threshold", oracle="""
WITH thr AS (
  SELECT ROUND(AVG(value) + 2 * STDDEV_SAMP(value), 4) AS t FROM events
)
SELECT event_id, user_id, ROUND(value, 2) AS value
FROM events, thr
WHERE value > thr.t
""")
def q_filter_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-dependent threshold filter (aggregate broadcast back over rows).

    Reference: detection threshold ``bkg + 10*bkg_std`` (core.py:143) and
    the peak cut at core.py:331-336 — a statistic of the data, not a
    constant. Spark form: 1-row aggregate cross-joined (broadcast) against
    the fact table, so the filter stays distributed; Catalyst plans the
    tiny side as BroadcastNestedLoopJoin.
    """
    events = load_table(spark, sf_dir, "events")
    thr = events.agg(
        F.round(F.avg("value") + 2 * F.stddev_samp("value"), 4).alias("t"))
    return (
        events.crossJoin(F.broadcast(thr))
        .filter(F.col("value") > F.col("t"))
        .select("event_id", "user_id", F.round("value", 2).alias("value"))
    )


@query("q_filter_eq", oracle="""
SELECT event_id, user_id, ROUND(value, 2) AS value
FROM events
WHERE event_type = 'purchase'
""")
def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality (group-membership) filter.

    Reference: ``filenames[(epochid == i)]`` at psf_phot.py:45 — selecting
    one group's rows. Pushed to the scan as an EqualTo filter.
    """
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.round("value", 2).alias("value"))
    )


@query("q_case_when", oracle="""
SELECT
  CASE WHEN o_totalprice > 300000 THEN 'high'
       WHEN o_totalprice > 150000 THEN 'mid'
       ELSE 'low' END              AS bucket,
  CASE WHEN o_orderstatus = 'F' THEN 'final' ELSE 'open' END AS status,
  COUNT(*)                         AS n,
  ROUND(SUM(o_totalprice), 2)      AS total
FROM orders
GROUP BY 1, 2
""")
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional branching as a status column, then grouped.

    Reference: the per-set quality gates (``im_sig == 0`` psf_phot.py:53,
    ``len<=10 or fwhm>30`` psf_phot.py:78) — branchy fallback paths that
    the engine models as a ``when/otherwise`` status column so one bad
    group never kills the job (SURVEY.md §7 'failure-path semantics').
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.when(F.col("o_totalprice") > 300000, "high")
             .when(F.col("o_totalprice") > 150000, "mid")
             .otherwise("low").alias("bucket"),
            F.when(F.col("o_orderstatus") == "F", "final")
             .otherwise("open").alias("status"),
            "o_totalprice",
        )
        .groupBy("bucket", "status")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@query("q_map_filter", oracle="""
SELECT event_id, 'k' AS key, CAST(json_extract_string(props, '$.k') AS INT) AS val
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50
""")
def q_map_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + map_filter + explode to rows.

    Reference: the header-merge key filter at p_io.py:40-42 (drop
    HISTORY/COMMENT keys when merging FITS headers) — a predicate over
    map entries. Here props JSON → MapType → ``map_filter`` → explode.
    """
    return (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            F.from_json("props", T.MapType(T.StringType(), T.IntegerType())).alias("m"),
        )
        .select("event_id",
                F.explode(F.map_filter("m", lambda k, v: v > 50)).alias("key", "val"))
    )


@query("q_json_extract", oracle="""
SELECT event_type,
       COUNT(*)                                                        AS n,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 6)   AS avg_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INT))             AS max_k
FROM events
GROUP BY event_type
""")
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + typed aggregation.

    No reference counterpart (the reference's only semi-structured data is
    the FITS header map); required by the driver inventory for the
    ``events.props`` JSON column.
    """
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("k"), 6).alias("avg_k"),
             F.max("k").alias("max_k"))
    )


@query("q_scan_csv", oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip: write a table to CSV, scan it back with an explicit
    schema (no inference pass — SURVEY.md §1 schema rule).

    Reference: the CSV manifest scan at psf_phot.py:41 (np.loadtxt with a
    declared dtype) and the CSV results sink at p_io.py:103-119.
    """
    nation = load_table(spark, sf_dir, "nation")
    out = tempfile.mkdtemp(prefix="tdps_csv_")
    nation.write.mode("overwrite").option("header", True).csv(out)
    return (
        spark.read.option("header", True).schema(NATION).csv(out)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@query("q_scan_json", oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip with explicit schema (no inference pass) —
    the semi-structured sibling of q_scan_csv."""
    nation = load_table(spark, sf_dir, "nation")
    out = tempfile.mkdtemp(prefix="tdps_json_")
    nation.write.mode("overwrite").json(out)
    return (
        spark.read.schema(NATION).json(out)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@query("q_subquery_scalar", oracle="""
SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
""")
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate (the aggregate-broadcast pattern,
    reference psf_phot.py:68: global clipped median subtracted from
    every pixel). Catalyst plans the 1-row side as a broadcast."""
    c = load_table(spark, sf_dir, "customer")
    avg = c.agg(F.avg("c_acctbal").alias("a"))
    return (
        c.crossJoin(F.broadcast(avg))
        .filter(F.col("c_acctbal") > F.col("a"))
        .select("c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
    )


@query("q_sql_api", oracle="""
WITH big_orders AS (
  SELECT o_orderkey, o_custkey, o_totalprice
  FROM orders WHERE o_totalprice > 250000
)
SELECT c_mktsegment,
       COUNT(*)                     AS n_big,
       ROUND(AVG(o_totalprice), 6)  AS avg_price,
       ROUND(MAX(o_totalprice), 2)  AS max_price
FROM big_orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""")
def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same engine through the SQL surface: temp views + spark.sql
    with a CTE — Catalyst produces the identical plan as the DataFrame
    form (SURVEY.md §3.2: both surfaces share one optimizer)."""
    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql("""
        WITH big_orders AS (
          SELECT o_orderkey, o_custkey, o_totalprice
          FROM orders WHERE o_totalprice > 250000
        )
        SELECT c_mktsegment,
               COUNT(*)                    AS n_big,
               ROUND(AVG(o_totalprice), 6) AS avg_price,
               ROUND(MAX(o_totalprice), 2) AS max_price
        FROM big_orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """)


@query("q_scan_orc", oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip with explicit schema — the columnar sibling of
    q_scan_csv/q_scan_json (ORC is Spark-native; at rest it predicate-
    pushes and column-prunes like parquet)."""
    nation = load_table(spark, sf_dir, "nation")
    out = tempfile.mkdtemp(prefix="tdps_orc_")
    nation.write.mode("overwrite").orc(out)
    return (
        spark.read.schema(NATION).orc(out)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@query("q_scan_xml", oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip with explicit schema — Spark 4's NATIVE xml
    source (StAX row reader, no external package), the
    document-markup sibling of q_scan_csv/q_scan_json/q_scan_orc.
    rowTag selects the repeated element; the explicit schema keeps
    type inference out of the correctness path."""
    nation = load_table(spark, sf_dir, "nation")
    out = tempfile.mkdtemp(prefix="tdps_xml_")
    (nation.write.format("xml")
     .option("rootTag", "nations").option("rowTag", "nation")
     .mode("overwrite").save(out))
    return (
        spark.read.format("xml").option("rowTag", "nation")
        .schema(NATION).load(out)
        .select("n_nationkey", "n_name", "n_regionkey")
    )
