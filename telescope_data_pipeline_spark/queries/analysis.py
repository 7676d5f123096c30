"""Round-2 analysis queries: color index, bucketed similarity, annulus
background — each an oracle-checked form of an operator whose round-1
coverage was golden-test-only or whose judged form didn't scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..sources.tables import load_table
from .registry import query


@query("q_color_index", oracle="""
SELECT user_id, day,
       ROUND(mag_b, 6) AS mag_b, ROUND(mag_v, 6) AS mag_v,
       ROUND(mag_b - mag_v, 6) + 0.0 AS color
FROM (
  SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         AVG(CASE WHEN event_type = 'view' THEN value END) AS mag_b,
         AVG(CASE WHEN event_type = 'click' THEN value END) AS mag_v
  FROM events
  WHERE event_type IN ('view', 'click')
  GROUP BY 1, 2
)
WHERE mag_b IS NOT NULL AND mag_v IS NOT NULL
""")
def q_color_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-band color analysis (reference walkthrough.ipynb cells 15-16:
    join the B- and V-band light curves per epoch, color = mag_B - mag_V).

    The reference joins two per-band tables; since both bands aggregate
    over the same grouping key, the Spark-first form is ONE conditional
    aggregation — a single shuffle instead of two aggregations plus a
    join, and the two-type IN filter still pushes to the parquet scan.
    Driver-table analog: per (user, day), "bands" = view/click events.
    """
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("view", "click")))
    g = (ev.groupBy("user_id", F.to_date("ts").cast("string").alias("day"))
         .agg(F.avg(F.when(F.col("event_type") == "view", F.col("value")))
              .alias("b_raw"),
              F.avg(F.when(F.col("event_type") == "click", F.col("value")))
              .alias("v_raw")))
    return (g.filter(F.col("b_raw").isNotNull() & F.col("v_raw").isNotNull())
            .select("user_id", "day",
                    F.round("b_raw", 6).alias("mag_b"),
                    F.round("v_raw", 6).alias("mag_v"),
                    # + 0.0: signed-zero normalization (registry contract)
                    (F.round(F.col("b_raw") - F.col("v_raw"), 6) + 0.0)
                    .alias("color")))


@query("q_sim_bucketed", oracle="""
WITH cells AS (
  SELECT vec_id, embedding,
         4 * CAST(embedding[1] >= 0 AS INT)
         + 2 * CAST(embedding[2] >= 0 AS INT)
         + CAST(embedding[3] >= 0 AS INT) AS cell
  FROM embeddings
), norms AS (
  SELECT vec_id, SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)) AS nrm
  FROM (SELECT vec_id, UNNEST(embedding) AS e FROM embeddings)
  GROUP BY vec_id
), pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(UNNEST(q.embedding) AS DOUBLE) AS qe,
         CAST(UNNEST(c.embedding) AS DOUBLE) AS ce
  FROM cells q JOIN cells c ON q.cell = c.cell
  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
), dots AS (
  SELECT query_id, cand_id, SUM(qe * ce) AS dot FROM pairs GROUP BY 1, 2
), scored AS (
  SELECT query_id, cand_id,
         dot / SQRT(nq.nrm * nc.nrm) AS cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot / SQRT(nq.nrm * nc.nrm) DESC, cand_id) AS rn
  FROM dots
  JOIN norms nq ON nq.vec_id = query_id
  JOIN norms nc ON nc.vec_id = cand_id
)
SELECT query_id, cand_id, rn AS rank, ROUND(cos, 6) + 0.0 AS cosine
FROM scored WHERE rn <= 5
""")
def q_sim_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed (cell-local) cosine top-k — the judged form of the
    similarity-search SCALE plan. Every vector gets a deterministic
    sign-grid cell from its first three components (the literal-centroid
    IVF assignment); each query scores only its own cell via an
    EQUI-join on cell id, then window top-5.

    Unlike q_sim_topk's broadcast nested-loop all-pairs baseline, this
    plan is the one that survives 100 TB: candidate generation is a hash
    join on the cell key (linear shuffle, prunable to nprobe cells), and
    because the cell rule is deterministic the result is exact within
    cells and fully SQL-expressible — no recall caveat for the oracle.
    """
    e = load_table(spark, sf_dir, "embeddings")
    cell = (4 * (F.element_at("embedding", 1) >= 0).cast("int")
            + 2 * (F.element_at("embedding", 2) >= 0).cast("int")
            + (F.element_at("embedding", 3) >= 0).cast("int"))
    norm = F.aggregate(F.col("embedding"), F.lit(0.0),
                       lambda acc, x: acc + x.cast("double") * x.cast("double"))
    vecs = e.select("vec_id", "embedding", cell.alias("cell"),
                    norm.alias("nrm"))
    q = (vecs.filter(F.col("vec_id") < 20)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv"),
                 F.col("nrm").alias("qn"), "cell"))
    c = vecs.select(F.col("vec_id").alias("cand_id"),
                    F.col("embedding").alias("cv"),
                    F.col("nrm").alias("cn"), "cell")
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = (q.join(c, on="cell")
              .filter(F.col("query_id") != F.col("cand_id"))
              # try_divide: a zero-norm vector must yield NULL cosine
              # (DuckDB x/0 semantics), not an ANSI runtime failure
              .withColumn("cos", F.try_divide(
                  dot, F.sqrt(F.col("qn") * F.col("cn")))))
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("query_id", "cand_id", F.col("rn").alias("rank"),
                    (F.round("cos", 6) + 0.0).alias("cosine")))


@query("q_annulus_background", oracle="""
WITH a AS (
  SELECT c_custkey AS id, c_acctbal AS val,
         c_acctbal AS x, CAST(c_custkey % 97 AS DOUBLE) * 100 AS y
  FROM customer
), b AS (
  SELECT s_acctbal AS val,
         s_acctbal AS x, CAST(s_suppkey % 97 AS DOUBLE) * 100 AS y
  FROM supplier
), ring AS (
  SELECT a.id, MEDIAN(b.val) AS bkg, COUNT(*) AS n_ring
  FROM a JOIN b
    ON SQRT(POW(a.x - b.x, 2) + POW(a.y - b.y, 2)) >= 200
   AND SQRT(POW(a.x - b.x, 2) + POW(a.y - b.y, 2)) < 800
  GROUP BY a.id
)
SELECT a.id AS c_custkey, ROUND(ring.bkg, 4) AS bkg, ring.n_ring,
       ROUND(a.val - ring.bkg, 4) + 0.0 AS net
FROM a LEFT JOIN ring ON a.id = ring.id
""")
def q_annulus_background(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local annulus background subtraction (reference core.py:344-382
    ``bkg_sub``: per-star ring median as the local sky level, subtracted
    from the flux) — relational form on derived 2-D points, via the
    grid-bucketed ring operator. The oracle is the naive distance cross
    join; the Spark plan is the linear-cost cell EQUI-join
    (operators/background.py), proving the rewrite is exact. Rows with
    an empty ring keep null background (the reference's global-median
    fallback is the caller's coalesce).
    """
    from ..operators.background import ring_agg

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").alias("val"),
        F.col("c_acctbal").alias("ax"),
        ((F.col("c_custkey") % 97).cast("double") * 100).alias("ay"))
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_acctbal").alias("sval"),
        F.col("s_acctbal").alias("bx"),
        ((F.col("s_suppkey") % 97).cast("double") * 100).alias("by"))
    ring = ring_agg(c, s, left_keys=["c_custkey"],
                    coords=[("ax", "bx"), ("ay", "by")],
                    r_in=200.0, r_out=800.0, value_col="sval")
    return (c.select("c_custkey", "val")
            .join(ring, on="c_custkey", how="left")
            .select("c_custkey", F.round("bkg", 4).alias("bkg"), "n_ring",
                    (F.round(F.col("val") - F.col("bkg"), 4) + 0.0)
                    .alias("net")))


@query("q_agg_salted", oracle="""
SELECT l_returnflag,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18, 2))) AS DOUBLE),
             2) AS sum_price,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""")
def q_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (operators/skew.py): lineitem has
    only 3 return flags, so a plain groupBy funnels ~200k rows/flag into
    3 reducers at sf0.1 (and ~200M at 100 TB). salted_aggregate spreads
    each flag over 16 content-salted partials, then reduces the partials
    — same algebra, no hot task. The oracle is the plain GROUP BY,
    proving salting is semantics-preserving. The price sum runs in
    DECIMAL: at ~1e9 magnitude the float error of order-dependent
    double addition exceeds any rounding, so exact decimal arithmetic
    (not a wider ROUND) is what makes the two-stage plan bit-equal to
    single-stage at every scale factor."""
    from ..operators.skew import salted_aggregate

    li = (load_table(spark, sf_dir, "lineitem")
          .withColumn("l_extendedprice",
                      F.col("l_extendedprice").cast("decimal(18,2)")))
    out = salted_aggregate(li, keys=["l_returnflag"],
                           sums=["l_quantity", "l_extendedprice"], n_salts=16)
    return out.select(
        "l_returnflag",
        F.round("sum_l_quantity", 4).alias("sum_qty"),
        F.round(F.col("sum_l_extendedprice").cast("double"), 2)
         .alias("sum_price"),
        "n_rows")


@query("q_join_salted", oracle="""
WITH dim AS (
  SELECT user_id, AVG(value) AS avg_value
  FROM events WHERE event_type = 'signup' GROUP BY user_id
)
SELECT e.event_id, e.user_id,
       ROUND(e.value, 6) AS value,
       ROUND(dim.avg_value, 6) AS user_avg
FROM events e JOIN dim ON e.user_id = dim.user_id
WHERE e.event_type = 'purchase'
""")
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted large-skewed join (operators/skew.py): the fact side's key
    gets a content-derived salt in [0, 8), the dim side is replicated
    8x, and the equi-join runs on (key, salt) — a hot user's rows land
    on 8 reducers instead of 1. Oracle is the plain join: salting is
    exact. (When the dim broadcasts, broadcast instead; this is the
    medium-dim regime.)"""
    from ..operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "value"))
    dim = (ev.filter(F.col("event_type") == "signup")
           .groupBy("user_id").agg(F.avg("value").alias("avg_value")))
    out = salted_join(purchases, dim, key="user_id", n_salts=8)
    return out.select("event_id", "user_id",
                      F.round("value", 6).alias("value"),
                      F.round("avg_value", 6).alias("user_avg"))


@query("q_events_funnel", oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS t0 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t1 FROM events e
  JOIN v ON e.user_id = v.user_id AND e.ts >= v.t0
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
  JOIN c ON e.user_id = c.user_id AND e.ts >= c.t1
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT
  (SELECT COUNT(*) FROM v) AS n_view,
  (SELECT COUNT(*) FROM c) AS n_view_click,
  (SELECT COUNT(*) FROM p) AS n_view_click_purchase
""")
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (view -> click -> purchase per user):
    how many users progressed through each prefix IN ORDER. Running
    conditional mins over a RANGE frame mark, at every event, the
    earliest view so far / earliest click-after-view so far (the RANGE
    frame makes equal-timestamp events mutually visible — the oracle's
    ``>=``); a groupBy on the same key then needs NO second exchange.
    ONE shuffle on user_id, no self-joins, no per-user buffers — the
    shape that survives a 10M-event power user."""
    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", "event_type", F.col("ts").cast("double").alias("t")))
    w = (W.partitionBy("user_id").orderBy("t")
         .rangeBetween(W.unboundedPreceding, W.currentRow))
    t0_run = F.min(F.when(F.col("event_type") == "view", F.col("t"))).over(w)
    staged = ev.select(
        "user_id", "event_type", "t", t0_run.alias("t0_run"))
    t1_row = F.when((F.col("event_type") == "click")
                    & F.col("t0_run").isNotNull(), F.col("t"))
    w2 = (W.partitionBy("user_id").orderBy("t")
          .rangeBetween(W.unboundedPreceding, W.currentRow))
    staged = staged.select(
        "user_id", "event_type", "t", "t0_run",
        F.min(t1_row).over(w2).alias("t1_run"))
    t2_row = F.when((F.col("event_type") == "purchase")
                    & F.col("t1_run").isNotNull(), F.col("t"))
    per_user = staged.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("t"))).alias("t0"),
        F.min(t1_row).alias("t1"),
        F.min(t2_row).alias("t2"))
    return per_user.agg(
        F.count("t0").alias("n_view"),
        F.count("t1").alias("n_view_click"),
        F.count("t2").alias("n_view_click_purchase"))


@query("q_merge_upsert", oracle="""
WITH src AS (
  SELECT o_custkey AS key, ROUND(SUM(o_totalprice), 2) AS new_bal
  FROM orders WHERE o_custkey % 7 = 0 GROUP BY o_custkey
  UNION ALL
  SELECT 900000 + o_orderkey AS key, ROUND(o_totalprice, 2) AS new_bal
  FROM orders WHERE o_orderkey < 40
)
SELECT COALESCE(c.c_custkey, src.key) AS key,
       COALESCE(c.c_name, 'NEW')      AS name,
       ROUND(COALESCE(src.new_bal, c.c_acctbal), 2) AS balance,
       CASE WHEN c.c_custkey IS NULL THEN 'insert'
            WHEN src.key IS NULL THEN 'keep'
            ELSE 'update' END AS action
FROM customer c FULL OUTER JOIN src ON c.c_custkey = src.key
""")
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (SCD-1 upsert) on plain parquet: change set
    full-outer-joined to the target, matched rows take the new value,
    unmatched source rows insert, unmatched target rows pass through —
    the WHEN MATCHED / NOT MATCHED branches as one COALESCE projection.
    One shuffle on the merge key; at scale the rewrite targets only
    affected partitions (partition-pruned overwrite)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    updates = (o.filter(F.col("o_custkey") % 7 == 0)
               .groupBy(F.col("o_custkey").alias("key"))
               .agg(F.round(F.sum("o_totalprice"), 2).alias("new_bal")))
    inserts = (o.filter(F.col("o_orderkey") < 40)
               .select((F.col("o_orderkey") + 900000).alias("key"),
                       F.round("o_totalprice", 2).alias("new_bal")))
    src = updates.unionByName(inserts)
    j = c.join(src, c.c_custkey == src.key, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "key").alias("key"),
        F.coalesce("c_name", F.lit("NEW")).alias("name"),
        F.round(F.coalesce("new_bal", "c_acctbal"), 2).alias("balance"),
        F.when(F.col("c_custkey").isNull(), "insert")
         .when(F.col("key").isNull(), "keep")
         .otherwise("update").alias("action"))


@query("q_gap_fill", oracle="""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         ROUND(AVG(value), 6) AS day_avg
  FROM events WHERE user_id < 5 GROUP BY 1, 2
), bounds AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
), grid AS (
  SELECT user_id, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM bounds
)
SELECT g.user_id, CAST(CAST(g.day AS DATE) AS VARCHAR) AS day,
       d.day_avg,
       LAST_VALUE(d.day_avg IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
""")
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill: per-user daily averages expanded
    to a dense day grid (sequence + explode — no driver loop), missing
    days forward-filled with an ignorenulls-last window. The grid
    explode is per-user-linear; everything shuffles once on user_id."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    daily = (ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
             .agg(F.round(F.avg("value"), 6).alias("day_avg")))
    grid = (daily.groupBy("user_id")
            .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
            .select("user_id", F.explode(F.sequence(
                "d0", "d1", F.expr("interval 1 day"))).alias("day")))
    j = grid.join(daily, ["user_id", "day"], "left")
    w = (W.partitionBy("user_id").orderBy("day")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return j.select(
        "user_id", F.col("day").cast("date").cast("string").alias("day"),
        "day_avg",
        F.last("day_avg", ignorenulls=True).over(w).alias("filled"))


@query("q_agg_percentile", oracle="""
SELECT event_type,
       ROUND(PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY value), 6) AS p25,
       ROUND(PERCENTILE_CONT(0.50) WITHIN GROUP (ORDER BY value), 6) AS p50,
       ROUND(PERCENTILE_CONT(0.90) WITHIN GROUP (ORDER BY value), 6) AS p90,
       ROUND(PERCENTILE_CONT(0.99) WITHIN GROUP (ORDER BY value), 6) AS p99
FROM events GROUP BY event_type
""")
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    SQL PERCENTILE_CONT). The exact form needs the full sorted group —
    at 100 TB prefer approx_percentile (t-digest, mergeable map-side
    state, q_agg_approx); this oracle-checked exact form is the
    correctness anchor the sketch is measured against."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(*[F.round(F.percentile("value", F.lit(p)), 6)
                   .alias(f"p{int(p * 100):02d}")
                   for p in (0.25, 0.50, 0.90, 0.99)]))


@query("q_window_ntile", oracle="""
SELECT event_id, event_type,
       NTILE(4) OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
""")
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window family (ntile / percent_rank /
    cume_dist) on a total order (value, event_id tiebreaker)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id", "event_type",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"))


@query("q_partition_overwrite", oracle="""
SELECT event_type,
       ROUND(SUM(CASE WHEN event_type = 'click' THEN value * 2
                      ELSE value END), 4) AS total,
       COUNT(*) AS n
FROM events GROUP BY event_type
""")
def q_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level upsert (the Delta-free table-maintenance
    primitive): events land partitioned by event_type; a corrected
    recompute of ONE partition (clicks, values doubled) is written with
    dynamic partitionOverwriteMode, replacing only that directory —
    every other partition's files are untouched. At 100 TB this is how
    a backfill touches 1/N of the table. The oracle states the expected
    post-maintenance content."""
    import tempfile

    out = tempfile.mkdtemp(prefix="tdps_dynpart_")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type",
                                                    "value")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    (ev.filter(F.col("event_type") == "click")
     .withColumn("value", F.col("value") * 2)
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("event_type").parquet(out))
    # Explicit schema on the read-back: an empty source writes zero
    # files, and schema inference over an empty directory fails.
    back = spark.read.schema(
        "event_id long, value double, event_type string").parquet(out)
    return (back.groupBy("event_type")
            .agg(F.round(F.sum("value"), 4).alias("total"),
                 F.count(F.lit(1)).alias("n")))


@query("q_phase_fold", oracle="""
WITH folded AS (
  SELECT event_type,
         FLOOR(((EPOCH(ts) / 86400.0) % 3.7) / 3.7 * 20) AS phase_bin,
         value
  FROM events
)
SELECT event_type, CAST(phase_bin AS INT) AS phase_bin,
       ROUND(AVG(value), 6) AS mean_mag,
       COUNT(*) AS n
FROM folded GROUP BY event_type, phase_bin
""")
def q_phase_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-folded light-curve binning (reference walkthrough cell 16:
    fold the time series on the detected period, bin by phase, average
    per bin — the plot behind the periodogram). Pure column math + one
    groupBy on (band, bin): a single shuffle whose key count is
    bands x bins regardless of row count."""
    ev = load_table(spark, sf_dir, "events")
    period = 3.7
    jd = F.col("ts").cast("double") / 86400.0
    phase_bin = F.floor((jd % period) / period * 20).cast("int")
    return (ev.select("event_type", phase_bin.alias("phase_bin"), "value")
            .groupBy("event_type", "phase_bin")
            .agg(F.round(F.avg("value"), 6).alias("mean_mag"),
                 F.count(F.lit(1)).alias("n")))


@query("q_histogram", oracle="""
SELECT event_type,
       LEAST(CAST(FLOOR(value / 50.0) AS INT), 9) AS bucket,
       COUNT(*) AS n,
       ROUND(MIN(value), 4) AS lo,
       ROUND(MAX(value), 4) AS hi
FROM events GROUP BY event_type, bucket
""")
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram per group (the profiling primitive behind
    quality dashboards): bucket = floor(value/width) with a top
    catch-all, counts and actual bounds per bucket. One groupBy whose
    key cardinality is groups x buckets — constant output no matter the
    row count, so the plan is all map-side partial aggregation."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 50.0).cast("int"), F.lit(9))
    return (ev.groupBy("event_type", bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("value"), 4).alias("lo"),
                 F.round(F.max("value"), 4).alias("hi")))


@query("q_cohort_retention", oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events
  GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         DATEDIFF('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
), cohort_size AS (
  SELECT cohort_day, COUNT(DISTINCT user_id) AS n_users FROM firsts
  GROUP BY cohort_day
)
SELECT CAST(a.cohort_day AS VARCHAR) AS cohort_day, a.day_offset,
       COUNT(*) AS n_active,
       ROUND(COUNT(*)::DOUBLE / s.n_users, 6) AS retention
FROM activity a JOIN cohort_size s ON a.cohort_day = s.cohort_day
WHERE a.day_offset <= 7
GROUP BY a.cohort_day, a.day_offset, s.n_users
""")
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (first-seen-day cohorts x day offset): the
    classic engagement matrix. First-seen day per user is one
    aggregation; the activity matrix re-joins on user_id (shuffle on
    the high-cardinality key, so cohort size never bottlenecks one
    task); cohort sizes broadcast back. Output cardinality is
    cohorts x offsets — constant for any row count."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day"))
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (ev.join(firsts, "user_id")
                .select("user_id", "cohort_day",
                        F.datediff("day", "cohort_day").alias("day_offset"))
                .filter(F.col("day_offset") <= 7)
                .distinct())
    sizes = firsts.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("n_users"))
    return (activity.groupBy("cohort_day", "day_offset")
            .agg(F.count(F.lit(1)).alias("n_active"))
            .join(F.broadcast(sizes), "cohort_day")
            .select(F.col("cohort_day").cast("string").alias("cohort_day"),
                    "day_offset", "n_active",
                    F.round(F.col("n_active").cast("double")
                            / F.col("n_users"), 6).alias("retention")))


@query("q_zscore", oracle="""
WITH stats AS (
  SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       ROUND((e.value - s.mu) / s.sigma, 6) + 0.0 AS z
FROM events e JOIN stats s ON e.event_type = s.event_type
""")
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization (feature prep): group stats
    aggregate once and BROADCAST back over the fact rows — the
    aggregate-rejoin pattern that replaces a window over giant
    partitions (a window would sort every group; the broadcast join
    touches each row once, no sort)."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma"))
    return (ev.join(F.broadcast(stats), "event_type")
            .select("event_id", "event_type",
                    # try_divide: a constant-value group has sigma = 0 and
                    # ANSI mode would fail the whole query; NULL matches
                    # DuckDB's double x/0. + 0.0: signed-zero normalization
                    # (registry contract).
                    (F.round(F.try_divide(F.col("value") - F.col("mu"),
                                          F.col("sigma")), 6) + 0.0)
                    .alias("z")))


@query("q_scd2", oracle="""
WITH dim AS (
  SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal FROM customer
), upd AS (
  SELECT c_custkey, ROUND(acctbal + 100.0, 2) AS new_bal
  FROM dim WHERE c_custkey % 7 = 0
)
SELECT d.c_custkey, d.acctbal,
       '2024-01-01' AS valid_from,
       CASE WHEN u.c_custkey IS NOT NULL THEN '2024-06-01' END AS valid_to,
       u.c_custkey IS NULL AS is_current
FROM dim d LEFT JOIN upd u USING (c_custkey)
UNION ALL
SELECT c_custkey, new_bal AS acctbal,
       '2024-06-01' AS valid_from,
       CAST(NULL AS VARCHAR) AS valid_to,
       TRUE AS is_current
FROM upd
""")
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 merge: apply a batch of changed
    rows to a versioned dimension — close the superseded version
    (valid_to stamped, is_current false) and append the new version —
    the history-preserving upsert every warehouse-grade pipeline needs
    beside the overwrite form (q_merge_upsert keeps only the latest).

    Plan shape: ONE equi-join of the dimension against the (much
    smaller) change set — broadcast while it fits, AQE falls back to a
    shuffle join when a backfill-sized change set doesn't — plus a
    union whose second leg is the change set again: no window, no sort,
    no full-table rewrite beyond the single pass. Validity bounds are
    ISO date strings on both sides (date-typed outputs canonicalize
    differently across engines; the registry contract prefers
    string-stable columns)."""
    dim = (load_table(spark, sf_dir, "customer")
           .select("c_custkey", F.round("c_acctbal", 2).alias("acctbal")))
    upd = (dim.filter(F.col("c_custkey") % 7 == 0)
           .select("c_custkey",
                   F.round(F.col("acctbal") + 100.0, 2).alias("new_bal")))
    closed = (dim.join(upd.select("c_custkey",
                                  F.lit(True).alias("_changed")),
                       "c_custkey", "left")
              .select("c_custkey", "acctbal",
                      F.lit("2024-01-01").alias("valid_from"),
                      F.when(F.col("_changed"), "2024-06-01")
                       .alias("valid_to"),
                      F.col("_changed").isNull().alias("is_current")))
    fresh = upd.select("c_custkey", F.col("new_bal").alias("acctbal"),
                       F.lit("2024-06-01").alias("valid_from"),
                       F.lit(None).cast("string").alias("valid_to"),
                       F.lit(True).alias("is_current"))
    return closed.unionByName(fresh)


# ---------------------------------------------------------------------------
# Time-weighted average (step-function resample with interval splitting)
# ---------------------------------------------------------------------------

@query("q_time_weighted_avg", oracle="""
WITH s AS (
  SELECT event_type, epoch_us(ts) AS s,
         LEAD(epoch_us(ts)) OVER (PARTITION BY event_type
                                  ORDER BY epoch_us(ts), event_id) AS e,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS vc
  FROM events WHERE value IS NOT NULL
), seg AS (
  SELECT * FROM s WHERE e IS NOT NULL AND e > s
), x AS (
  SELECT event_type, vc, s, e,
         UNNEST(range(s // 3600000000, (e - 1) // 3600000000 + 1)) AS b
  FROM seg
)
SELECT event_type, CAST(b AS BIGINT) AS hour_bucket,
       CAST(SUM(LEAST(e, (b + 1) * 3600000000)
                - GREATEST(s, b * 3600000000)) AS BIGINT) AS total_us,
       ROUND((SUM(vc * (LEAST(e, (b + 1) * 3600000000)
                        - GREATEST(s, b * 3600000000))) / 100.0)
             / SUM(LEAST(e, (b + 1) * 3600000000)
                   - GREATEST(s, b * 3600000000)), 6) + 0.0 AS twa
FROM x GROUP BY event_type, b
""")
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted hourly average per series: each event's value
    holds until the series' next event (a step function), and segments
    are SPLIT at hour boundaries so every bucket averages by covered
    duration, not by sample count — the resampling semantics telemetry
    and market data need when samples are irregular (a plain AVG
    over-weights bursts; compare q_ohlc_bars, which picks endpoints,
    and q_gap_fill, which forward-fills samples).

    Exactness: values are 2-decimal, so the weighted sum runs on exact
    BIGINT centi-value x microsecond products (the q_grouped_regression
    integer-sufficient-statistics rule) — both engines divide the SAME
    two exact integers, so one final ROUND(6) is bit-stable. Interval
    splitting is integer `div` bucketing (the interval_join machinery:
    explode covered hours, clamp to bucket edges); zero-length segments
    are dropped before sequence() (which would DESCEND on e < s).

    Scale: lead() is one window per series partition; the explode
    multiplies rows only by hours-spanned (~1 for dense series); the
    final groupBy partial-aggregates map-side. No joins at all."""
    H = 3_600_000_000
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = W.partitionBy("event_type").orderBy("s", "event_id")
    seg = (e.select("event_type", "event_id",
                    F.unix_micros("ts").alias("s"),
                    F.round(F.col("value") * 100, 0).cast("long").alias("vc"))
           .withColumn("e", F.lead("s").over(w))
           .filter(F.col("e").isNotNull() & (F.col("e") > F.col("s"))))
    x = seg.withColumn(
        "b", F.explode(F.sequence(F.expr(f"s div {H}"),
                                  F.expr(f"(e - 1) div {H}"))))
    dur = (F.least(F.col("e"), (F.col("b") + 1) * H)
           - F.greatest(F.col("s"), F.col("b") * H))
    return (x.groupBy("event_type", F.col("b").alias("hour_bucket"))
            .agg(F.sum(dur).alias("total_us"),
                 ((F.round((F.sum(F.col("vc") * dur) / 100.0)
                           / F.sum(dur), 6)) + F.lit(0.0)).alias("twa")))


# ---------------------------------------------------------------------------
# Small-file compaction under the correctness gate
# ---------------------------------------------------------------------------

@query("q_compact_files", oracle="""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events GROUP BY event_type
""")
def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (operators/compaction.py) proven
    content-preserving under the driver gate: the events table is first
    scattered into 40 tiny files (a streaming sink's droppings), then
    compacted into a single ~target-size snapshot, and the aggregate
    over the COMPACTED copy must hash-match the oracle's aggregate over
    the original table — file boundaries changed, not one row. The sum
    runs on DECIMAL(18,2) so repartition/coalesce order cannot wiggle a
    float (the q_agg_salted rule)."""
    import tempfile

    from ..operators.compaction import compact_dir

    src = tempfile.mkdtemp(prefix="tdps_small_")
    base = tempfile.mkdtemp(prefix="tdps_compacted_")
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    ev.repartition(40).write.mode("overwrite").parquet(src)
    snap = compact_dir(spark, src, base, target_bytes=1 << 40)
    back = spark.read.parquet(snap)
    return (back.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("total")))


# ---------------------------------------------------------------------------
# Distribution drift: two-sample Kolmogorov-Smirnov statistic
# ---------------------------------------------------------------------------

@query("q_ks_drift", oracle="""
WITH s AS (
  SELECT event_type, value, user_id % 2 AS grp FROM events
), n AS (
  SELECT event_type,
         SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n_b
  FROM s GROUP BY event_type
), c AS (
  SELECT event_type, value,
         SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c_a,
         SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c_b
  FROM s GROUP BY event_type, value
), cum AS (
  SELECT event_type,
         SUM(c_a) OVER (PARTITION BY event_type ORDER BY value) AS cum_a,
         SUM(c_b) OVER (PARTITION BY event_type ORDER BY value) AS cum_b
  FROM c
)
SELECT cum.event_type,
       ROUND(MAX(ABS(cum_a * 1.0 / NULLIF(n_a, 0)
                     - cum_b * 1.0 / NULLIF(n_b, 0))), 6) + 0.0 AS ks_d,
       CAST(MIN(n_a) AS BIGINT) AS n_a, CAST(MIN(n_b) AS BIGINT) AS n_b
FROM cum JOIN n USING (event_type)
GROUP BY cum.event_type
""")
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic per series: split
    each event_type's values into two cohorts (user parity stands in
    for "yesterday's snapshot vs today's") and report
    D = max_v |F_a(v) - F_b(v)| — the nonparametric companion to the
    binned chi-square screen (q_chi_square): no binning choice, exact
    under ties because the empirical CDFs are evaluated at DISTINCT
    pooled values (pre-aggregated per (type, value) so the window walks
    the step function's jump points, not raw rows).

    Cross-engine determinism: cum/n division is a single IEEE divide of
    integer-valued doubles — bit-identical in both engines — so MAX
    picks the same supremum; rounded once at the end.

    Scale: one shuffle on (type, value) for the jump-point counts, one
    type-partitioned window over DISTINCT values (|distinct| per type,
    not |rows|), one broadcast of the per-type totals. Reference
    analogue: the pipeline's nightly photometric-zero-point stability
    checks (core.py diagnostics) — is tonight's flux distribution the
    same population as last night's?"""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select("event_type", "value",
                  (F.col("user_id") % 2).alias("grp"))
    n = s.groupBy("event_type").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n_b"))
    c = s.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c_b"))
    w = W.partitionBy("event_type").orderBy("value")
    cum = c.select("event_type",
                   F.sum("c_a").over(w).alias("cum_a"),
                   F.sum("c_b").over(w).alias("cum_b"))
    return (cum.join(F.broadcast(n), "event_type")
            .groupBy("event_type")
            .agg((F.round(F.max(F.abs(
                      # empty cohort: KS undefined -> NULL, never a
                      # DIVIDE_BY_ZERO crash (edge-corpus contract)
                      F.col("cum_a") * 1.0 / F.nullif(F.col("n_a"), F.lit(0))
                      - F.col("cum_b") * 1.0
                      / F.nullif(F.col("n_b"), F.lit(0)))), 6) + 0.0)
                 .alias("ks_d"),
                 F.min("n_a").alias("n_a"),
                 F.min("n_b").alias("n_b")))


# ---------------------------------------------------------------------------
# Winsorized robust statistics (percentile clipping)
# ---------------------------------------------------------------------------

@query("q_winsorize", oracle="""
WITH p AS (
  SELECT event_type,
         PERCENTILE_CONT(0.05) WITHIN GROUP (ORDER BY value) AS lo,
         PERCENTILE_CONT(0.95) WITHIN GROUP (ORDER BY value) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       ROUND(AVG(LEAST(GREATEST(value, lo), hi)), 6) + 0.0 AS wins_mean,
       CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
       CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
       COUNT(*) AS n
FROM events e JOIN p USING (event_type)
GROUP BY e.event_type
""")
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per series: clip each value into its group's
    exact [p05, p95] band, then average — the robust-statistics
    preprocessing companion to the MAD gate (q_anomaly_mad clips by
    deviation; this clips by rank). Tail counts report how much mass
    each side lost.

    Scale: pass 1 is the exact-percentile aggregate (tiny, one row per
    type); it broadcasts back onto the fact scan, so pass 2 is a
    map-side clip + one hash aggregate — no window over raw rows. At
    100 TB swap pass 1 for approx_percentile (t-digest) and the plan
    shape is unchanged; this exact form is the correctness anchor."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"))
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (ev.join(F.broadcast(p), "event_type")
            .groupBy("event_type")
            .agg((F.round(F.avg(clipped), 6) + 0.0).alias("wins_mean"),
                 F.sum(F.when(F.col("value") < F.col("lo"), 1)
                       .otherwise(0)).alias("n_clip_lo"),
                 F.sum(F.when(F.col("value") > F.col("hi"), 1)
                       .otherwise(0)).alias("n_clip_hi"),
                 F.count(F.lit(1)).alias("n")))


# ---------------------------------------------------------------------------
# Pairwise feature correlation matrix
# ---------------------------------------------------------------------------

@query("q_corr_matrix", oracle="""
WITH f AS (
  SELECT user_id, event_type, AVG(value) AS v
  FROM events GROUP BY user_id, event_type
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       ROUND(CORR(a.v, b.v), 6) + 0.0 AS pearson_r,
       COUNT(*) AS n_users
FROM f a JOIN f b ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY a.event_type, b.event_type
""")
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between event-type series, aligned
    per user: featurize (user x type -> mean value), self-join on the
    entity key with type_a < type_b, and CORR each pair — the
    feature-correlation matrix a training pipeline runs before
    selecting/decorrelating input signals (the multivariate sibling of
    q_grouped_regression's single y~x fit).

    Scale: the featurize step is one hash aggregate; the self-join is
    an equi-join on user_id whose fan-out per user is |types|^2 with
    |types| small and bounded (features, not data) — so the pair
    stream is ~|users| * k^2 rows of pure numbers. CORR is a
    mergeable moment sketch (sum, sum^2, cross-sum) — map-side
    combined, no per-pair sort anywhere."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id", "event_type").agg(F.avg("value").alias("v"))
    a, b = f.alias("a"), f.alias("b")
    return (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                   & (F.col("a.event_type") < F.col("b.event_type")))
            .groupBy(F.col("a.event_type").alias("type_a"),
                     F.col("b.event_type").alias("type_b"))
            .agg((F.round(F.corr("a.v", "b.v"), 6) + 0.0)
                 .alias("pearson_r"),
                 F.count(F.lit(1)).alias("n_users")))


# ---------------------------------------------------------------------------
# Linear interpolation resample (the interpolating sibling of q_gap_fill)
# ---------------------------------------------------------------------------

@query("q_interp_linear", oracle="""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         ROUND(AVG(value), 6) AS day_avg
  FROM events WHERE user_id < 5 GROUP BY 1, 2
), bounds AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
), grid AS (
  SELECT user_id, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM bounds
), j AS (
  SELECT g.user_id, g.day, d.day_avg,
         LAST_VALUE(d.day_avg IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         LAST_VALUE(CASE WHEN d.day_avg IS NOT NULL THEN g.day END
                    IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         FIRST_VALUE(d.day_avg IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         FIRST_VALUE(CASE WHEN d.day_avg IS NOT NULL THEN g.day END
                     IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
)
SELECT user_id, CAST(CAST(day AS DATE) AS VARCHAR) AS day, day_avg,
       ROUND(CASE
         WHEN day_avg IS NOT NULL THEN day_avg
         WHEN pv IS NULL THEN nv
         WHEN nv IS NULL THEN pv
         ELSE pv + (nv - pv) * date_diff('day', pd, day) * 1.0
                             / date_diff('day', pd, nd)
       END, 6) + 0.0 AS interp
FROM j
""")
def q_interp_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resample: per-user daily series expanded to
    a dense day grid, with missing days filled by interpolating between
    the bracketing observations (edges extend the nearest value) — the
    interpolating sibling of q_gap_fill's forward fill, i.e. pandas
    ``interpolate(method='time')`` semantics made distributed.

    The bracketing values come from two frames over ONE user-keyed
    sort: last-ignore-nulls looking back, first-ignore-nulls looking
    forward — no self-join against the observation table. The
    interpolation weight is an exact integer day-diff ratio, computed
    identically in both engines.

    Scale: grid explode is per-user-linear; one hash exchange on
    user_id serves the join and both window frames."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    daily = (ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
             .agg(F.round(F.avg("value"), 6).alias("day_avg")))
    grid = (daily.groupBy("user_id")
            .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
            .select("user_id", F.explode(F.sequence(
                "d0", "d1", F.expr("interval 1 day"))).alias("day")))
    j = grid.join(daily, ["user_id", "day"], "left")
    back = (W.partitionBy("user_id").orderBy("day")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    fwd = (W.partitionBy("user_id").orderBy("day")
           .rowsBetween(W.currentRow, W.unboundedFollowing))
    obs_day = F.when(F.col("day_avg").isNotNull(), F.col("day"))
    j = j.select(
        "user_id", "day", "day_avg",
        F.last("day_avg", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(back).alias("pd"),
        F.first("day_avg", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(fwd).alias("nd"))
    frac = (F.datediff(F.col("day"), F.col("pd")) * F.lit(1.0)
            / F.datediff(F.col("nd"), F.col("pd")))
    interp = (F.when(F.col("day_avg").isNotNull(), F.col("day_avg"))
              .when(F.col("pv").isNull(), F.col("nv"))
              .when(F.col("nv").isNull(), F.col("pv"))
              .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac))
    return j.select(
        "user_id", F.col("day").cast("date").cast("string").alias("day"),
        "day_avg", (F.round(interp, 6) + 0.0).alias("interp"))


# ---------------------------------------------------------------------------
# Welch's t-test A/B gate (parametric sibling of the KS drift test)
# ---------------------------------------------------------------------------

@query("q_ab_ttest", oracle="""
WITH s AS (
  SELECT event_type,
         AVG(CASE WHEN user_id % 2 = 0 THEN value END) AS m_a,
         VAR_SAMP(CASE WHEN user_id % 2 = 0 THEN value END) AS v_a,
         COUNT(CASE WHEN user_id % 2 = 0 THEN value END) AS n_a,
         AVG(CASE WHEN user_id % 2 = 1 THEN value END) AS m_b,
         VAR_SAMP(CASE WHEN user_id % 2 = 1 THEN value END) AS v_b,
         COUNT(CASE WHEN user_id % 2 = 1 THEN value END) AS n_b
  FROM events GROUP BY event_type
)
SELECT event_type,
       ROUND((m_a - m_b) / SQRT(NULLIF(v_a / n_a + v_b / n_b, 0)), 6) + 0.0
         AS t_stat,
       ROUND(POW(v_a / n_a + v_b / n_b, 2)
             / NULLIF(POW(v_a / n_a, 2) / (n_a - 1)
                      + POW(v_b / n_b, 2) / (n_b - 1), 0), 6) + 0.0 AS df,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
FROM s
""")
def q_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test per series (cohorts by user
    parity, as q_ks_drift): t = (m_a - m_b) / sqrt(v_a/n_a + v_b/n_b)
    with Welch-Satterthwaite degrees of freedom — the parametric
    mean-shift member of the monitoring family (chi-square: categorical
    mix; KS: whole distribution; t: mean). Conditional aggregation
    computes both cohorts in ONE pass over the fact table — no
    self-join, one map-side-combined hash aggregate; moments are
    mergeable, so the plan is partial+final at any scale."""
    ev = load_table(spark, sf_dir, "events")
    a = F.when(F.col("user_id") % 2 == 0, F.col("value"))
    b = F.when(F.col("user_id") % 2 == 1, F.col("value"))
    s = ev.groupBy("event_type").agg(
        F.avg(a).alias("m_a"), F.var_samp(a).alias("v_a"),
        F.count(a).alias("n_a"),
        F.avg(b).alias("m_b"), F.var_samp(b).alias("v_b"),
        F.count(b).alias("n_b"))
    # NULLIF guards: two zero-variance cohorts (a constant metric) make
    # the standard error 0 — the t statistic and Welch df are undefined
    # there, so both go NULL instead of raising ANSI DIVIDE_BY_ZERO.
    se2 = F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    dfw = (F.pow(se2, 2)
           / F.nullif(
               F.pow(F.col("v_a") / F.col("n_a"), 2) / (F.col("n_a") - 1)
               + F.pow(F.col("v_b") / F.col("n_b"), 2) / (F.col("n_b") - 1),
               F.lit(0.0)))
    return s.select(
        "event_type",
        (F.round((F.col("m_a") - F.col("m_b"))
                 / F.sqrt(F.nullif(se2, F.lit(0.0))), 6) + 0.0)
        .alias("t_stat"),
        (F.round(dfw, 6) + 0.0).alias("df"),
        F.col("n_a").alias("n_a"), F.col("n_b").alias("n_b"))


# ---------------------------------------------------------------------------
# Autocorrelation function (lags 1-3) per event-type series
# ---------------------------------------------------------------------------

@query("q_acf", oracle="""
WITH base AS (
  SELECT event_type, ts, event_id,
         CAST(ROUND(value * 1000000) AS BIGINT) AS xu
  FROM events WHERE value IS NOT NULL
), tot AS (
  SELECT event_type, COUNT(*) AS n, SUM(xu) AS s
  FROM base GROUP BY event_type
), dev AS (
  SELECT b.event_type, t.n,
         CAST(t.n AS HUGEINT) * b.xu - t.s AS d,
         LAG(CAST(t.n AS HUGEINT) * b.xu - t.s, 1) OVER w AS d1,
         LAG(CAST(t.n AS HUGEINT) * b.xu - t.s, 2) OVER w AS d2,
         LAG(CAST(t.n AS HUGEINT) * b.xu - t.s, 3) OVER w AS d3
  FROM base b JOIN tot t USING (event_type)
  WINDOW w AS (PARTITION BY b.event_type ORDER BY b.ts, b.event_id)
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       ROUND(SUM(d * d1)::DOUBLE / NULLIF(SUM(d * d), 0), 6) + 0.0 AS acf_lag1,
       ROUND(SUM(d * d2)::DOUBLE / NULLIF(SUM(d * d), 0), 6) + 0.0 AS acf_lag2,
       ROUND(SUM(d * d3)::DOUBLE / NULLIF(SUM(d * d), 0), 6) + 0.0 AS acf_lag3
FROM dev GROUP BY event_type, n
""")
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function at lags 1-3 per event-type series — the
    stationarity/seasonality probe that complements q_periodogram
    (frequency domain) and q_ohlc_bars (bar aggregation) in the
    time-series family. ACF_k = sum(d_t * d_{t-k}) / sum(d_t^2) with
    d_t the mean deviation.

    Determinism: values quantize to integer micro-units; the mean is
    never materialized — d_t is computed as n*x_t - sum(x) (exact
    integer, the n^2 factors cancel in the ratio), products ride
    DECIMAL(38,0)/HUGEINT, so both engines sum identical integers in
    any order and divide once.

    Scale: one groupBy for the per-series totals (broadcast back),
    one window partitioned BY SERIES for the lags, one final groupBy —
    all keyed, no single-partition collapse. Long per-series
    partitions are the known hazard of per-key ordered windows; at
    100 TB, pre-bucket by (series, time-range) and stitch boundary
    lags, as the SURVEY scale note for sessionization prescribes."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    base = ev.select(
        "event_type", "ts", "event_id",
        F.round(F.col("value") * 1e6).cast("bigint").alias("xu"))
    tot = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("xu").alias("s"))
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    d = (F.col("n").cast("decimal(38,0)") * F.col("xu")
         - F.col("s"))  # widen FIRST: n*xu wraps int64 past ~9e18
    dev = (base.join(F.broadcast(tot), "event_type")
           .select("event_type", "ts", "event_id", "n", d.alias("d"))
           .select("event_type", "n", "d",
                   F.lag("d", 1).over(w).alias("d1"),
                   F.lag("d", 2).over(w).alias("d2"),
                   F.lag("d", 3).over(w).alias("d3")))
    den = F.sum(F.col("d") * F.col("d"))
    def acf(lagcol: str):
        # constant series: zero variance -> ACF undefined -> NULL
        return (F.round(F.sum(F.col("d") * F.col(lagcol)).cast("double")
                        / F.nullif(den.cast("double"), F.lit(0.0)), 6) + 0.0)
    return (dev.groupBy("event_type", "n")
            .agg(acf("d1").alias("acf_lag1"),
                 acf("d2").alias("acf_lag2"),
                 acf("d3").alias("acf_lag3"))
            .select("event_type", F.col("n").cast("bigint").alias("n"),
                    "acf_lag1", "acf_lag2", "acf_lag3"))


# ---------------------------------------------------------------------------
# Exponential smoothing (EWMA, alpha = 0.5) over the daily KPI series
# ---------------------------------------------------------------------------

@query("q_ewma", oracle="""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(ROUND(SUM(CAST(ROUND(value * 1000000) AS BIGINT))::DOUBLE
                    / COUNT(*)) AS BIGINT) AS mu
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), ordered AS (
  SELECT event_type, mu,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
), rec AS (
  SELECT event_type, rk, n, CAST(mu AS DOUBLE) AS s FROM ordered WHERE rk = 1
  UNION ALL
  SELECT o.event_type, o.rk, o.n, (o.mu + r.s) / 2.0
  FROM ordered o JOIN rec r
    ON o.event_type = r.event_type AND o.rk = r.rk + 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       ROUND(s / 1000000, 6) + 0.0 AS ewma
FROM rec WHERE rk = n
""")
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing: EWMA with alpha = 0.5 over each event
    type's DAILY mean series — the classic monitoring smoother
    (s_t = alpha*x_t + (1-alpha)*s_{t-1}) that completes the
    time-series family beside q_acf (correlation structure) and
    q_anomaly_mad (robust outliers). The fold runs over the BOUNDED
    daily aggregate, not raw events — the realistic framing (smooth a
    KPI), and what keeps the sequential recurrence O(days), not
    O(rows).

    Determinism: daily means are integer micro-units (exact integer
    sum, one rounded division); the fold is the same sequence of
    double ops in the same order on both engines (Spark: an in-row
    aggregate() lambda over the sorted daily array; DuckDB: a
    recursive CTE) — identical IEEE results.

    Scale: one map-side-combined groupBy to days (unbounded ->
    bounded), one per-series collect of ~days structs inside the row,
    zero UDFs. Per-series state is |days|, never |rows|."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.round(F.sum(F.round(F.col("value") * 1e6).cast("bigint"))
                          .cast("double") / F.count(F.lit(1)))
                  .cast("bigint").alias("mu")))
    series = (daily.groupBy("event_type")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"),
                   F.sort_array(F.collect_list(F.struct("day", "mu")))
                   .alias("seq")))
    ewma = F.aggregate(
        F.slice("seq", 2, F.greatest(F.size("seq") - 1, F.lit(0))),
        F.element_at("seq", 1)["mu"].cast("double"),
        lambda acc, x: (x["mu"] + acc) / 2.0)
    return series.select(
        "event_type", "n_days",
        (F.round(ewma / 1e6, 6) + 0.0).alias("ewma"))


# ---------------------------------------------------------------------------
# Bootstrap confidence interval (deterministic hash-weight resampling)
# ---------------------------------------------------------------------------

@query("q_bootstrap_ci", oracle="""
WITH reps AS (SELECT UNNEST(range(100)) AS b),
w AS (
  SELECT r.b,
         CAST(ROUND(e.value * 1000000) AS BIGINT) AS xu,
         (CASE WHEN substr(md5('boot:' || CAST(e.event_id AS VARCHAR)
                            || ':' || CAST(r.b AS VARCHAR)), 32, 1)
               IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END)
       + (CASE WHEN substr(md5('boot:' || CAST(e.event_id AS VARCHAR)
                            || ':' || CAST(r.b AS VARCHAR)), 32, 1)
               IN ('2','3','6','7','a','b','e','f') THEN 1 ELSE 0 END) AS wt
  FROM events e CROSS JOIN reps r
  WHERE e.value IS NOT NULL
), means AS (
  SELECT b, SUM(wt * xu)::DOUBLE / NULLIF(SUM(wt), 0) / 1000000 AS m
  FROM w GROUP BY b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
       ROUND(AVG(m), 6) + 0.0 AS boot_mean,
       ROUND(PERCENTILE_CONT(0.025) WITHIN GROUP (ORDER BY m), 6) + 0.0
         AS ci_lo,
       ROUND(PERCENTILE_CONT(0.975) WITHIN GROUP (ORDER BY m), 6) + 0.0
         AS ci_hi
FROM means
""")
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean, distributed: 100
    resampling replicates where each row's multiplicity in replicate b
    is a DETERMINISTIC two-bit md5 weight (0/1/2, mean 1 — the
    double-or-nothing variant of the Poisson bootstrap, the standard
    trick for resampling a dataset no node holds in memory). The
    percentile CI of the replicate means is the uncertainty estimate
    q_ab_ttest's parametric form cannot give for non-normal metrics.

    Determinism: weights are md5-derived integers, replicate means are
    ratios of exact integer sums, and the 2.5/97.5 percentiles
    interpolate over the bounded 100-row replicate table with the same
    p*(n-1) rule on both engines.

    Scale: the fan-out is a flatMap (row x 100 lightweight
    (b, wt*xu) pairs) into a map-side-combined groupBy on b — 100
    groups regardless of input size; no window, no sort, no state.
    B and the weight hash ride the row, so skew is impossible."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("event_id",
                  F.round(F.col("value") * 1e6).cast("bigint").alias("xu")))
    hexc = F.substring(
        F.md5(F.concat(F.lit("boot:"), F.col("event_id").cast("string"),
                       F.lit(":"), F.col("b").cast("string"))), 32, 1)
    fan = (ev.select("event_id", "xu",
                     F.explode(F.sequence(F.lit(0), F.lit(99))).alias("b"))
           .select("b", "xu",
                   ((F.when(hexc.isin(list("13579bdf")), 1).otherwise(0))
                    + (F.when(hexc.isin(list("2367abef")), 1).otherwise(0)))
                   .alias("wt")))
    means = (fan.groupBy("b")
             .agg((F.sum(F.col("wt") * F.col("xu")).cast("double")
                   / F.nullif(F.sum("wt"), F.lit(0)) / 1e6).alias("m")))
    return means.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reps"),
        (F.round(F.avg("m"), 6) + 0.0).alias("boot_mean"),
        (F.round(F.percentile("m", F.lit(0.025)), 6) + 0.0).alias("ci_lo"),
        (F.round(F.percentile("m", F.lit(0.975)), 6) + 0.0).alias("ci_hi"))


# ---------------------------------------------------------------------------
# Categorical KL / Jensen-Shannon drift between corpus snapshots
# ---------------------------------------------------------------------------

@query("q_kl_drift", oracle="""
WITH tagged AS (
  SELECT source, doc_id % 2 AS snap FROM documents
), counts AS (
  SELECT source,
         1 + COUNT(*) FILTER (WHERE snap = 0) AS ca,
         1 + COUNT(*) FILTER (WHERE snap = 1) AS cb
  FROM tagged GROUP BY source
), tot AS (
  SELECT SUM(ca) AS ta, SUM(cb) AS tb FROM counts
)
SELECT source,
       CAST(ca AS BIGINT) AS n_a, CAST(cb AS BIGINT) AS n_b,
       ROUND((ca::DOUBLE / ta) * LN((ca::DOUBLE / ta) / (cb::DOUBLE / tb))
             * 1000, 6) + 0.0 AS kl_term_milli,
       ROUND((cb::DOUBLE / tb) * LN((cb::DOUBLE / tb) / (ca::DOUBLE / ta))
             * 1000, 6) + 0.0 AS rev_kl_term_milli
FROM counts CROSS JOIN tot
""")
def q_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical distribution drift: per-source KL divergence terms
    (both directions, in millinats) between two corpus snapshots —
    the categorical companion to q_ks_drift (numeric distributions)
    and q_chi_square (independence): "did the SOURCE MIX shift between
    crawls?" is the question that decides whether a trained model's
    data distribution still matches production. Add-one smoothing
    keeps both distributions strictly positive; summing the terms
    gives total KL in each direction. Demo split: doc_id parity as
    snapshot A/B.

    Determinism: counts are integers; every probability is a ratio of
    exact integer sums; LN runs on identical doubles both engines.

    Scale: one map-side-combined conditional-count groupBy on source,
    a 1-row totals broadcast — the q_pagerank |V| pattern; output is
    |sources| rows."""
    d = load_table(spark, sf_dir, "documents")
    counts = (d.select("source", (F.col("doc_id") % 2).alias("snap"))
              .groupBy("source")
              .agg((1 + F.count(F.when(F.col("snap") == 0, 1))).alias("ca"),
                   (1 + F.count(F.when(F.col("snap") == 1, 1))).alias("cb")))
    tot = counts.agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
    pa = F.col("ca").cast("double") / F.col("ta")
    pb = F.col("cb").cast("double") / F.col("tb")
    return (counts.crossJoin(F.broadcast(tot))
            .select("source",
                    F.col("ca").cast("bigint").alias("n_a"),
                    F.col("cb").cast("bigint").alias("n_b"),
                    (F.round(pa * F.log(pa / pb) * 1000, 6) + 0.0)
                    .alias("kl_term_milli"),
                    (F.round(pb * F.log(pb / pa) * 1000, 6) + 0.0)
                    .alias("rev_kl_term_milli")))


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------

@query("q_markov_transitions", oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), c AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS c
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
), t AS (
  SELECT prev_type, SUM(c) AS tot FROM c GROUP BY prev_type
)
SELECT c.prev_type, c.next_type, CAST(c.c AS BIGINT) AS c,
       ROUND(c.c::DOUBLE / t.tot, 6) + 0.0 AS p
FROM c JOIN t USING (prev_type)
""")
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current event type), the behavioral
    fingerprint behind next-action prediction, anomaly scoring (a
    session whose transitions are improbable under the matrix), and
    synthetic-session generation. Sequences are ordered by the total
    key (ts, event_id) so ties cannot flip a transition.

    Determinism: transition counts are exact integers; each
    probability is one integer-ratio division rounded at 6.

    Scale: one shuffle on user_id for the lag window (the sessionize
    shape), then a map-side-combined groupBy onto at most
    |types|^2 rows; the row-total normalizer is a window over the
    ALREADY-AGGREGATED |types|^2 table, so no second pass over the
    events — the 10M-event power user costs one partition's sort,
    never a driver buffer."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "event_type",
                    F.lag("event_type").over(w).alias("prev_type"))
    c = (seq.filter(F.col("prev_type").isNotNull())
         .groupBy("prev_type", F.col("event_type").alias("next_type"))
         .agg(F.count(F.lit(1)).alias("c")))
    wt = W.partitionBy("prev_type")
    return (c.select("prev_type", "next_type",
                     F.col("c").cast("bigint").alias("c"),
                     (F.round(F.col("c").cast("double")
                              / F.sum("c").over(wt), 6) + 0.0).alias("p")))


# ---------------------------------------------------------------------------
# Shuffle-key skew audit
# ---------------------------------------------------------------------------

@query("q_skew_audit", oracle="""
WITH k AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(MAX(n) AS BIGINT) AS max_key_rows,
       CAST(MIN(n) AS BIGINT) AS min_key_rows,
       ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY n), 6) + 0.0
         AS p50_key_rows,
       ROUND(PERCENTILE_CONT(0.99) WITHIN GROUP (ORDER BY n), 6) + 0.0
         AS p99_key_rows,
       ROUND(MAX(n)::DOUBLE * COUNT(*) / SUM(n), 6) + 0.0 AS skew_ratio
FROM k
""")
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit: the distribution of per-key row counts
    for a prospective join/groupBy key — the diagnostic you run BEFORE
    committing a 100 TB shuffle to that key. skew_ratio (hottest key
    vs mean) is the decision number: ~1 means hash partitioning is
    fine; >> 1 means the hot key needs salting (q_join_salted /
    q_agg_salted) or AQE skew-split (tests/test_scale_patterns.py
    demonstrates the runtime half of that remediation live).

    Determinism: all counts exact integers; percentiles are exact
    interpolating percentiles over integers (the q_agg_percentile
    contract); skew_ratio is one fixed double expression.

    Scale: one map-side-combined groupBy on the key, then a grand
    aggregate over |keys| rows. The exact interpolating percentile
    sorts |keys| (not |rows|); at extreme key cardinality swap
    percentile -> percentile_approx with the plan otherwise
    unchanged."""
    ev = load_table(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return k.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_key_rows"),
        F.min("n").cast("bigint").alias("min_key_rows"),
        (F.round(F.percentile("n", F.lit(0.5)), 6) + 0.0)
        .alias("p50_key_rows"),
        (F.round(F.percentile("n", F.lit(0.99)), 6) + 0.0)
        .alias("p99_key_rows"),
        (F.round(F.max("n").cast("double") * F.count(F.lit(1))
                 / F.sum("n"), 6) + 0.0).alias("skew_ratio"))


# ---------------------------------------------------------------------------
# Growth accounting: daily new users and cumulative users-to-date
# ---------------------------------------------------------------------------

@query("q_user_growth", oracle="""
WITH first_seen AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
), daily AS (
  SELECT d, COUNT(*) AS new_users FROM first_seen GROUP BY d
)
SELECT CAST(d AS VARCHAR) AS day,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(SUM(new_users) OVER (ORDER BY d) AS BIGINT) AS cum_users
FROM daily
""")
def q_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each user's first-seen day, rolled up to
    daily new-user counts and the cumulative users-to-date curve — the
    activation half of the lifecycle pair whose retention half is
    q_cohort_retention (same first-seen anchor, different follow).

    Determinism: MIN over dates and integer counts only; the running
    sum is over a totally-ordered day key.

    Scale: one groupBy(user_id) (min date), one groupBy(day) — both
    map-side combined; the cumulative window runs over the BOUNDED
    |days| table (the q_ewma bounded-series argument), never over
    users or events."""
    ev = load_table(spark, sf_dir, "events")
    first = (ev.groupBy("user_id")
             .agg(F.min(F.col("ts").cast("date")).alias("d")))
    daily = first.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        F.col("d").cast("string").alias("day"),
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"))


# ---------------------------------------------------------------------------
# Sequence-pattern matching over reconstructed per-user journeys
# ---------------------------------------------------------------------------

@query("q_sequence_pattern", oracle="""
WITH j AS (
  SELECT user_id,
         STRING_AGG(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS jn
  FROM events GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(*) FILTER (WHERE regexp_matches(jn, 'vp')) AS BIGINT)
         AS n_direct,
       CAST(COUNT(*) FILTER (WHERE regexp_matches(jn, 'vc+p')) AS BIGINT)
         AS n_assisted,
       CAST(COUNT(*) FILTER (WHERE regexp_matches(jn, 'ee')) AS BIGINT)
         AS n_error_burst
FROM j
""")
def q_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence-pattern matching: reconstruct
    each user's journey as an initials string in (ts, event_id) total
    order and count users matching CONTIGUOUS patterns — direct
    conversion (view immediately followed by purchase), assisted
    conversion (view, clicks, purchase with nothing in between), and
    error bursts (back-to-back errors). Adjacency is what the funnel
    operator (q_events_funnel) deliberately cannot see: its running
    conditional mins answer "eventually", these regexes answer
    "immediately next" — the difference between attribution and
    conversion-path analysis.

    Determinism: the journey string is built on a TOTAL per-user
    order (ts, event_id) — both engines agg in identical order; all
    outputs are integer counts of regex matches on identical strings
    (patterns stick to literal/+ constructs with identical semantics
    in Java and RE2-family engines).

    Scale: one shuffle on user_id; per-user state is that user's
    event-initial string (the sessionize bound — journey length, not
    corpus size); the pattern tests are map-side over |users| rows
    and adding a pattern is one more conditional count, not another
    pass."""
    ev = load_table(spark, sf_dir, "events")
    seq = F.array_sort(F.collect_list(F.struct(
        "ts", "event_id", F.substring("event_type", 1, 1).alias("ini"))))
    j = (ev.groupBy("user_id")
         .agg(F.concat_ws(
             "", F.transform(seq, lambda s: s["ini"])).alias("jn")))
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.count(F.when(F.col("jn").rlike("vp"), 1)).cast("bigint")
        .alias("n_direct"),
        F.count(F.when(F.col("jn").rlike("vc+p"), 1)).cast("bigint")
        .alias("n_assisted"),
        F.count(F.when(F.col("jn").rlike("ee"), 1)).cast("bigint")
        .alias("n_error_burst"))


# ---------------------------------------------------------------------------
# Single change-point detection per series (binary-segmentation step)
# ---------------------------------------------------------------------------

@query("q_changepoint", oracle="""
WITH v AS (
  SELECT event_type, ts, event_id,
         CAST(ROUND(value * 1000000) AS BIGINT) AS xu
  FROM events WHERE value IS NOT NULL
), c AS (
  SELECT event_type, ts,
         SUM(xu) OVER w AS st,
         ROW_NUMBER() OVER w AS idx,
         SUM(xu) OVER w2 AS stot,
         COUNT(*) OVER w2 AS n
  FROM v
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id),
         w2 AS (PARTITION BY event_type ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
), s AS (
  SELECT event_type, idx, ts, n,
         ABS(CAST(n AS HUGEINT) * st - CAST(idx AS HUGEINT) * stot) AS stat,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY ABS(CAST(n AS HUGEINT) * st
                        - CAST(idx AS HUGEINT) * stot) DESC, idx) AS rk
  FROM c WHERE idx < n
)
SELECT event_type, CAST(idx AS BIGINT) AS change_idx,
       CAST(CAST(ts AS DATE) AS VARCHAR) AS change_day,
       ROUND(CAST(stat AS DOUBLE) / idx / (n - idx) / 1000000, 6) + 0.0
         AS mean_shift
FROM s WHERE rk = 1
""")
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection per series — one binary-
    segmentation step: the split index t maximizing the scaled
    mean-shift statistic |N*S_t - t*S_N| (algebraically equal to
    t*(N-t)*|mean_left - mean_right|, the CUSUM-family criterion).
    A drift alarm says a series drifted; this says WHERE — iterate
    on each side for full binary segmentation.

    Determinism: the argmax statistic is an EXACT integer at every
    candidate split (micro-unit prefix sums, DECIMAL(38,0)/HUGEINT
    cross-products — the q_acf widening), with an idx tiebreak; only
    the reported mean_shift is divided back to float, after the
    argmax is already decided.

    Scale: one exchange per series key — the prefix sums, the series
    totals (same window frame, shared sort), and the argmax rank all
    run over the same event_type partitioning; nothing is quadratic
    in series length (the naive per-split recompute would be)."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("event_type", "ts", "event_id",
                  F.round(F.col("value") * 1e6).cast("bigint").alias("xu")))
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    w2 = (W.partitionBy("event_type").orderBy("ts", "event_id")
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    c = ev.select(
        "event_type", "ts",
        F.sum("xu").over(w).alias("st"),
        F.row_number().over(w).alias("idx"),
        F.sum("xu").over(w2).alias("stot"),
        F.count(F.lit(1)).over(w2).alias("n"))
    big = "decimal(38,0)"
    stat = F.abs(F.col("n").cast(big) * F.col("st")
                 - F.col("idx").cast(big) * F.col("stot"))
    wr = W.partitionBy("event_type").orderBy(stat.desc(), "idx")
    s = (c.filter(F.col("idx") < F.col("n"))
         .select("event_type", "idx", "ts", "n", stat.alias("stat"),
                 F.row_number().over(wr).alias("rk")))
    return (s.filter(F.col("rk") == 1)
            .select("event_type",
                    F.col("idx").cast("bigint").alias("change_idx"),
                    F.col("ts").cast("date").cast("string")
                    .alias("change_day"),
                    (F.round(F.col("stat").cast("double") / F.col("idx")
                             / (F.col("n") - F.col("idx")) / 1e6, 6) + 0.0)
                    .alias("mean_shift")))


# ---------------------------------------------------------------------------
# Batch sessionization: 30-minute idle-gap sessions with per-session stats
# ---------------------------------------------------------------------------

@query("q_sessionize", oracle="""
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, CAST(sid AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
FROM s GROUP BY user_id, sid
""")
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: split each user's event stream at >30 min
    idle gaps (lag + cumulative-flag-sum — the canonical gap-and-
    island idiom) and report per-session event counts and durations.
    The same semantics as the event-time session window
    (q_stream_session), in one relational pass.

    Determinism: the gap test is exact timestamp arithmetic on a
    total (ts, event_id) order; session ids are integer running sums;
    durations are integer seconds.

    Scale: ONE shuffle on user_id — the lag window, the session-id
    running sum, and the per-(user, session) groupBy all share that
    partitioning (the q_events_funnel contract); per-user state is a
    sort, never a buffer."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # microsecond-exact gap test (cast-to-long would floor seconds and
    # disagree with the oracle on sub-second straddles)
    new_s = F.when(
        prev.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev) > 1_800_000_000), 1
    ).otherwise(0)
    s = (ev.select("user_id", "ts", "event_id", new_s.alias("new_s"))
         .select("user_id", "ts",
                 F.sum("new_s").over(
                     w.rowsBetween(W.unboundedPreceding, W.currentRow))
                 .alias("sid")))
    return (s.groupBy("user_id", "sid")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 (F.max(F.col("ts").cast("long"))
                  - F.min(F.col("ts").cast("long"))).cast("bigint")
                 .alias("duration_s"))
            .select("user_id", F.col("sid").cast("bigint")
                    .alias("session_id"), "n_events", "duration_s"))


# ---------------------------------------------------------------------------
# RFM segmentation via broadcast quintile thresholds (no global window)
# ---------------------------------------------------------------------------

@query("q_rfm_segments", oracle="""
WITH m AS (
  SELECT o_custkey AS cust,
         epoch_us(MAX(o_orderdate)) AS rec,
         COUNT(*) AS freq,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS mon
  FROM orders GROUP BY 1
), th AS (
  SELECT
    PERCENTILE_CONT(0.2) WITHIN GROUP (ORDER BY rec) AS r20,
    PERCENTILE_CONT(0.4) WITHIN GROUP (ORDER BY rec) AS r40,
    PERCENTILE_CONT(0.6) WITHIN GROUP (ORDER BY rec) AS r60,
    PERCENTILE_CONT(0.8) WITHIN GROUP (ORDER BY rec) AS r80,
    PERCENTILE_CONT(0.2) WITHIN GROUP (ORDER BY freq) AS f20,
    PERCENTILE_CONT(0.4) WITHIN GROUP (ORDER BY freq) AS f40,
    PERCENTILE_CONT(0.6) WITHIN GROUP (ORDER BY freq) AS f60,
    PERCENTILE_CONT(0.8) WITHIN GROUP (ORDER BY freq) AS f80,
    PERCENTILE_CONT(0.2) WITHIN GROUP (ORDER BY mon) AS m20,
    PERCENTILE_CONT(0.4) WITHIN GROUP (ORDER BY mon) AS m40,
    PERCENTILE_CONT(0.6) WITHIN GROUP (ORDER BY mon) AS m60,
    PERCENTILE_CONT(0.8) WITHIN GROUP (ORDER BY mon) AS m80
  FROM m
)
SELECT
  1 + (rec > r20)::INT + (rec > r40)::INT + (rec > r60)::INT
    + (rec > r80)::INT AS r_quintile,
  1 + (freq > f20)::INT + (freq > f40)::INT + (freq > f60)::INT
    + (freq > f80)::INT AS f_quintile,
  1 + (mon > m20)::INT + (mon > m40)::INT + (mon > m60)::INT
    + (mon > m80)::INT AS m_quintile,
  CAST(COUNT(*) AS BIGINT) AS n_customers
FROM m CROSS JOIN th
GROUP BY 1, 2, 3
""")
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency / frequency / monetary quintiles per
    customer, reported as segment sizes — the classic behavioral
    cube. Deliberately NOT the ntile() form: quintile membership is
    decided by comparing each customer against FOUR broadcast
    percentile thresholds, so the customer table is never globally
    sorted (ntile's partition-less window is exactly the q_oov_rate
    single-partition collapse this repo bans — same fix as
    q_quality_percentile's broadcast-back).

    Determinism: all three metrics are exact integers (epoch micros,
    counts, cents); thresholds are exact interpolating percentiles
    over those integers; engines compare the same integer against
    the same double (ties-at-threshold fall to the LOWER bucket on
    both sides).

    Scale: one customer aggregate, a 1-row threshold aggregate
    broadcast back, map-side bucket assignment, and a <=125-key
    groupBy. Swap the percentile pass to the quantile sketch
    (operators/quantile_sketch.py) at extreme cardinality; the
    assignment side is unchanged."""
    o = load_table(spark, sf_dir, "orders")
    m = (o.groupBy(F.col("o_custkey").alias("cust"))
         .agg(F.unix_micros(F.max("o_orderdate")).alias("rec"),
              F.count(F.lit(1)).alias("freq"),
              F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
              .alias("mon")))
    th = m.agg(*[
        F.percentile(c, F.lit(p)).alias(f"{c[0]}{int(p * 100)}")
        for c in ("rec", "freq", "mon") for p in (0.2, 0.4, 0.6, 0.8)])

    def quintile(c: str):
        out = F.lit(1)
        for p in (20, 40, 60, 80):
            out = out + (F.col(c) > F.col(f"{c[0]}{p}")).cast("int")
        return out

    return (m.crossJoin(F.broadcast(th))
            .groupBy(quintile("rec").alias("r_quintile"),
                     quintile("freq").alias("f_quintile"),
                     quintile("mon").alias("m_quintile"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers")))


# ---------------------------------------------------------------------------
# Seasonal baseline + residual anomaly counts (hour-of-day profile)
# ---------------------------------------------------------------------------

@query("q_seasonal_baseline", oracle="""
WITH v AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS h,
         CAST(ROUND(value * 1000000) AS BIGINT) AS xu
  FROM events WHERE value IS NOT NULL
), prof AS (
  SELECT event_type, h, COUNT(*) AS n, SUM(xu) AS su,
         SUM(CAST(xu AS HUGEINT) * xu) AS sxx
  FROM v GROUP BY 1, 2
), scored AS (
  SELECT v.event_type, v.h, p.n, p.su,
         CASE WHEN p.n * p.sxx - CAST(p.su AS HUGEINT) * p.su > 0 THEN
           ROUND(ABS(CAST(v.xu AS HUGEINT) * p.n - p.su)::DOUBLE
                 / p.n
                 / sqrt((p.n * p.sxx - CAST(p.su AS HUGEINT) * p.su)::DOUBLE
                        / p.n / p.n), 6)
         END AS z
  FROM v JOIN prof p ON p.event_type = v.event_type AND p.h = v.h
)
SELECT event_type, CAST(h AS BIGINT) AS hour,
       CAST(MAX(n) AS BIGINT) AS n,
       ROUND(MAX(su)::DOUBLE / MAX(n) / 1000000, 6) + 0.0 AS mean_value,
       CAST(COUNT(*) FILTER (WHERE z > 3) AS BIGINT) AS n_anomalies
FROM scored GROUP BY 1, 2
""")
def q_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly baseline: an hour-of-day profile (mean per
    (event_type, hour) cell) with residual z-scores counted against
    it — "is this value unusual FOR 3 AM", the seasonality-aware
    complement to q_anomaly_mad's global robust gate and q_zscore's
    unconditioned standardization. The profile is the model; the
    anomaly count per cell is the report a monitoring job alerts on.

    Determinism: the profile is exact integer sufficient statistics
    (micro-unit sums, HUGEINT/DECIMAL(38,0) squares — the q_acf
    widening); each z-score is |n*x - S| / (n * sd), an exact-integer
    numerator over identical doubles, rounded before the > 3 test;
    zero-variance cells yield NULL z (never anomalous) via the
    guarded CASE.

    Scale: one map-side-combined profile groupBy (<= |types| x 24
    cells), broadcast back onto an unshuffled second scan (the
    q_winsorize shape), one final cell groupBy."""
    big = "decimal(38,0)"
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("event_type", F.hour("ts").alias("h"),
                  F.round(F.col("value") * 1e6).cast("bigint").alias("xu")))
    prof = (ev.groupBy("event_type", "h")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("xu").alias("su"),
                 F.sum(F.col("xu").cast(big) * F.col("xu")).alias("sxx")))
    pv = ev.join(F.broadcast(prof), ["event_type", "h"])
    varnum = (F.col("n").cast(big) * F.col("sxx")
              - F.col("su").cast(big) * F.col("su"))
    sd = F.sqrt(varnum.cast("double") / F.col("n") / F.col("n"))
    z = F.when(
        varnum > 0,
        F.round(F.abs(F.col("xu").cast(big) * F.col("n")
                      - F.col("su")).cast("double") / F.col("n") / sd, 6))
    return (pv.select("event_type", "h", "n", "su", z.alias("z"))
            .groupBy("event_type", F.col("h").cast("bigint").alias("hour"))
            .agg(F.max("n").cast("bigint").alias("n"),
                 (F.round(F.max("su").cast("double") / F.max("n") / 1e6, 6)
                  + 0.0).alias("mean_value"),
                 F.count(F.when(F.col("z") > 3, 1)).cast("bigint")
                 .alias("n_anomalies")))


# ---------------------------------------------------------------------------
# Holt double exponential smoothing (level + trend)
# ---------------------------------------------------------------------------

@query("q_holt_forecast", oracle="""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(ROUND(SUM(CAST(ROUND(value * 1000000) AS BIGINT))::DOUBLE
                    / COUNT(*)) AS BIGINT) AS mu
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), ordered AS (
  SELECT event_type, mu,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
), rec AS (
  SELECT o2.event_type, CAST(2 AS BIGINT) AS rk, o2.n,
         CAST(o2.mu AS DOUBLE) AS l,
         CAST(o2.mu - o1.mu AS DOUBLE) AS b
  FROM ordered o1 JOIN ordered o2
    ON o2.event_type = o1.event_type AND o1.rk = 1 AND o2.rk = 2
  UNION ALL
  SELECT o.event_type, o.rk, o.n,
         0.5 * o.mu + 0.5 * (r.l + r.b),
         0.5 * ((0.5 * o.mu + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
  FROM ordered o JOIN rec r
    ON o.event_type = r.event_type AND o.rk = r.rk + 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       ROUND(l / 1000000, 6) + 0.0 AS level,
       ROUND(b / 1000000, 6) + 0.0 AS trend,
       ROUND((l + b) / 1000000, 6) + 0.0 AS forecast_1
FROM rec WHERE rk = n AND n >= 2
""")
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (alpha = beta = 0.5) over
    each event type's daily-mean series: level + trend state and the
    one-step-ahead forecast — the trend-aware upgrade of q_ewma (a
    drifting KPI pulls EWMA permanently behind; Holt's trend term
    follows it). Init: level = second day, trend = day2 - day1; the
    recurrence runs from day 3 (series with one day are dropped,
    matching the n >= 2 guard).

    Determinism: daily means are integer micro-units; both engines
    run the SAME sequence of double ops in the same order (Spark: an
    in-row aggregate() fold with a struct accumulator; DuckDB: a
    recursive CTE whose step expression is written identically, the
    q_ewma argument extended to two states).

    Scale: the fold runs over the BOUNDED per-series daily table —
    state is |days| per series, never |rows|; one map-side-combined
    groupBy gets there."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.round(F.sum(F.round(F.col("value") * 1e6).cast("bigint"))
                          .cast("double") / F.count(F.lit(1)))
                  .cast("bigint").alias("mu")))
    series = (daily.groupBy("event_type")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"),
                   F.sort_array(F.collect_list(F.struct("day", "mu")))
                   .alias("seq"))
              .filter(F.col("n_days") >= 2))
    x1 = F.element_at("seq", 1)["mu"]
    x2 = F.element_at("seq", 2)["mu"]
    init = F.struct(x2.cast("double").alias("l"),
                    (x2 - x1).cast("double").alias("b"))
    state = F.aggregate(
        F.slice("seq", 3, F.greatest(F.size("seq") - 2, F.lit(0))),
        init,
        lambda acc, x: F.struct(
            (0.5 * x["mu"] + 0.5 * (acc["l"] + acc["b"])).alias("l"),
            (0.5 * ((0.5 * x["mu"] + 0.5 * (acc["l"] + acc["b"]))
                    - acc["l"]) + 0.5 * acc["b"]).alias("b")))
    return series.select(
        "event_type", "n_days",
        (F.round(state["l"] / 1e6, 6) + 0.0).alias("level"),
        (F.round(state["b"] / 1e6, 6) + 0.0).alias("trend"),
        (F.round((state["l"] + state["b"]) / 1e6, 6) + 0.0)
        .alias("forecast_1"))


# ---------------------------------------------------------------------------
# Last-touch attribution
# ---------------------------------------------------------------------------

@query("q_attribution", oracle="""
WITH o AS (
  SELECT user_id, event_type,
         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS src
  FROM events
)
SELECT COALESCE(src, 'none') AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases
FROM o WHERE event_type = 'purchase'
GROUP BY 1
""")
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the
    user's most recent PRECEDING non-purchase event type — the
    marketing-analytics assignment question, answered by one
    ignore-nulls last_value over a (ts, event_id) total order with a
    1-PRECEDING frame (a purchase can never credit itself, or a
    same-timestamp later event). First-session purchases with no
    prior touch fall into the 'none' channel. Complements
    q_events_funnel (did the path complete) and q_sequence_pattern
    (was it contiguous) with WHO GETS CREDIT.

    Determinism: purely positional on the total order; integer
    counts.

    Scale: one user_id window + a |channels|-key map-side-combined
    groupBy; per-user state is the running last-touch value — O(1)."""
    ev = load_table(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, -1))
    src = F.last(F.when(F.col("event_type") != "purchase",
                        F.col("event_type")), ignorenulls=True).over(w)
    return (ev.select("event_type", src.alias("src"))
            .filter(F.col("event_type") == "purchase")
            .groupBy(F.coalesce("src", F.lit("none")).alias("channel"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_purchases")))


# ---------------------------------------------------------------------------
# Native recursive CTE: gap-filled activity calendar
# ---------------------------------------------------------------------------

@query("q_recursive_calendar", oracle="""
WITH RECURSIVE spine(day) AS (
  SELECT MIN(CAST(ts AS DATE)) FROM events
  UNION ALL
  SELECT (day + INTERVAL 1 DAY)::DATE FROM spine
  WHERE day < (SELECT MAX(CAST(ts AS DATE)) FROM events)
), daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1
)
SELECT CAST(spine.day AS VARCHAR) AS day,
       CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_events
FROM spine LEFT JOIN daily ON daily.day = spine.day
""")
def q_recursive_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled activity calendar driven by a NATIVE recursive CTE
    (Spark 4's WITH RECURSIVE): the day spine is generated by the
    engine's iterative plan — seed = first active day, step = +1 day
    until the last — then daily counts left-join onto it so
    zero-activity days become visible rows (the property a plain
    groupBy can never produce). Complements q_gap_fill's in-row
    sequence() scaffold with the engine-level feature a user porting
    recursive SQL needs to know exists; the recursion is UNION ALL
    with a scalar-subquery stop condition (Spark does not yet allow
    UNION-distinct recursion).

    Determinism: the spine is a pure date arithmetic chain; counts
    are integers.

    Scale: recursion depth = |days| (bounded by the data's time
    span, never by row count); each step is a 1-row projection; the
    daily aggregate is one map-side-combined groupBy."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("_rc_ev")
    return spark.sql("""
    WITH RECURSIVE spine(day) AS (
      SELECT MIN(CAST(ts AS DATE)) FROM _rc_ev
      UNION ALL
      SELECT date_add(day, 1) FROM spine
      WHERE day < (SELECT MAX(CAST(ts AS DATE)) FROM _rc_ev)
    ), daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM _rc_ev GROUP BY 1
    )
    SELECT CAST(spine.day AS STRING) AS day,
           CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_events
    FROM spine LEFT JOIN daily ON daily.day = spine.day
    """)


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve: time to first purchase with censoring
# ---------------------------------------------------------------------------

@query("q_kaplan_meier", oracle="""
WITH per_user AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
           AS tp
  FROM events GROUP BY user_id
), horizon AS (
  SELECT MAX(CAST(ts AS DATE)) AS tmax FROM events
), durs AS (
  SELECT CASE WHEN tp IS NOT NULL THEN date_diff('day', t0, tp)
              ELSE date_diff('day', t0, tmax) END AS d_days,
         (tp IS NOT NULL) AS is_event
  FROM per_user CROSS JOIN horizon
), tbl AS (
  SELECT d_days,
         COUNT(*) FILTER (WHERE is_event) AS d,
         COUNT(*) FILTER (WHERE NOT is_event) AS c
  FROM durs GROUP BY d_days
), curve AS (
  SELECT d_days, d, c,
         (SELECT COUNT(*) FROM durs) - COALESCE(SUM(d + c) OVER (
            ORDER BY d_days ROWS BETWEEN UNBOUNDED PRECEDING
            AND 1 PRECEDING), 0) AS n_risk
  FROM tbl
), terms AS (
  SELECT d_days, d, c, n_risk,
         CASE WHEN d > 0 AND d < n_risk
              THEN CAST(ROUND(LN(1.0 - d::DOUBLE / n_risk) * 1000000000)
                        AS BIGINT)
              WHEN d = 0 THEN 0 END AS term_n
  FROM curve
)
SELECT CAST(d_days AS BIGINT) AS d_days,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS d_events,
       CAST(c AS BIGINT) AS c_censored,
       CASE WHEN SUM(CASE WHEN term_n IS NULL THEN 1 ELSE 0 END) OVER w > 0
            THEN 0.0
            ELSE ROUND(EXP(SUM(term_n) OVER w / 1000000000.0), 6) + 0.0
       END AS survival
FROM terms
WINDOW w AS (ORDER BY d_days ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)
""")
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase:
    S(t) = prod over event days (1 - d_i / n_i) with users who never
    purchase right-censored at the observation horizon — the churn /
    conversion-lag estimator that handles incomplete observation
    correctly (a plain conversion-time histogram silently drops the
    users still "at risk"). d = conversions at that lag, c =
    censorings, n_risk = users still unconverted and observed.

    Determinism: the product is computed as exp of a cumulative sum
    of ln(1 - d/n) terms QUANTIZED to integer nano-units before
    summing (order-free, the q_dsir trick); d/n is a ratio of exact
    integers so both engines take ln of the same double. A day where
    d = n_risk drives survival to exactly 0.0 via the NULL-term
    short-circuit, never through exp(-inf).

    Scale: one user aggregate, a 1-row horizon broadcast, a groupBy
    onto |distinct lags| rows, and cumulative windows over that
    BOUNDED table (the q_user_growth bounded-days argument)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.min(F.col("ts").cast("date")).alias("t0"),
                     F.min(F.when(F.col("event_type") == "purchase",
                                  F.col("ts").cast("date"))).alias("tp")))
    horizon = ev.agg(F.max(F.col("ts").cast("date")).alias("tmax"))
    durs = (per_user.crossJoin(F.broadcast(horizon))
            .select(F.when(F.col("tp").isNotNull(),
                           F.datediff("tp", "t0"))
                    .otherwise(F.datediff("tmax", "t0")).alias("d_days"),
                    F.col("tp").isNotNull().alias("is_event")))
    tbl = (durs.groupBy("d_days")
           .agg(F.count(F.when(F.col("is_event"), 1)).alias("d"),
                F.count(F.when(~F.col("is_event"), 1)).alias("c")))
    total = durs.agg(F.count(F.lit(1)).alias("n_total"))
    w_prev = W.orderBy("d_days").rowsBetween(W.unboundedPreceding, -1)
    w_cum = W.orderBy("d_days").rowsBetween(W.unboundedPreceding,
                                            W.currentRow)
    curve = (tbl.crossJoin(F.broadcast(total))
             .select("d_days", "d", "c",
                     (F.col("n_total")
                      - F.coalesce(F.sum(F.col("d") + F.col("c"))
                                   .over(w_prev), F.lit(0)))
                     .alias("n_risk")))
    term_n = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.round(F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))
                * 1e9).cast("bigint")
    ).when(F.col("d") == 0, F.lit(0).cast("bigint"))
    terms = curve.select("d_days", "d", "c", "n_risk",
                         term_n.alias("term_n"))
    dead = F.sum(F.when(F.col("term_n").isNull(), 1).otherwise(0)).over(w_cum)
    surv = F.when(dead > 0, F.lit(0.0)).otherwise(
        F.round(F.exp(F.sum("term_n").over(w_cum) / 1e9), 6) + 0.0)
    return terms.select(
        F.col("d_days").cast("bigint").alias("d_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("d_events"),
        F.col("c").cast("bigint").alias("c_censored"),
        surv.alias("survival"))


# ---------------------------------------------------------------------------
# A/B test power analysis: required sample size per arm
# ---------------------------------------------------------------------------

@query("q_ab_power", oracle="""
WITH s AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS su,
         SUM(CAST(CAST(ROUND(value * 1000000) AS BIGINT) AS HUGEINT)
             * CAST(ROUND(value * 1000000) AS BIGINT)) AS sxx
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_obs,
       ROUND(su::DOUBLE / n / 1000000, 6) + 0.0 AS mean_value,
       ROUND(sqrt((n * sxx - CAST(su AS HUGEINT) * su)::DOUBLE
                  / n / (n - 1)) / 1000000, 6) + 0.0 AS sd,
       ROUND(0.05 * su::DOUBLE / n / 1000000, 6) + 0.0 AS mde,
       CAST(CEIL(2.0 * 7.849 * ((n * sxx - CAST(su AS HUGEINT) * su)::DOUBLE
                                / n / (n - 1))
                 / (0.05 * su::DOUBLE / n)
                 / (0.05 * su::DOUBLE / n)) AS BIGINT) AS n_per_arm
FROM s WHERE n >= 2
""")
def q_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment power analysis: the sample size each arm needs
    to detect a 5% shift of the mean at alpha = 0.05 with power 0.8
    (n = 2 (z_{0.975}+z_{0.8})^2 sigma^2 / delta^2; the z-term
    (1.96 + 0.8416)^2 is carried as the conventional 7.849 constant)
    — the question asked BEFORE the experiment that q_ab_ttest
    evaluates after. Planning and judging now bracket the A/B
    lifecycle.

    Determinism: variance comes from exact integer sufficient
    statistics (the q_seasonal_baseline widening), so both engines
    ceil the same double; the z constant is a shared literal.

    Scale: one conditional-aggregate pass, map-side combined; the
    formula is a map-side expression over |types| rows."""
    big = "decimal(38,0)"
    xu = F.round(F.col("value") * 1e6).cast("bigint")
    s = (load_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"), F.sum(xu).alias("su"),
              F.sum(xu.cast(big) * xu).alias("sxx"))
         .filter(F.col("n") >= 2))
    var_u2 = ((F.col("n").cast(big) * F.col("sxx")
               - F.col("su").cast(big) * F.col("su")).cast("double")
              / F.col("n") / (F.col("n") - 1))
    mean_u = F.col("su").cast("double") / F.col("n")
    delta_u = 0.05 * mean_u
    return s.select(
        "event_type", F.col("n").cast("bigint").alias("n_obs"),
        (F.round(mean_u / 1e6, 6) + 0.0).alias("mean_value"),
        (F.round(F.sqrt(var_u2) / 1e6, 6) + 0.0).alias("sd"),
        (F.round(delta_u / 1e6, 6) + 0.0).alias("mde"),
        F.ceil(2.0 * 7.849 * var_u2 / delta_u / delta_u)
        .cast("bigint").alias("n_per_arm"))


# ---------------------------------------------------------------------------
# Time-boxed funnel: each stage within 1 hour of the previous
# ---------------------------------------------------------------------------

@query("q_funnel_windowed", oracle="""
WITH v AS (
  SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events
), staged AS (
  SELECT user_id, event_type, t,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           OVER hour AS view_1h
  FROM v
  WINDOW hour AS (PARTITION BY user_id ORDER BY t
                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
), staged2 AS (
  SELECT user_id, event_type, t,
         CASE WHEN event_type = 'click' AND view_1h = 1 THEN 1 ELSE 0 END
           AS click_ok,
         MAX(CASE WHEN event_type = 'click' AND view_1h = 1
                  THEN 1 ELSE 0 END)
           OVER hour AS click_ok_1h
  FROM staged
  WINDOW hour AS (PARTITION BY user_id ORDER BY t
                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
), per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s0,
         MAX(click_ok) AS s1,
         MAX(CASE WHEN event_type = 'purchase' AND click_ok_1h = 1
                  THEN 1 ELSE 0 END) AS s2
  FROM staged2 GROUP BY user_id
)
SELECT CAST(SUM(s0) AS BIGINT) AS n_view,
       CAST(SUM(s1) AS BIGINT) AS n_view_click_1h,
       CAST(SUM(s2) AS BIGINT) AS n_full_funnel_1h
FROM per_user
""")
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-boxed funnel: view -> click within 1 HOUR of a view ->
    purchase within 1 HOUR of such a click — the conversion-window
    semantics q_events_funnel's unbounded "eventually" cannot express
    and q_sequence_pattern's strict adjacency over-constrains. Each
    stage's eligibility is a RANGE-frame lookback (did a qualifying
    prior-stage event land in my preceding hour), so intervening
    unrelated events don't break the chain but stale ones do.

    Determinism: event times are integer epoch micros; the range
    frame bound (3_600_000_000 us) is integer arithmetic; outputs
    are integer user counts.

    Scale: all three windows and the per-user collapse share ONE
    user_id partitioning (the q_events_funnel contract); range
    frames are sort-local. Per-user cost is the sort, never a
    buffer."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("user_id", "event_type",
                  F.unix_micros("ts").alias("t"))
    hour = (W.partitionBy("user_id").orderBy("t")
            .rangeBetween(-3_600_000_000, 0))
    staged = v.select(
        "user_id", "event_type", "t",
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .over(hour).alias("view_1h"))
    click_ok = F.when((F.col("event_type") == "click")
                      & (F.col("view_1h") == 1), 1).otherwise(0)
    staged2 = staged.select(
        "user_id", "event_type", "t", click_ok.alias("click_ok"),
        F.max(click_ok).over(hour).alias("click_ok_1h"))
    per_user = (staged2.groupBy("user_id")
                .agg(F.max(F.when(F.col("event_type") == "view", 1)
                           .otherwise(0)).alias("s0"),
                     F.max("click_ok").alias("s1"),
                     F.max(F.when((F.col("event_type") == "purchase")
                                  & (F.col("click_ok_1h") == 1), 1)
                           .otherwise(0)).alias("s2")))
    return per_user.agg(
        F.sum("s0").cast("bigint").alias("n_view"),
        F.sum("s1").cast("bigint").alias("n_view_click_1h"),
        F.sum("s2").cast("bigint").alias("n_full_funnel_1h"))


# ---------------------------------------------------------------------------
# Rolling 7-day active users (WAU), exact, explode-not-range-join
# ---------------------------------------------------------------------------

@query("q_rolling_active_users", oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), days AS (
  SELECT DISTINCT day FROM ud
), expand AS (
  SELECT (ud.day + i * INTERVAL 1 DAY)::DATE AS target, ud.user_id
  FROM ud, UNNEST(range(0, 7)) AS u(i)
)
SELECT CAST(e.target AS VARCHAR) AS day,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS wau
FROM expand e JOIN days d ON d.day = e.target
GROUP BY 1
""")
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day active users (WAU) per calendar day — the
    engagement KPI whose naive form is a RANGE theta-join (every day
    against every user-day) that plans as a nested loop. The scale
    form used here inverts it: each distinct (user, day) pair
    explodes into the <= 7 future days it keeps the user active for
    (bounded fan-out, in-row), then a hash equi-join against the real
    day spine and a count-distinct per day. Distinct-user semantics
    are EXACT — a user active 5 times in the window counts once.

    Determinism: date arithmetic and integer counts only.

    Scale: fan-out is a constant 7x on the DEDUPED user-day table
    (itself one groupBy smaller than events); the join is an
    equi-join on a broadcastable |days| spine; count_distinct
    shuffles (day, user) pairs. At a 90-day window, swap
    count_distinct for the q_hll_union registers — the plan shape
    is unchanged."""
    ev = load_table(spark, sf_dir, "events")
    ud = (ev.select("user_id", F.col("ts").cast("date").alias("day"))
          .distinct())
    days = ud.select("day").distinct() \
             .select(F.col("day").alias("target"))
    expand = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6)))
        .alias("target"))
    return (expand.join(F.broadcast(days), "target")
            .groupBy(F.col("target").cast("string").alias("day"))
            .agg(F.count_distinct("user_id").cast("bigint").alias("wau")))


# ---------------------------------------------------------------------------
# Mutual information between categorical columns (data audit)
# ---------------------------------------------------------------------------

@query("q_mutual_info", oracle="""
WITH cells AS (
  SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY 1, 2
), mx AS (SELECT lang, SUM(c) AS cx FROM cells GROUP BY 1),
my AS (SELECT source, SUM(c) AS cy FROM cells GROUP BY 1),
tot AS (SELECT SUM(c) AS n FROM cells),
terms AS (
  SELECT CAST(ROUND(cells.c * LN(tot.n * cells.c / (mx.cx * my.cy)) * 1e9)
              AS BIGINT) AS t_nano
  FROM cells JOIN mx USING (lang) JOIN my USING (source) CROSS JOIN tot
), hx AS (
  SELECT SUM(CAST(ROUND(cx * LN(tot.n / cx) * 1e9) AS BIGINT)) AS h_nano
  FROM mx CROSS JOIN tot
), hy AS (
  SELECT SUM(CAST(ROUND(cy * LN(tot.n / cy) * 1e9) AS BIGINT)) AS h_nano
  FROM my CROSS JOIN tot
)
SELECT ROUND(SUM(t_nano) / 1e9 / tot.n, 6) + 0.0 AS mi_nats,
       ROUND(SUM(t_nano)
             / SQRT(NULLIF(hx.h_nano::DOUBLE * hy.h_nano::DOUBLE, 0)), 6)
         + 0.0 AS nmi,
       CAST(tot.n AS BIGINT) AS n
FROM terms CROSS JOIN tot CROSS JOIN hx CROSS JOIN hy
GROUP BY tot.n, hx.h_nano, hy.h_nano
""")
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (and NMI, sqrt-entropy normalized) between two
    categorical columns — lang x source on documents. The
    dependence-strength audit beside q_chi_square's yes/no independence
    test: MI in nats says HOW MUCH knowing the source tells you about
    the language, and a spike in corpus-refresh NMI is the
    drifted-crawl alarm q_ks_drift raises for numeric columns.

    Determinism: every term c*ln(N*c/(cx*cy)) is quantized to integer
    nano-units BEFORE summing (the Kaplan-Meier rule) so the cell sum
    is order-free; entropies quantize identically; two final divisions
    rounded at 6.

    Scale: one map-side-combined groupBy onto |X|*|Y| cells; margins
    re-aggregate the CELLS (never the rows twice); everything after the
    first groupBy operates on the bounded contingency table. The
    1-row totals are the sanctioned scalar broadcasts. At 100 TB the
    only full-data pass is the cell count."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("c"))
    mx = cells.groupBy("lang").agg(F.sum("c").alias("cx"))
    my = cells.groupBy("source").agg(F.sum("c").alias("cy"))
    tot = cells.agg(F.sum("c").alias("n"))
    terms = (cells.join(mx, "lang").join(my, "source")
             .crossJoin(F.broadcast(tot))
             .select(F.round(F.col("c") * F.log(
                 F.col("n") * F.col("c") / (F.col("cx") * F.col("cy")))
                 * 1e9).cast("long").alias("t_nano")))
    hx = (mx.crossJoin(F.broadcast(tot))
          .agg(F.sum(F.round(F.col("cx") * F.log(F.col("n") / F.col("cx"))
                             * 1e9).cast("long")).alias("hx_nano")))
    hy = (my.crossJoin(F.broadcast(tot))
          .agg(F.sum(F.round(F.col("cy") * F.log(F.col("n") / F.col("cy"))
                             * 1e9).cast("long")).alias("hy_nano")))
    return (terms.agg(F.sum("t_nano").alias("t"))
            .crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(hx))
            .crossJoin(F.broadcast(hy))
            .select(
                (F.round(F.col("t") / 1e9 / F.col("n"), 6) + F.lit(0.0))
                .alias("mi_nats"),
                F.when((F.col("hx_nano") == 0) | (F.col("hy_nano") == 0),
                       F.lit(None).cast("double"))
                .otherwise(F.round(F.col("t") / F.sqrt(
                    F.col("hx_nano").cast("double")
                    * F.col("hy_nano").cast("double")), 6) + F.lit(0.0))
                .alias("nmi"),
                F.col("n").cast("long").alias("n")))


# ---------------------------------------------------------------------------
# Table diff / snapshot reconciliation
# ---------------------------------------------------------------------------

@query("q_table_diff", oracle="""
WITH b AS (
  SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_custkey % 97 = 0 THEN ROUND(c_acctbal + 50.0, 2)
              ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 101 <> 0
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 103 = 0
), ha AS (
  SELECT c_custkey AS k,
         md5(concat_ws('|', c_name, c_nationkey, ROUND(c_acctbal, 2),
                       c_mktsegment)) AS h
  FROM customer
), hb AS (
  SELECT c_custkey AS k,
         md5(concat_ws('|', c_name, c_nationkey, ROUND(c_acctbal, 2),
                       c_mktsegment)) AS h
  FROM b
), st AS (
  SELECT CASE WHEN ha.k IS NULL THEN 'added'
              WHEN hb.k IS NULL THEN 'removed'
              WHEN ha.h <> hb.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM ha FULL OUTER JOIN hb ON ha.k = hb.k
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY 1
""")
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / reconciliation — the audit half of table
    maintenance (q_merge_upsert applies changes, q_cdc_apply compacts
    them; this PROVES two snapshots agree, and when they don't, says
    how): keyed FULL OUTER JOIN of snapshot A (customer) vs snapshot B
    (customer with deterministic synthetic churn: acctbal bump on
    custkey%97, deletes on %101, inserts on %103), classified
    added / removed / changed / unchanged. The migration-validation and
    backfill-QA primitive.

    Determinism: snapshot B's churn is pure key arithmetic (identical
    on both engines); rows compare by md5 digest of the normalized
    column concatenation, so 'changed' is bit-exact.

    Scale: each side reduces to (key, 16-byte digest) AT THE SCAN —
    the join shuffles digests, never the wide rows (the exact-dedup
    shuffle rule). One hash equi-join + a 4-cell map-side-combined
    count. Column-level drill-down re-reads only the keys the digest
    pass flagged."""
    c = load_table(spark, sf_dir, "customer")
    b = (c.filter(F.col("c_custkey") % 101 != 0)
         .select("c_custkey", "c_name", "c_nationkey",
                 F.when(F.col("c_custkey") % 97 == 0,
                        F.round(F.col("c_acctbal") + 50.0, 2))
                 .otherwise(F.col("c_acctbal")).alias("c_acctbal"),
                 "c_mktsegment")
         .unionByName(
             c.filter(F.col("c_custkey") % 103 == 0)
             .select((F.col("c_custkey") + 1000000).alias("c_custkey"),
                     "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")))

    def digest(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("c_custkey").alias("k"),
            F.md5(F.concat_ws("|", "c_name", "c_nationkey",
                              F.round(F.col("c_acctbal"), 2),
                              "c_mktsegment")).alias("h"))

    ha = digest(c)
    hb = digest(b).select(F.col("k").alias("kb"), F.col("h").alias("hb"))
    st = (ha.join(hb, F.col("k") == F.col("kb"), "full_outer")
          .select(F.when(F.col("k").isNull(), "added")
                  .when(F.col("kb").isNull(), "removed")
                  .when(F.col("h") != F.col("hb"), "changed")
                  .otherwise("unchanged").alias("status")))
    return st.groupBy("status").agg(F.count("*").cast("long").alias("n"))
