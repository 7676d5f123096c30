"""Measurement-assurance queries (round 12, session 4).

The layer that decides whether the NUMBERS THEMSELVES can be trusted
before anyone acts on them: is a drifted distribution far in the
overlap-sensitive sense (q_hellinger_drift, the bounded [0,1] metric
beside the unbounded KL and the width-scaled EMD), do the daily counts
even follow the Poisson model the rate monitors assume
(q_overdispersion), do the model's probabilities survive the classic
goodness-of-fit gate (q_hosmer_lemeshow, the grouped chi-square behind
q_calibration's reliability bins), does a metric stream carry long
memory that invalidates sqrt(n) error bars (q_hurst_exponent, rescaled
range analysis), and do k parallel item scores measure one underlying
thing (q_cronbach_alpha, the internal-consistency coefficient).

Graph-assurance siblings over the co-purchase graph: one HITS
hub/authority iteration (q_hits_step), the degree-distribution
power-law MLE (q_powerlaw_alpha), and Jaccard-neighborhood link
prediction (q_jaccard_linkpred, the set-overlap baseline under
q_adamic_adar's weighted score). Ranking-assurance: mean average
precision (q_map_eval) and rank-biased overlap between two rankers
(q_rbo_overlap).

Reference parity: the reference pipeline trusts its photometry only
after residual QA (telescope-data-pipeline core.py:470-505); these
queries are that habit applied to corpus-scale metrics, models, and
retrieval stacks over the driver tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..session import stock_coalesce_floor
from .registry import query

#: Reference/current split shared with q_psi_drift / q_ks_drift /
#: q_emd_drift so every drift monitor reads the same two windows.
_SPLIT = "2024-01-16 00:00:00"


# ---------------------------------------------------------------------------
# Hellinger / Bhattacharyya drift distance between the two windows
# ---------------------------------------------------------------------------

@query("q_hellinger_drift", oracle=f"""
WITH v AS (
  SELECT value,
         CASE WHEN ts < TIMESTAMP '{_SPLIT}' THEN 0 ELSE 1 END AS side
  FROM events WHERE value IS NOT NULL
), edges AS (
  SELECT MIN(value) AS mn, MAX(value) AS mx FROM v
), binned AS (
  SELECT LEAST(19, GREATEST(0, CAST(COALESCE(
           FLOOR((value - mn) * 20.0 / NULLIF(mx - mn, 0)), 0) AS INT)))
           AS bin,
         side
  FROM v CROSS JOIN edges
), counts AS (
  SELECT b.bin,
         COALESCE(SUM(CASE WHEN side = 0 THEN 1 END), 0) AS n_ref,
         COALESCE(SUM(CASE WHEN side = 1 THEN 1 END), 0) AS n_cur
  FROM (SELECT CAST(UNNEST(generate_series(0, 19)) AS INT) AS bin) b
  LEFT JOIN binned USING (bin)
  GROUP BY b.bin
), tot AS (
  SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM counts
), terms AS (
  SELECT bin, n_ref, n_cur,
         CAST(ROUND(SQRT((n_ref::DOUBLE / NULLIF(t_ref, 0))
                         * (n_cur::DOUBLE / NULLIF(t_cur, 0))) * 1e12)
              AS BIGINT) AS bc_pico
  FROM counts CROSS JOIN tot
), bc AS (
  SELECT SUM(bc_pico) AS bc_sum FROM terms
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       ROUND(bc_pico / 1e12, 9) + 0.0 AS bc_term,
       ROUND(SQRT(GREATEST(0.0, 1.0 - bc_sum / 1e12)), 6) + 0.0
         AS hellinger,
       ROUND(-LN(GREATEST(bc_sum, 1) / 1e12), 6) + 0.0 AS bhattacharyya
FROM terms CROSS JOIN bc
ORDER BY bin
""")
def q_hellinger_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance and Bhattacharyya distance between the
    reference and current windows of ``events.value`` over the SAME 20
    equal-width bins as q_emd_drift: ``BC = sum_b sqrt(p_b * q_b)``,
    ``H = sqrt(1 - BC)`` (bounded in [0, 1] — comparable across
    metrics, unlike KL), ``B = -ln(BC)``. H is the overlap-sensitive
    member of the drift family: KS sees only the largest CDF gap, EMD
    scales with the value axis, KL explodes on empty bins; H moves
    smoothly with the geometric mean of the two densities.

    Determinism: per-bin counts are exact integers; each sqrt(p*q)
    term is computed from integer ratios (sqrt is IEEE-exact) and
    quantized to pico units BEFORE the cross-bin sum, so BC is an
    integer total; the final sqrt/ln run once on that bounded scalar.
    GREATEST(bc_sum, 1) guards ln(0) when the windows are disjoint
    (the +0.0 and GREATEST(0,..) guards mirror on both engines).

    Scale: identical plan to q_emd_drift — one fact scan with a side
    flag, 1-row broadcast bin edges, 40-row shuffle regardless of
    input, windows only over the 20-row bin spine."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(_SPLIT).cast("timestamp")
    sided = (ev.filter(F.col("value").isNotNull())
             .select("value",
                     F.when(F.col("ts") < split, 0).otherwise(1)
                     .alias("side")))
    edges = sided.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    binv = F.least(F.lit(19), F.greatest(F.lit(0), F.coalesce(
        F.floor((F.col("value") - F.col("mn")) * 20.0
                / F.nullif(F.col("mx") - F.col("mn"), F.lit(0.0))),
        F.lit(0)).cast("int")))
    counts = (sided.crossJoin(F.broadcast(edges))
              .groupBy(binv.alias("bin"))
              .agg(F.coalesce(F.sum(F.when(F.col("side") == 0, 1)), F.lit(0))
                   .alias("n_ref"),
                   F.coalesce(F.sum(F.when(F.col("side") == 1, 1)), F.lit(0))
                   .alias("n_cur")))
    bins = spark.range(20).select(F.col("id").cast("int").alias("bin"))
    full = (bins.join(counts, "bin", "left")
            .select("bin",
                    F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
                    F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur")))
    wall = (W.orderBy("bin")  # 20-row spine: the approved bounded shape
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    t_ref = F.sum("n_ref").over(wall)
    t_cur = F.sum("n_cur").over(wall)
    bc_pico = F.round(F.sqrt(
        (F.col("n_ref").cast("double") / F.nullif(t_ref, F.lit(0)))
        * (F.col("n_cur").cast("double") / F.nullif(t_cur, F.lit(0))))
        * 1e12).cast("long")
    bc_sum = F.sum("bc_pico").over(wall)
    return (full.withColumn("bc_pico", bc_pico)
            .select(F.col("bin").cast("long").alias("bin"),
                    "n_ref", "n_cur",
                    (F.round(F.col("bc_pico") / 1e12, 9) + 0.0)
                    .alias("bc_term"),
                    (F.round(F.sqrt(F.greatest(
                        F.lit(0.0), 1.0 - bc_sum / 1e12)), 6) + 0.0)
                    .alias("hellinger"),
                    (F.round(-F.log(F.greatest(bc_sum, F.lit(1)) / 1e12), 6)
                     + 0.0).alias("bhattacharyya"))
            .orderBy("bin"))


# ---------------------------------------------------------------------------
# Poisson overdispersion test on daily event counts per stream
# ---------------------------------------------------------------------------

@query("q_overdispersion", oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(c) AS sc,
         SUM(CAST(c AS HUGEINT) * c) AS sc2
  FROM daily GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       ROUND(sc::DOUBLE / n, 6) + 0.0 AS mean_count,
       ROUND((n * sc2 - CAST(sc AS HUGEINT) * sc)::DOUBLE
             / NULLIF(n * (n - 1.0), 0) / (sc::DOUBLE / n), 6) + 0.0
         AS dispersion,
       ROUND(SQRT(2.0 * (n - 1)
                  * ((n * sc2 - CAST(sc AS HUGEINT) * sc)::DOUBLE
                     / NULLIF(n * (n - 1.0), 0) / (sc::DOUBLE / n)))
             - SQRT(2.0 * (n - 1) - 1), 6) + 0.0 AS z_wh,
       SQRT(2.0 * (n - 1)
            * ((n * sc2 - CAST(sc AS HUGEINT) * sc)::DOUBLE
               / NULLIF(n * (n - 1.0), 0) / (sc::DOUBLE / n)))
         - SQRT(2.0 * (n - 1) - 1) > 1.644854 AS overdispersed_95
FROM s ORDER BY event_type
""")
def q_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion screen per metric stream: the dispersion
    index D = s^2 / xbar of the DAILY event counts (D = 1 under
    Poisson), tested with the Wilson-Hilferty normal approximation of
    the dispersion chi-square, z = sqrt(2*(n-1)*D) - sqrt(2*(n-1)-1).
    Every rate monitor (q_poisson_rate's z, control bands on counts)
    assumes D ~ 1; clumped arrivals (bursts, bot traffic, retry
    storms) push D above 1 and silently shrink their error bars — this
    is the gate that says whether those monitors can be trusted.

    Determinism: daily counts are exact integers; the variance
    numerator n*sum(c^2) - (sum c)^2 stays in exact HUGEINT/DECIMAL
    algebra (first factor widened BEFORE the multiply); D and z are
    single double expressions of those exact integers (sqrt is
    IEEE-exact), rounded once. The flag compares the shared double to
    the one-sided 95% normal quantile.

    Scale: one map-side-combined groupBy to the bounded (stream, day)
    table, one tiny aggregate over it; shuffle volume is |streams| x
    |days| regardless of event volume."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
             .agg(F.count(F.lit(1)).alias("c")))
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("sc2"))
    n = F.col("n").cast("double")
    var_num = (F.col("n") * F.col("sc2")
               - F.col("sc").cast("decimal(38,0)") * F.col("sc"))
    # NULLIF: a single-day stream (n = 1) must yield NULL dispersion,
    # never an ANSI zero-divisor abort (the edge-corpus contract)
    disp = (var_num.cast("double") / F.nullif(n * (n - 1.0), F.lit(0.0))
            / (F.col("sc").cast("double") / n))
    z = F.sqrt(2.0 * (n - 1) * disp) - F.sqrt(2.0 * (n - 1) - 1)
    return (s.select("event_type",
                     F.col("n").cast("long").alias("n_days"),
                     (F.round(F.col("sc").cast("double") / n, 6) + 0.0)
                     .alias("mean_count"),
                     (F.round(disp, 6) + 0.0).alias("dispersion"),
                     (F.round(z, 6) + 0.0).alias("z_wh"),
                     (z > 1.644854).alias("overdispersed_95"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Hosmer-Lemeshow goodness-of-fit over q_calibration's reliability bins
# ---------------------------------------------------------------------------

@query("q_hosmer_lemeshow", oracle="""
WITH scored AS (
  SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y,
         80 * label + ((vec_id % 1000003) * 2654435761 % 1000) // 5
           AS p_milli
  FROM embeddings
), binned AS (
  SELECT LEAST(p_milli // 100, 9) AS bin, y, p_milli FROM scored
), g AS (
  SELECT bin,
         COUNT(*) AS n,
         SUM(y) AS o1,
         SUM(p_milli) AS e1_milli
  FROM binned GROUP BY bin
), terms AS (
  SELECT bin, n, o1, e1_milli,
         CAST(ROUND(
           (o1 - e1_milli / 1000.0) * (o1 - e1_milli / 1000.0)
           / NULLIF((e1_milli / 1000.0)
                    * (1.0 - e1_milli::DOUBLE / (1000.0 * n)), 0)
           * 1e9) AS BIGINT) AS t_nano
  FROM g
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(n AS BIGINT) AS n,
       CAST(o1 AS BIGINT) AS obs_pos,
       ROUND(e1_milli / 1000.0, 6) + 0.0 AS exp_pos,
       ROUND(t_nano / 1e9, 6) + 0.0 AS hl_term,
       ROUND(SUM(t_nano) OVER () / 1e9, 6) + 0.0 AS hl_total,
       SUM(t_nano) OVER () / 1e9 > 15.507313 AS reject_95
FROM terms ORDER BY bin
""")
def q_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit chi-square over the SAME ten
    reliability bins as q_calibration (deterministic integer-milli
    probabilities, label-derived outcomes): per bin, (O - E)^2 /
    (E * (1 - pbar)) on the positive cell, summed across bins and
    compared to chi-square(8) at 95% (15.507313). q_calibration shows
    WHERE the probabilities bend; q_ece averages the gaps; this is the
    formal accept/reject gate on the whole calibration curve.

    Determinism: O and E are exact integers (outcome counts; summed
    milli-probabilities); each bin's term is one double expression of
    those integers, quantized to nano BEFORE the cross-bin sum;
    NULLIF guards a degenerate all-certain bin on both engines.

    Scale: one map-side-combined groupBy on a 10-value key, then a
    10-row spine window — the same shape as q_calibration plus the
    q_emd_drift-approved bounded total."""
    e = load_table(spark, sf_dir, "embeddings")
    p_milli = (80 * F.col("label")
               + ((F.col("vec_id") % 1000003)
                  * F.lit(2654435761).cast("bigint") % 1000)
               / F.lit(5)).cast("bigint")
    binned = e.select(
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
        p_milli.alias("p_milli")).select(
        "y", "p_milli",
        F.least(F.floor(F.col("p_milli") / 100), F.lit(9)).alias("bin"))
    g = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("o1"),
        F.sum("p_milli").alias("e1_milli"))
    e1 = F.col("e1_milli") / 1000.0
    pbar = F.col("e1_milli").cast("double") / (1000.0 * F.col("n"))
    t_nano = F.round(
        (F.col("o1") - e1) * (F.col("o1") - e1)
        / F.nullif(e1 * (1.0 - pbar), F.lit(0.0)) * 1e9).cast("long")
    wall = (W.orderBy("bin")
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    hl_total = F.sum("t_nano").over(wall)
    return (g.withColumn("t_nano", t_nano)
            .select(F.col("bin").cast("long").alias("bin"),
                    F.col("n").cast("long").alias("n"),
                    F.col("o1").cast("long").alias("obs_pos"),
                    (F.round(F.col("e1_milli") / 1000.0, 6) + 0.0)
                    .alias("exp_pos"),
                    (F.round(F.col("t_nano") / 1e9, 6) + 0.0)
                    .alias("hl_term"),
                    (F.round(hl_total / 1e9, 6) + 0.0).alias("hl_total"),
                    (hl_total / 1e9 > 15.507313).alias("reject_95"))
            .orderBy("bin"))


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis per metric stream
# ---------------------------------------------------------------------------

@query("q_hurst_exponent", oracle="""
WITH base AS (
  SELECT event_type,
         CAST(ROUND(value * 1000) AS BIGINT) AS xu,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL
), tot AS (
  SELECT event_type, COUNT(*) AS n FROM base GROUP BY event_type
), sized AS (
  SELECT b.event_type, b.xu, b.rn, m.m,
         (b.rn - 1) // m.m AS blk,
         b.rn - ((b.rn - 1) // m.m) * m.m AS j
  FROM base b
  JOIN tot t USING (event_type)
  CROSS JOIN (SELECT UNNEST([16, 32, 64]) AS m) m
  WHERE (b.rn - 1) // m.m < t.n // m.m
), dev AS (
  SELECT event_type, m, blk, xu, j,
         m * SUM(xu) OVER w
           - j * SUM(xu) OVER (PARTITION BY event_type, m, blk) AS d
  FROM sized
  WINDOW w AS (PARTITION BY event_type, m, blk ORDER BY j
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), blocks AS (
  SELECT event_type, m, blk,
         MAX(d) - MIN(d) AS r_num,
         m * SUM(CAST(xu AS HUGEINT) * xu) - CAST(SUM(xu) AS HUGEINT)
           * SUM(xu) AS s2_num
  FROM dev GROUP BY event_type, m, blk
), rs AS (
  SELECT event_type, m,
         COUNT(*) AS n_blocks,
         CAST(ROUND(SUM(CAST(ROUND(r_num::DOUBLE / SQRT(s2_num::DOUBLE)
                                   * 1e9) AS BIGINT))::DOUBLE
                    / COUNT(*)) AS BIGINT) AS mean_rs_nano
  FROM blocks WHERE s2_num > 0
  GROUP BY event_type, m
)
SELECT event_type, CAST(m AS BIGINT) AS m,
       CAST(n_blocks AS BIGINT) AS n_blocks,
       ROUND(mean_rs_nano / 1e9, 6) + 0.0 AS mean_rs,
       ROUND((MAX(CASE WHEN m = 64 THEN LN(mean_rs_nano / 1e9) END)
                OVER (PARTITION BY event_type)
              - MAX(CASE WHEN m = 16 THEN LN(mean_rs_nano / 1e9) END)
                OVER (PARTITION BY event_type))
             / 1.3862943611198906, 6) + 0.0 AS hurst
FROM rs ORDER BY event_type, m
""")
def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent per metric stream via rescaled-range (R/S)
    analysis — the long-memory diagnostic: H ~ 0.5 means independent
    increments (sqrt(n) error bars hold), H -> 1 means persistent
    long-range dependence (every confidence interval the monitors
    compute is too narrow), H < 0.5 means mean reversion. The
    time-ordered series is cut into complete blocks of m = 16/32/64;
    each block contributes R/S = (max - min of cumulative deviations)
    / population std; H is the log-log slope of mean R/S vs m, which
    for the symmetric 3-point design reduces EXACTLY to
    (ln RS_64 - ln RS_16) / (2 ln 2) — the middle point carries zero
    least-squares weight.

    Determinism: values quantize to integer milli-units; cumulative
    deviations use the all-integer identity d_j = m*cum_j - j*S (no
    float mean subtraction); the block variance numerator
    m*sum(x^2) - S^2 stays in HUGEINT/DECIMAL; each block's R/S
    quantizes to nano BEFORE the cross-block mean, the mean re-rounds
    to one nano integer, and LN runs once per (stream, m) on that
    exact ratio — both engines see bit-identical doubles.

    Scale: the only per-row windows are keyed by (stream, m, block)
    with partitions bounded by m <= 64; the explode over three block
    sizes is a 3x map-side flatMap, not a shuffle multiplier (the
    shuffle keys on the block). The final slope runs over the 3-row
    per-stream spine. Zero-variance blocks drop identically on both
    engines."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    wrn = W.partitionBy("event_type").orderBy("ts", "event_id")
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 1000).cast("bigint").alias("xu"),
        F.row_number().over(wrn).alias("rn"))
    tot = base.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    sized = (base.join(F.broadcast(tot), "event_type")
             .select("event_type", "xu", "rn", "n",
                     F.explode(F.array(F.lit(16), F.lit(32), F.lit(64)))
                     .alias("m"))
             .filter(F.floor((F.col("rn") - 1) / F.col("m"))
                     < F.floor(F.col("n") / F.col("m")))
             .select("event_type", "xu", "m",
                     F.floor((F.col("rn") - 1) / F.col("m")).alias("blk"),
                     (F.col("rn") - F.floor((F.col("rn") - 1) / F.col("m"))
                      * F.col("m")).alias("j")))
    wcum = (W.partitionBy("event_type", "m", "blk").orderBy("j")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    wblk = (W.partitionBy("event_type", "m", "blk").orderBy("j")
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    dev = sized.select(
        "event_type", "m", "blk", "xu",
        (F.col("m") * F.sum("xu").over(wcum)
         - F.col("j") * F.sum("xu").over(wblk)).alias("d"))
    blocks = (dev.groupBy("event_type", "m", "blk")
              .agg((F.max("d") - F.min("d")).alias("r_num"),
                   (F.first("m") * F.sum(F.col("xu").cast("decimal(38,0)")
                                         * F.col("xu"))
                    - F.sum("xu").cast("decimal(38,0)") * F.sum("xu"))
                   .alias("s2_num"))
              .filter(F.col("s2_num") > 0))
    rs_nano = F.round(F.col("r_num").cast("double")
                      / F.sqrt(F.col("s2_num").cast("double"))
                      * 1e9).cast("long")
    rs = (blocks.withColumn("rs_nano", rs_nano)
          .groupBy("event_type", "m")
          .agg(F.count(F.lit(1)).alias("n_blocks"),
               F.round(F.sum("rs_nano").cast("double")
                       / F.count(F.lit(1))).cast("long")
               .alias("mean_rs_nano")))
    wst = W.partitionBy("event_type")  # 3-row spine per stream
    ln_at = {m: F.max(F.when(F.col("m") == m,
                             F.log(F.col("mean_rs_nano") / 1e9))).over(wst)
             for m in (16, 64)}
    return (rs.select("event_type", F.col("m").cast("long").alias("m"),
                      F.col("n_blocks").cast("long").alias("n_blocks"),
                      (F.round(F.col("mean_rs_nano") / 1e9, 6) + 0.0)
                      .alias("mean_rs"),
                      (F.round((ln_at[64] - ln_at[16])
                               / 1.3862943611198906, 6) + 0.0)
                      .alias("hurst"))
            .orderBy("event_type", "m"))


# ---------------------------------------------------------------------------
# Cronbach's alpha: internal consistency of the k per-user item scores
# ---------------------------------------------------------------------------

from ..operators.cache_slot import CacheSlot  # noqa: E402

_CRONBACH_SLOT = CacheSlot()


@query("q_cronbach_alpha", oracle="""
WITH cells AS (
  SELECT user_id AS cs, event_type AS item,
         CAST(ROUND(SUM(CAST(ROUND(value * 1e6) AS BIGINT)) * 1000.0
                    / COUNT(*)) AS BIGINT) AS m_nano
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), k AS (
  SELECT COUNT(DISTINCT item) AS k FROM cells
), complete AS (
  SELECT cs FROM cells CROSS JOIN k
  GROUP BY cs, k.k HAVING COUNT(*) = ANY_VALUE(k.k)
), kept AS (
  SELECT c.* FROM cells c JOIN complete USING (cs)
), item_stats AS (
  SELECT item,
         COUNT(*) AS n,
         COUNT(*) * SUM(CAST(m_nano AS HUGEINT) * m_nano)
           - CAST(SUM(m_nano) AS HUGEINT) * SUM(m_nano) AS num_i
  FROM kept GROUP BY item
), case_tot AS (
  SELECT cs, SUM(m_nano) AS t_nano FROM kept GROUP BY cs
), total_stats AS (
  SELECT COUNT(*) * SUM(CAST(t_nano AS HUGEINT) * t_nano)
           - CAST(SUM(t_nano) AS HUGEINT) * SUM(t_nano) AS num_t
  FROM case_tot
)
SELECT item,
       CAST(n AS BIGINT) AS n_cases,
       CAST(k.k AS BIGINT) AS k,
       ROUND(num_i::DOUBLE / NULLIF(num_t, 0), 9) + 0.0 AS var_share,
       ROUND(k.k / NULLIF(k.k - 1.0, 0)
             * (1.0 - SUM(num_i::DOUBLE / NULLIF(num_t, 0)) OVER ()),
             6) + 0.0 AS alpha
FROM item_stats CROSS JOIN total_stats CROSS JOIN k
ORDER BY item
""")
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the k = |event_type| per-user item scores
    (each user's mean ``value`` per stream is one item score; users
    seen on every stream are the complete cases): alpha = k/(k-1) *
    (1 - sum_i var_i / var_total) — the internal-consistency readout
    that says whether the k parallel engagement metrics measure ONE
    underlying construct (alpha -> 1) or k unrelated things
    (alpha -> 0). The reliability gate behind any composite
    "engagement score" a dashboard averages from the streams.

    Determinism: item scores are nano-quantized integers; both
    variance numerators use the exact identity n*sum(x^2) - (sum x)^2
    in HUGEINT/DECIMAL (first factor widened), so var_i/var_t are
    ratios of EXACT integers with the identical n(n-1) denominator
    cancelled — the cross-item sum adds k exact ratios quantized at
    1e-9 by the shared ROUND; one double expression forms alpha.

    Scale: one fact scan to the (user, item) cell table — bounded by
    |users| * k, cached once (CacheSlot) for its two consumers (item
    variances, per-case totals); everything downstream is keyed
    aggregation on that bounded relation; the final window runs over
    the k-row item spine."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    cells = _CRONBACH_SLOT.own(
        ev.groupBy(F.col("user_id").alias("cs"),
                   F.col("event_type").alias("item"))
        .agg(F.round(F.sum(F.round(F.col("value") * 1e6).cast("bigint"))
                     * 1000.0 / F.count(F.lit(1))).cast("bigint")
             .alias("m_nano")))
    cells.count()  # materialize once for the two consumers
    k = cells.agg(F.countDistinct("item").alias("k"))
    complete = (cells.groupBy("cs")
                .agg(F.count(F.lit(1)).alias("c"))
                .crossJoin(F.broadcast(k))
                .filter(F.col("c") == F.col("k"))
                .select("cs"))
    kept = cells.join(complete, "cs")
    item_stats = (kept.groupBy("item")
                  .agg(F.count(F.lit(1)).alias("n"),
                       (F.count(F.lit(1))
                        * F.sum(F.col("m_nano").cast("decimal(38,0)")
                                * F.col("m_nano"))
                        - F.sum("m_nano").cast("decimal(38,0)")
                        * F.sum("m_nano")).alias("num_i")))
    case_tot = kept.groupBy("cs").agg(F.sum("m_nano").alias("t_nano"))
    total_stats = case_tot.agg(
        (F.count(F.lit(1))
         * F.sum(F.col("t_nano").cast("decimal(38,0)") * F.col("t_nano"))
         - F.sum("t_nano").cast("decimal(38,0)") * F.sum("t_nano"))
        .alias("num_t"))
    wall = (W.orderBy("item")  # k-row item spine
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    # NULLIF: a one-item battery (k = 1) or a zero-variance total must
    # yield NULL, never an ANSI zero-divisor abort (edge-corpus contract)
    share = F.round(F.col("num_i").cast("double")
                    / F.nullif(F.col("num_t").cast("double"),
                               F.lit(0.0)), 9)
    kd = F.col("k").cast("double")
    return (item_stats
            .crossJoin(F.broadcast(total_stats))
            .crossJoin(F.broadcast(k))
            .select("item",
                    F.col("n").cast("long").alias("n_cases"),
                    F.col("k").cast("long").alias("k"),
                    (share + 0.0).alias("var_share"),
                    (F.round(kd / F.nullif(kd - 1.0, F.lit(0.0))
                             * (1.0 - F.sum(share).over(wall)), 6) + 0.0)
                    .alias("alpha"))
            .orderBy("item"))


# ---------------------------------------------------------------------------
# One HITS hub/authority iteration over the customer<->part graph
# ---------------------------------------------------------------------------

@query("q_hits_step", oracle="""
WITH edges AS (
  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
), a1 AS (
  SELECT pk, COUNT(*) AS a1 FROM edges GROUP BY pk
), h1 AS (
  SELECT e.ck, SUM(CAST(a.a1 AS HUGEINT)) AS h1
  FROM edges e JOIN a1 a USING (pk) GROUP BY e.ck
), a2 AS (
  SELECT e.pk, SUM(h.h1) AS a2
  FROM edges e JOIN h1 h USING (ck) GROUP BY e.pk
), hubs AS (
  SELECT 'hub' AS kind, ck AS node, CAST(h1 AS BIGINT) AS score
  FROM h1 ORDER BY h1 DESC, ck LIMIT 20
), auths AS (
  SELECT 'authority' AS kind, pk AS node, CAST(a2 AS BIGINT) AS score
  FROM a2 ORDER BY a2 DESC, pk LIMIT 20
)
SELECT * FROM hubs UNION ALL SELECT * FROM auths
ORDER BY kind, score DESC, node
""")
def q_hits_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full HITS (Kleinberg) hub/authority iteration over the
    customer<->part co-purchase bipartite graph, from the uniform
    start: a1(p) = in-degree, h1(c) = sum of a1 over c's parts,
    a2(p) = sum of h1 over p's buyers — top-20 hubs (customers whose
    baskets concentrate on widely-bought parts) and top-20 authorities
    (parts bought by the strongest hubs). The mutually-reinforcing
    centrality beside q_pagerank's random-walk one; the iterative-graph
    family's fixed-iteration anchor pattern (q_pagerank, q_kmeans_step)
    makes the step SQL-expressible so the driver hash-checks real
    scores.

    Determinism: NO normalization inside the iteration — scores stay
    EXACT integers (HUGEINT/DECIMAL sums of integer degrees), so
    ranking ties break on the integer plus node id and no float enters
    the plan at all. (Classic HITS L2-normalizes; the ranking and the
    top-k are invariant to the positive scale factor, which is all a
    one-step readout needs.)

    Scale: each half-step is one |E| equi-join plus one map-side
    combined groupBy — the Pregel step expressed relationally, same
    shape as q_pagerank's iterations. The three consumers (a1, h1,
    a2) share ONE distinct-edge build WITHOUT an explicit cache: they
    live in one query, so AQE's exchange reuse materializes the edge
    shuffle once and the other consumers read the same shuffle stage
    (plan-pinned: 3 ReusedExchange/stage references). A CacheSlot pin
    (the q_jaccard_linkpred pattern) was MEASURED 1.6x SLOWER here
    (min-of-3 at sf0.1: 4.1 s pinned vs 2.6 s unpinned) — the pin
    forces a separate count() materialization job plus an in-memory
    write of the |E|-sized relation that exchange reuse gets for free,
    and at 100 TB caching |E| rows is itself the anti-pattern (the
    jaccard pin caches a |nodes|-bounded capped-array table, which is
    why it wins there). Production additionally buckets edges by node
    so ITERATED steps reuse the layout across queries, and hot hub
    nodes take the salted two-stage aggregate from operators/skew.py."""
    # Runs on the stock-floor child session because an interleaved
    # min-of-3 A/B (sf0.1, local[32]) measured it faster there:
    # 2.99 / 2.69 s under the 64 KB floor, 2.51 / 1.83 s at stock.
    # The plan is a chain of bounded aggregates/windows over mid-size
    # shuffles, where the floor's extra partitions only add task overhead.
    spark = stock_coalesce_floor(spark)
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (od.join(li, li.l_orderkey == od.o_orderkey)
             .select(F.col("o_custkey").alias("ck"),
                     F.col("l_partkey").alias("pk"))
             .distinct())
    a1 = edges.groupBy("pk").agg(F.count(F.lit(1)).alias("a1"))
    h1 = (edges.join(a1, "pk")
          .groupBy("ck")
          .agg(F.sum(F.col("a1").cast("decimal(38,0)")).alias("h1")))
    a2 = (edges.join(h1, "ck")
          .groupBy("pk")
          .agg(F.sum("h1").alias("a2")))
    hubs = (h1.orderBy(F.desc("h1"), "ck").limit(20)
            .select(F.lit("hub").alias("kind"),
                    F.col("ck").alias("node"),
                    F.col("h1").cast("long").alias("score")))
    auths = (a2.orderBy(F.desc("a2"), "pk").limit(20)
             .select(F.lit("authority").alias("kind"),
                     F.col("pk").alias("node"),
                     F.col("a2").cast("long").alias("score")))
    return hubs.unionAll(auths).orderBy("kind", F.desc("score"), "node")


# ---------------------------------------------------------------------------
# Power-law (Pareto) MLE on the part degree distribution
# ---------------------------------------------------------------------------

@query("q_powerlaw_alpha", oracle="""
WITH deg AS (
  SELECT l_partkey AS pk, COUNT(DISTINCT o_custkey) AS d
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY pk
), tail AS (
  SELECT d, COUNT(*) AS cnt FROM deg WHERE d >= 3 GROUP BY d
), s AS (
  SELECT SUM(cnt) AS n,
         SUM(CAST(ROUND(LN(d / 2.5) * 1e12) AS BIGINT) * cnt) AS s_pico,
         MAX(d) AS d_max
  FROM tail
)
SELECT CAST(n AS BIGINT) AS n_tail,
       CAST(3 AS BIGINT) AS x_min,
       CAST(d_max AS BIGINT) AS d_max,
       ROUND(1.0 + n / (s_pico / 1e12), 6) + 0.0 AS alpha,
       ROUND((n / (s_pico / 1e12)) / SQRT(n), 6) + 0.0 AS se
FROM s
""")
def q_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent MLE for the part-degree distribution of the
    co-purchase graph (Clauset-Shalizi-Newman discrete approximation):
    alpha = 1 + n / sum ln(d_i / (x_min - 1/2)) over the tail
    d >= x_min = 3, with standard error (alpha - 1)/sqrt(n). The
    heavy-tail audit behind every skew decision in the graph family:
    q_zipf_fit asks it of token frequencies, this asks it of DEGREES —
    whether hub mitigation (q_adamic_adar's cap, salting) is facing a
    true scale-free tail or a benign exponential one.

    Determinism: ln runs once per DISTINCT degree value (the
    q_theil_index convention), quantized to pico units, multiplied by
    the exact tail count and summed as integers; alpha/se are one
    double expression of (n, s_pico).

    Scale: degree table via one map-side-combined groupBy; the
    distinct-degree spectrum is at most |distinct degrees| rows
    (thousands at any corpus size); one tiny final aggregate."""
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    deg = (od.join(li, li.l_orderkey == od.o_orderkey)
           .groupBy(F.col("l_partkey").alias("pk"))
           .agg(F.countDistinct("o_custkey").alias("d")))
    tail = (deg.filter(F.col("d") >= 3)
            .groupBy("d").agg(F.count(F.lit(1)).alias("cnt")))
    s = tail.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.round(F.log(F.col("d") / 2.5) * 1e12).cast("bigint")
              * F.col("cnt")).alias("s_pico"),
        F.max("d").alias("d_max"))
    n = F.col("n").cast("double")
    rate = n / (F.col("s_pico") / 1e12)
    return s.select(
        F.col("n").cast("long").alias("n_tail"),
        F.lit(3).cast("long").alias("x_min"),
        F.col("d_max").cast("long").alias("d_max"),
        (F.round(1.0 + rate, 6) + 0.0).alias("alpha"),
        (F.round(rate / F.sqrt(n), 6) + 0.0).alias("se"))


# ---------------------------------------------------------------------------
# Jaccard-neighborhood link prediction (the unweighted AA baseline)
# ---------------------------------------------------------------------------

@query("q_jaccard_linkpred", oracle="""
WITH buyers AS (
  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
), deg AS (
  SELECT pk FROM buyers GROUP BY pk
  HAVING COUNT(*) BETWEEN 2 AND 40
), kept AS (
  SELECT b.ck, b.pk FROM buyers b JOIN deg USING (pk)
), cdeg AS (
  SELECT ck, COUNT(*) AS cd FROM kept GROUP BY ck
), pairs AS (
  SELECT a.ck AS ck_a, b.ck AS ck_b, COUNT(*) AS n_shared
  FROM kept a JOIN kept b ON a.pk = b.pk AND a.ck < b.ck
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT ck_a, ck_b,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(da.cd + db.cd - n_shared AS BIGINT) AS n_union,
       ROUND(n_shared::DOUBLE / (da.cd + db.cd - n_shared), 9) + 0.0
         AS jaccard
FROM pairs
JOIN cdeg da ON da.ck = ck_a
JOIN cdeg db ON db.ck = ck_b
ORDER BY ROUND(n_shared::DOUBLE / (da.cd + db.cd - n_shared), 9) DESC,
         ck_a, ck_b
LIMIT 100
""")
def q_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-neighborhood link prediction over the customer<->part
    graph: |N(a) n N(b)| / |N(a) u N(b)| for candidate customer pairs
    — the unweighted set-overlap baseline beneath q_adamic_adar's
    popularity-weighted score (same candidate universe: parts with
    2-40 buyers, hubs removed; the Jaccard denominator counts
    neighborhoods inside that universe so numerator and denominator
    live on the same graph). Top 100 pairs, >= 2 shared parts.

    Determinism: shared and union counts are exact integers; the
    score is one integer ratio rounded to 9 digits BEFORE the ORDER BY
    with the (ck_a, ck_b) tiebreak, so top-k membership cannot flip.

    Scale: pair generation reuses the Adamic-Adar capped-arrays
    machinery (map-side expansion from the bounded per-part buyer
    arrays — no self-join, hub parts pruned before any pair is
    emitted); customer degrees come from exploding the SAME arrays, so
    the base tables are scanned ONCE. The two consumers share the
    arrays build through AQE exchange reuse (identical subtrees →
    ReusedExchange), NOT a CacheSlot pin: r13 measured the pin's eager
    count() materialization job + in-memory write ~25% slower end to
    end at sf0.1 (the q_hits_step finding, reproduced here; the pin
    only pays off for relations consumed across SEPARATE actions)."""
    from .mining import aa_pairs, adamic_adar_capped_arrays

    arrays = adamic_adar_capped_arrays(spark, sf_dir)
    cdeg = (arrays.select(F.explode("cks").alias("ck"))
            .groupBy("ck").agg(F.count(F.lit(1)).alias("cd")))
    pairs = (aa_pairs(arrays.select("cks"))
             .groupBy("ck_a", "ck_b")
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .filter(F.col("n_shared") >= 2))
    da = cdeg.select(F.col("ck").alias("ck_a"), F.col("cd").alias("da"))
    db = cdeg.select(F.col("ck").alias("ck_b"), F.col("cd").alias("db"))
    n_union = F.col("da") + F.col("db") - F.col("n_shared")
    score = F.round(F.col("n_shared").cast("double") / n_union, 9)
    return (pairs.join(da, "ck_a").join(db, "ck_b")
            .select("ck_a", "ck_b",
                    F.col("n_shared").cast("long").alias("n_shared"),
                    n_union.cast("long").alias("n_union"),
                    (score + 0.0).alias("jaccard"))
            .orderBy(F.desc("jaccard"), "ck_a", "ck_b")
            .limit(100))


# ---------------------------------------------------------------------------
# Mean average precision @10 over the embedding eval groups
# ---------------------------------------------------------------------------

@query("q_map_eval", oracle="""
WITH base AS (
  SELECT vec_id % 20 AS qid, vec_id,
         ROUND(embedding[1]::DOUBLE, 6) AS score,
         CASE WHEN label >= 7 THEN 1 ELSE 0 END AS rel
  FROM embeddings
), ranked AS (
  SELECT qid, rel,
         ROW_NUMBER() OVER w AS rk,
         SUM(rel) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS hits
  FROM base
  WINDOW w AS (PARTITION BY qid ORDER BY score DESC, vec_id)
), g AS (
  SELECT qid,
         COUNT(*) AS n_cand,
         SUM(rel) AS n_rel,
         SUM(CASE WHEN rel = 1 AND rk <= 10
                  THEN hits * (2520 // rk) ELSE 0 END) AS ap_num
  FROM ranked GROUP BY qid
), ap AS (
  SELECT qid, n_cand, n_rel,
         ROUND(ap_num::DOUBLE
               / NULLIF(2520.0 * LEAST(n_rel, 10), 0), 9) + 0.0 AS ap
  FROM g
)
SELECT qid, CAST(n_cand AS BIGINT) AS n_cand,
       CAST(n_rel AS BIGINT) AS n_rel, ap,
       ROUND(AVG(ap) OVER (), 6) + 0.0 AS map
FROM ap ORDER BY qid
""")
def q_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean average precision at 10 over the SAME 20 embedding eval
    groups as q_ndcg_mrr (qid = vec_id % 20, candidates ranked by
    first-component score, binary relevance = label >= 7):
    AP@10 = sum over relevant hits at rank k <= 10 of P@k, divided by
    min(R, 10); MAP is the cross-query mean. The order-sensitive
    retrieval headline beside NDCG (graded gains) and recall@k (set
    membership): AP integrates precision exactly where the hits land.

    Determinism: P@k = hits/k never exists as a float — each term is
    the exact integer hits * (2520 / k) (2520 = lcm(1..10), so every
    per-rank weight is an integer), summed as integers; AP is one
    division by 2520 * min(R, 10) rounded at 9; zero-relevant groups
    read NULL -> excluded from AVG on BOTH engines only after the
    NULLIF guard maps them to NULL (and they stay visible rows).

    Scale: one window per qid sharing a single exchange+sort (the
    cumulative-hits frame reuses the ranking window's spec), one
    map-side-combined groupBy; the MAP total runs over the bounded
    20-row qid spine."""
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select(
        (F.col("vec_id") % 20).alias("qid"), "vec_id",
        F.round(F.element_at("embedding", 1).cast("double"), 6)
        .alias("score"),
        F.when(F.col("label") >= 7, 1).otherwise(0).alias("rel"))
    w = W.partitionBy("qid").orderBy(F.desc("score"), "vec_id")
    wcum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    ranked = base.select(
        "qid", "rel",
        F.row_number().over(w).alias("rk"),
        F.sum("rel").over(wcum).alias("hits"))
    ap_num = F.sum(F.when((F.col("rel") == 1) & (F.col("rk") <= 10),
                          F.col("hits") * F.floor(2520 / F.col("rk"))
                          .cast("long"))
                   .otherwise(F.lit(0)))
    g = (ranked.groupBy("qid")
         .agg(F.count(F.lit(1)).alias("n_cand"),
              F.sum("rel").alias("n_rel"),
              ap_num.alias("ap_num")))
    ap = (F.round(F.col("ap_num").cast("double")
                  / F.nullif(2520.0 * F.least(F.col("n_rel"), F.lit(10)),
                             F.lit(0.0)), 9) + 0.0)
    wall = (W.orderBy("qid")  # 20-row qid spine
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    return (g.withColumn("ap", ap)
            .select("qid",
                    F.col("n_cand").cast("long").alias("n_cand"),
                    F.col("n_rel").cast("long").alias("n_rel"),
                    "ap",
                    (F.round(F.avg("ap").over(wall), 6) + 0.0).alias("map"))
            .orderBy("qid"))


# ---------------------------------------------------------------------------
# Rank-biased overlap between two rankers, truncated at depth 10
# ---------------------------------------------------------------------------

#: 0.9^(d-1) in exact nano units for d = 1..10 (0.9^k has a finite
#: decimal expansion, so these integers are EXACT) and lcm(1..10) —
#: shared literals between the Spark plan and the oracle SQL.
_RBO_W_NANO = (1000000000, 900000000, 810000000, 729000000, 656100000,
               590490000, 531441000, 478296900, 430467210, 387420489)
_RBO_W_SUM = sum(_RBO_W_NANO)  # 6513215599
_RBO_LCM = 2520

_RBO_SPINE_SQL = " UNION ALL ".join(
    f"SELECT {d} AS d, CAST({w} AS BIGINT) AS w_nano"
    for d, w in enumerate(_RBO_W_NANO, start=1))


@query("q_rbo_overlap", oracle=f"""
WITH base AS (
  SELECT vec_id % 20 AS qid, vec_id,
         ROUND(embedding[1]::DOUBLE, 6) AS s_a,
         ROUND(embedding[2]::DOUBLE, 6) AS s_b
  FROM embeddings
), ranked AS (
  SELECT qid, vec_id,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s_a DESC, vec_id)
           AS rk_a,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s_b DESC, vec_id)
           AS rk_b
  FROM base
), depths AS ({_RBO_SPINE_SQL}
), ov AS (
  SELECT r.qid, d.d, d.w_nano,
         SUM(CASE WHEN r.rk_a <= d.d AND r.rk_b <= d.d THEN 1 ELSE 0 END)
           AS overlap
  FROM ranked r CROSS JOIN depths d
  WHERE r.rk_a <= 10 OR r.rk_b <= 10
  GROUP BY 1, 2, 3
), per_q AS (
  SELECT qid,
         MAX(CASE WHEN d = 10 THEN overlap END) AS ov10,
         ROUND(SUM(w_nano * overlap * ({_RBO_LCM} // d))::DOUBLE
               / ({_RBO_LCM}.0 * {_RBO_W_SUM}), 9) + 0.0 AS rbo
  FROM ov GROUP BY qid
)
SELECT qid, CAST(ov10 AS BIGINT) AS ov10, rbo,
       ROUND(AVG(rbo) OVER (), 6) + 0.0 AS rbo_mean
FROM per_q ORDER BY qid
""")
def q_rbo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al., truncated at depth 10,
    p = 0.9) between two rankers of the same candidates per eval group
    — ranker A orders by the first embedding component, ranker B by
    the second: RBO@10 = sum_d p^(d-1) * |A_d n B_d| / d, normalized
    by sum_d p^(d-1). The ranker-agreement readout that top-k overlap
    alone misses: RBO weights agreement at the TOP, which is where a
    reranker swap actually bites. rbo -> 1 means interchangeable
    rankers; rbo -> 0 means the second stage completely reorders.

    Determinism: p = 0.9 powers have finite decimal expansions, so the
    weights are EXACT nano integers (shared literal table on both
    engines); each depth term is w_nano * overlap * (2520/d) — all
    integers (2520 = lcm(1..10)) — and RBO is one final division,
    rounded at 9. Ranks round scores to 6 digits with a vec_id
    tiebreak before ROW_NUMBER (the eval-query tie rule).

    Scale: two windows per qid sharing one exchange (same partition
    key, two bounded sorts); candidates trimmed to the top-10 union
    BEFORE the 10-row depth spine joins (broadcast), so the expanded
    relation is <= 20 rows per query times 10 depths; the cross-query
    mean runs over the 20-row qid spine."""
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select(
        (F.col("vec_id") % 20).alias("qid"), "vec_id",
        F.round(F.element_at("embedding", 1).cast("double"), 6)
        .alias("s_a"),
        F.round(F.element_at("embedding", 2).cast("double"), 6)
        .alias("s_b"))
    wa = W.partitionBy("qid").orderBy(F.desc("s_a"), "vec_id")
    wb = W.partitionBy("qid").orderBy(F.desc("s_b"), "vec_id")
    ranked = (base.select("qid",
                          F.row_number().over(wa).alias("rk_a"),
                          F.row_number().over(wb).alias("rk_b"))
              .filter((F.col("rk_a") <= 10) | (F.col("rk_b") <= 10)))
    depths = spark.createDataFrame(
        [(d, w) for d, w in enumerate(_RBO_W_NANO, start=1)],
        "d INT, w_nano LONG")
    ov = (ranked.crossJoin(F.broadcast(depths))
          .groupBy("qid", "d", "w_nano")
          .agg(F.sum(F.when((F.col("rk_a") <= F.col("d"))
                            & (F.col("rk_b") <= F.col("d")), 1)
                     .otherwise(0)).alias("overlap")))
    contrib = (F.col("w_nano") * F.col("overlap")
               * F.floor(_RBO_LCM / F.col("d")).cast("long"))
    per_q = (ov.groupBy("qid")
             .agg(F.max(F.when(F.col("d") == 10, F.col("overlap")))
                  .alias("ov10"),
                  (F.round(F.sum(contrib).cast("double")
                           / (float(_RBO_LCM) * _RBO_W_SUM), 9) + 0.0)
                  .alias("rbo")))
    wall = (W.orderBy("qid")
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    return (per_q.select("qid",
                         F.col("ov10").cast("long").alias("ov10"),
                         "rbo",
                         (F.round(F.avg("rbo").over(wall), 6) + 0.0)
                         .alias("rbo_mean"))
            .orderBy("qid"))


# ---------------------------------------------------------------------------
# Two-sample energy distance between the two monitor windows
# ---------------------------------------------------------------------------

@query("q_energy_distance", oracle=f"""
WITH v AS (
  SELECT CAST(ROUND(value * 1e6) AS BIGINT) AS xu,
         CASE WHEN ts < TIMESTAMP '{_SPLIT}' THEN 0 ELSE 1 END AS side
  FROM events WHERE value IS NOT NULL
), counts AS (
  SELECT xu,
         COALESCE(SUM(CASE WHEN side = 0 THEN 1 END), 0) AS ca,
         COALESCE(SUM(CASE WHEN side = 1 THEN 1 END), 0) AS cb
  FROM v GROUP BY xu
), cum AS (
  SELECT xu, ca, cb,
         SUM(CAST(ca AS HUGEINT)) OVER w AS na,
         SUM(CAST(cb AS HUGEINT)) OVER w AS nb,
         SUM(CAST(ca AS HUGEINT) * xu) OVER w AS sa,
         SUM(CAST(cb AS HUGEINT) * xu) OVER w AS sb
  FROM counts
  WINDOW w AS (ORDER BY xu ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), tot AS (
  SELECT SUM(CAST(ca AS HUGEINT)) AS tna, SUM(CAST(cb AS HUGEINT)) AS tnb,
         SUM(CAST(ca AS HUGEINT) * xu) AS tsa,
         SUM(CAST(cb AS HUGEINT) * xu) AS tsb
  FROM counts
), sums AS (
  SELECT SUM(cb * (xu * na - sa + (tsa - sa) - xu * (tna - na)))
           AS cross_u,
         SUM(2 * ca * (xu * (na - ca) - (sa - ca * xu))) AS wa_u,
         SUM(2 * cb * (xu * (nb - cb) - (sb - cb * xu))) AS wb_u
  FROM cum CROSS JOIN tot
), e AS (
  SELECT tna, tnb,
         cross_u::DOUBLE / NULLIF(tna * tnb, 0) / 1e6 AS a,
         wa_u::DOUBLE / NULLIF(tna * tna, 0) / 1e6 AS b,
         wb_u::DOUBLE / NULLIF(tnb * tnb, 0) / 1e6 AS c
  FROM sums CROSS JOIN tot
)
SELECT CAST(tna AS BIGINT) AS n_ref, CAST(tnb AS BIGINT) AS n_cur,
       ROUND(a, 6) + 0.0 AS mean_cross,
       ROUND(b, 6) + 0.0 AS mean_within_ref,
       ROUND(c, 6) + 0.0 AS mean_within_cur,
       ROUND(2 * a - b - c, 6) + 0.0 AS energy_dist,
       ROUND((2 * a - b - c) / NULLIF(2 * a, 0), 6) + 0.0 AS e_coeff
FROM e
""")
def q_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Szekely-Rizzo two-sample energy distance between the reference
    and current windows of ``events.value``: E = 2*E|X-Y| - E|X-X'| -
    E|Y-Y'| — zero iff the distributions are identical, sensitive to
    EVERY difference (location, scale, shape), where KS sees only the
    worst CDF gap and the binned divergences see only their grid. The
    e_coeff normalization E/(2*E|X-Y|) lies in [0, 1]. The pairwise
    double sums NEVER enumerate pairs: on the sorted distinct-value
    spine, sum_ij |x_i - y_j| = sum_v cb(v) * [v*N_a(v) - S_a(v) +
    (S_a - S_a(v)) - v*(N_a - N_a(v))] with N/S cumulative counts and
    value sums — three exact prefix statistics replace the O(n*m)
    expansion.

    Determinism: values quantize to micro ints; every cumulative and
    total is an exact HUGEINT/DECIMAL integer; the three normalized
    means are single double expressions of those integers, rounded
    once (micro units divide out at the end).

    Scale: one fact scan to the distinct-value count table; the four
    cumulative statistics ride ONE lazy two-phase distributed prefix
    pass (operators/prefix_sum.py::lazy_prefix_sums — bucketed, no
    single-task sort, no driver fold); totals are a 1-row broadcast.
    Shuffle volume is |distinct values|, not |rows|."""
    from ..operators.prefix_sum import lazy_prefix_sums

    ev = load_table(spark, sf_dir, "events")
    split = F.lit(_SPLIT).cast("timestamp")
    v = (ev.filter(F.col("value").isNotNull())
         .select(F.round(F.col("value") * 1e6).cast("bigint").alias("xu"),
                 F.when(F.col("ts") < split, 0).otherwise(1).alias("side")))
    counts = (v.groupBy("xu")
              .agg(F.coalesce(F.sum(F.when(F.col("side") == 0, 1)),
                              F.lit(0)).alias("ca"),
                   F.coalesce(F.sum(F.when(F.col("side") == 1, 1)),
                              F.lit(0)).alias("cb")))
    dec = "decimal(38,0)"
    counts = counts.select(
        "xu", "ca", "cb",
        F.col("ca").cast(dec).alias("ca_d"),
        F.col("cb").cast(dec).alias("cb_d"),
        (F.col("ca").cast(dec) * F.col("xu")).alias("sa_t"),
        (F.col("cb").cast(dec) * F.col("xu")).alias("sb_t"))
    cum = lazy_prefix_sums(
        counts, "xu", ["xu"],
        {"ca_d": "na", "cb_d": "nb", "sa_t": "sa", "sb_t": "sb"})
    tot = counts.agg(
        F.sum("ca_d").alias("tna"), F.sum("cb_d").alias("tnb"),
        F.sum("sa_t").alias("tsa"), F.sum("sb_t").alias("tsb"))
    xu = F.col("xu").cast(dec)
    cross_t = (F.col("cb") * (xu * F.col("na") - F.col("sa")
                              + (F.col("tsa") - F.col("sa"))
                              - xu * (F.col("tna") - F.col("na"))))
    wa_t = (2 * F.col("ca") * (xu * (F.col("na") - F.col("ca_d"))
                               - (F.col("sa") - F.col("ca_d") * xu)))
    wb_t = (2 * F.col("cb") * (xu * (F.col("nb") - F.col("cb_d"))
                               - (F.col("sb") - F.col("cb_d") * xu)))
    sums = (cum.crossJoin(F.broadcast(tot))
            .agg(F.sum(cross_t).alias("cross_u"),
                 F.sum(wa_t).alias("wa_u"),
                 F.sum(wb_t).alias("wb_u"),
                 F.first("tna").alias("tna"), F.first("tnb").alias("tnb")))
    tna = F.col("tna").cast("double")
    tnb = F.col("tnb").cast("double")
    # NULLIF: an empty reference or current window must yield NULL
    # means, never an ANSI zero-divisor abort (edge-corpus contract)
    a = (F.col("cross_u").cast("double")
         / F.nullif(tna * tnb, F.lit(0.0)) / 1e6)
    bb = (F.col("wa_u").cast("double")
          / F.nullif(tna * tna, F.lit(0.0)) / 1e6)
    cc = (F.col("wb_u").cast("double")
          / F.nullif(tnb * tnb, F.lit(0.0)) / 1e6)
    return sums.select(
        F.col("tna").cast("long").alias("n_ref"),
        F.col("tnb").cast("long").alias("n_cur"),
        (F.round(a, 6) + 0.0).alias("mean_cross"),
        (F.round(bb, 6) + 0.0).alias("mean_within_ref"),
        (F.round(cc, 6) + 0.0).alias("mean_within_cur"),
        (F.round(2 * a - bb - cc, 6) + 0.0).alias("energy_dist"),
        (F.round((2 * a - bb - cc) / F.nullif(2 * a, F.lit(0.0)), 6)
         + 0.0).alias("e_coeff"))


# ---------------------------------------------------------------------------
# Embedding-space drift: linear-kernel MMD between two vector cohorts
# ---------------------------------------------------------------------------

@query("q_embedding_drift", oracle="""
WITH sided AS (
  SELECT vec_id % 2 AS side, embedding FROM embeddings
), expl AS (
  -- DuckDB v1.0 has no WITH ORDINALITY; parallel UNNESTs zip
  SELECT side,
         UNNEST(range(1, len(embedding) + 1)) AS dim,
         CAST(ROUND(UNNEST(embedding) * 1e6) AS BIGINT) AS vu
  FROM sided
), per AS (
  SELECT dim,
         SUM(CASE WHEN side = 0 THEN vu END) AS s_a,
         SUM(CASE WHEN side = 0 THEN 1 END) AS n_a,
         SUM(CASE WHEN side = 1 THEN vu END) AS s_b,
         SUM(CASE WHEN side = 1 THEN 1 END) AS n_b
  FROM expl GROUP BY dim
), gaps AS (
  SELECT dim, n_a, n_b,
         ROUND(s_a::DOUBLE / NULLIF(n_a, 0) / 1e6, 9) + 0.0 AS mean_ref,
         ROUND(s_b::DOUBLE / NULLIF(n_b, 0) / 1e6, 9) + 0.0 AS mean_cur,
         CAST(ROUND(
           (s_a::DOUBLE / NULLIF(n_a, 0) / 1e6
            - s_b::DOUBLE / NULLIF(n_b, 0) / 1e6)
           * (s_a::DOUBLE / NULLIF(n_a, 0) / 1e6
              - s_b::DOUBLE / NULLIF(n_b, 0) / 1e6)
           * 1e12) AS BIGINT) AS g2_pico
  FROM per
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(n_a AS BIGINT) AS n_ref, CAST(n_b AS BIGINT) AS n_cur,
       mean_ref, mean_cur,
       ROUND(g2_pico / 1e12, 9) + 0.0 AS gap_sq,
       ROUND(SUM(g2_pico) OVER () / 1e12, 6) + 0.0 AS mmd_sq,
       ROUND(SQRT(SUM(g2_pico) OVER () / 1e12), 6) + 0.0 AS mmd
FROM gaps ORDER BY dim
""")
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift: linear-kernel MMD between two vector
    cohorts (even/odd vec_id as the demo split — in production, two
    snapshot windows) — MMD_linear = ||mu_ref - mu_cur||_2, the
    centroid displacement, reported with the per-dimension gap^2
    breakdown so the drifted SUBSPACE is visible (which coordinates
    moved), not just that drift happened. The vector-valued member of
    the drift family: KS/EMD/Hellinger watch one scalar; this watches
    the geometry the retrieval stack actually searches in.

    Determinism: components quantize to micro ints; per-dim means are
    ratios of exact integer sums; each squared gap quantizes to pico
    BEFORE the cross-dim total (quantize-before-sum over the bounded
    dim spine); the final sqrt runs once on that integer total.

    Scale: posexplode is a map-side flatMap; ONE map-side-combined
    groupBy on the bounded dim key (64 here) carries all four
    conditional sums; the only window runs over the 64-row dim spine.
    Shuffle volume is |dims| x 4 integers regardless of corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    expl = (e.select((F.col("vec_id") % 2).alias("side"),
                     F.posexplode("embedding").alias("dim0", "val"))
            .select("side", (F.col("dim0") + 1).alias("dim"),
                    F.round(F.col("val").cast("double") * 1e6)
                    .cast("bigint").alias("vu")))
    per = (expl.groupBy("dim")
           .agg(F.sum(F.when(F.col("side") == 0, F.col("vu"))).alias("s_a"),
                F.sum(F.when(F.col("side") == 0, 1)).alias("n_a"),
                F.sum(F.when(F.col("side") == 1, F.col("vu"))).alias("s_b"),
                F.sum(F.when(F.col("side") == 1, 1)).alias("n_b")))
    # NULLIF: an empty cohort must yield NULL means, never an ANSI
    # zero-divisor abort (edge-corpus contract)
    mean_a = (F.col("s_a").cast("double")
              / F.nullif(F.col("n_a"), F.lit(0)) / 1e6)
    mean_b = (F.col("s_b").cast("double")
              / F.nullif(F.col("n_b"), F.lit(0)) / 1e6)
    g2_pico = F.round((mean_a - mean_b) * (mean_a - mean_b) * 1e12) \
        .cast("long")
    wall = (W.orderBy("dim")  # bounded dim spine
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    return (per.withColumn("g2_pico", g2_pico)
            .select(F.col("dim").cast("long").alias("dim"),
                    F.col("n_a").cast("long").alias("n_ref"),
                    F.col("n_b").cast("long").alias("n_cur"),
                    (F.round(mean_a, 9) + 0.0).alias("mean_ref"),
                    (F.round(mean_b, 9) + 0.0).alias("mean_cur"),
                    (F.round(F.col("g2_pico") / 1e12, 9) + 0.0)
                    .alias("gap_sq"),
                    (F.round(F.sum("g2_pico").over(wall) / 1e12, 6) + 0.0)
                    .alias("mmd_sq"),
                    (F.round(F.sqrt(F.sum("g2_pico").over(wall) / 1e12), 6)
                     + 0.0).alias("mmd"))
            .orderBy("dim"))


# ---------------------------------------------------------------------------
# Sample-ratio mismatch (SRM) check per experiment stream
# ---------------------------------------------------------------------------

@query("q_ab_srm", oracle="""
WITH units AS (
  SELECT DISTINCT event_type, user_id,
         CASE WHEN ((user_id % 1000003) * 2654435761 % 1000) < 500
              THEN 0 ELSE 1 END AS grp
  FROM events WHERE user_id IS NOT NULL
), counts AS (
  SELECT event_type,
         COALESCE(SUM(CASE WHEN grp = 0 THEN 1 END), 0) AS n_a,
         COALESCE(SUM(CASE WHEN grp = 1 THEN 1 END), 0) AS n_b
  FROM units GROUP BY event_type
)
SELECT event_type,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       ROUND((n_a - n_b) * (n_a - n_b)::DOUBLE
             / NULLIF(n_a + n_b, 0), 6) + 0.0 AS chi2,
       (n_a - n_b) * (n_a - n_b)::DOUBLE / NULLIF(n_a + n_b, 0)
         > 3.841459 AS srm_95
FROM counts ORDER BY event_type
""")
def q_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch check per experiment stream: the chi-square
    on RANDOMIZATION-UNIT counts against the designed 50/50 split —
    for two equal arms it reduces exactly to (n_a - n_b)^2 / n. SRM is
    the first gate every experimentation platform runs: a mismatched
    ratio means broken bucketing/logging, and every downstream test
    (q_ab_ttest, q_cuped, q_mann_whitney) is invalid no matter how
    significant. Units are DISTINCT users, not events — volume
    imbalance is q_overdispersion's job, unit imbalance is SRM's.
    The demo assignment is the registry's canonical multiplicative
    hash split (a parity split over the driver's dense user ids is
    EXACTLY balanced and would demo nothing; the hash split carries
    real binomial noise, like production bucketing).

    Determinism: all-integer distinct-user counts; one double
    expression; the flag compares that shared double to the
    chi-square(1) 95% literal.

    Scale: DISTINCT(stream, user) is one shuffle on the composite
    key; the count rollup is map-side combined on the stream key."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull()))
    grp = F.when(((F.col("user_id") % 1000003)
                  * F.lit(2654435761).cast("bigint") % 1000) < 500, 0) \
        .otherwise(1)
    units = (ev.select("event_type", "user_id", grp.alias("grp"))
             .distinct())
    counts = units.groupBy("event_type").agg(
        F.coalesce(F.sum(F.when(F.col("grp") == 0, 1)), F.lit(0))
        .alias("n_a"),
        F.coalesce(F.sum(F.when(F.col("grp") == 1, 1)), F.lit(0))
        .alias("n_b"))
    d = F.col("n_a") - F.col("n_b")
    chi2 = (d * d).cast("double") / F.nullif(F.col("n_a") + F.col("n_b"),
                                             F.lit(0))
    return (counts.select("event_type",
                          F.col("n_a").cast("long").alias("n_a"),
                          F.col("n_b").cast("long").alias("n_b"),
                          (F.round(chi2, 6) + 0.0).alias("chi2"),
                          (chi2 > 3.841459).alias("srm_95"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Theil's U2 forecast skill: Holt vs the naive lag-1 baseline
# ---------------------------------------------------------------------------

@query("q_theils_u2", oracle="""
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
         CAST(o2.mu - o1.mu AS DOUBLE) AS b,
         CAST(o2.mu AS DOUBLE) AS prev,
         CAST(0 AS DOUBLE) AS sm, CAST(0 AS DOUBLE) AS sn
  FROM ordered o1 JOIN ordered o2
    ON o2.event_type = o1.event_type AND o1.rk = 1 AND o2.rk = 2
  UNION ALL
  SELECT o.event_type, o.rk, o.n,
         0.5 * o.mu + 0.5 * (r.l + r.b),
         0.5 * ((0.5 * o.mu + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b,
         CAST(o.mu AS DOUBLE),
         r.sm + ((r.l + r.b) - o.mu) * ((r.l + r.b) - o.mu),
         r.sn + (r.prev - o.mu) * (r.prev - o.mu)
  FROM ordered o JOIN rec r
    ON o.event_type = r.event_type AND o.rk = r.rk + 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       ROUND(SQRT(sm / (n - 2)) / 1000000, 6) + 0.0 AS rmse_model,
       ROUND(SQRT(sn / (n - 2)) / 1000000, 6) + 0.0 AS rmse_naive,
       ROUND(SQRT(sm / NULLIF(sn, 0)), 6) + 0.0 AS theils_u2,
       SQRT(sm / NULLIF(sn, 0)) < 1.0 AS beats_naive
FROM rec WHERE rk = n AND n >= 3
ORDER BY event_type
""")
def q_theils_u2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U2 forecast skill for the Holt (alpha = beta = 0.5)
    model on each stream's daily-mean series: U2 = RMSE(model one-step
    in-sample) / RMSE(naive lag-1). U2 < 1 means the model genuinely
    beats "tomorrow equals today"; q_forecast_accuracy publishes the
    naive baseline's error, q_holt_forecast publishes the model's
    state — this is the SKILL ratio that says whether deploying the
    model adds value at all.

    Determinism: the q_holt_forecast argument extended — both engines
    run the IDENTICAL sequence of double ops in the same order (Spark:
    one in-row aggregate() fold carrying (l, b, prev, sse_model,
    sse_naive); DuckDB: the recursive CTE with the same step
    expressions), so the error sums are bit-identical without
    quantization.

    Scale: the fold runs over the bounded per-series daily table;
    one map-side-combined groupBy gets there; output is |streams|."""
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
              .filter(F.col("n_days") >= 3))
    x1 = F.element_at("seq", 1)["mu"]
    x2 = F.element_at("seq", 2)["mu"]
    init = F.struct(x2.cast("double").alias("l"),
                    (x2 - x1).cast("double").alias("b"),
                    x2.cast("double").alias("prev"),
                    F.lit(0.0).alias("sm"),
                    F.lit(0.0).alias("sn"))
    state = F.aggregate(
        F.slice("seq", 3, F.greatest(F.size("seq") - 2, F.lit(0))),
        init,
        lambda acc, x: F.struct(
            (0.5 * x["mu"] + 0.5 * (acc["l"] + acc["b"])).alias("l"),
            (0.5 * ((0.5 * x["mu"] + 0.5 * (acc["l"] + acc["b"]))
                    - acc["l"]) + 0.5 * acc["b"]).alias("b"),
            x["mu"].cast("double").alias("prev"),
            (acc["sm"] + ((acc["l"] + acc["b"]) - x["mu"])
             * ((acc["l"] + acc["b"]) - x["mu"])).alias("sm"),
            (acc["sn"] + (acc["prev"] - x["mu"])
             * (acc["prev"] - x["mu"])).alias("sn")))
    n = F.col("n_days").cast("double")
    u2 = F.sqrt(state["sm"] / F.nullif(state["sn"], F.lit(0.0)))
    return (series.select(
        "event_type", "n_days",
        (F.round(F.sqrt(state["sm"] / (n - 2)) / 1e6, 6) + 0.0)
        .alias("rmse_model"),
        (F.round(F.sqrt(state["sn"] / (n - 2)) / 1e6, 6) + 0.0)
        .alias("rmse_naive"),
        (F.round(u2, 6) + 0.0).alias("theils_u2"),
        (u2 < 1.0).alias("beats_naive"))
        .orderBy("event_type"))


# ---------------------------------------------------------------------------
# SAX symbolization of the daily series (PAA + breakpoint alphabet)
# ---------------------------------------------------------------------------

@query("q_sax_symbols", oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(ROUND(SUM(CAST(ROUND(value * 1000000) AS BIGINT))::DOUBLE
                    / COUNT(*)) AS BIGINT) AS mu
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), ordered AS (
  SELECT event_type, mu,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1
           AS idx
  FROM daily
), moments AS (
  SELECT event_type, COUNT(*) AS n, SUM(mu) AS s,
         SUM(CAST(mu AS HUGEINT) * mu) AS s2
  FROM ordered GROUP BY event_type
), blocks AS (
  SELECT o.event_type, o.idx // 5 AS blk, m.n, m.s, m.s2,
         SUM(o.mu) AS bsum, COUNT(*) AS bc
  FROM ordered o JOIN moments m USING (event_type)
  WHERE o.idx // 5 < m.n // 5
  GROUP BY 1, 2, 3, 4, 5
), z AS (
  SELECT event_type, blk,
         (bsum::DOUBLE / bc - s::DOUBLE / n)
           / NULLIF(SQRT((n * s2 - CAST(s AS HUGEINT) * s)::DOUBLE)
                    / n / SQRT(n - 1.0) * SQRT(n::DOUBLE), 0)
           AS paa_z
  FROM blocks
), sym AS (
  SELECT event_type, blk,
         CASE WHEN paa_z < -0.6744897501960817 THEN 'a'
              WHEN paa_z < 0.0 THEN 'b'
              WHEN paa_z < 0.6744897501960817 THEN 'c'
              ELSE 'd' END AS s
  FROM z
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       STRING_AGG(s, '' ORDER BY blk) AS sax
FROM sym GROUP BY event_type ORDER BY event_type
""")
def q_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (symbolic aggregate approximation) of each stream's daily
    series: z-normalize, piecewise-aggregate over 5-day blocks, map
    each block mean to a 4-letter alphabet at the N(0,1) quartile
    breakpoints (+-0.6745) — the time-series representation behind
    motif discovery, shape indexing, and anomaly grammars; two streams
    with the same SAX string move together at block resolution.

    Determinism: block sums and per-stream moments are exact
    integers; each block's z-score is ONE double expression of those
    integers (the SAMPLE sd written identically on both engines), and
    the symbol is a comparison against shared literals — boundary
    behavior is identical because the compared doubles are
    bit-identical. The string assembles in block order (STRING_AGG
    ORDER BY / sorted array_join).

    Scale: daily aggregate is map-side combined; moments ride a
    broadcast join keyed on the stream; blocks are a second
    map-side-combined groupBy; only the bounded daily table ever
    sorts (keyed row_number, the q_ljung_box-approved shape)."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.round(F.sum(F.round(F.col("value") * 1e6).cast("bigint"))
                          .cast("double") / F.count(F.lit(1)))
                  .cast("bigint").alias("mu")))
    wrn = W.partitionBy("event_type").orderBy("day")
    ordered = daily.select(
        "event_type", "mu",
        (F.row_number().over(wrn) - 1).alias("idx"))
    moments = ordered.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("mu").alias("s"),
        F.sum(F.col("mu").cast("decimal(38,0)") * F.col("mu")).alias("s2"))
    blocks = (ordered.join(F.broadcast(moments), "event_type")
              .filter(F.floor(F.col("idx") / 5)
                      < F.floor(F.col("n") / 5))
              .groupBy("event_type", F.floor(F.col("idx") / 5).alias("blk"),
                       "n", "s", "s2")
              .agg(F.sum("mu").alias("bsum"), F.count(F.lit(1)).alias("bc")))
    n = F.col("n").cast("double")
    sd_term = (F.sqrt((F.col("n") * F.col("s2")
                       - F.col("s").cast("decimal(38,0)") * F.col("s"))
                      .cast("double"))
               / n / F.sqrt(n - 1.0) * F.sqrt(n))
    paa_z = ((F.col("bsum").cast("double") / F.col("bc")
              - F.col("s").cast("double") / n)
             / F.nullif(sd_term, F.lit(0.0)))
    sym = F.when(paa_z < -0.6744897501960817, "a") \
        .when(paa_z < 0.0, "b") \
        .when(paa_z < 0.6744897501960817, "c").otherwise("d")
    return (blocks.select("event_type", "blk", sym.alias("s"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_blocks"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("blk", "s"))),
                         lambda x: x["s"]), "").alias("sax"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Temperature-scaled corpus mixing weights (multilingual sampling)
# ---------------------------------------------------------------------------

@query("q_mix_temperature", oracle=r"""
WITH tok AS (
  SELECT lang,
         SUM(LEN(list_filter(string_split_regex(COALESCE(text, ''),
                                                '\s+'), x -> x <> '')))
           AS n_tok,
         COUNT(*) AS n_docs
  FROM documents WHERE lang IS NOT NULL
  GROUP BY lang
), tot AS (
  SELECT SUM(n_tok) AS t FROM tok
), q AS (
  SELECT lang, n_tok, n_docs,
         CAST(ROUND(SQRT(n_tok::DOUBLE / t) * 1e12) AS BIGINT) AS q_pico
  FROM tok CROSS JOIN tot
), norm AS (
  SELECT SUM(q_pico) AS qs FROM q
)
SELECT lang,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tok AS BIGINT) AS n_tok,
       ROUND(n_tok::DOUBLE / t, 9) + 0.0 AS natural_share,
       ROUND(q_pico::DOUBLE / qs, 9) + 0.0 AS temp_share,
       ROUND((q_pico::DOUBLE / qs) / NULLIF(n_tok::DOUBLE / t, 0), 6)
         + 0.0 AS upsample
FROM q CROSS JOIN tot CROSS JOIN norm
ORDER BY lang
""")
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual sampling weights (the XLM-R /
    mT5 recipe at T = 2, i.e. exponent alpha = 1/T = 0.5): p_l ~
    (n_l / N)^alpha, renormalized — high-resource languages are
    down-weighted, low-resource ones up-sampled, and the `upsample`
    column is the factor each language's natural share moves by. The
    policy layer above q_mix_corpus (which executes a target mix) and
    q_mix_token_budget (which caps it): THIS query decides the mix.

    Determinism: alpha = 0.5 makes the power an IEEE-EXACT sqrt (the
    reason this demo pins T = 2 — an arbitrary alpha would put libm
    pow() in the parity path); each sqrt share quantizes to pico
    BEFORE the normalization sum, so the denominator is an exact
    integer.

    Scale: one map-side-combined groupBy on the language key; totals
    are 1-row broadcasts; output is |languages|."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("lang").isNotNull()))
    n_tok = F.coalesce(
        F.size(F.filter(F.split(F.coalesce(F.col("text"), F.lit("")),
                                r"\s+"),
                        lambda x: x != "")), F.lit(0))
    tok = (d.groupBy("lang")
           .agg(F.sum(n_tok.cast("long")).alias("n_tok"),
                F.count(F.lit(1)).alias("n_docs")))
    tot = F.broadcast(tok.agg(F.sum("n_tok").alias("t")))
    q = (tok.crossJoin(tot)
         .withColumn("q_pico",
                     F.round(F.sqrt(F.col("n_tok").cast("double")
                                    / F.col("t")) * 1e12).cast("long")))
    norm = F.broadcast(q.agg(F.sum("q_pico").alias("qs")))
    nat = F.col("n_tok").cast("double") / F.col("t")
    tshare = F.col("q_pico").cast("double") / F.col("qs")
    return (q.crossJoin(norm)
            .select("lang",
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("n_tok").cast("long").alias("n_tok"),
                    (F.round(nat, 9) + 0.0).alias("natural_share"),
                    (F.round(tshare, 9) + 0.0).alias("temp_share"),
                    (F.round(tshare / F.nullif(nat, F.lit(0.0)), 6) + 0.0)
                    .alias("upsample"))
            .orderBy("lang"))


# ---------------------------------------------------------------------------
# Newey-West (HAC) standard error + effective sample size per stream
# ---------------------------------------------------------------------------

@query("q_newey_west", oracle="""
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
), r AS (
  SELECT event_type, CAST(n AS BIGINT) AS n,
         ROUND(SUM(d * d1)::DOUBLE / NULLIF(SUM(d * d), 0) * 1e12)
           / 1e12 AS r1,
         ROUND(SUM(d * d2)::DOUBLE / NULLIF(SUM(d * d), 0) * 1e12)
           / 1e12 AS r2,
         ROUND(SUM(d * d3)::DOUBLE / NULLIF(SUM(d * d), 0) * 1e12)
           / 1e12 AS r3,
         SUM(d * d) AS ss
  FROM dev GROUP BY event_type, n
), k AS (
  SELECT event_type, n, r1, r2, r3,
         ss::DOUBLE / (CAST(n AS HUGEINT) * n * (n - 1))::DOUBLE
           / 1e12 AS var_iid,
         1.0 + 2.0 * (0.75 * r1 + 0.5 * r2 + 0.25 * r3) AS kernel
  FROM r
)
SELECT event_type, n,
       ROUND(SQRT(var_iid / n), 6) + 0.0 AS se_iid,
       ROUND(SQRT(var_iid * GREATEST(kernel, 1e-12) / n), 6) + 0.0
         AS se_hac,
       ROUND(SQRT(GREATEST(kernel, 1e-12)), 6) + 0.0 AS se_ratio,
       ROUND(n / GREATEST(1.0 + 2.0 * (r1 + r2 + r3), 1e-12), 1) + 0.0
         AS n_eff
FROM k ORDER BY event_type
""")
def q_newey_west(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West (HAC, Bartlett kernel, lag window L = 3) standard
    error of each stream's mean, beside the iid standard error, their
    ratio, and the autocorrelation-adjusted EFFECTIVE sample size
    n_eff = n / (1 + 2*sum rho_k). The remedy that pairs with the
    family's diagnoses: q_ljung_box says the iid error bars are
    invalid, q_hurst_exponent says how badly — THIS query is the
    corrected error bar monitors should quote (se_ratio > 1 means
    every naive confidence band is too narrow by that factor).

    Determinism: the rho_k ratios reuse q_ljung_box's exact-integer
    deviation algebra (HUGEINT products, 1e-12-quantized ratios); the
    sample variance is a ratio of exact integers; kernel floors guard
    pathological negative-rho streams on both engines identically.

    Scale: identical plan to q_ljung_box — per-series totals
    broadcast back, one keyed lag window, one final aggregate."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    base = ev.select(
        "event_type", "ts", "event_id",
        F.round(F.col("value") * 1e6).cast("bigint").alias("xu"))
    tot = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("xu").alias("s"))
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    d = (F.col("n").cast("decimal(38,0)") * F.col("xu") - F.col("s"))
    dev = (base.join(F.broadcast(tot), "event_type")
           .select("event_type", "ts", "event_id", "n", d.alias("d"))
           .select("event_type", "n", "d",
                   F.lag("d", 1).over(w).alias("d1"),
                   F.lag("d", 2).over(w).alias("d2"),
                   F.lag("d", 3).over(w).alias("d3")))
    den = F.sum(F.col("d") * F.col("d"))

    def rr(lagcol: str):
        return (F.round(F.sum(F.col("d") * F.col(lagcol)).cast("double")
                        / F.nullif(den.cast("double"), F.lit(0.0))
                        * 1e12) / 1e12)

    r = (dev.groupBy("event_type", "n")
         .agg(rr("d1").alias("r1"), rr("d2").alias("r2"),
              rr("d3").alias("r3"), den.alias("ss")))
    n = F.col("n").cast("double")
    var_iid = (F.col("ss").cast("double")
               / (F.col("n").cast("decimal(38,0)") * F.col("n")
                  * (F.col("n") - 1)).cast("double") / 1e12)
    kernel = 1.0 + 2.0 * (0.75 * F.col("r1") + 0.5 * F.col("r2")
                          + 0.25 * F.col("r3"))
    rho_sum = 1.0 + 2.0 * (F.col("r1") + F.col("r2") + F.col("r3"))
    return (r.select(
        "event_type", F.col("n").cast("long").alias("n"),
        (F.round(F.sqrt(var_iid / n), 6) + 0.0).alias("se_iid"),
        (F.round(F.sqrt(var_iid * F.greatest(kernel, F.lit(1e-12)) / n), 6)
         + 0.0).alias("se_hac"),
        (F.round(F.sqrt(F.greatest(kernel, F.lit(1e-12))), 6) + 0.0)
        .alias("se_ratio"),
        (F.round(n / F.greatest(rho_sum, F.lit(1e-12)), 1) + 0.0)
        .alias("n_eff"))
        .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Gumbel block-maxima fit: extreme-value return levels per stream
# ---------------------------------------------------------------------------

@query("q_gumbel_fit", oracle="""
WITH daily_max AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         MAX(CAST(ROUND(value * 1e6) AS BIGINT)) AS mx
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), s AS (
  SELECT event_type, COUNT(*) AS n, SUM(mx) AS sm,
         SUM(CAST(mx AS HUGEINT) * mx) AS sm2
  FROM daily_max GROUP BY event_type
), fit AS (
  SELECT event_type, n,
         sm::DOUBLE / n AS mean_u,
         SQRT((n * sm2 - CAST(sm AS HUGEINT) * sm)::DOUBLE
              / (CAST(n AS HUGEINT) * (n - 1))::DOUBLE)
           * 0.7796968012336761 AS beta_u
  FROM s WHERE n >= 2
)
SELECT event_type, CAST(n AS BIGINT) AS n_blocks,
       ROUND((mean_u - 0.5772156649015329 * beta_u) / 1e6, 6) + 0.0
         AS gumbel_mu,
       ROUND(beta_u / 1e6, 6) + 0.0 AS gumbel_beta,
       ROUND((mean_u - 0.5772156649015329 * beta_u
              - beta_u * LN(-LN(0.99))) / 1e6, 6) + 0.0
         AS return_level_100,
       ROUND((mean_u - 0.5772156649015329 * beta_u
              - beta_u * LN(-LN(0.999))) / 1e6, 6) + 0.0
         AS return_level_1000
FROM fit ORDER BY event_type
""")
def q_gumbel_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value (Gumbel) fit on each stream's DAILY BLOCK MAXIMA
    by the method of moments: beta = s * sqrt(6)/pi, mu = xbar -
    gamma * beta (gamma = Euler-Mascheroni), plus the 100-block and
    1000-block RETURN LEVELS mu - beta*ln(-ln(1 - 1/T)) — "the worst
    value expected once per 100 / 1000 days". This is the capacity-
    planning number none of the mean-centric monitors produce: control
    bands bound typical days, the return level bounds the RARE one.

    Determinism: block maxima are exact micro-ints (MAX is order-free);
    mean and sample sd come from exact HUGEINT/DECIMAL moments; the
    sqrt(6)/pi, gamma, and ln(-ln p) factors are shared literals or
    single libm calls on bounded per-stream scalars (the
    ln-on-bounded-aggregates convention).

    Scale: one map-side-combined groupBy to the bounded (stream, day)
    maxima, one tiny aggregate; shuffle is |streams| x |days|."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    daily_max = (ev.groupBy("event_type",
                            F.col("ts").cast("date").alias("day"))
                 .agg(F.max(F.round(F.col("value") * 1e6).cast("bigint"))
                      .alias("mx")))
    s = (daily_max.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"), F.sum("mx").alias("sm"),
              F.sum(F.col("mx").cast("decimal(38,0)") * F.col("mx"))
              .alias("sm2"))
         .filter(F.col("n") >= 2))
    n = F.col("n")
    mean_u = F.col("sm").cast("double") / n
    var_num = (n * F.col("sm2")
               - F.col("sm").cast("decimal(38,0)") * F.col("sm"))
    beta_u = (F.sqrt(var_num.cast("double")
                     / (n.cast("decimal(38,0)") * (n - 1)).cast("double"))
              * 0.7796968012336761)  # sqrt(6)/pi
    mu_u = mean_u - 0.5772156649015329 * beta_u

    def rl(p: float):
        import math
        return mu_u - beta_u * math.log(-math.log(p))

    return (s.select("event_type", n.cast("long").alias("n_blocks"),
                     (F.round(mu_u / 1e6, 6) + 0.0).alias("gumbel_mu"),
                     (F.round(beta_u / 1e6, 6) + 0.0).alias("gumbel_beta"),
                     (F.round(rl(0.99) / 1e6, 6) + 0.0)
                     .alias("return_level_100"),
                     (F.round(rl(0.999) / 1e6, 6) + 0.0)
                     .alias("return_level_1000"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Exact Shapley-value channel attribution (4 channels, 16 coalitions)
# ---------------------------------------------------------------------------

@query("q_shapley_attribution", oracle="""
WITH p AS (
  SELECT user_id, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
), firstp AS (
  SELECT user_id, ts AS p_ts, event_id AS p_eid FROM p WHERE rn = 1
), touched AS (
  SELECT f.user_id,
         COALESCE(MAX(CASE WHEN e.event_type = 'click'  THEN 1 END), 0)
       + COALESCE(MAX(CASE WHEN e.event_type = 'view'   THEN 2 END), 0)
       + COALESCE(MAX(CASE WHEN e.event_type = 'signup' THEN 4 END), 0)
       + COALESCE(MAX(CASE WHEN e.event_type = 'error'  THEN 8 END), 0)
           AS mask
  FROM firstp f
  LEFT JOIN events e
    ON e.user_id = f.user_id
   AND e.event_type IN ('click', 'view', 'signup', 'error')
   AND (e.ts < f.p_ts OR (e.ts = f.p_ts AND e.event_id < f.p_eid))
  GROUP BY f.user_id
), conv AS (
  SELECT mask, COUNT(*) AS c FROM touched GROUP BY mask
), masks AS (
  SELECT CAST(UNNEST(generate_series(0, 15)) AS INT) AS s
), v AS (
  SELECT m.s, COALESCE(SUM(conv.c), 0) AS v
  FROM masks m LEFT JOIN conv ON (conv.mask & m.s) = conv.mask
  GROUP BY m.s
), channels AS (
  SELECT 1 AS bit, 'click' AS channel UNION ALL
  SELECT 2, 'view' UNION ALL SELECT 4, 'signup' UNION ALL
  SELECT 8, 'error'
), phi AS (
  SELECT ch.channel,
         SUM((CASE bit_count(m.s) WHEN 0 THEN 6 WHEN 1 THEN 2
              WHEN 2 THEN 2 ELSE 6 END)
             * (vi.v - vs.v)) AS phi24
  FROM channels ch
  JOIN masks m ON (m.s & ch.bit) = 0
  JOIN v vs ON vs.s = m.s
  JOIN v vi ON vi.s = m.s + ch.bit
  GROUP BY ch.channel
), tot AS (
  SELECT SUM(phi24) AS t FROM phi
)
SELECT channel,
       ROUND(phi24 / 24.0, 6) + 0.0 AS shapley,
       ROUND(phi24::DOUBLE / NULLIF(t, 0), 6) + 0.0 AS share
FROM phi CROSS JOIN tot
ORDER BY channel
""")
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution over the four pre-purchase
    touch channels: each converting user contributes their touched-
    channel SET (a 4-bit mask before the FIRST purchase under the
    (ts, event_id) total order); the coalition value v(S) counts
    conversions whose touch set fits inside S; phi_channel is the
    exact Shapley sum over the 8 coalitions excluding the channel,
    with the n = 4 weights |S|!(3-|S|)!/4! carried as integers x24.
    The game-theoretic answer to "which channel actually drove
    conversions" — last-touch (q_attribution) over-credits closers,
    Markov removal (q_markov_transitions) needs a path model; Shapley
    is the axiomatically fair split, and with a FIXED small channel
    alphabet it is exactly computable at any corpus size.

    Determinism: every quantity through phi24 is an exact integer
    (conversion counts, containment sums, factorial weights); the two
    final divisions round once. The efficiency property Sum(phi) =
    v(full) - v(empty) holds exactly in integers (asserted in the
    ground-truth test).

    Scale: one keyed window finds first purchases; ONE keyed join +
    conditional-MAX aggregate builds the per-user mask (never a
    per-coalition scan); everything after the 16-row conv table is
    literal-spine algebra. Shuffles are |users|, output is 4 rows."""
    ev = load_table(spark, sf_dir, "events")
    wp = W.partitionBy("user_id").orderBy("ts", "event_id")
    firstp = (ev.filter((F.col("event_type") == "purchase")
                        & F.col("user_id").isNotNull())
              .withColumn("rn", F.row_number().over(wp))
              .filter(F.col("rn") == 1)
              .select(F.col("user_id").alias("p_uid"),
                      F.col("ts").alias("p_ts"),
                      F.col("event_id").alias("p_eid")))
    ch_bits = {"click": 1, "view": 2, "signup": 4, "error": 8}
    e = (ev.filter(F.col("event_type").isin(*ch_bits))
         .select(F.col("user_id").alias("e_uid"),
                 F.col("event_type").alias("e_type"),
                 F.col("ts").alias("e_ts"),
                 F.col("event_id").alias("e_eid")))
    before = ((F.col("e_ts") < F.col("p_ts"))
              | ((F.col("e_ts") == F.col("p_ts"))
                 & (F.col("e_eid") < F.col("p_eid"))))
    joined = firstp.join(
        e, (F.col("e_uid") == F.col("p_uid")) & before, "left")
    mask = sum(
        F.coalesce(F.max(F.when(F.col("e_type") == name, bit)), F.lit(0))
        for name, bit in ch_bits.items())
    touched = (joined.groupBy("p_uid")
               .agg(mask.alias("mask")))
    conv = touched.groupBy("mask").agg(F.count(F.lit(1)).alias("c"))
    masks = spark.range(16).select(F.col("id").cast("int").alias("s"))
    v = (masks.join(F.broadcast(conv),
                    conv["mask"].bitwiseAND(F.col("s")) == conv["mask"],
                    "left")
         .groupBy("s").agg(F.coalesce(F.sum("c"), F.lit(0)).alias("v")))
    channels = spark.createDataFrame(
        [(b, n) for n, b in ch_bits.items()], "bit INT, channel STRING")
    w24 = (F.when(F.bit_count("s") == 0, 6)
           .when(F.bit_count("s") == 1, 2)
           .when(F.bit_count("s") == 2, 2).otherwise(6))
    vs = v.select(F.col("s"), F.col("v").alias("v_s"))
    vi = v.select((F.col("s")).alias("si"), F.col("v").alias("v_si"))
    phi = (channels.crossJoin(F.broadcast(vs))
           .filter(F.col("s").bitwiseAND(F.col("bit")) == 0)
           .join(F.broadcast(vi),
                 F.col("si") == F.col("s") + F.col("bit"))
           .groupBy("channel")
           .agg(F.sum(w24 * (F.col("v_si") - F.col("v_s")))
                .alias("phi24")))
    tot = F.broadcast(phi.agg(F.sum("phi24").alias("t")))
    return (phi.crossJoin(tot)
            .select("channel",
                    (F.round(F.col("phi24") / 24.0, 6) + 0.0)
                    .alias("shapley"),
                    (F.round(F.col("phi24").cast("double")
                             / F.nullif(F.col("t"), F.lit(0)), 6) + 0.0)
                    .alias("share"))
            .orderBy("channel"))


# ---------------------------------------------------------------------------
# Delta-method ratio-metric A/B test (per-user CTR, two arms)
# ---------------------------------------------------------------------------

@query("q_ratio_delta", oracle="""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN ((user_id % 1000003) * 2654435761 % 1000) < 500
              THEN 0 ELSE 1 END AS arm,
         COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS x,
         COALESCE(SUM(CASE WHEN event_type = 'view'  THEN 1 END), 0) AS y
  FROM events WHERE user_id IS NOT NULL
    AND event_type IN ('click', 'view')
  GROUP BY 1, 2
), m AS (
  SELECT arm, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM per_user WHERE y > 0 GROUP BY arm
), d AS (
  SELECT arm, CAST(n AS BIGINT) AS n,
         sx::DOUBLE / sy AS r,
         ((n * sxx - CAST(sx AS HUGEINT) * sx)::DOUBLE
            / NULLIF(n * (n - 1.0), 0)
          + (sx::DOUBLE / sy) * (sx::DOUBLE / sy)
            * (n * syy - CAST(sy AS HUGEINT) * sy)::DOUBLE
            / NULLIF(n * (n - 1.0), 0)
          - 2.0 * (sx::DOUBLE / sy)
            * (n * sxy - CAST(sx AS HUGEINT) * sy)::DOUBLE
            / NULLIF(n * (n - 1.0), 0))
         / ((sy::DOUBLE / n) * (sy::DOUBLE / n)) / n AS var_r
  FROM m
)
SELECT a.n AS n_a, b.n AS n_b,
       ROUND(a.r, 6) + 0.0 AS ratio_a,
       ROUND(b.r, 6) + 0.0 AS ratio_b,
       ROUND(b.r - a.r, 6) + 0.0 AS diff,
       ROUND(SQRT(a.var_r + b.var_r), 6) + 0.0 AS se_diff,
       ROUND((b.r - a.r) / NULLIF(SQRT(a.var_r + b.var_r), 0), 6) + 0.0
         AS z,
       ABS((b.r - a.r) / NULLIF(SQRT(a.var_r + b.var_r), 0)) > 1.959964
         AS significant_95
FROM (SELECT * FROM d WHERE arm = 0) a
CROSS JOIN (SELECT * FROM d WHERE arm = 1) b
""")
def q_ratio_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method A/B test for a RATIO metric (clicks per view,
    user-level): the randomization unit is the user but the metric is
    a ratio of user sums, so the naive binomial variance is wrong —
    the delta method gives var(r) = (var_x + r^2 var_y - 2 r cov_xy)
    / ybar^2 / n, the standard correction every experimentation
    platform applies to CTR-family metrics. Arms ride the canonical
    hash split (q_ab_srm's assignment — run SRM first). z compares
    the arm ratios on the summed standard error.

    Determinism: per-user (x, y) are exact integer counts; every
    moment (sums, squares, cross products) is exact HUGEINT/DECIMAL
    (first factor widened); r, var, z are single double expressions
    of those integers; NULLIF guards the degenerate zero-variance
    split on both engines.

    Scale: one map-side-combined groupBy to per-user counters, one
    6-sum aggregate per arm; output is one row."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull()
                  & F.col("event_type").isin("click", "view")))
    arm = F.when(((F.col("user_id") % 1000003)
                  * F.lit(2654435761).cast("bigint") % 1000) < 500, 0) \
        .otherwise(1)
    per_user = (ev.groupBy("user_id", arm.alias("arm"))
                .agg(F.coalesce(
                    F.sum(F.when(F.col("event_type") == "click", 1)),
                    F.lit(0)).alias("x"),
                    F.coalesce(
                    F.sum(F.when(F.col("event_type") == "view", 1)),
                    F.lit(0)).alias("y"))
                .filter(F.col("y") > 0))
    dec = "decimal(38,0)"
    m = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"))
    n = F.col("n").cast("double")
    r = F.col("sx").cast("double") / F.col("sy")

    def vnum(a, b, sa, sb):
        # NULLIF: a one-user arm (n = 1) must yield NULL variance,
        # never an ANSI zero-divisor abort (edge-corpus contract)
        return (F.col("n") * F.col(a)
                - F.col(sa).cast(dec) * F.col(sb)).cast("double") \
            / F.nullif(n * (n - 1.0), F.lit(0.0))

    var_r = ((vnum("sxx", None, "sx", "sx")
              + r * r * vnum("syy", None, "sy", "sy")
              - 2.0 * r * vnum("sxy", None, "sx", "sy"))
             / ((F.col("sy").cast("double") / n)
                * (F.col("sy").cast("double") / n)) / n)
    d = m.select("arm", F.col("n").cast("long").alias("n"),
                 r.alias("r"), var_r.alias("var_r"))
    a = d.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("r").alias("r_a"),
        F.col("var_r").alias("v_a"))
    b = d.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("r").alias("r_b"),
        F.col("var_r").alias("v_b"))
    se = F.sqrt(F.col("v_a") + F.col("v_b"))
    z = (F.col("r_b") - F.col("r_a")) / F.nullif(se, F.lit(0.0))
    return (a.crossJoin(F.broadcast(b))
            .select("n_a", "n_b",
                    (F.round(F.col("r_a"), 6) + 0.0).alias("ratio_a"),
                    (F.round(F.col("r_b"), 6) + 0.0).alias("ratio_b"),
                    (F.round(F.col("r_b") - F.col("r_a"), 6) + 0.0)
                    .alias("diff"),
                    (F.round(se, 6) + 0.0).alias("se_diff"),
                    (F.round(z, 6) + 0.0).alias("z"),
                    (F.abs(z) > 1.959964).alias("significant_95")))


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (period 7) per stream
# ---------------------------------------------------------------------------

@query("q_holt_winters", oracle="""
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
), init AS (
  SELECT event_type, ANY_VALUE(n) AS n,
         SUM(CASE WHEN rk <= 7 THEN mu ELSE 0 END) / 7.0 AS l0,
         (SUM(CASE WHEN rk BETWEEN 8 AND 14 THEN mu ELSE 0 END) / 7.0
          - SUM(CASE WHEN rk <= 7 THEN mu ELSE 0 END) / 7.0) / 7.0 AS b0,
         list_transform(
           list_sort(list([rk, mu]) FILTER (WHERE rk <= 7)),
           p -> p[2] - SUM(CASE WHEN rk <= 7 THEN mu ELSE 0 END) / 7.0)
           AS s0
  FROM ordered WHERE n >= 15 GROUP BY event_type
), rec AS (
  SELECT i.event_type, CAST(7 AS BIGINT) AS rk, i.n,
         i.l0 AS l, i.b0 AS b, i.s0 AS s
  FROM init i
  UNION ALL
  SELECT o.event_type, o.rk, o.n,
         0.5 * (o.mu - r.s[CAST((o.rk - 1) % 7 AS INT) + 1])
           + 0.5 * (r.l + r.b),
         0.5 * ((0.5 * (o.mu - r.s[CAST((o.rk - 1) % 7 AS INT) + 1])
                 + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b,
         list_concat(list_concat(
           r.s[1:CAST((o.rk - 1) % 7 AS INT)],
           [0.5 * (o.mu - (0.5 * (o.mu
                                  - r.s[CAST((o.rk - 1) % 7 AS INT) + 1])
                           + 0.5 * (r.l + r.b)))
            + 0.5 * r.s[CAST((o.rk - 1) % 7 AS INT) + 1]]),
           r.s[CAST((o.rk - 1) % 7 AS INT) + 2:7])
  FROM ordered o JOIN rec r
    ON o.event_type = r.event_type AND o.rk = r.rk + 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       ROUND(l / 1000000, 6) + 0.0 AS level,
       ROUND(b / 1000000, 6) + 0.0 AS trend,
       ROUND(s[CAST(rk % 7 AS INT) + 1] / 1000000, 6) + 0.0 AS s_next,
       ROUND((l + b + s[CAST(rk % 7 AS INT) + 1]) / 1000000, 6) + 0.0
         AS forecast_1
FROM rec WHERE rk = n
ORDER BY event_type
""")
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE SEASONAL smoothing (period 7, alpha =
    beta = gamma = 0.5) over each stream's daily-mean series — the
    final rung of the forecasting ladder (q_ewma: level; q_holt:
    level + trend; here: level + trend + weekly shape), scored against
    naive by q_theils_u2's skill ratio. Init: level = week-1 mean,
    trend = (week-2 mean - week-1 mean)/7, seasonals = week-1
    residuals; the recurrence runs from day 8; streams shorter than
    15 days are dropped.

    Determinism: the q_holt_forecast argument with a seasonal RING in
    the accumulator — both engines run the IDENTICAL sequence of
    double ops (Spark: an aggregate() fold over the collected daily
    array with a struct{l, b, array s} accumulator; DuckDB: the
    recursive CTE whose step expressions are written term-for-term
    the same, ring slot = (rk-1) % 7 + 1 on both sides).

    Scale: the fold runs over the BOUNDED per-series daily table
    (state is 9 doubles per series); one map-side-combined groupBy
    gets there."""
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
              .filter(F.col("n_days") >= 15))
    week = F.transform(F.slice("seq", 1, 7), lambda x: x["mu"])
    week2 = F.transform(F.slice("seq", 8, 7), lambda x: x["mu"])
    l0 = (F.aggregate(week, F.lit(0).cast("long"),
                      lambda a, x: a + x).cast("double") / 7.0)
    w2m = (F.aggregate(week2, F.lit(0).cast("long"),
                       lambda a, x: a + x).cast("double") / 7.0)
    series = series.select(
        "event_type", "n_days", "seq",
        l0.alias("l0"), ((w2m - l0) / 7.0).alias("b0"),
        F.transform(week, lambda x: x.cast("double") - l0).alias("s0"))
    # positions 8..n ride with their absolute index so the ring slot
    # (rk-1) % 7 + 1 is computable inside the fold
    tail = F.transform(
        F.slice("seq", 8, F.greatest(F.size("seq") - 7, F.lit(0))),
        lambda x, i: F.struct((i + 8).alias("rk"), x["mu"].alias("mu")))
    init = F.struct(F.col("l0").alias("l"), F.col("b0").alias("b"),
                    F.col("s0").alias("s"))

    def step(acc, x):
        pos = ((x["rk"] - 1) % 7 + 1).cast("int")
        s_old = F.element_at(acc["s"], pos)
        l_new = 0.5 * (x["mu"] - s_old) + 0.5 * (acc["l"] + acc["b"])
        b_new = 0.5 * (l_new - acc["l"]) + 0.5 * acc["b"]
        s_new = 0.5 * (x["mu"] - l_new) + 0.5 * s_old
        s_arr = F.concat(F.slice(acc["s"], 1, pos - 1),
                         F.array(s_new),
                         F.slice(acc["s"], pos + 1, 7 - pos))
        return F.struct(l_new.alias("l"), b_new.alias("b"),
                        s_arr.alias("s"))

    state = F.aggregate(tail, init, step)
    s_next = F.element_at(state["s"],
                          (F.col("n_days") % 7 + 1).cast("int"))
    return (series.select(
        "event_type", "n_days",
        (F.round(state["l"] / 1e6, 6) + 0.0).alias("level"),
        (F.round(state["b"] / 1e6, 6) + 0.0).alias("trend"),
        (F.round(s_next / 1e6, 6) + 0.0).alias("s_next"),
        (F.round((state["l"] + state["b"] + s_next) / 1e6, 6) + 0.0)
        .alias("forecast_1"))
        .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Cohort LTV curves: cumulative revenue per user by cohort and tenure
# ---------------------------------------------------------------------------

@query("q_cohort_ltv", oracle="""
WITH first_seen AS (
  SELECT user_id, MIN(DATE_TRUNC('week', ts)) AS cohort_week
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
), size AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM first_seen
  GROUP BY cohort_week
), rev AS (
  SELECT f.cohort_week,
         DATEDIFF('day', f.cohort_week,
                  DATE_TRUNC('week', e.ts)) / 7 AS week_offset,
         SUM(CAST(ROUND(e.value * 1000000) AS BIGINT)) AS rev_u
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
    AND e.ts IS NOT NULL
  GROUP BY 1, 2
), cum AS (
  SELECT cohort_week, week_offset, rev_u,
         SUM(rev_u) OVER (PARTITION BY cohort_week ORDER BY week_offset
                          ROWS UNBOUNDED PRECEDING) AS cum_u
  FROM rev
)
SELECT CAST(c.cohort_week AS VARCHAR) AS cohort_week,
       CAST(c.week_offset AS BIGINT) AS week_offset,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       ROUND(c.rev_u / 1e6, 6) + 0.0 AS week_revenue,
       ROUND(c.cum_u / 1e6 / s.cohort_size, 6) + 0.0 AS ltv
FROM cum c JOIN size s USING (cohort_week)
ORDER BY cohort_week, week_offset
""")
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative purchase revenue PER USER by
    first-seen-week cohort and tenure offset — the revenue sibling of
    q_retention_cohorts' activity triangle (retention says who came
    back, LTV says what they were worth), and the payback-period
    readout every acquisition decision rests on. One row per
    (cohort, week offset) with that week's revenue and the cumulative
    per-user LTV.

    Determinism: revenue sums exact micro-ints; the cumulative runs
    over the bounded per-cohort offset spine (weeks since cohort
    start, a handful of rows per cohort — the q_emd_drift-approved
    bounded window); two rounded ratios at the end; week buckets are
    date_trunc (Monday start both engines) cast to string.

    Scale: first-seen is one keyed aggregate; revenue folds map-side
    to the (cohort, offset) table BEFORE the window touches anything;
    cohort sizes broadcast back on the cohort key."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("user_id").isNotNull()
                     & F.col("ts").isNotNull())
    first_seen = (base.groupBy("user_id")
                  .agg(F.min(F.date_trunc("week", "ts"))
                       .alias("cohort_week")))
    size = (first_seen.groupBy("cohort_week")
            .agg(F.count(F.lit(1)).alias("cohort_size")))
    rev = (base.filter((F.col("event_type") == "purchase")
                       & F.col("value").isNotNull())
           .join(first_seen, "user_id")
           .groupBy("cohort_week",
                    (F.datediff(F.date_trunc("week", "ts"),
                                F.col("cohort_week")) / 7)
                    .cast("long").alias("week_offset"))
           .agg(F.sum(F.round(F.col("value") * 1e6).cast("bigint"))
                .alias("rev_u")))
    wcum = (W.partitionBy("cohort_week").orderBy("week_offset")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (rev.withColumn("cum_u", F.sum("rev_u").over(wcum))
            .join(F.broadcast(size), "cohort_week")
            .select(F.col("cohort_week").cast("date").cast("string")
                    .alias("cohort_week"),
                    F.col("week_offset").cast("long").alias("week_offset"),
                    F.col("cohort_size").cast("long").alias("cohort_size"),
                    (F.round(F.col("rev_u") / 1e6, 6) + 0.0)
                    .alias("week_revenue"),
                    (F.round(F.col("cum_u") / 1e6 / F.col("cohort_size"),
                             6) + 0.0).alias("ltv"))
            .orderBy("cohort_week", "week_offset"))


# ---------------------------------------------------------------------------
# Restricted mean survival time (RMST) on the Kaplan-Meier frame
# ---------------------------------------------------------------------------

@query("q_rmst", oracle="""
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
  SELECT d_days, d, n_risk,
         CASE WHEN d > 0 AND d < n_risk
              THEN CAST(ROUND(LN(1.0 - d::DOUBLE / n_risk) * 1000000000)
                        AS BIGINT)
              WHEN d = 0 THEN 0 END AS term_n
  FROM curve
), surv AS (
  SELECT d_days,
         CASE WHEN SUM(CASE WHEN term_n IS NULL THEN 1 ELSE 0 END)
                   OVER w > 0 THEN 0
              ELSE CAST(ROUND(EXP(SUM(term_n) OVER w / 1e9) * 1e9)
                        AS BIGINT)
         END AS s_nano
  FROM terms
  WINDOW w AS (ORDER BY d_days ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), steps AS (
  SELECT d_days, s_nano,
         COALESCE(LAG(d_days) OVER (ORDER BY d_days), 0) AS d_prev,
         COALESCE(LAG(s_nano) OVER (ORDER BY d_days), 1000000000)
           AS s_prev
  FROM surv
), areas AS (
  SELECT SUM(s_prev * (LEAST(d_days, 7) - LEAST(d_prev, 7))) AS a7,
         SUM(s_prev * (LEAST(d_days, 14) - LEAST(d_prev, 14))) AS a14,
         MAX(d_days) AS d_last
  FROM steps
), tails AS (
  SELECT a7, a14, d_last,
         (SELECT s_nano FROM surv ORDER BY d_days DESC LIMIT 1) AS s_last
  FROM areas
)
SELECT CAST((SELECT COUNT(*) FROM durs) AS BIGINT) AS n_users,
       ROUND((a7 + s_last * GREATEST(7 - d_last, 0)) / 1e9, 6) + 0.0
         AS rmst_7,
       ROUND((a14 + s_last * GREATEST(14 - d_last, 0)) / 1e9, 6) + 0.0
         AS rmst_14
FROM tails
""")
def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time on q_kaplan_meier's frame
    (time-to-first-purchase with censoring at the observation edge):
    RMST(tau) = area under the KM curve up to tau = 7 and 14 days —
    "the average purchase-free days in the first week / fortnight",
    the survival summary that stays defined when the median is never
    reached and the clinically preferred effect scale for heavy
    censoring. Completes the family: q_kaplan_meier draws the curve,
    q_nelson_aalen its hazard, q_logrank compares arms, RMST prices
    the difference in days.

    Determinism: the survival levels reuse KM's nano-quantized ln-sum
    (exp of an exact integer ratio, re-quantized to nano), so every
    step area s_prev * gap_days is an exact INTEGER nano-day product
    and the cross-step sum is order-free; the two horizon truncations
    are integer LEAST/GREATEST algebra; one rounding at the end.

    Scale: identical plan family to q_kaplan_meier — keyed per-user
    aggregate, then every window runs over the bounded distinct-
    duration spine (the q_logrank-approved shape)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.min(F.col("ts").cast("date")).alias("t0"),
                     F.min(F.when(F.col("event_type") == "purchase",
                                  F.col("ts").cast("date"))).alias("tp")))
    horizon = F.broadcast(
        ev.agg(F.max(F.col("ts").cast("date")).alias("tmax")))
    durs = (per_user.crossJoin(horizon)
            .select(F.when(F.col("tp").isNotNull(),
                           F.datediff("tp", "t0"))
                    .otherwise(F.datediff("tmax", "t0")).alias("d_days"),
                    F.col("tp").isNotNull().alias("is_event")))
    tbl = (durs.groupBy("d_days")
           .agg(F.count(F.when(F.col("is_event"), 1)).alias("d"),
                F.count(F.when(~F.col("is_event"), 1)).alias("c")))
    n_tot = F.broadcast(durs.agg(F.count(F.lit(1)).alias("n_users")))
    wcum = (W.orderBy("d_days")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    wprev = (W.orderBy("d_days")
             .rowsBetween(W.unboundedPreceding, -1))
    curve = (tbl.crossJoin(n_tot)
             .withColumn("n_risk",
                         F.col("n_users")
                         - F.coalesce(F.sum(F.col("d") + F.col("c"))
                                      .over(wprev), F.lit(0))))
    term_n = (F.when((F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
                     F.round(F.log(1.0 - F.col("d").cast("double")
                                   / F.col("n_risk")) * 1e9).cast("bigint"))
              .when(F.col("d") == 0, F.lit(0)))
    absorbed = F.sum(F.when(term_n.isNull(), 1).otherwise(0)).over(wcum)
    s_nano = (F.when(absorbed > 0, F.lit(0))
              .otherwise(F.round(F.exp(F.sum(term_n).over(wcum) / 1e9)
                                 * 1e9).cast("bigint")))
    surv = curve.select("d_days", "n_users", s_nano.alias("s_nano"))
    wlag = W.orderBy("d_days")
    steps = surv.select(
        "d_days", "s_nano", "n_users",
        F.coalesce(F.lag("d_days").over(wlag), F.lit(0)).alias("d_prev"),
        F.coalesce(F.lag("s_nano").over(wlag),
                   F.lit(1000000000)).alias("s_prev"),
        F.last("s_nano").over(
            wlag.rowsBetween(W.unboundedPreceding,
                             W.unboundedFollowing)).alias("s_last"),
        F.max("d_days").over(
            wlag.rowsBetween(W.unboundedPreceding,
                             W.unboundedFollowing)).alias("d_last"))

    def area(tau: int):
        return F.sum(F.col("s_prev")
                     * (F.least(F.col("d_days"), F.lit(tau))
                        - F.least(F.col("d_prev"), F.lit(tau))))

    def tail(tau: int):
        return (F.first("s_last")
                * F.greatest(F.lit(tau) - F.first("d_last"), F.lit(0)))

    return (steps.groupBy("n_users")
            .agg(((area(7) + tail(7)) / 1e9).alias("r7"),
                 ((area(14) + tail(14)) / 1e9).alias("r14"))
            .select(F.col("n_users").cast("long").alias("n_users"),
                    (F.round("r7", 6) + 0.0).alias("rmst_7"),
                    (F.round("r14", 6) + 0.0).alias("rmst_14")))


# ---------------------------------------------------------------------------
# Bland-Altman agreement between two scorers of the same items
# ---------------------------------------------------------------------------

@query("q_bland_altman", oracle="""
WITH scored AS (
  SELECT vec_id,
         80 * label + ((vec_id % 1000003) * 2654435761 % 1000) // 5
           AS a_milli,
         80 * label + (((vec_id + 7) % 1000003) * 2654435761 % 1000) // 5
           AS b_milli
  FROM embeddings
), d AS (
  SELECT COUNT(*) AS n,
         SUM(a_milli - b_milli) AS sd1,
         SUM(CAST(a_milli - b_milli AS HUGEINT)
             * (a_milli - b_milli)) AS sd2,
         SUM(CASE WHEN a_milli >= b_milli THEN 1 ELSE 0 END) AS n_a_ge
  FROM scored
), f AS (
  SELECT n, n_a_ge,
         sd1::DOUBLE / n / 1000.0 AS bias,
         SQRT((n * sd2 - CAST(sd1 AS HUGEINT) * sd1)::DOUBLE
              / (CAST(n AS HUGEINT) * (n - 1))::DOUBLE) / 1000.0 AS sd
  FROM d
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(bias, 6) + 0.0 AS bias,
       ROUND(sd, 6) + 0.0 AS sd_diff,
       ROUND(bias - 1.959964 * sd, 6) + 0.0 AS loa_lower,
       ROUND(bias + 1.959964 * sd, 6) + 0.0 AS loa_upper,
       ROUND(n_a_ge::DOUBLE / n, 6) + 0.0 AS frac_a_higher
FROM f
""")
def q_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement analysis between two scorers of the same
    items (the calibration family's two deterministic integer-milli
    scorers): mean difference (bias) and the 95% limits of agreement
    bias +- 1.96 sd — the measurement-comparison standard that
    correlation cannot replace (two scorers can correlate at 0.99 and
    still disagree by a constant offset; Bland-Altman shows exactly
    that). Closes the agreement family beside Cohen/Fleiss kappa
    (categorical) and ICC (random effects) with the CONTINUOUS-scale
    member.

    Determinism: both scores are integer milli values end-to-end; the
    difference moments are exact HUGEINT sums; bias/sd/limits are one
    double expression rounded once.

    Scale: one map-side-combined aggregate over the scored pairs;
    output is one row."""
    e = load_table(spark, sf_dir, "embeddings")
    hash_a = ((F.col("vec_id") % 1000003)
              * F.lit(2654435761).cast("bigint") % 1000)
    hash_b = (((F.col("vec_id") + 7) % 1000003)
              * F.lit(2654435761).cast("bigint") % 1000)
    a = (80 * F.col("label") + hash_a / F.lit(5)).cast("bigint")
    b = (80 * F.col("label") + hash_b / F.lit(5)).cast("bigint")
    scored = e.select(a.alias("a_milli"), b.alias("b_milli"))
    diff = F.col("a_milli") - F.col("b_milli")
    dec = "decimal(38,0)"
    d = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(diff).alias("sd1"),
        F.sum(diff.cast(dec) * diff).alias("sd2"),
        F.sum(F.when(F.col("a_milli") >= F.col("b_milli"), 1)
              .otherwise(0)).alias("n_a_ge"))
    n = F.col("n")
    bias = F.col("sd1").cast("double") / n / 1000.0
    sd = (F.sqrt((n * F.col("sd2")
                  - F.col("sd1").cast(dec) * F.col("sd1")).cast("double")
                 / (n.cast(dec) * (n - 1)).cast("double")) / 1000.0)
    return d.select(
        n.cast("long").alias("n"),
        (F.round(bias, 6) + 0.0).alias("bias"),
        (F.round(sd, 6) + 0.0).alias("sd_diff"),
        (F.round(bias - 1.959964 * sd, 6) + 0.0).alias("loa_lower"),
        (F.round(bias + 1.959964 * sd, 6) + 0.0).alias("loa_upper"),
        (F.round(F.col("n_a_ge").cast("double") / n, 6) + 0.0)
        .alias("frac_a_higher"))


# ---------------------------------------------------------------------------
# Two-arm RMST difference at tau = 14 days (survival effect in days)
# ---------------------------------------------------------------------------

@query("q_rmst_arms", oracle="""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN ((user_id % 1000003) * 2654435761 % 1000) < 500
              THEN 0 ELSE 1 END AS arm,
         MIN(CAST(ts AS DATE)) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
           AS tp
  FROM events WHERE user_id IS NOT NULL
  GROUP BY 1, 2
), horizon AS (
  SELECT MAX(CAST(ts AS DATE)) AS tmax FROM events
), durs AS (
  SELECT arm,
         CASE WHEN tp IS NOT NULL THEN date_diff('day', t0, tp)
              ELSE date_diff('day', t0, tmax) END AS d_days,
         (tp IS NOT NULL) AS is_event
  FROM per_user CROSS JOIN horizon
), tbl AS (
  SELECT arm, d_days,
         COUNT(*) FILTER (WHERE is_event) AS d,
         COUNT(*) FILTER (WHERE NOT is_event) AS c
  FROM durs GROUP BY 1, 2
), sizes AS (
  SELECT arm, COUNT(*) AS n_arm FROM durs GROUP BY arm
), curve AS (
  SELECT t.arm, t.d_days, t.d,
         s.n_arm - COALESCE(SUM(t.d + t.c) OVER (
            PARTITION BY t.arm ORDER BY t.d_days
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk,
         s.n_arm
  FROM tbl t JOIN sizes s USING (arm)
), terms AS (
  SELECT arm, d_days, n_arm,
         CASE WHEN d > 0 AND d < n_risk
              THEN CAST(ROUND(LN(1.0 - d::DOUBLE / n_risk) * 1000000000)
                        AS BIGINT)
              WHEN d = 0 THEN 0 END AS term_n
  FROM curve
), surv AS (
  SELECT arm, d_days, n_arm,
         CASE WHEN SUM(CASE WHEN term_n IS NULL THEN 1 ELSE 0 END)
                   OVER w > 0 THEN 0
              ELSE CAST(ROUND(EXP(SUM(term_n) OVER w / 1e9) * 1e9)
                        AS BIGINT)
         END AS s_nano
  FROM terms
  WINDOW w AS (PARTITION BY arm ORDER BY d_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), steps AS (
  SELECT arm, d_days, s_nano, n_arm,
         COALESCE(LAG(d_days) OVER pw, 0) AS d_prev,
         COALESCE(LAG(s_nano) OVER pw, 1000000000) AS s_prev,
         LAST_VALUE(s_nano) OVER (PARTITION BY arm ORDER BY d_days
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS s_last,
         MAX(d_days) OVER (PARTITION BY arm) AS d_last
  FROM surv
  WINDOW pw AS (PARTITION BY arm ORDER BY d_days)
), per_arm AS (
  SELECT arm, ANY_VALUE(n_arm) AS n_arm,
         (SUM(s_prev * (LEAST(d_days, 14) - LEAST(d_prev, 14)))
          + ANY_VALUE(s_last)
            * GREATEST(14 - ANY_VALUE(d_last), 0)) / 1e9 AS rmst14
  FROM steps GROUP BY arm
)
SELECT CAST(a.n_arm AS BIGINT) AS n_a, CAST(b.n_arm AS BIGINT) AS n_b,
       ROUND(a.rmst14, 6) + 0.0 AS rmst14_a,
       ROUND(b.rmst14, 6) + 0.0 AS rmst14_b,
       ROUND(b.rmst14 - a.rmst14, 6) + 0.0 AS rmst_diff
FROM (SELECT * FROM per_arm WHERE arm = 0) a
CROSS JOIN (SELECT * FROM per_arm WHERE arm = 1) b
""")
def q_rmst_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm RMST difference at tau = 14 days: each arm's restricted
    mean time-to-first-purchase and their difference — the survival
    EFFECT SIZE priced in days, the modern companion q_logrank's
    p-value cannot provide (and the recommended readout when hazards
    are non-proportional). Arms ride the canonical hash split
    (q_ab_srm gates it).

    Determinism: q_rmst's all-integer construction with an arm
    dimension — nano-quantized KM levels, integer step areas per arm,
    one rounding per output.

    Scale: every window partitions BY ARM over the bounded per-arm
    distinct-duration spine; the per-user aggregate and the duration
    counts are keyed shuffles; output is one row."""
    ev = load_table(spark, sf_dir, "events")
    arm = F.when(((F.col("user_id") % 1000003)
                  * F.lit(2654435761).cast("bigint") % 1000) < 500, 0) \
        .otherwise(1)
    per_user = (ev.filter(F.col("user_id").isNotNull())
                .groupBy("user_id", arm.alias("arm"))
                .agg(F.min(F.col("ts").cast("date")).alias("t0"),
                     F.min(F.when(F.col("event_type") == "purchase",
                                  F.col("ts").cast("date"))).alias("tp")))
    horizon = F.broadcast(
        ev.agg(F.max(F.col("ts").cast("date")).alias("tmax")))
    durs = (per_user.crossJoin(horizon)
            .select("arm",
                    F.when(F.col("tp").isNotNull(),
                           F.datediff("tp", "t0"))
                    .otherwise(F.datediff("tmax", "t0")).alias("d_days"),
                    F.col("tp").isNotNull().alias("is_event")))
    tbl = (durs.groupBy("arm", "d_days")
           .agg(F.count(F.when(F.col("is_event"), 1)).alias("d"),
                F.count(F.when(~F.col("is_event"), 1)).alias("c")))
    sizes = durs.groupBy("arm").agg(F.count(F.lit(1)).alias("n_arm"))
    wprev = (W.partitionBy("arm").orderBy("d_days")
             .rowsBetween(W.unboundedPreceding, -1))
    wcum = (W.partitionBy("arm").orderBy("d_days")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    wall = (W.partitionBy("arm").orderBy("d_days")
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    wlag = W.partitionBy("arm").orderBy("d_days")
    curve = (tbl.join(F.broadcast(sizes), "arm")
             .withColumn("n_risk",
                         F.col("n_arm")
                         - F.coalesce(F.sum(F.col("d") + F.col("c"))
                                      .over(wprev), F.lit(0))))
    term_n = (F.when((F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
                     F.round(F.log(1.0 - F.col("d").cast("double")
                                   / F.col("n_risk")) * 1e9).cast("bigint"))
              .when(F.col("d") == 0, F.lit(0)))
    absorbed = F.sum(F.when(term_n.isNull(), 1).otherwise(0)).over(wcum)
    s_nano = (F.when(absorbed > 0, F.lit(0))
              .otherwise(F.round(F.exp(F.sum(term_n).over(wcum) / 1e9)
                                 * 1e9).cast("bigint")))
    surv = curve.select("arm", "d_days", "n_arm", s_nano.alias("s_nano"))
    steps = surv.select(
        "arm", "d_days", "s_nano", "n_arm",
        F.coalesce(F.lag("d_days").over(wlag), F.lit(0)).alias("d_prev"),
        F.coalesce(F.lag("s_nano").over(wlag),
                   F.lit(1000000000)).alias("s_prev"),
        F.last("s_nano").over(wall).alias("s_last"),
        F.max("d_days").over(wall).alias("d_last"))
    per_arm = (steps.groupBy("arm")
               .agg(F.first("n_arm").alias("n_arm"),
                    ((F.sum(F.col("s_prev")
                            * (F.least(F.col("d_days"), F.lit(14))
                               - F.least(F.col("d_prev"), F.lit(14))))
                      + F.first("s_last")
                      * F.greatest(F.lit(14) - F.first("d_last"),
                                   F.lit(0))) / 1e9).alias("rmst14")))
    a = per_arm.filter(F.col("arm") == 0).select(
        F.col("n_arm").alias("n_a"), F.col("rmst14").alias("r_a"))
    b = per_arm.filter(F.col("arm") == 1).select(
        F.col("n_arm").alias("n_b"), F.col("rmst14").alias("r_b"))
    return (a.crossJoin(F.broadcast(b))
            .select(F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                    (F.round(F.col("r_a"), 6) + 0.0).alias("rmst14_a"),
                    (F.round(F.col("r_b"), 6) + 0.0).alias("rmst14_b"),
                    (F.round(F.col("r_b") - F.col("r_a"), 6) + 0.0)
                    .alias("rmst_diff")))


# ---------------------------------------------------------------------------
# Split-conformal prediction interval per series (round 13)
# ---------------------------------------------------------------------------

@query("q_conformal_interval", oracle=f"""
WITH ev AS (
  SELECT event_type, CAST(ROUND(value * 1e9) AS BIGINT) AS v_nano,
         (ts < TIMESTAMP '{_SPLIT}') AS is_cal
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), mu AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cal,
         CAST(ROUND(SUM(v_nano)::DOUBLE / COUNT(*)) AS BIGINT) AS mu_nano
  FROM ev WHERE is_cal GROUP BY 1
), k AS (
  SELECT event_type, n_cal, mu_nano,
         CAST(LEAST(FLOOR(((n_cal + 1) * 4 + 4) / 5), n_cal::DOUBLE)
              AS BIGINT) AS kk
  FROM mu
), ranked AS (
  SELECT e.event_type, ABS(e.v_nano - k.mu_nano) AS s_nano,
         ROW_NUMBER() OVER (PARTITION BY e.event_type
                            ORDER BY ABS(e.v_nano - k.mu_nano)) AS rn
  FROM ev e JOIN k USING (event_type) WHERE e.is_cal
), qhat AS (
  SELECT r.event_type, r.s_nano AS q_nano
  FROM ranked r JOIN k USING (event_type) WHERE r.rn = k.kk
), test AS (
  SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN ABS(e.v_nano - k.mu_nano) <= q.q_nano
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
  FROM ev e JOIN k USING (event_type) JOIN qhat q USING (event_type)
  WHERE NOT e.is_cal GROUP BY 1
)
SELECT k.event_type AS event_type, CAST(k.n_cal AS BIGINT) AS n_cal,
       CAST(COALESCE(t.n_test, 0) AS BIGINT) AS n_test,
       ROUND(q.q_nano / 1e9, 9) + 0.0 AS q_hat,
       ROUND(t.n_cov::DOUBLE / NULLIF(t.n_test, 0), 6) + 0.0 AS coverage
FROM k JOIN qhat q USING (event_type)
LEFT JOIN test t USING (event_type)
ORDER BY event_type
""")
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval per event series: calibrate
    on pre-split rows, evaluate on post-split rows. The predictor is
    the calibration mean; the nonconformity score is the absolute
    residual; q_hat is the k-th smallest calibration score with
    k = min(ceil((n_cal + 1) * (1 - 0.2)), n_cal) — the finite-sample
    quantile that guarantees P(|y - mu| <= q_hat) >= 80% on
    exchangeable data REGARDLESS of the value distribution. This is
    the distribution-free uncertainty gate modern ML assurance runs
    beside q_calibration/q_ece (which need probability outputs):
    conformal wraps ANY point predictor, and the reported post-split
    coverage is the drift alarm (coverage far below 1 - alpha means
    the series moved; q_psi_drift tells you how).

    Determinism: scores are exact integer nano residuals against a
    nano-rounded calibration mean; k is integer ceiling algebra
    (ceil(a * 4/5) as floor((a*4 + 4)/5) — never a float ceil on a
    representable boundary); the k-th order statistic is picked by
    exact cumulative counts, so ties cannot flip it; coverage is one
    guarded rounded division.

    Scale: the per-type k-th order statistic uses
    operators/rank.py::grouped_cum_counts — the lazy two-pass
    bucketed cumulative count — so no task ever sorts more than one
    value-bucket's slice even with a handful of event types (the
    round-10 skew rule); mu/k/q_hat tables are |types|-bounded
    broadcasts; the coverage pass is one map-side-combined aggregate
    over test rows."""
    from ..operators.rank import grouped_cum_counts

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()
                  & F.col("event_type").isNotNull())
          .select("event_type",
                  F.round(F.col("value") * 1e9).cast("long")
                  .alias("v_nano"),
                  (F.col("ts") < F.lit(_SPLIT).cast("timestamp"))
                  .alias("is_cal")))
    mu = (ev.filter("is_cal").groupBy("event_type")
          .agg(F.count(F.lit(1)).alias("n_cal"),
               F.round(F.sum("v_nano").cast("double")
                       / F.count(F.lit(1))).cast("long")
               .alias("mu_nano")))
    k = mu.select(
        "event_type", "n_cal", "mu_nano",
        F.least(F.floor(((F.col("n_cal") + 1) * 4 + 4) / 5),
                F.col("n_cal")).cast("long").alias("kk"))

    scored = (ev.filter("is_cal")
              .join(F.broadcast(k.select("event_type", "mu_nano")),
                    "event_type")
              .select("event_type",
                      F.abs(F.col("v_nano") - F.col("mu_nano"))
                      .alias("s_nano")))
    cum = grouped_cum_counts(scored, "event_type", "s_nano")
    qhat = (cum.join(F.broadcast(k.select("event_type", "kk")),
                     "event_type")
            .filter((F.col("_cum_before") < F.col("kk"))
                    & (F.col("_cum_before") + F.col("_c") >= F.col("kk")))
            .select("event_type", F.col("s_nano").alias("q_nano")))

    test = (ev.filter(~F.col("is_cal"))
            .join(F.broadcast(k.select("event_type", "mu_nano")),
                  "event_type")
            .join(F.broadcast(qhat), "event_type")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_test"),
                 F.sum(F.when(F.abs(F.col("v_nano") - F.col("mu_nano"))
                              <= F.col("q_nano"), 1).otherwise(0))
                 .alias("n_cov")))
    return (k.join(qhat, "event_type")
            .join(test, "event_type", "left")
            .select("event_type",
                    F.col("n_cal").cast("long").alias("n_cal"),
                    F.coalesce(F.col("n_test"), F.lit(0)).cast("long")
                    .alias("n_test"),
                    (F.round(F.col("q_nano") / 1e9, 9) + 0.0)
                    .alias("q_hat"),
                    (F.round(F.col("n_cov").cast("double")
                             / F.nullif(F.col("n_test").cast("double"),
                                        F.lit(0.0)), 6) + 0.0)
                    .alias("coverage"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Weibull survival fit by linearized regression on the KM frame (round 13)
# ---------------------------------------------------------------------------

@query("q_weibull_fit", oracle="""
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
  SELECT d_days, d, n_risk,
         CASE WHEN d > 0 AND d < n_risk
              THEN CAST(ROUND(LN(1.0 - d::DOUBLE / n_risk) * 1000000000)
                        AS BIGINT)
              WHEN d = 0 THEN 0 END AS term_n
  FROM curve
), surv AS (
  SELECT d_days, d,
         CASE WHEN SUM(CASE WHEN term_n IS NULL THEN 1 ELSE 0 END)
                   OVER w > 0 THEN 0
              ELSE CAST(ROUND(EXP(SUM(term_n) OVER w / 1e9) * 1e9)
                        AS BIGINT)
         END AS s_nano
  FROM terms
  WINDOW w AS (ORDER BY d_days ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), pts AS (
  SELECT CAST(ROUND(LN(d_days) * 1000000) AS BIGINT) AS x_micro,
         CAST(ROUND(LN(-LN(s_nano / 1e9)) * 1000000) AS BIGINT) AS y_micro
  FROM surv
  WHERE d > 0 AND d_days > 0 AND s_nano > 0 AND s_nano < 1000000000
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x_micro) AS BIGINT) AS sx,
         CAST(SUM(y_micro) AS BIGINT) AS sy,
         CAST(SUM(x_micro * y_micro) AS BIGINT) AS sxy,
         CAST(SUM(x_micro * x_micro) AS BIGINT) AS sxx
  FROM pts
), f AS (
  SELECT n,
         (n::DOUBLE * (sxy::DOUBLE / 1e12)
          - (sx::DOUBLE / 1e6) * (sy::DOUBLE / 1e6))
         / NULLIF(n::DOUBLE * (sxx::DOUBLE / 1e12)
                  - (sx::DOUBLE / 1e6) * (sx::DOUBLE / 1e6), 0) AS slope,
         sx::DOUBLE / 1e6 AS sxr, sy::DOUBLE / 1e6 AS syr
  FROM s WHERE n >= 2
)
SELECT CAST(n AS BIGINT) AS n_points,
       ROUND(slope, 6) + 0.0 AS shape,
       ROUND(EXP(sxr / n - syr / (n * NULLIF(slope, 0))), 4) + 0.0
         AS scale_days
FROM f
""")
def q_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull survival fit on q_rmst's Kaplan-Meier frame
    (time-to-first-purchase, censored at the observation edge) via the
    classic linearization: S(t) = exp(-(t/lambda)^k) means
    ln(-ln S(t)) is LINEAR in ln t with slope k, so an OLS over the
    KM curve's event-time points recovers shape k (k < 1 infant
    churn, k = 1 memoryless, k > 1 wear-out) and scale lambda (the
    63.2% conversion time) — the parametric summary the nonparametric
    family (q_kaplan_meier / q_nelson_aalen / q_rmst) feeds into
    forecasting beyond the observation window, with censoring handled
    by KM itself rather than dropped.

    Determinism: the survival levels reuse KM's nano-quantized ln-sum
    exactly; regression points are micro-quantized integers, so all
    five OLS sufficient statistics are exact integer sums (widened in
    DOUBLE only inside the one shared closing expression); boundary
    levels (S = 0, S = 1) and the degenerate n < 2 fit drop on both
    engines.

    Scale: identical plan family to q_rmst — keyed per-user aggregate,
    bounded distinct-duration spine, global-order windows over the
    spine only, 1-row broadcasts; the OLS is a single aggregate over
    the bounded point set."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.min(F.col("ts").cast("date")).alias("t0"),
                     F.min(F.when(F.col("event_type") == "purchase",
                                  F.col("ts").cast("date"))).alias("tp")))
    horizon = F.broadcast(
        ev.agg(F.max(F.col("ts").cast("date")).alias("tmax")))
    durs = (per_user.crossJoin(horizon)
            .select(F.when(F.col("tp").isNotNull(),
                           F.datediff("tp", "t0"))
                    .otherwise(F.datediff("tmax", "t0")).alias("d_days"),
                    F.col("tp").isNotNull().alias("is_event")))
    tbl = (durs.groupBy("d_days")
           .agg(F.count(F.when(F.col("is_event"), 1)).alias("d"),
                F.count(F.when(~F.col("is_event"), 1)).alias("c")))
    n_tot = F.broadcast(durs.agg(F.count(F.lit(1)).alias("n_users")))
    wcum = (W.orderBy("d_days")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    wprev = (W.orderBy("d_days")
             .rowsBetween(W.unboundedPreceding, -1))
    curve = (tbl.crossJoin(n_tot)
             .withColumn("n_risk",
                         F.col("n_users")
                         - F.coalesce(F.sum(F.col("d") + F.col("c"))
                                      .over(wprev), F.lit(0))))
    term_n = (F.when((F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
                     F.round(F.log(1.0 - F.col("d").cast("double")
                                   / F.col("n_risk")) * 1e9).cast("bigint"))
              .when(F.col("d") == 0, F.lit(0)))
    absorbed = F.sum(F.when(term_n.isNull(), 1).otherwise(0)).over(wcum)
    s_nano = (F.when(absorbed > 0, F.lit(0))
              .otherwise(F.round(F.exp(F.sum(term_n).over(wcum) / 1e9)
                                 * 1e9).cast("bigint")))
    surv = curve.select("d_days", "d", s_nano.alias("s_nano"))
    pts = (surv.filter((F.col("d") > 0) & (F.col("d_days") > 0)
                       & (F.col("s_nano") > 0)
                       & (F.col("s_nano") < 1000000000))
           .select(F.round(F.log(F.col("d_days").cast("double")) * 1e6)
                   .cast("long").alias("x_micro"),
                   F.round(F.log(-F.log(F.col("s_nano") / 1e9)) * 1e6)
                   .cast("long").alias("y_micro")))
    s = pts.agg(F.count(F.lit(1)).alias("n"),
                F.sum("x_micro").alias("sx"),
                F.sum("y_micro").alias("sy"),
                F.sum(F.col("x_micro") * F.col("y_micro")).alias("sxy"),
                F.sum(F.col("x_micro") * F.col("x_micro")).alias("sxx"))
    nd = F.col("n").cast("double")
    sxr = F.col("sx").cast("double") / 1e6
    syr = F.col("sy").cast("double") / 1e6
    slope = ((nd * (F.col("sxy").cast("double") / 1e12) - sxr * syr)
             / F.nullif(nd * (F.col("sxx").cast("double") / 1e12)
                        - sxr * sxr, F.lit(0.0)))
    return (s.filter(F.col("n") >= 2)
            .select(F.col("n").cast("long").alias("n_points"),
                    slope.alias("slope"), sxr.alias("sxr"),
                    syr.alias("syr"), nd.alias("nd"))
            .select("n_points",
                    (F.round("slope", 6) + 0.0).alias("shape"),
                    (F.round(F.exp(F.col("sxr") / F.col("nd")
                                   - F.col("syr")
                                   / (F.col("nd")
                                      * F.nullif(F.col("slope"),
                                                 F.lit(0.0)))), 4) + 0.0)
                    .alias("scale_days")))
