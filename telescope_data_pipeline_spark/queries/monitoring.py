"""Corpus monitoring & governance queries (round 12, session 2).

The operational layer a 100 TB training-data pipeline runs BETWEEN
ingest rounds: distribution drift beyond divergence scores (an actual
transport distance, q_emd_drift), vocabulary completeness (how many
types the crawl has NOT seen yet, q_chao1), privacy release audits
past k-anonymity (attribute diversity inside each equivalence class,
q_ldiversity), a median-based k-group location test robust to the
heavy-tailed metrics t/ANOVA choke on (q_mood_median), decomposable
inequality indices for data cards (q_theil_index), and lead/lag
structure between two operational series (q_ccf_lags).

Reference parity: the reference pipeline's per-campaign QA habit
(telescope-data-pipeline core.py:18-50 audits each epoch manifest
before stacking) generalized to corpus-scale monitors over the driver
tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.rank import grouped_cum_counts
from ..sources.tables import load_table
from ..session import stock_coalesce_floor
from .registry import query

#: Reference/current split shared with q_psi_drift / q_ks_drift so the
#: drift monitors are directly comparable on the same two windows.
_SPLIT = "2024-01-16 00:00:00"


# ---------------------------------------------------------------------------
# Binned 1-D Wasserstein (earth mover's) drift distance
# ---------------------------------------------------------------------------

@query("q_emd_drift", oracle=f"""
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
), cum AS (
  SELECT bin, n_ref, n_cur,
         SUM(n_ref) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS c_ref,
         SUM(n_cur) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS c_cur,
         SUM(n_ref) OVER () AS t_ref,
         SUM(n_cur) OVER () AS t_cur
  FROM counts
), terms AS (
  SELECT bin, n_ref, n_cur,
         CAST(ROUND(ABS(c_ref::DOUBLE / NULLIF(t_ref, 0)
                        - c_cur::DOUBLE / NULLIF(t_cur, 0)) * 1e9)
              AS BIGINT) AS d_nano
  FROM cum
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       ROUND(d_nano * ((mx - mn) / 20.0) / 1e9, 6) + 0.0 AS emd_term,
       ROUND(SUM(d_nano) OVER () * ((mx - mn) / 20.0) / 1e9, 6) + 0.0
         AS emd_total
FROM terms CROSS JOIN edges
ORDER BY bin
""")
def q_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned 1-D Wasserstein-1 (earth mover's) distance between the
    reference and current windows of ``events.value`` — the transport
    metric that completes the drift family (KS: max CDF gap; KL/JS/
    PSI: mass-ratio divergences, blind to HOW FAR mass moved; EMD:
    |CDF gap| integrated over the value axis, in the metric's own
    units). 20 equal-width bins over the combined range;
    ``W1 = bin_width * sum_b |F_ref(b) - F_cur(b)|``.

    Determinism: per-bin counts are integers; cumulative CDFs are
    integer sums over the 20-row spine; each |CDF gap| quantizes to
    nano units BEFORE the cross-bin total (quantize-before-sum), and
    the single width factor multiplies once at the end.

    Scale: one fact scan produces both windows via a side flag; bin
    edges ride a 1-row broadcast; shuffle volume is 40 rows regardless
    of input size; the only single-partition windows run over the
    20-row bin spine (the q_lorenz_points-approved bounded shape)."""
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
    wcum = (W.orderBy("bin")
            .rowsBetween(W.unboundedPreceding, W.currentRow))  # 20 rows
    wall = (W.orderBy("bin")
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    d_nano = F.round(F.abs(
        F.sum("n_ref").over(wcum).cast("double")
        / F.nullif(F.sum("n_ref").over(wall), F.lit(0))
        - F.sum("n_cur").over(wcum).cast("double")
        / F.nullif(F.sum("n_cur").over(wall), F.lit(0))) * 1e9).cast("long")
    width = (F.col("mx") - F.col("mn")) / 20.0
    return (full.withColumn("d_nano", d_nano)
            .crossJoin(F.broadcast(edges))
            .select(F.col("bin").cast("long").alias("bin"),
                    "n_ref", "n_cur",
                    (F.round(F.col("d_nano") * width / 1e9, 6) + 0.0)
                    .alias("emd_term"),
                    (F.round(F.sum("d_nano").over(wall) * width / 1e9, 6)
                     + 0.0).alias("emd_total"))
            .orderBy("bin"))


# ---------------------------------------------------------------------------
# Chao1 vocabulary richness / Good-Turing coverage per language
# ---------------------------------------------------------------------------

@query("q_chao1", oracle=r"""
WITH toks AS (
  SELECT lang, t.tok
  FROM documents,
       UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          x -> x <> '')) AS t(tok)
  WHERE text IS NOT NULL
), tc AS (
  SELECT lang, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
)
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
       ROUND(COUNT(*)
             + SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE
               * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
               / (2.0 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1)), 6)
         + 0.0 AS chao1,
       ROUND(1.0 - SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE
                   / NULLIF(SUM(c), 0), 6) + 0.0 AS coverage
FROM tc GROUP BY lang ORDER BY lang
""")
def q_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimate and Good-Turing sample coverage
    of the vocabulary, per language: from the type-frequency spectrum
    alone (f1 singletons, f2 doubletons),
    ``chao1 = V + f1*(f1-1) / (2*(f2+1))`` (bias-corrected, always
    finite) estimates how many types the corpus would reveal at
    infinite sampling, and ``coverage = 1 - f1/N`` estimates the
    probability mass already seen. The pair answers the acquisition
    question q_vocab_growth plots empirically: is this language's
    crawl near lexical saturation, or mostly unseen?

    Determinism: everything up to the two final divisions is integer
    (counts of counts); one rounded double expression per group.

    Scale: tokenization is an in-row explode; type counts map-side
    combine on (lang, token); the frequency spectrum collapses to 4
    integers per language before any math. Languages whose script the
    [a-z0-9] tokenizer cannot segment (zh) contribute no types and are
    absent on BOTH engine sides."""
    d = (load_table(spark, sf_dir, "documents", spread=True)
         .filter(F.col("text").isNotNull())
         .select("lang", "text"))
    tc = (d.select("lang",
                   F.explode(F.split(F.lower("text"), "[^a-z0-9]+"))
                   .alias("tok"))
          .filter(F.col("tok") != "")
          .groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c")))
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
    v = F.count(F.lit(1))
    n = F.sum("c")
    return (tc.groupBy("lang")
            .agg(n.cast("long").alias("n_tokens"),
                 v.cast("long").alias("n_types"),
                 f1.cast("long").alias("f1"),
                 f2.cast("long").alias("f2"),
                 (F.round(v + f1.cast("double") * (f1 - 1)
                          / (2.0 * (f2 + 1)), 6) + 0.0).alias("chao1"),
                 (F.round(1.0 - f1.cast("double")
                          / F.nullif(n, F.lit(0)), 6) + 0.0)
                 .alias("coverage"))
            .orderBy("lang"))


# ---------------------------------------------------------------------------
# Theil T / mean log deviation inequality indices per language
# ---------------------------------------------------------------------------

@query("q_theil_index", oracle="""
WITH d AS (
  SELECT lang, n_chars AS x, COUNT(*) AS c
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
  GROUP BY 1, 2
)
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(SUM(x * c) AS BIGINT) AS total_chars,
       ROUND(SUM(c * CAST(ROUND(x * LN(x), 6) AS DECIMAL(38,6)))::DOUBLE
               / SUM(x * c)
             - LN(SUM(x * c)::DOUBLE / SUM(c)), 6) + 0.0 AS theil_t,
       ROUND(LN(SUM(x * c)::DOUBLE / SUM(c))
             - SUM(c * CAST(ROUND(LN(x), 9) AS DECIMAL(38,9)))::DOUBLE
               / SUM(c), 6) + 0.0 AS mld
FROM d GROUP BY lang ORDER BY lang
""")
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T and mean-log-deviation (Theil L) inequality of document
    length per language — the DECOMPOSABLE inequality indices next to
    q_gini_by_group's Gini: Theil splits exactly into within-group +
    between-group terms, which is what a data card needs to say
    whether corpus inequality lives inside languages or between them.
    ``T = sum(x ln x)/sum(x) - ln(mean)``;
    ``MLD = ln(mean) - mean(ln x)``.

    Determinism: the only order-exposed sums — sum(x ln x), sum(ln x)
    — are computed per DISTINCT value (one ln evaluation per distinct
    x, not per row), rounded to fixed decimals, widened to DECIMAL and
    multiplied by exact integer counts, so every cross-partition sum
    is exact decimal arithmetic; one double tree per group at the end.

    Scale: distinct (lang, n_chars) pairs bound the shuffle (the
    jump-point compression q_gini_by_group uses), and the decimal sums
    cannot overflow at any corpus size (38 digits)."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("n_chars").isNotNull() & (F.col("n_chars") > 0))
         .groupBy("lang", F.col("n_chars").alias("x"))
         .agg(F.count(F.lit(1)).alias("c")))
    xlnx = (F.col("c") * F.round(F.col("x") * F.log(F.col("x")), 6)
            .cast("decimal(38,6)"))
    lnx = (F.col("c") * F.round(F.log(F.col("x")), 9)
           .cast("decimal(38,9)"))
    n = F.sum("c")
    tot = F.sum(F.col("x") * F.col("c"))
    mean_ln = F.log(tot.cast("double") / n)
    return (d.groupBy("lang")
            .agg(n.cast("long").alias("n_docs"),
                 tot.cast("long").alias("total_chars"),
                 (F.round(F.sum(xlnx).cast("double") / tot - mean_ln, 6)
                  + 0.0).alias("theil_t"),
                 (F.round(mean_ln - F.sum(lnx).cast("double") / n, 6)
                  + 0.0).alias("mld"))
            .orderBy("lang"))


# ---------------------------------------------------------------------------
# l-diversity release audit (the k-anonymity complement)
# ---------------------------------------------------------------------------

@query("q_ldiversity", oracle="""
WITH j AS (
  SELECT c_nationkey, c_mktsegment, o_orderpriority AS sens
  FROM customer JOIN orders ON o_custkey = c_custkey
), cc AS (
  SELECT c_nationkey, c_mktsegment, sens, COUNT(*) AS c
  FROM j GROUP BY 1, 2, 3
), e AS (
  SELECT c_nationkey, c_mktsegment, c,
         SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment) AS n,
         COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS dl
  FROM cc
), t AS (
  SELECT c_nationkey, c_mktsegment, n, dl,
         SUM(CAST(ROUND(-(c::DOUBLE / n) * LN(c::DOUBLE / n) * 1e9)
                  AS BIGINT)) AS h_nano
  FROM e GROUP BY 1, 2, 3, 4
)
SELECT c_nationkey, c_mktsegment,
       CAST(n AS BIGINT) AS n, CAST(dl AS BIGINT) AS distinct_l,
       ROUND(EXP(h_nano / 1e9), 6) + 0.0 AS entropy_l,
       dl >= 3 AS meets_l3
FROM t ORDER BY c_nationkey, c_mktsegment
""")
def q_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attribute-disclosure complement to
    q_kanonymity's re-identification screen: a quasi-identifier class
    can hold k >> 5 records and STILL leak if every record shares one
    sensitive value. Per (nation, segment) equivalence class over the
    released customer-order join: distinct-l (how many sensitive
    values appear) and entropy-l (exp of the sensitive-value entropy —
    the effective number of values an attacker must split their
    posterior over), plus the distinct-l >= 3 release gate.

    Determinism: class sizes and value counts are integers; each
    entropy term quantizes to nano units before the per-class sum
    (<= |sensitive| terms, same rule as q_session_entropy); one EXP
    per class, rounded.

    Scale: one equi-join plus two map-side-combined groupBys; the
    per-class window partitions on the QI tuple (bounded rows per
    class — never a global window); output is |QI classes| rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    j = (o.join(c, o["o_custkey"] == c["c_custkey"])
         .select("c_nationkey", "c_mktsegment",
                 F.col("o_orderpriority").alias("sens")))
    cc = (j.groupBy("c_nationkey", "c_mktsegment", "sens")
          .agg(F.count(F.lit(1)).alias("c")))
    wq = W.partitionBy("c_nationkey", "c_mktsegment")
    e = cc.select("c_nationkey", "c_mktsegment", "c",
                  F.sum("c").over(wq).alias("n"),
                  F.count(F.lit(1)).over(wq).alias("dl"))
    p = F.col("c").cast("double") / F.col("n")
    term = F.round(-p * F.log(p) * 1e9).cast("long")
    t = (e.groupBy("c_nationkey", "c_mktsegment", "n", "dl")
         .agg(F.sum(term).alias("h_nano")))
    return (t.select("c_nationkey", "c_mktsegment",
                     F.col("n").cast("long").alias("n"),
                     F.col("dl").cast("long").alias("distinct_l"),
                     (F.round(F.exp(F.col("h_nano") / 1e9), 6) + 0.0)
                     .alias("entropy_l"),
                     (F.col("dl") >= 3).alias("meets_l3"))
            .orderBy("c_nationkey", "c_mktsegment"))


# ---------------------------------------------------------------------------
# Mood's median test across k groups
# ---------------------------------------------------------------------------

@query("q_mood_median", oracle="""
WITH d AS (
  SELECT o_orderpriority AS grp,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS xc
  FROM orders
), c AS (
  SELECT xc, COUNT(*) AS c FROM d GROUP BY 1
), jp AS (
  SELECT xc,
         SUM(c) OVER (ORDER BY xc ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         SUM(c) OVER () AS n
  FROM c
), m AS (
  SELECT MIN(xc) AS med FROM jp WHERE 2 * cum >= n
), g AS (
  SELECT grp, COUNT(*) AS n_g,
         SUM(CASE WHEN xc > med THEN 1 ELSE 0 END) AS a_g,
         SUM(CASE WHEN xc <= med THEN 1 ELSE 0 END) AS b_g
  FROM d CROSS JOIN m GROUP BY grp
), tot AS (
  SELECT grp, n_g, a_g, b_g,
         SUM(a_g) OVER () AS ta, SUM(b_g) OVER () AS tb,
         SUM(n_g) OVER () AS tn
  FROM g
), terms AS (
  SELECT grp, n_g, a_g, b_g,
         CAST(ROUND((POWER(a_g - n_g * ta::DOUBLE / tn, 2)
                       / NULLIF(n_g * ta::DOUBLE / tn, 0)
                     + POWER(b_g - n_g * tb::DOUBLE / tn, 2)
                       / NULLIF(n_g * tb::DOUBLE / tn, 0)) * 1e9)
              AS BIGINT) AS t_nano
  FROM tot
)
SELECT grp, CAST(n_g AS BIGINT) AS n,
       CAST(a_g AS BIGINT) AS n_above, CAST(b_g AS BIGINT) AS n_below,
       ROUND(SUM(t_nano) OVER () / 1e9, 6) + 0.0 AS chi2
FROM terms ORDER BY grp
""")
def q_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five order priorities on order
    value: the k-group location test that stays valid when the heavy
    tail breaks ANOVA's variance assumptions and full ranking
    (Kruskal-Wallis) is more shuffle than the question needs — only
    each value's side of the GRAND median matters. chi2 over the
    2 x k contingency of above/below counts.

    The grand median is the LOWER median (smallest value whose
    cumulative count reaches ceil(N/2)) — an exact integer rule both
    engines express identically, with no interpolation to disagree on.

    Determinism: centi-quantized prices; the median rule, all counts
    and totals are integers; each group's chi2 term quantizes to nano
    units before the cross-group sum.

    Scale: the grand median comes from the lazy distributed jump-point
    table (grouped_cum_counts — no single-task sort, the q_lorenz
    lesson), reduced to ONE broadcast row; group counts are one
    map-side-combined groupBy; the only unpartitioned windows run over
    the <= k-group table."""
    # Runs on the stock-floor child session because an interleaved
    # min-of-3 A/B (sf0.1, local[32]) measured it faster there:
    # 1.53 / 1.62 s under the 64 KB floor, 1.43 / 1.44 s at stock.
    # The plan is a chain of bounded aggregates/windows over mid-size
    # shuffles, where the floor's extra partitions only add task overhead.
    spark = stock_coalesce_floor(spark)
    d = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("xc"))
    jp = grouped_cum_counts(d.withColumn("_g", F.lit(0)), "_g", "xc")
    ntot = jp.agg(F.sum("_c").alias("_n"))
    med = (jp.crossJoin(F.broadcast(ntot))
           .filter(2 * (F.col("_cum_before") + F.col("_c")) >= F.col("_n"))
           .agg(F.min("xc").alias("med")))
    g = (d.crossJoin(F.broadcast(med))
         .groupBy("grp")
         .agg(F.count(F.lit(1)).alias("n_g"),
              F.sum(F.when(F.col("xc") > F.col("med"), 1).otherwise(0))
              .alias("a_g"),
              F.sum(F.when(F.col("xc") <= F.col("med"), 1).otherwise(0))
              .alias("b_g")))
    wall = (W.orderBy("grp")
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    ta = F.sum("a_g").over(wall).cast("double")
    tb = F.sum("b_g").over(wall).cast("double")
    tn = F.sum("n_g").over(wall).cast("double")
    ea = F.col("n_g") * ta / tn
    eb = F.col("n_g") * tb / tn
    t_nano = F.round((F.pow(F.col("a_g") - ea, 2) / F.nullif(ea, F.lit(0.0))
                      + F.pow(F.col("b_g") - eb, 2)
                      / F.nullif(eb, F.lit(0.0))) * 1e9).cast("long")
    return (g.withColumn("t_nano", t_nano)
            .select("grp",
                    F.col("n_g").cast("long").alias("n"),
                    F.col("a_g").cast("long").alias("n_above"),
                    F.col("b_g").cast("long").alias("n_below"),
                    (F.round(F.sum("t_nano").over(wall) / 1e9, 6) + 0.0)
                    .alias("chi2"))
            .orderBy("grp"))


# ---------------------------------------------------------------------------
# Lagged cross-correlation between two daily operational series
# ---------------------------------------------------------------------------

@query("q_ccf_lags", oracle="""
WITH a AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS av
  FROM orders GROUP BY 1
), b AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
           AS day,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS bv
  FROM lineitem GROUP BY 1
), lags AS (
  SELECT CAST(UNNEST(generate_series(0, 14)) AS BIGINT) AS lag
), p AS (
  SELECT l.lag, a.av, b.bv
  FROM lags l CROSS JOIN a JOIN b ON b.day = a.day + l.lag
), s AS (
  SELECT lag, COUNT(*) AS n, SUM(av) AS sa, SUM(bv) AS sb,
         SUM(CAST(av AS HUGEINT) * bv) AS sab,
         SUM(CAST(av AS HUGEINT) * av) AS saa,
         SUM(CAST(bv AS HUGEINT) * bv) AS sbb
  FROM p GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_days,
       ROUND((n * sab::DOUBLE - sa::DOUBLE * sb::DOUBLE)
             / NULLIF(SQRT((n * saa::DOUBLE - sa::DOUBLE * sa::DOUBLE)
                           * (n * sbb::DOUBLE - sb::DOUBLE * sb::DOUBLE)),
                      0), 6) + 0.0 AS ccf
FROM s ORDER BY lag
""")
def q_ccf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between daily ORDERED revenue and
    daily SHIPPED revenue at lags 0..14 days — the lead/lag structure
    monitor (where does the CCF peak? that's the operational shipping
    delay) that completes the serial-dependence family next to q_acf
    (one series, own lags) and q_pacf. Pearson r per lag over the
    matched day pairs (order day d vs ship day d + lag).

    Determinism: both daily series are exact centi-unit integer sums
    (prices carry 2 decimals); per-lag sufficient statistics (n, sums,
    cross/self products) are exact integers widened to DECIMAL(38,0)/
    HUGEINT before multiplying; one shared double tree per lag.

    Scale: each fact stream collapses to its bounded daily table
    (calendar-bounded — ~2.4k rows for 7 years, regardless of fact
    size) via map-side-combined groupBys; the 15-row lag spine
    broadcasts onto the daily table; the lag join is an equi-join on
    day index."""
    epoch = F.lit("1970-01-01")
    a = (load_table(spark, sf_dir, "orders")
         .groupBy(F.datediff(F.to_date("o_orderdate"), F.to_date(epoch))
                  .cast("long").alias("day"))
         .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
              .alias("av")))
    b = (load_table(spark, sf_dir, "lineitem")
         .groupBy(F.datediff(F.to_date("l_shipdate"), F.to_date(epoch))
                  .cast("long").alias("day"))
         .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
              .alias("bv")))
    lags = spark.range(15).select(F.col("id").alias("lag"))
    p = (a.crossJoin(F.broadcast(lags))
         .join(b.withColumnRenamed("day", "bday"),
               F.col("bday") == F.col("day") + F.col("lag"))
         .select("lag", "av", "bv"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = p.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("av").alias("sa"), F.sum("bv").alias("sb"),
        F.sum(dec("av") * F.col("bv")).alias("sab"),
        F.sum(dec("av") * F.col("av")).alias("saa"),
        F.sum(dec("bv") * F.col("bv")).alias("sbb"))
    n = F.col("n").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    sab = F.col("sab").cast("double")
    saa, sbb = F.col("saa").cast("double"), F.col("sbb").cast("double")
    return (s.select(F.col("lag").cast("long").alias("lag"),
                     F.col("n").cast("long").alias("n_days"),
                     (F.round((n * sab - sa * sb)
                              / F.nullif(F.sqrt((n * saa - sa * sa)
                                                * (n * sbb - sb * sb)),
                                         F.lit(0.0)), 6) + 0.0)
                     .alias("ccf"))
            .orderBy("lag"))


# ---------------------------------------------------------------------------
# Isotonic calibration (PAVA via the exact minimax formula)
# ---------------------------------------------------------------------------

@query("q_isotonic_calibration", oracle="""
WITH x AS (
  SELECT ((event_id % 1000003) * 2654435761 % 1000003) % 1000 // 50 AS b,
         CASE WHEN value > 100 THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), cnt AS (
  SELECT b, COUNT(*) AS n, SUM(y) AS pos FROM x GROUP BY b
), spine AS (
  SELECT CAST(UNNEST(range(20)) AS BIGINT) AS b
), f AS (
  SELECT spine.b, COALESCE(n, 0) AS n, COALESCE(pos, 0) AS pos
  FROM spine LEFT JOIN cnt USING (b)
), cum AS (
  SELECT b, n, pos,
         SUM(n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cn,
         SUM(pos) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cp
  FROM f
), base AS (
  SELECT b AS j, cn - n AS cnb, cp - pos AS cpb FROM cum
), mins AS (
  SELECT i.b AS i, base.j,
         MIN((k.cp - base.cpb)::DOUBLE / NULLIF(k.cn - base.cnb, 0)) AS mn
  FROM spine i
  JOIN base ON base.j <= i.b
  JOIN cum k ON k.b >= i.b
  GROUP BY 1, 2
), iso AS (
  SELECT i, MAX(mn) AS iso_rate FROM mins GROUP BY i
)
SELECT f.b AS bucket, CAST(f.n AS BIGINT) AS n,
       CAST(f.pos AS BIGINT) AS pos,
       ROUND(f.pos::DOUBLE / NULLIF(f.n, 0), 6) + 0.0 AS raw_rate,
       ROUND(iso.iso_rate, 6) + 0.0 AS iso_rate
FROM f JOIN iso ON iso.i = f.b
ORDER BY bucket
""")
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of a score's empirical hit rate — PAVA
    (pool-adjacent-violators), the standard non-parametric calibrator
    next to q_calibration's reliability curve and q_ece's gap score:
    the monotone step function closest (L2) to the 20-bucket raw
    rates. Computed by the exact MINIMAX identity
    ``iso[i] = max_{j<=i} min_{k>=i} rate(j..k)`` — equivalent to the
    sequential pooling algorithm (tests/test_properties.py pins the
    equivalence against an independent stack-based PAVA), but with NO
    sequential fold: it is three bounded spine joins any engine can
    run distributed. At an EMPTY bucket the L2 solution is non-unique
    (zero weight); the minimax value is one valid monotone choice, and
    both engines compute the same one.

    Determinism: bucket counts and cumulative sums are exact integers;
    every candidate rate is the same double on both engines, so MIN/
    MAX pick identical values; one rounding at the end.

    Scale: the fact stream collapses to 20 integer pairs
    (map-side-combined groupBy); the minimax runs over 20^3 bounded
    combinations of broadcast 20-row spines — constant work regardless
    of input size."""
    ev = load_table(spark, sf_dir, "events")
    x = (ev.filter(F.col("value").isNotNull())
         .selectExpr("((event_id % 1000003) * 2654435761 % 1000003)"
                     " % 1000 div 50 AS b",
                     "CASE WHEN value > 100 THEN 1 ELSE 0 END AS y"))
    cnt = x.groupBy("b").agg(F.count(F.lit(1)).alias("n"),
                             F.sum("y").alias("pos"))
    spine = spark.range(20).select(F.col("id").alias("b"))
    f = (spine.join(cnt, "b", "left")
         .select("b", F.coalesce("n", F.lit(0)).alias("n"),
                 F.coalesce("pos", F.lit(0)).alias("pos")))
    wcum = (W.orderBy("b")
            .rowsBetween(W.unboundedPreceding, W.currentRow))  # 20 rows
    cum = f.select("b", "n", "pos",
                   F.sum("n").over(wcum).alias("cn"),
                   F.sum("pos").over(wcum).alias("cp"))
    base = cum.select(F.col("b").alias("j"),
                      (F.col("cn") - F.col("n")).alias("cnb"),
                      (F.col("cp") - F.col("pos")).alias("cpb"))
    k = cum.select(F.col("b").alias("kb"), F.col("cn").alias("kcn"),
                   F.col("cp").alias("kcp"))
    i = spine.select(F.col("b").alias("i"))
    mins = (i.join(F.broadcast(base), F.col("j") <= F.col("i"))
            .join(F.broadcast(k), F.col("kb") >= F.col("i"))
            .groupBy("i", "j")
            .agg(F.min((F.col("kcp") - F.col("cpb")).cast("double")
                       / F.nullif(F.col("kcn") - F.col("cnb"), F.lit(0)))
                 .alias("mn")))
    iso = mins.groupBy("i").agg(F.max("mn").alias("iso_rate"))
    return (f.join(iso, f["b"] == iso["i"])
            .select(F.col("b").alias("bucket"),
                    F.col("n").cast("long").alias("n"),
                    F.col("pos").cast("long").alias("pos"),
                    (F.round(F.col("pos").cast("double")
                             / F.nullif(F.col("n"), F.lit(0)), 6) + 0.0)
                    .alias("raw_rate"),
                    (F.round(F.col("iso_rate"), 6) + 0.0).alias("iso_rate"))
            .orderBy("bucket"))


# ---------------------------------------------------------------------------
# Trending terms: informative-Dirichlet log-odds between two epochs
# ---------------------------------------------------------------------------

@query("q_trending_terms", oracle=r"""
WITH toks AS (
  SELECT doc_id % 2 AS side, t.tok
  FROM documents,
       UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          x -> x <> '')) AS t(tok)
  WHERE text IS NOT NULL AND doc_id IS NOT NULL
), tc AS (
  SELECT tok,
         SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS c0,
         SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS c1
  FROM toks GROUP BY tok
), tot AS (
  SELECT SUM(c0) AS n0, SUM(c1) AS n1, COUNT(*) AS v FROM tc
), z AS (
  SELECT tok, c0, c1,
         ROUND((LN((c0 + 0.5) / (n0 + 0.5 * v - c0 - 0.5))
                - LN((c1 + 0.5) / (n1 + 0.5 * v - c1 - 0.5)))
               / SQRT(1.0 / (c0 + 0.5) + 1.0 / (c1 + 0.5)), 6) + 0.0 AS z
  FROM tc CROSS JOIN tot
)
SELECT tok, CAST(c0 AS BIGINT) AS c_ref, CAST(c1 AS BIGINT) AS c_cur, z
FROM z
ORDER BY ABS(z) DESC, tok LIMIT 20
""")
def q_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending terms between two corpus epochs (doc_id parity as the
    epoch split): the informative-Dirichlet log-odds z-score — the
    'Fightin' Words' monitor (Monroe/Colaresi/Quinn 2008, public
    method) that ranks WHICH tokens drive corpus drift, where
    q_jaccard_drift / q_js_drift only say THAT the vocabulary moved.
    Flat 0.5 prior per type; z = smoothed log-odds delta over its
    asymptotic standard error; top-20 by |z|.

    Determinism: token counts and totals are exact integers; z is one
    fixed double expression of them, rounded at 6 BEFORE the ORDER BY
    (with a token tiebreak) so a last-ulp ln() difference cannot
    reorder the top-k boundary.

    Scale: one map-side-combined groupBy over the token shuffle
    (digest-sized rows), a 1-row totals broadcast, and a
    TakeOrderedAndProject top-k — no global sort materializes."""
    d = (load_table(spark, sf_dir, "documents", spread=True)
         .filter(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
         .select((F.col("doc_id") % 2).alias("side"), "text"))
    tc = (d.select("side",
                   F.explode(F.split(F.lower("text"), "[^a-z0-9]+"))
                   .alias("tok"))
          .filter(F.col("tok") != "")
          .groupBy("tok")
          .agg(F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("c0"),
               F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("c1")))
    tot = tc.agg(F.sum("c0").alias("n0"), F.sum("c1").alias("n1"),
                 F.count(F.lit(1)).alias("v"))
    z = (F.round((F.log((F.col("c0") + 0.5)
                        / (F.col("n0") + 0.5 * F.col("v")
                           - F.col("c0") - 0.5))
                  - F.log((F.col("c1") + 0.5)
                          / (F.col("n1") + 0.5 * F.col("v")
                             - F.col("c1") - 0.5)))
                 / F.sqrt(1.0 / (F.col("c0") + 0.5)
                          + 1.0 / (F.col("c1") + 0.5)), 6) + 0.0)
    return (tc.crossJoin(F.broadcast(tot))
            .select("tok", F.col("c0").cast("long").alias("c_ref"),
                    F.col("c1").cast("long").alias("c_cur"),
                    z.alias("z"))
            .orderBy(F.abs(F.col("z")).desc(), "tok")
            .limit(20))


# ---------------------------------------------------------------------------
# Simpson / Gini-Simpson language diversity per source
# ---------------------------------------------------------------------------

@query("q_simpson_diversity", oracle="""
WITH c AS (
  SELECT source, lang, COUNT(*) AS n
  FROM documents WHERE lang IS NOT NULL
  GROUP BY 1, 2
), s AS (
  SELECT source, SUM(n) AS nn, COUNT(*) AS n_langs,
         SUM(n * (n - 1)) AS pairs
  FROM c GROUP BY source
)
SELECT source, CAST(nn AS BIGINT) AS n_docs,
       CAST(n_langs AS BIGINT) AS n_langs,
       ROUND(1.0 - pairs::DOUBLE / NULLIF(nn * (nn - 1), 0), 6) + 0.0
         AS gini_simpson,
       ROUND(NULLIF(nn * (nn - 1), 0)::DOUBLE / NULLIF(pairs, 0), 6)
         + 0.0 AS inv_simpson
FROM s ORDER BY source
""")
def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-Simpson and inverse-Simpson language diversity per source —
    the interpretable companion to entropy-based diversity (exp-entropy
    weights rare classes up; Simpson is the probability two random
    docs differ in language, and inverse Simpson the 'effective number
    of dominant languages'). The per-source row a data card shows next
    to the mix table: a source whose inv_simpson is near 1 is
    monolingual however many languages nominally appear.

    Determinism: everything up to the final two divisions is exact
    integer arithmetic (unbiased finite-sample form n(n-1), no
    probability squaring) — no quantization needed at all.

    Scale: two map-side-combined groupBys; shuffle volume is
    |source x lang| rows."""
    c = (load_table(spark, sf_dir, "documents")
         .filter(F.col("lang").isNotNull())
         .groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n")))
    s = c.groupBy("source").agg(
        F.sum("n").alias("nn"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(F.col("n") * (F.col("n") - 1)).alias("pairs"))
    tot = F.col("nn") * (F.col("nn") - 1)
    return (s.select("source",
                     F.col("nn").cast("long").alias("n_docs"),
                     F.col("n_langs").cast("long").alias("n_langs"),
                     (F.round(1.0 - F.col("pairs").cast("double")
                              / F.nullif(tot, F.lit(0)), 6) + 0.0)
                     .alias("gini_simpson"),
                     (F.round(F.nullif(tot, F.lit(0)).cast("double")
                              / F.nullif(F.col("pairs"), F.lit(0)), 6)
                      + 0.0).alias("inv_simpson"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test (ordered proportions)
# ---------------------------------------------------------------------------

@query("q_cochran_armitage", oracle="""
WITH d AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), g AS (
  SELECT s, COUNT(*) AS n, SUM(y) AS x FROM d GROUP BY s
), t AS (
  SELECT SUM(n) AS nn, SUM(x) AS xx,
         SUM(s * x) AS sx, SUM(s * n) AS sn,
         SUM(s * s * n) AS ssn
  FROM g
)
SELECT CAST(nn AS BIGINT) AS n,
       CAST(xx AS BIGINT) AS n_success,
       ROUND((sx - sn * (xx::DOUBLE / nn))
             / NULLIF(SQRT((xx::DOUBLE / nn) * (1.0 - xx::DOUBLE / nn)
                           * (ssn - sn::DOUBLE * sn / nn)), 0), 6) + 0.0
         AS z_trend
FROM t
""")
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does the completion rate move
    MONOTONICALLY across the ORDERED priority levels (scores 1..5 from
    the priority prefix)? The ordered-factor complement to the
    unordered chi-square (q_chi_square) and to q_mood_median's
    location test: a dose-response z with far more power against a
    trend than the omnibus tests.
    ``T = sum s_i (x_i - n_i p̄)``;
    ``Var = p̄(1-p̄)(sum s_i² n_i - (sum s_i n_i)²/N)``.

    Determinism: ALL sufficient statistics (n, x, sx, sn, ssn) are
    exact integers — scores are single digits, so no product leaves
    BIGINT; one double tree at the end, NULLIF-guarded for the
    all-success/all-failure corpus.

    Scale: one map-side-combined groupBy to 5 rows, one 1-row fold —
    nothing shuffles but partial sums (the q_anova_oneway shape)."""
    d = load_table(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("s"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"))
    g = d.groupBy("s").agg(F.count(F.lit(1)).alias("n"),
                           F.sum("y").alias("x"))
    t = g.agg(F.sum("n").alias("nn"), F.sum("x").alias("xx"),
              F.sum(F.col("s") * F.col("x")).alias("sx"),
              F.sum(F.col("s") * F.col("n")).alias("sn"),
              F.sum(F.col("s") * F.col("s") * F.col("n")).alias("ssn"))
    p = F.col("xx").cast("double") / F.col("nn")
    return t.select(
        F.col("nn").cast("long").alias("n"),
        F.col("xx").cast("long").alias("n_success"),
        (F.round((F.col("sx") - F.col("sn") * p)
                 / F.nullif(F.sqrt(p * (1.0 - p)
                                   * (F.col("ssn")
                                      - F.col("sn").cast("double")
                                      * F.col("sn") / F.col("nn"))),
                            F.lit(0.0)), 6) + 0.0).alias("z_trend"))


# ---------------------------------------------------------------------------
# Mantel-Haenszel pooled odds ratio across strata
# ---------------------------------------------------------------------------

@query("q_mantel_haenszel", oracle="""
WITH j AS (
  SELECT c_mktsegment AS stratum,
         CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS e,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
), cells AS (
  SELECT stratum,
         SUM(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END) AS b,
         SUM(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END) AS c,
         SUM(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END) AS d
  FROM j GROUP BY stratum
), q AS (
  -- the FIRST factor widens to double before multiplying: a*d in
  -- BIGINT crosses 2^63 at large scale; ad/n stays ~cell-sized, so
  -- micro units fit BIGINT after the division
  SELECT stratum, a, b, c, d,
         CAST(ROUND(a::DOUBLE * d / NULLIF(a + b + c + d, 0) * 1e6)
              AS BIGINT) AS adn_micro,
         CAST(ROUND(b::DOUBLE * c / NULLIF(a + b + c + d, 0) * 1e6)
              AS BIGINT) AS bcn_micro
  FROM cells
)
SELECT stratum, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
       ROUND(a::DOUBLE * d / NULLIF(b::DOUBLE * c, 0), 6) + 0.0
         AS or_stratum,
       ROUND(SUM(adn_micro) OVER ()::DOUBLE
             / NULLIF(SUM(bcn_micro) OVER (), 0), 6) + 0.0 AS or_mh
FROM q ORDER BY stratum
""")
def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio: the stratified 2x2 estimator
    that answers what q_odds_ratio (one table) and q_stratified_ate
    (risk difference) leave open — a single confounder-adjusted odds
    ratio of outcome (order completed) by exposure (delinquent
    customer balance) pooled across market-segment strata, robust to
    segment-size imbalance.
    ``OR_MH = sum_i(a_i d_i / n_i) / sum_i(b_i c_i / n_i)``.

    Determinism: cell counts are exact integers; the per-stratum ratio
    terms a*d/n, b*c/n quantize to micro units BEFORE the cross-stratum
    sums (quantize-before-sum for ratio terms, the ANOVA rule); the
    per-stratum OR is one rounded division.

    Scale: one equi-join + one map-side-combined groupBy to
    |segments| rows; the pooled sums ride a bounded window over the
    5-stratum table."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    jn = (o.join(c, o["o_custkey"] == c["c_custkey"])
          .select(F.col("c_mktsegment").alias("stratum"),
                  F.when(F.col("c_acctbal") < 0, 1).otherwise(0).alias("e"),
                  F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
                  .alias("y")))
    cells = jn.groupBy("stratum").agg(
        F.sum(F.when((F.col("e") == 1) & (F.col("y") == 1), 1)
              .otherwise(0)).alias("a"),
        F.sum(F.when((F.col("e") == 1) & (F.col("y") == 0), 1)
              .otherwise(0)).alias("b"),
        F.sum(F.when((F.col("e") == 0) & (F.col("y") == 1), 1)
              .otherwise(0)).alias("c"),
        F.sum(F.when((F.col("e") == 0) & (F.col("y") == 0), 1)
              .otherwise(0)).alias("d"))
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    # widen the FIRST factor before multiplying (a*d in long crosses
    # 2^63 at scale); divide by n before the micro scaling so the
    # rounded term fits BIGINT — expression order mirrors the oracle
    q = cells.select(
        "stratum", "a", "b", "c", "d",
        F.round(F.col("a").cast("double") * F.col("d")
                / F.nullif(n, F.lit(0)) * 1e6)
        .cast("long").alias("adn_micro"),
        F.round(F.col("b").cast("double") * F.col("c")
                / F.nullif(n, F.lit(0)) * 1e6)
        .cast("long").alias("bcn_micro"))
    wall = (W.orderBy("stratum")
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    return (q.select("stratum",
                     F.col("a").cast("long").alias("a"),
                     F.col("b").cast("long").alias("b"),
                     F.col("c").cast("long").alias("c"),
                     F.col("d").cast("long").alias("d"),
                     (F.round(F.col("a").cast("double") * F.col("d")
                              / F.nullif(F.col("b").cast("double")
                                         * F.col("c"), F.lit(0.0)), 6)
                      + 0.0).alias("or_stratum"),
                     (F.round(F.sum("adn_micro").over(wall).cast("double")
                              / F.nullif(F.sum("bcn_micro").over(wall),
                                         F.lit(0)), 6) + 0.0)
                     .alias("or_mh"))
            .orderBy("stratum"))


# ---------------------------------------------------------------------------
# HTML -> training-text extraction (the crawl WET step)
# ---------------------------------------------------------------------------

#: (pattern, replacement) pipeline shared by both engines. Order
#: matters twice: script/style/comment blocks go before the generic
#: tag strip, and &amp; decodes LAST so "&amp;lt;" becomes the literal
#: "&lt;" instead of double-decoding. RE2 (DuckDB) has no
#: backreferences, so script and style are separate patterns.
_HTML_STEPS: tuple[tuple[str, str], ...] = (
    (r"(?s)<script[^>]*>.*?</script>", " "),
    (r"(?s)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]+>", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&amp;", "&"),
    (r"\s+", " "),
)

#: Synthetic page built around each document's text: head noise
#: (title/script/style), markup, a comment, and entity-escaped tail —
#: every hazard the extractor must remove, same SQL text both engines.
_HTML_BUILD = (
    "'<html><head><title>Doc ' || doc_id || '</title>'"
    " || '<script>var x = 1 < 2;</script><style>p{color:red}</style>'"
    " || '</head><body><h1>Doc ' || doc_id || '</h1><p>' || text"
    " || '</p><!-- crawler: drop me -->"
    "<p>&amp;copy &lt;tag&gt; &quot;q&quot; &#39;s&#39;</p></body></html>'"
)


def _regex_chain(col: str, dialect: str) -> str:
    """Nest the _HTML_STEPS regexp_replace pipeline around ``col``.
    Dialect differences that BITE: DuckDB needs the 'g' flag argument
    (Spark replaces globally); Spark SQL string literals process
    backslash escapes (an un-doubled '\\s+' reaches the regex engine
    as 's+' and deletes every letter s — found by the tri-scale gate),
    while DuckDB literals keep backslashes; quotes escape as \\' in
    Spark vs '' in DuckDB."""
    expr = col
    for pat, rep in _HTML_STEPS:
        if dialect == "duckdb":
            p, r = pat, rep.replace("'", "''")
            expr = f"regexp_replace({expr}, '{p}', '{r}', 'g')"
        else:
            p = pat.replace("\\", "\\\\")
            r = rep.replace("\\", "\\\\").replace("'", "\\'")
            expr = f"regexp_replace({expr}, '{p}', '{r}')"
    return f"trim({expr})"


@query("q_html_extract", oracle=f"""
WITH h AS (
  SELECT doc_id, {_HTML_BUILD} AS html
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       regexp_extract(html, '<title>(.*?)</title>', 1) AS title,
       {_regex_chain("html", "duckdb")} AS body_text,
       CAST(LENGTH({_regex_chain("html", "duckdb")}) AS BIGINT)
         AS n_chars
FROM h ORDER BY doc_id
""")
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> plain-text extraction — the WET step that turns a crawl
    response's HTML payload into training text: script/style/
    comment blocks removed, tags stripped, the five standard character
    entities decoded (&amp; last, so escaped entities stay literal),
    whitespace normalized, plus the <title> pulled out as metadata.
    Demonstrated on synthetic pages built around each document's text
    (every hazard class planted) so the extraction itself is
    oracle-checked — the same chain applied to a crawl's HTML payload
    column is the production path.

    Determinism: pure string functions; both engines run the SAME
    pattern pipeline (one shared list builds both dialects; RE2 has no
    backreferences, hence separate script/style patterns).

    Scale: map-only per-row regex chain — zero shuffle; at 100 TB this
    runs inside the scan stage of the crawl ingest."""
    d = (load_table(spark, sf_dir, "documents", spread=True)
         .filter(F.col("text").isNotNull()))
    chain = _regex_chain("html", "spark")
    return (d.selectExpr("doc_id", f"{_HTML_BUILD} AS html")
            .selectExpr(
                "doc_id",
                "regexp_extract(html, '<title>(.*?)</title>', 1) AS title",
                f"{chain} AS body_text",
                f"CAST(LENGTH({chain}) AS BIGINT) AS n_chars")
            .orderBy("doc_id"))
