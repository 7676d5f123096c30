"""Round-10 statistical-inference, feature-engineering, and corpus-QA
queries: Spearman rank correlation, Cramér's V association, Matthews
correlation, Jensen-Shannon drift, leave-one-out target encoding,
Fleiss' kappa, difference-in-differences, Bayesian A/B readout,
per-document TF-IDF keywords, degree assortativity, decision-stump
information gain, and a sequential probability ratio test.

These extend the experimentation family (q_ab_ttest / q_ab_power /
q_cuped judge, plan, sharpen — this batch adds the nonparametric
correlation, the sequential early-stopping test, and the causal
pre/post estimator), the drift monitors (KL / PSI / KS gain their
symmetric bounded sibling JS), the evaluation suite (classification
report gains MCC), the feature-engineering shelf (target encoding,
information gain, TF-IDF keyword extraction), the labeling-QA shelf
(Cohen's kappa gains the multi-rater Fleiss form), and the graph
family (assortativity over the shared co-purchase edge cache).

Every query follows the registry determinism contract (registry.py
module docstring): float folds quantize the per-row addend to integer
nano/centi units and SUM integers (order-free), ratios come from exact
integer sufficient statistics through an IDENTICAL double expression
tree on both engines, every denominator is NULLIF-guarded (the
boundary sweeps plant empty tables, NULL users/values, and
zero-variance corpora), and every ORDER BY/top-k key is an integer
with an id tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.cache_slot import CacheSlot
from ..sources.tables import load_table
from ..session import stock_coalesce_floor
from .registry import query

#: q_target_encode's per-category stats table (|categories| rows).
#: Uncached, its groupBy subtree embeds twice — once under the encode
#: join, once under the global-rate aggregate — costing a third
#: fact-table scan (round-10 repeated-subtree audit).
_ENCODE_STATS_SLOT = CacheSlot()


_TOK = r"\s+"
_SPLIT = "2024-01-16 00:00:00"


# ---------------------------------------------------------------------------
# Spearman rank correlation per group
# ---------------------------------------------------------------------------

@query("q_spearman", oracle="""
WITH per_order AS (
  SELECT o.o_orderpriority AS pri, o.o_orderkey AS ok,
         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS price_centi,
         COUNT(*) AS n_items
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2, 3
), ranked AS (
  SELECT pri,
         2 * RANK() OVER (PARTITION BY pri ORDER BY price_centi)
           + COUNT(*) OVER (PARTITION BY pri, price_centi) - 1 AS rx,
         2 * RANK() OVER (PARTITION BY pri ORDER BY n_items)
           + COUNT(*) OVER (PARTITION BY pri, n_items) - 1 AS ry
  FROM per_order
), s AS (
  SELECT pri, COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
         SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
  FROM ranked GROUP BY pri
)
SELECT pri, CAST(n AS BIGINT) AS n,
       ROUND((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / NULLIF(SQRT((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                           * (n::DOUBLE * syy::DOUBLE
                              - sy::DOUBLE * sy::DOUBLE)), 0),
             6) + 0.0 AS spearman_rho
FROM s ORDER BY pri
""")
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per order priority between order value
    and basket size — the nonparametric companion to q_corr_matrix's
    Pearson: monotone association robust to outliers and any monotone
    rescaling, the form used to sanity-check quality-score vs
    human-rating agreement in data-curation loops.

    Determinism: ties take AVERAGE ranks via the exact integer form
    ``2*rank + ties - 1`` (twice the average rank — Pearson is
    invariant under the linear doubling, and the doubled ranks are
    BIGINTs so every sufficient statistic is an exact integer sum);
    rho comes out of one identical double expression, zero-variance
    groups NULLIF to undefined.

    Scale: the per-order basket count is one map-side-combined groupBy
    on the join key, cached once for its three consumers. Ranks come
    from operators/rank.py::grouped_cum_counts — the grouped two-pass
    cumulative count (range-bucket values, driver-folded per-(group,
    bucket) bases, local windows per bucket) — so no task ever sorts
    more than one value-bucket's slice, no matter how few groups exist
    (5 priorities here; the old pri-partitioned rank windows sorted
    |orders|/5 rows in one task — round-10 VERDICT item 2). The y rank
    map (distinct basket sizes) broadcasts; the x map joins back on
    (pri, price_centi)."""
    # Runs on the stock-floor child session because an interleaved
    # min-of-3 A/B (sf0.1, local[32]) measured it faster there:
    # 4.39 / 4.34 s under the 64 KB floor, 3.22 / 2.50 s at stock.
    # The plan is a chain of bounded aggregates/windows over mid-size
    # shuffles, where the floor's extra partitions only add task overhead.
    spark = stock_coalesce_floor(spark)
    from ..operators.rank import grouped_cum_counts

    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # per_order appears under two consumers (the y rank map's subtree
    # and the row stream it broadcasts back onto); its shuffle is
    # byte-identical in both, so ReuseExchange shares it — no cache,
    # no construction-time job.
    per_order = (od.join(li, li.l_orderkey == od.o_orderkey)
                 .groupBy(F.col("o_orderpriority").alias("pri"),
                          F.col("o_orderkey").alias("ok"),
                          F.round(F.col("o_totalprice") * 100).cast("long")
                          .alias("price_centi"))
                 .agg(F.count(F.lit(1)).alias("n_items")))

    # y rank map: distinct basket sizes are BOUNDED by order width
    # (~dozens of values regardless of corpus size), so the
    # mann_whitney jump-point window over DISTINCT (pri, n_items)
    # rows is already scale-safe — and the map is broadcast-sized.
    cy = per_order.groupBy("pri", "n_items").agg(
        F.count(F.lit(1)).alias("_cy"))
    wy = (W.partitionBy("pri").orderBy("n_items")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    ry = cy.select(
        "pri", "n_items",
        (2 * (F.sum("_cy").over(wy) - F.col("_cy")) + F.col("_cy") + 1)
        .cast("long").alias("ry"))

    # Fold ry onto each order via the tiny broadcast, then collapse to
    # DISTINCT x values carrying (count, sum ry, sum ry^2): the
    # cross-moment becomes sum(rx * sum_ry) over jump points, so the
    # big x rank map never joins back onto the fact stream. rx itself
    # comes from the fully-lazy grouped two-pass cumulative count —
    # never a window partitioned by the 5-value pri alone (round-10
    # VERDICT item 2: that shape sorts |orders|/5 rows in one task).
    xrows = per_order.join(F.broadcast(ry), ["pri", "n_items"])
    mx = grouped_cum_counts(
        xrows, "pri", "price_centi",
        extra_aggs=(F.sum("ry").alias("_sry"),
                    F.sum(F.col("ry") * F.col("ry")).alias("_sry2")))
    rx = (2 * F.col("_cum_before") + F.col("_c") + 1).cast("long")
    s = mx.select("pri", "_c", "_sry", "_sry2", rx.alias("rx")) \
        .groupBy("pri").agg(
            F.sum("_c").alias("n"),
            F.sum(F.col("_c") * F.col("rx")).alias("sx"),
            F.sum("_sry").alias("sy"),
            F.sum(F.col("rx") * F.col("_sry")).alias("sxy"),
            F.sum(F.col("_c") * F.col("rx") * F.col("rx")).alias("sxx"),
            F.sum("_sry2").alias("syy"))
    n, sx, sy, sxy, sxx, syy = (F.col(c).cast("double")
                                for c in ("n", "sx", "sy", "sxy", "sxx",
                                          "syy"))
    return (s.select(
        "pri", F.col("n").cast("long").alias("n"),
        (F.round((n * sxy - sx * sy)
                 / F.nullif(F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                            F.lit(0.0)), 6) + 0.0).alias("spearman_rho"))
        .orderBy("pri"))


# ---------------------------------------------------------------------------
# Cramér's V association strength
# ---------------------------------------------------------------------------

@query("q_cramers_v", oracle="""
WITH base AS (
  SELECT event_type AS et, user_id % 4 AS cohort FROM events
  WHERE user_id IS NOT NULL
), cells AS (
  SELECT et, cohort, COUNT(*) AS o FROM base GROUP BY 1, 2
), margins AS (
  SELECT c.et, c.cohort, c.o,
         SUM(c.o) OVER (PARTITION BY c.et) AS row_tot,
         SUM(c.o) OVER (PARTITION BY c.cohort) AS col_tot,
         SUM(c.o) OVER () AS n
  FROM cells c
), terms AS (
  SELECT n,
         CAST(ROUND((o::DOUBLE - row_tot::DOUBLE * col_tot / n)
                    * (o::DOUBLE - row_tot::DOUBLE * col_tot / n)
                    / (row_tot::DOUBLE * col_tot / n) * 1e9) AS BIGINT)
           AS t_nano
  FROM margins
), dims AS (
  SELECT COUNT(DISTINCT et) AS r, COUNT(DISTINCT cohort) AS c FROM base
)
SELECT CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(r) AS BIGINT) AS n_rows,
       CAST(MAX(c) AS BIGINT) AS n_cols,
       ROUND(SUM(t_nano) / 1e9, 6) + 0.0 AS chi2,
       ROUND(SQRT(SUM(t_nano) / 1e9
                  / NULLIF(MAX(n)::DOUBLE
                           * LEAST(MAX(r) - 1, MAX(c) - 1), 0)),
             6) + 0.0 AS cramers_v
FROM terms CROSS JOIN dims
""")
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between event type and user cohort —
    the [0,1]-normalized effect size on top of q_chi_square's test
    statistic (chi-square says IF the features associate, V says HOW
    MUCH, comparable across tables of different size/shape). The
    pipeline use is feature redundancy screening before training.

    Determinism: cell counts and margins are exact integers; each
    cell's chi-square term is quantized to integer nano-units before
    the SUM so partial-aggregation order cannot flip a bit; the final
    sqrt runs on one identical double. Degenerate tables (one row or
    one column category) NULLIF to undefined.

    Scale: one groupBy onto (r x c) cells, margins via windows over
    the CELL table (|cells| rows, not the fact table), a single scalar
    output. NULL users are excluded up front on both engines."""
    base = (load_table(spark, sf_dir, "events")
            .filter(F.col("user_id").isNotNull())
            .select(F.col("event_type").alias("et"),
                    (F.col("user_id") % 4).alias("cohort")))
    cells = base.groupBy("et", "cohort").agg(F.count(F.lit(1)).alias("o"))
    margins = cells.select(
        "o",
        F.sum("o").over(W.partitionBy("et")).alias("row_tot"),
        F.sum("o").over(W.partitionBy("cohort")).alias("col_tot"),
        F.sum("o").over(W.partitionBy()).alias("n"))
    e = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    terms = margins.select(
        "n",
        F.round((F.col("o").cast("double") - e) * (F.col("o").cast("double")
                                                   - e) / e * 1e9)
        .cast("long").alias("t_nano"))
    dims = base.agg(F.countDistinct("et").alias("r"),
                    F.countDistinct("cohort").alias("c"))
    chi2 = F.sum("t_nano") / 1e9
    return (terms.crossJoin(F.broadcast(dims))
            .agg(F.max("n").cast("long").alias("n"),
                 F.max("r").cast("long").alias("n_rows"),
                 F.max("c").cast("long").alias("n_cols"),
                 (F.round(chi2, 6) + 0.0).alias("chi2"),
                 (F.round(F.sqrt(chi2 / F.nullif(
                     F.max("n").cast("double")
                     * F.least(F.max("r") - 1, F.max("c") - 1),
                     F.lit(0))), 6) + 0.0).alias("cramers_v")))


# ---------------------------------------------------------------------------
# Matthews correlation coefficient
# ---------------------------------------------------------------------------

@query("q_mcc", oracle="""
WITH scored AS (
  SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y,
         CASE WHEN 80 * label + ((vec_id % 1000003) * 2654435761 % 1000) // 5
                   >= 500 THEN 1 ELSE 0 END AS yhat
  FROM embeddings
), cm AS (
  SELECT SUM(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS tp,
         SUM(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS fp,
         SUM(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS fn,
         SUM(CASE WHEN y = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS tn
  FROM scored
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       ROUND((tp::DOUBLE * tn - fp::DOUBLE * fn)
             / NULLIF(SQRT((tp + fp)::DOUBLE) * SQRT((tp + fn)::DOUBLE)
                      * SQRT((tn + fp)::DOUBLE) * SQRT((tn + fn)::DOUBLE),
                      0), 6) + 0.0 AS mcc
FROM cm
""")
def q_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient at the same 0.5 operating point
    as q_classification_report — the single-number confusion-matrix
    summary that stays honest under class imbalance (accuracy and even
    F1 reward the majority-class constant predictor; MCC is the
    Pearson correlation of y and yhat, 0 for any constant predictor).
    Completes the thresholded-evaluation family: report gives
    per-class detail, MCC gives the balance-robust headline.

    Determinism: the scorer exists only in integer milliunits (the
    q_auc_ranking hash construction), so y/yhat and all four confusion
    counts are exact integers; MCC is one identical double expression
    with the denominator factored into four sqrt terms (each ≤ n, so
    no product overflows double precision) and NULLIF-guarded for
    degenerate single-class inputs.

    Scale: ONE conditional-aggregate map-side-combined pass over the
    fact table to a 1-row confusion matrix."""
    e = load_table(spark, sf_dir, "embeddings")
    p_milli = (80 * F.col("label")
               + ((F.col("vec_id") % 1000003)
                  * F.lit(2654435761).cast("bigint") % 1000)
               / F.lit(5)).cast("bigint")
    y = F.when(F.col("label") >= 5, 1).otherwise(0)
    yhat = F.when(p_milli >= 500, 1).otherwise(0)
    cm = (e.select(y.alias("y"), yhat.alias("yhat"))
          .agg(F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 1), 1)
                     .otherwise(0)).alias("tp"),
               F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 1), 1)
                     .otherwise(0)).alias("fp"),
               F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 0), 1)
                     .otherwise(0)).alias("fn"),
               F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 0), 1)
                     .otherwise(0)).alias("tn")))
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    denom = (F.sqrt((tp + fp).cast("double")) * F.sqrt((tp + fn).cast("double"))
             * F.sqrt((tn + fp).cast("double"))
             * F.sqrt((tn + fn).cast("double")))
    return cm.select(
        tp.cast("long").alias("tp"), fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"), tn.cast("long").alias("tn"),
        (F.round((tp.cast("double") * tn - fp.cast("double") * fn)
                 / F.nullif(denom, F.lit(0.0)), 6) + 0.0).alias("mcc"))


# ---------------------------------------------------------------------------
# Jensen-Shannon drift between corpus snapshots
# ---------------------------------------------------------------------------

@query("q_js_drift", oracle="""
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
       ROUND((0.5 * (ca::DOUBLE / ta)
                  * LN((ca::DOUBLE / ta)
                       / (0.5 * (ca::DOUBLE / ta) + 0.5 * (cb::DOUBLE / tb)))
              + 0.5 * (cb::DOUBLE / tb)
                  * LN((cb::DOUBLE / tb)
                       / (0.5 * (ca::DOUBLE / ta)
                          + 0.5 * (cb::DOUBLE / tb))))
             * 1000, 6) + 0.0 AS js_term_milli
FROM counts CROSS JOIN tot
""")
def q_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence terms (millinats) per source between
    two corpus snapshots — the SYMMETRIC, BOUNDED (≤ ln 2) sibling of
    q_kl_drift: KL explodes when a source vanishes from one snapshot
    and depends on direction; JS is what production drift dashboards
    alert on because its scale is comparable across features and
    releases. Summing js_term_milli over sources gives total JS.

    Determinism: identical to q_kl_drift — integer counts with add-one
    smoothing, every probability a ratio of exact integer sums, LN on
    identical doubles.

    Scale: one map-side-combined conditional-count groupBy on source
    plus a 1-row totals broadcast (the q_pagerank |V| pattern)."""
    d = load_table(spark, sf_dir, "documents")
    counts = (d.select("source", (F.col("doc_id") % 2).alias("snap"))
              .groupBy("source")
              .agg((1 + F.count(F.when(F.col("snap") == 0, 1))).alias("ca"),
                   (1 + F.count(F.when(F.col("snap") == 1, 1))).alias("cb")))
    tot = counts.agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
    pa = F.col("ca").cast("double") / F.col("ta")
    pb = F.col("cb").cast("double") / F.col("tb")
    m = 0.5 * pa + 0.5 * pb
    return (counts.crossJoin(F.broadcast(tot))
            .select("source",
                    F.col("ca").cast("long").alias("n_a"),
                    F.col("cb").cast("long").alias("n_b"),
                    (F.round((0.5 * pa * F.log(pa / m)
                              + 0.5 * pb * F.log(pb / m)) * 1000, 6) + 0.0)
                    .alias("js_term_milli")))


# ---------------------------------------------------------------------------
# Leave-one-out target encoding
# ---------------------------------------------------------------------------

@query("q_target_encode", oracle="""
WITH lab AS (
  SELECT o_orderkey, o_custkey % 1000 AS cat,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), grp AS (
  SELECT cat, COUNT(*) AS n_cat, SUM(y) AS pos_cat FROM lab GROUP BY cat
), overall AS (
  SELECT SUM(pos_cat)::DOUBLE / NULLIF(SUM(n_cat), 0) AS rate FROM grp
)
SELECT l.o_orderkey, CAST(l.cat AS BIGINT) AS cat, CAST(l.y AS BIGINT) AS y,
       CAST(g.n_cat AS BIGINT) AS n_cat,
       ROUND(CASE WHEN g.n_cat > 1
                  THEN (g.pos_cat - l.y)::DOUBLE / (g.n_cat - 1)
                  ELSE gl.rate END, 6) + 0.0 AS enc
FROM lab l JOIN grp g USING (cat) CROSS JOIN overall gl
WHERE l.o_orderkey % 101 = 0
ORDER BY l.o_orderkey
""")
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a high-cardinality categorical
    (customer bucket) against the order-failure label — the standard
    trick for feeding 10^4+-category features to gradient models
    without one-hot blowup, with the LOO correction that removes the
    row's own label from its encoding (plain mean encoding leaks the
    target and inflates offline metrics). Singleton categories fall
    back to the global rate. Output is a deterministic 1/101 keyed
    sample of the encoded rows.

    Determinism: group counts/positives are exact integers; each
    encoding is one integer ratio rounded identically both engines;
    the sample is keyed (o_orderkey % 101), never random.

    Scale: one map-side-combined groupBy builds the |categories|-row
    stats table; the encode is a shuffle join on the category key
    (broadcast when the dimension fits); the global rate is a 1-row
    broadcast. The sample filter sits on the probe side so Catalyst
    pushes it into the scan — the stats side still reads everything,
    as LOO requires."""
    lab = (load_table(spark, sf_dir, "orders")
           .select("o_orderkey", (F.col("o_custkey") % 1000).alias("cat"),
                   F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
                   .alias("y")))
    # Cached |categories|-row stats: consumed by BOTH the encode join
    # and the global-rate aggregate — one fact pass builds it, instead
    # of Catalyst embedding the groupBy subtree under each consumer
    # (3 orders scans -> 2; round-10 repeated-subtree audit).
    grp = _ENCODE_STATS_SLOT.own(
        lab.groupBy("cat").agg(F.count(F.lit(1)).alias("n_cat"),
                               F.sum("y").alias("pos_cat")))
    glob = grp.agg((F.sum("pos_cat").cast("double")
                    / F.nullif(F.sum("n_cat"), F.lit(0))).alias("rate"))
    enc = F.when(
        F.col("n_cat") > 1,
        (F.col("pos_cat") - F.col("y")).cast("double") / (F.col("n_cat") - 1)
    ).otherwise(F.col("rate"))
    return (lab.filter(F.col("o_orderkey") % 101 == 0)
            .join(grp, "cat")
            .crossJoin(F.broadcast(glob))
            .select("o_orderkey", F.col("cat").cast("long").alias("cat"),
                    F.col("y").cast("long").alias("y"),
                    F.col("n_cat").cast("long").alias("n_cat"),
                    (F.round(enc, 6) + 0.0).alias("enc"))
            .orderBy("o_orderkey"))


# ---------------------------------------------------------------------------
# Fleiss' kappa multi-rater agreement
# ---------------------------------------------------------------------------

@query("q_fleiss_kappa", oracle=r"""
WITH feats AS (
  SELECT doc_id,
         CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1
              ELSE 2 END AS r_chars,
         CASE WHEN len(string_split_regex(text, '\s+')) < 40 THEN 0
              WHEN len(string_split_regex(text, '\s+')) < 80 THEN 1
              ELSE 2 END AS r_words,
         CASE WHEN GREATEST(len(string_split_regex(text, '[.!?]+')) - 1, 1)
                   < 3 THEN 0
              WHEN GREATEST(len(string_split_regex(text, '[.!?]+')) - 1, 1)
                   < 6 THEN 1
              ELSE 2 END AS r_sents
  FROM documents WHERE text IS NOT NULL
), long_form AS (
  SELECT doc_id, r_chars AS cat FROM feats
  UNION ALL SELECT doc_id, r_words FROM feats
  UNION ALL SELECT doc_id, r_sents FROM feats
), cell AS (
  SELECT doc_id, cat, COUNT(*) AS nij FROM long_form GROUP BY 1, 2
), per_item AS (
  SELECT doc_id, SUM(nij * nij) AS s2 FROM cell GROUP BY doc_id
), cat_tot AS (
  SELECT SUM(CASE WHEN cat = 0 THEN nij ELSE 0 END) AS c0,
         SUM(CASE WHEN cat = 1 THEN nij ELSE 0 END) AS c1,
         SUM(CASE WHEN cat = 2 THEN nij ELSE 0 END) AS c2
  FROM cell
), agg AS (
  SELECT COUNT(*) AS n, SUM(s2) AS ss2 FROM per_item
)
SELECT CAST(n AS BIGINT) AS n_items,
       ROUND((ss2::DOUBLE - 3 * n) / NULLIF(6.0 * n, 0), 6) + 0.0 AS p_bar,
       ROUND((c0::DOUBLE * c0 + c1::DOUBLE * c1 + c2::DOUBLE * c2)
             / NULLIF(9.0 * n * n, 0), 6) + 0.0 AS p_e,
       ROUND(((ss2::DOUBLE - 3 * n) / NULLIF(6.0 * n, 0)
              - (c0::DOUBLE * c0 + c1::DOUBLE * c1 + c2::DOUBLE * c2)
                / NULLIF(9.0 * n * n, 0))
             / NULLIF(1 - (c0::DOUBLE * c0 + c1::DOUBLE * c1
                           + c2::DOUBLE * c2) / NULLIF(9.0 * n * n, 0), 0),
             6) + 0.0 AS fleiss_kappa
FROM agg CROSS JOIN cat_tot
""")
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa agreement among THREE raters per document — the
    multi-rater generalization of q_cohens_kappa (which compares
    exactly two). Demo raters: three length-quality proxies (char
    bucket, word bucket, sentence bucket) each rating documents into
    3 ordinal categories; the pipeline use is exactly this shape —
    k redundant annotators (or heuristic labelers) per item, kappa
    decides whether the labeling instructions are tight enough to
    train on. N=3 raters, 3 categories.

    Determinism: all inputs are integer counts. With N=3 raters,
    P_i = (sum_j n_ij^2 - 3) / 6, so P-bar = (SUM s2 - 3n) / 6n and
    P_e = sum_j (C_j / 3n)^2 — every term an exact integer ratio
    through one identical double tree; empty/degenerate corpora
    NULLIF to undefined (perfect chance agreement P_e = 1 included).

    Scale: explode to 3n (doc, rating) rows, two map-side-combined
    groupBys (per-item cells, then global sums), a 1-row output. The
    category totals pivot on the CELL table, never the corpus."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull()))
    n_words = F.size(F.split("text", _TOK))
    n_sents = F.greatest(F.size(F.split("text", r"[.!?]+")) - 1, F.lit(1))
    bucket = (lambda c, lo, hi: F.when(c < lo, 0).when(c < hi, 1)
              .otherwise(2))
    feats = d.select(
        "doc_id",
        bucket(F.col("n_chars"), 200, 400).alias("r_chars"),
        bucket(n_words, 40, 80).alias("r_words"),
        bucket(n_sents, 3, 6).alias("r_sents"))
    long_form = feats.select(
        "doc_id",
        F.explode(F.array("r_chars", "r_words", "r_sents")).alias("cat"))
    cell = long_form.groupBy("doc_id", "cat").agg(
        F.count(F.lit(1)).alias("nij"))
    per_item = cell.groupBy("doc_id").agg(
        F.sum(F.col("nij") * F.col("nij")).alias("s2"))
    cat_tot = cell.agg(
        F.sum(F.when(F.col("cat") == 0, F.col("nij")).otherwise(0))
        .alias("c0"),
        F.sum(F.when(F.col("cat") == 1, F.col("nij")).otherwise(0))
        .alias("c1"),
        F.sum(F.when(F.col("cat") == 2, F.col("nij")).otherwise(0))
        .alias("c2"))
    agg = per_item.agg(F.count(F.lit(1)).alias("n"),
                       F.sum("s2").alias("ss2"))
    n = F.col("n").cast("double")
    p_bar = (F.col("ss2").cast("double") - 3 * n) / F.nullif(6.0 * n,
                                                             F.lit(0.0))
    c0, c1, c2 = (F.col(c).cast("double") for c in ("c0", "c1", "c2"))
    p_e = (c0 * c0 + c1 * c1 + c2 * c2) / F.nullif(9.0 * n * n, F.lit(0.0))
    return (agg.crossJoin(F.broadcast(cat_tot))
            .select(F.col("n").cast("long").alias("n_items"),
                    (F.round(p_bar, 6) + 0.0).alias("p_bar"),
                    (F.round(p_e, 6) + 0.0).alias("p_e"),
                    (F.round((p_bar - p_e)
                             / F.nullif(1 - p_e, F.lit(0.0)), 6) + 0.0)
                    .alias("fleiss_kappa")))


# ---------------------------------------------------------------------------
# Difference-in-differences estimator
# ---------------------------------------------------------------------------

@query("q_did", oracle=f"""
WITH cells AS (
  SELECT user_id % 2 AS treat,
         CASE WHEN ts >= TIMESTAMP '{_SPLIT}' THEN 1 ELSE 0 END AS post,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
        AND value IS NOT NULL
), s AS (
  SELECT treat, post, COUNT(*) AS n, SUM(v) AS sx, SUM(v * v) AS sxx
  FROM cells GROUP BY 1, 2
), wide AS (
  SELECT
    MAX(CASE WHEN treat = 0 AND post = 0 THEN sx::DOUBLE / n END) AS m00,
    MAX(CASE WHEN treat = 0 AND post = 1 THEN sx::DOUBLE / n END) AS m01,
    MAX(CASE WHEN treat = 1 AND post = 0 THEN sx::DOUBLE / n END) AS m10,
    MAX(CASE WHEN treat = 1 AND post = 1 THEN sx::DOUBLE / n END) AS m11,
    SUM((sxx::DOUBLE - sx::DOUBLE * sx / n) / NULLIF(n - 1, 0) / n)
      AS var_sum
  FROM s
)
SELECT ROUND(m00 / 100, 6) + 0.0 AS mean_ctrl_pre,
       ROUND(m01 / 100, 6) + 0.0 AS mean_ctrl_post,
       ROUND(m10 / 100, 6) + 0.0 AS mean_treat_pre,
       ROUND(m11 / 100, 6) + 0.0 AS mean_treat_post,
       ROUND(((m11 - m10) - (m01 - m00)) / 100, 6) + 0.0 AS did,
       ROUND(SQRT(var_sum) / 100, 6) + 0.0 AS se
FROM wide
""")
def q_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the causal-effect workhorse when a
    feature launches for one cohort and not another — the treated
    arm's pre/post change minus the control arm's change cancels any
    shared trend (seasonality, platform growth) that a naive pre/post
    comparison would claim as impact. Reports the four cell means, the
    DiD estimate, and the large-sample standard error
    sqrt(sum s_cell^2 / n_cell). Completes the experimentation family:
    q_ab_ttest compares arms at one time, this compares CHANGES.

    Determinism: per-cell sufficient statistics are exact centi-unit
    integer sums; means/variances come out of one identical double
    tree; singleton or empty cells NULLIF their variance/mean to
    undefined rather than crashing (boundary corpora plant both).

    Scale: one conditional-aggregate map-side-combined pass over the
    fact table to a 4-row cell table; the pivot runs on those 4 rows."""
    split = F.lit(_SPLIT).cast("timestamp")
    cells = (load_table(spark, sf_dir, "events")
             .filter((F.col("event_type") == "purchase")
                     & F.col("user_id").isNotNull()
                     & F.col("value").isNotNull())
             .select((F.col("user_id") % 2).alias("treat"),
                     F.when(F.col("ts") >= split, 1).otherwise(0)
                     .alias("post"),
                     F.round(F.col("value") * 100).cast("long").alias("v")))
    s = cells.groupBy("treat", "post").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sx"),
        F.sum(F.col("v") * F.col("v")).alias("sxx"))

    def cell_mean(t: int, p: int) -> F.Column:
        return F.max(F.when((F.col("treat") == t) & (F.col("post") == p),
                            F.col("sx").cast("double") / F.col("n")))

    var_term = ((F.col("sxx").cast("double")
                 - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
                / F.nullif(F.col("n") - 1, F.lit(0)) / F.col("n"))
    wide = s.agg(cell_mean(0, 0).alias("m00"), cell_mean(0, 1).alias("m01"),
                 cell_mean(1, 0).alias("m10"), cell_mean(1, 1).alias("m11"),
                 F.sum(var_term).alias("var_sum"))
    return wide.select(
        (F.round(F.col("m00") / 100, 6) + 0.0).alias("mean_ctrl_pre"),
        (F.round(F.col("m01") / 100, 6) + 0.0).alias("mean_ctrl_post"),
        (F.round(F.col("m10") / 100, 6) + 0.0).alias("mean_treat_pre"),
        (F.round(F.col("m11") / 100, 6) + 0.0).alias("mean_treat_post"),
        (F.round(((F.col("m11") - F.col("m10"))
                  - (F.col("m01") - F.col("m00"))) / 100, 6) + 0.0)
        .alias("did"),
        (F.round(F.sqrt(F.col("var_sum")) / 100, 6) + 0.0).alias("se"))


# ---------------------------------------------------------------------------
# Bayesian A/B conversion readout
# ---------------------------------------------------------------------------

@query("q_bayes_ab", oracle="""
WITH per_user AS (
  SELECT user_id, user_id % 2 AS arm,
         MAX(CASE WHEN event_type = 'purchase' AND value > 100
                  THEN 1 ELSE 0 END) AS conv
  FROM events WHERE user_id IS NOT NULL
  GROUP BY user_id
), arms AS (
  SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS c_a,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
         SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS c_b
  FROM per_user
), post AS (
  SELECT n_a, c_a, n_b, c_b,
         (1 + c_a)::DOUBLE / NULLIF(n_a + 2, 0) AS ma,
         (1 + c_b)::DOUBLE / NULLIF(n_b + 2, 0) AS mb,
         (1 + c_a)::DOUBLE * (1 + n_a - c_a)
           / NULLIF((n_a + 2)::DOUBLE * (n_a + 2) * (n_a + 3), 0) AS va,
         (1 + c_b)::DOUBLE * (1 + n_b - c_b)
           / NULLIF((n_b + 2)::DOUBLE * (n_b + 2) * (n_b + 3), 0) AS vb
  FROM arms
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS c_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS c_b,
       ROUND(ma, 6) + 0.0 AS post_mean_a,
       ROUND(mb, 6) + 0.0 AS post_mean_b,
       ROUND((mb - ma) / NULLIF(SQRT(va + vb), 0), 6) + 0.0 AS z_b_minus_a
FROM post
""")
def q_bayes_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B conversion readout: per-arm Beta(1+c, 1+n-c)
    posterior means under a uniform prior plus the normal-approximation
    z-score of P(arm B > arm A) — the decision quantity a
    sequential-peeking-safe dashboard shows instead of a p-value
    (posterior statements stay valid under continuous monitoring;
    q_sprt is the frequentist sequential sibling). Conversion = user
    made a >100-value purchase.

    Determinism: per-user conversion is a MAX of integer indicators
    (NULL values compare UNKNOWN and fall to 0 on both engines);
    arm counts are exact integers; posterior moments are closed-form
    integer ratios through one identical double tree, empty arms
    NULLIF to undefined.

    Scale: one map-side-combined groupBy onto users, then a 1-row
    conditional aggregate — no shuffle wider than the user table."""
    per_user = (load_table(spark, sf_dir, "events")
                .filter(F.col("user_id").isNotNull())
                .groupBy("user_id")
                .agg(F.max(F.when((F.col("event_type") == "purchase")
                                  & (F.col("value") > 100), 1).otherwise(0))
                     .alias("conv"))
                .select((F.col("user_id") % 2).alias("arm"), "conv"))
    arms = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .alias("c_b"))
    n_a, c_a, n_b, c_b = (F.col(c).cast("double")
                          for c in ("n_a", "c_a", "n_b", "c_b"))
    ma = (1 + c_a) / F.nullif(n_a + 2, F.lit(0.0))
    mb = (1 + c_b) / F.nullif(n_b + 2, F.lit(0.0))
    va = ((1 + c_a) * (1 + n_a - c_a)
          / F.nullif((n_a + 2) * (n_a + 2) * (n_a + 3), F.lit(0.0)))
    vb = ((1 + c_b) * (1 + n_b - c_b)
          / F.nullif((n_b + 2) * (n_b + 2) * (n_b + 3), F.lit(0.0)))
    return arms.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("c_a").cast("long").alias("c_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("c_b").cast("long").alias("c_b"),
        (F.round(ma, 6) + 0.0).alias("post_mean_a"),
        (F.round(mb, 6) + 0.0).alias("post_mean_b"),
        (F.round((mb - ma) / F.nullif(F.sqrt(va + vb), F.lit(0.0)), 6)
         + 0.0).alias("z_b_minus_a"))


# ---------------------------------------------------------------------------
# Per-document TF-IDF keyword extraction
# ---------------------------------------------------------------------------

@query("q_keyword_tfidf", oracle=r"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(text, '\s+')) AS tok
  FROM documents WHERE text IS NOT NULL
), df AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents WHERE text IS NOT NULL
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE doc_id % 25 = 0 GROUP BY 1, 2
), scored AS (
  SELECT t.doc_id, t.tok, t.tf, d.df,
         CAST(ROUND(t.tf * (LN((n.n_docs + 1.0) / (d.df + 1)) + 1) * 1e9)
              AS BIGINT) AS s_nano
  FROM tf t JOIN df d USING (tok) CROSS JOIN n
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY s_nano DESC, tok) AS rk
  FROM scored
)
SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       ROUND(s_nano / 1e9, 6) + 0.0 AS tfidf
FROM ranked WHERE rk <= 3 ORDER BY doc_id, tok
""")
def q_keyword_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (smoothed idf
    ln((N+1)/(df+1)) + 1, the scikit-learn form) for a deterministic
    1/25 keyed document sample — per-document keyword extraction, the
    building block for tagging, weak topic labels, and inverted-index
    pruning (q_bm25 ranks documents FOR a query; this summarizes each
    document BY its most distinctive terms).

    Determinism: tf/df are exact integers over the shared whitespace
    tokenizer (q_token_topk parity); the score is quantized to integer
    nano-units BEFORE the top-3 ROW_NUMBER so rank ties cannot flip on
    a last ulp, with the token string as the final tiebreak.

    Scale: df is a corpus-wide map-side-combined groupBy (the
    vocabulary shuffle a 100 TB tokenizer run pays once and reuses);
    tf runs only on the sampled probe side (filter pushed to the
    scan); the top-3 window partitions by doc_id — millions of
    independent partitions, no skew."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull()))
    toks = d.select("doc_id", F.explode(F.split("text", _TOK)).alias("tok"))
    df_t = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (toks.filter(F.col("doc_id") % 25 == 0)
          .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    scored = (tf.join(df_t, "tok").crossJoin(F.broadcast(n))
              .select("doc_id", "tok", "tf", "df",
                      F.round(F.col("tf")
                              * (F.log((F.col("n_docs") + 1.0)
                                       / (F.col("df") + 1)) + 1) * 1e9)
                      .cast("long").alias("s_nano")))
    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.desc("s_nano"), F.asc("tok")))
    return (scored.withColumn("rk", rk).filter(F.col("rk") <= 3)
            .select("doc_id", "tok", F.col("tf").cast("long").alias("tf"),
                    F.col("df").cast("long").alias("df"),
                    (F.round(F.col("s_nano") / 1e9, 6) + 0.0).alias("tfidf"))
            .orderBy("doc_id", "tok"))


# ---------------------------------------------------------------------------
# Degree assortativity of the co-purchase graph
# ---------------------------------------------------------------------------

@query("q_assortativity", oracle="""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b ON b.l_orderkey = a.l_orderkey
                                 AND b.l_partkey > a.l_partkey
  WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0
), dir_e AS (
  SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e
), deg AS (
  SELECT u AS node, COUNT(*) AS d FROM dir_e GROUP BY u
), pairs AS (
  SELECT du.d AS dx, dv.d AS dy
  FROM dir_e JOIN deg du ON du.node = dir_e.u
             JOIN deg dv ON dv.node = dir_e.v
), s AS (
  SELECT COUNT(*) AS m, SUM(dx) AS sx, SUM(dy) AS sy, SUM(dx * dy) AS sxy,
         SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy
  FROM pairs
)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       ROUND((m::DOUBLE * sxy - sx::DOUBLE * sy)
             / NULLIF(SQRT((m::DOUBLE * sxx - sx::DOUBLE * sx)
                           * (m::DOUBLE * syy - sy::DOUBLE * sy)), 0),
             6) + 0.0 AS assortativity
FROM s
""")
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — the Pearson
    correlation of endpoint degrees over all (directed) edges: positive
    means hubs buy what other hubs buy (popularity clustering),
    negative means hub-to-leaf structure. The one-number topology
    summary read BEFORE trusting q_pagerank / q_kcore / community
    output, because assortativity decides which degree-capping and
    sampling strategies are safe on this graph.

    Determinism: degrees and all six sufficient statistics are exact
    integer sums; r is one identical double expression, degenerate
    (regular or empty) graphs NULLIF to undefined.

    Scale: reuses the CACHED co-purchase edge list shared with
    q_triangle_count / q_kcore / q_label_propagation
    (retrieval.py::_copurchase_edges, the round-10 repeated-subtree
    fix) — the lineitem self-join materializes once per session, and
    this query adds only |E|-row joins against the degree table."""
    from .retrieval import _copurchase_edges

    e = _copurchase_edges(spark, sf_dir)
    dir_e = (e.select(F.col("pa").alias("u"), F.col("pb").alias("v"))
             .unionAll(e.select(F.col("pb").alias("u"),
                                F.col("pa").alias("v"))))
    deg = dir_e.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d"))
    pairs = (dir_e
             .join(deg.select(F.col("node").alias("u"),
                              F.col("d").alias("dx")), "u")
             .join(deg.select(F.col("node").alias("v"),
                              F.col("d").alias("dy")), "v"))
    s = pairs.agg(F.count(F.lit(1)).alias("m"),
                  F.sum("dx").alias("sx"), F.sum("dy").alias("sy"),
                  F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
                  F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
                  F.sum(F.col("dy") * F.col("dy")).alias("syy"))
    m, sx, sy, sxy, sxx, syy = (F.col(c).cast("double")
                                for c in ("m", "sx", "sy", "sxy", "sxx",
                                          "syy"))
    return s.select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        (F.round((m * sxy - sx * sy)
                 / F.nullif(F.sqrt((m * sxx - sx * sx) * (m * syy - sy * sy)),
                            F.lit(0.0)), 6) + 0.0).alias("assortativity"))


# ---------------------------------------------------------------------------
# Decision-stump information gain
# ---------------------------------------------------------------------------

@query("q_info_gain", oracle="""
WITH lab AS (
  SELECT o_orderpriority AS pri,
         CASE WHEN o_totalprice >= 250000 THEN 1 ELSE 0 END AS side,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), s AS (
  SELECT pri, COUNT(*) AS n, SUM(y) AS pos,
         SUM(side) AS n_hi, SUM(side * y) AS pos_hi
  FROM lab GROUP BY pri
), h AS (
  SELECT pri, n, pos, n_hi, pos_hi, n - n_hi AS n_lo, pos - pos_hi AS pos_lo
  FROM s
)
SELECT pri, CAST(n AS BIGINT) AS n,
       ROUND((
         -- parent entropy
         (CASE WHEN pos = 0 OR pos = n THEN 0
               ELSE -(pos::DOUBLE / n) * LN(pos::DOUBLE / n)
                    - ((n - pos)::DOUBLE / n) * LN((n - pos)::DOUBLE / n)
          END)
         -- minus weighted child entropies
         - (n_hi::DOUBLE / n)
           * (CASE WHEN n_hi = 0 OR pos_hi = 0 OR pos_hi = n_hi THEN 0
                   ELSE -(pos_hi::DOUBLE / n_hi) * LN(pos_hi::DOUBLE / n_hi)
                        - ((n_hi - pos_hi)::DOUBLE / n_hi)
                          * LN((n_hi - pos_hi)::DOUBLE / n_hi) END)
         - (n_lo::DOUBLE / n)
           * (CASE WHEN n_lo = 0 OR pos_lo = 0 OR pos_lo = n_lo THEN 0
                   ELSE -(pos_lo::DOUBLE / n_lo) * LN(pos_lo::DOUBLE / n_lo)
                        - ((n_lo - pos_lo)::DOUBLE / n_lo)
                          * LN((n_lo - pos_lo)::DOUBLE / n_lo) END)
       ) * 1000, 6) + 0.0 AS info_gain_milli
FROM h ORDER BY pri
""")
def q_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump information gain per order priority: how many
    millinats of label entropy (order failure) the split
    "totalprice >= 250000" removes — the inner step of tree/forest
    learners and THE standard feature-usefulness screen (WOE/IV's
    sibling with entropy in place of log-odds; q_woe_iv scores a
    binned feature, this scores one candidate split exactly).

    Determinism: all eight per-group sufficient statistics are exact
    integer conditional counts from ONE pass; every p*ln(p) term is
    CASE-guarded at p in {0,1} (0 ln 0 := 0 — ANSI would otherwise
    produce -inf*0 = NaN) identically on both engines.

    Scale: a single map-side-combined conditional-aggregate groupBy;
    output is |groups| rows. Screening k candidate splits batches k
    conditional sums into the same single pass."""
    lab = (load_table(spark, sf_dir, "orders")
           .select(F.col("o_orderpriority").alias("pri"),
                   F.when(F.col("o_totalprice") >= 250000, 1).otherwise(0)
                   .alias("side"),
                   F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
                   .alias("y")))
    s = lab.groupBy("pri").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"),
        F.sum("side").alias("n_hi"),
        F.sum(F.col("side") * F.col("y")).alias("pos_hi"))
    s = s.withColumn("n_lo", F.col("n") - F.col("n_hi")) \
         .withColumn("pos_lo", F.col("pos") - F.col("pos_hi"))

    def entropy(pos: F.Column, n: F.Column) -> F.Column:
        p = pos.cast("double") / n
        q = (n - pos).cast("double") / n
        return F.when((pos == 0) | (pos == n), F.lit(0.0)) \
                .otherwise(-p * F.log(p) - q * F.log(q))

    child_hi = F.when(F.col("n_hi") == 0, F.lit(0.0)) \
                .otherwise(entropy(F.col("pos_hi"), F.col("n_hi")))
    ig = (entropy(F.col("pos"), F.col("n"))
          - (F.col("n_hi").cast("double") / F.col("n")) * child_hi
          - (F.col("n_lo").cast("double") / F.col("n"))
          * F.when(F.col("n_lo") == 0, F.lit(0.0))
             .otherwise(entropy(F.col("pos_lo"), F.col("n_lo"))))
    return (s.select("pri", F.col("n").cast("long").alias("n"),
                     (F.round(ig * 1000, 6) + 0.0).alias("info_gain_milli"))
            .orderBy("pri"))


# ---------------------------------------------------------------------------
# Sequential probability ratio test per event stream
# ---------------------------------------------------------------------------

@query("q_sprt", oracle=f"""
WITH obs AS (
  SELECT event_type, ts, event_id,
         CASE WHEN value > 34 THEN 1 ELSE 0 END AS x
  FROM events WHERE value IS NOT NULL
), walk AS (
  SELECT event_type,
         ROW_NUMBER() OVER w AS n,
         SUM(x) OVER (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS succ
  FROM obs
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
), llr AS (
  SELECT event_type, n,
         succ * LN(0.55 / 0.45) + (n - succ) * LN(0.45 / 0.55) AS llr
  FROM walk
), crossing AS (
  SELECT event_type, n, llr,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n) AS rk
  FROM llr
  WHERE llr >= LN(19.0) OR llr <= -LN(19.0)
), totals AS (
  SELECT event_type, COUNT(*) AS n_obs FROM obs GROUP BY event_type
)
SELECT t.event_type, CAST(t.n_obs AS BIGINT) AS n_obs,
       CASE WHEN c.n IS NULL THEN 'continue'
            WHEN c.llr > 0 THEN 'accept_h1' ELSE 'accept_h0' END AS decision,
       CAST(c.n AS BIGINT) AS n_at_decision,
       ROUND(c.llr, 6) + 0.0 AS llr_at_decision
FROM totals t LEFT JOIN crossing c ON c.event_type = t.event_type
                                   AND c.rk = 1
ORDER BY t.event_type
""")
def q_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test per event stream:
    H0 p=0.45 vs H1 p=0.55 on the indicator value > 34, boundaries
    ±ln 19 (alpha = beta = 0.05) — the early-stopping test that ends an
    experiment the moment the evidence suffices (on average far sooner
    than any fixed-n design) while provably holding both error rates
    under CONTINUOUS peeking. The Bayesian sibling is q_bayes_ab;
    q_changepoint's CUSUM is the same walk hunting a shift instead of
    deciding a hypothesis.

    Determinism: the cumulative LLR is succ*ln(p1/p0) +
    (n-succ)*ln((1-p1)/(1-p0)) where succ and n are exact INTEGER
    window cumsums — the float multiply happens once per row on
    identical integers, so no float fold order exists anywhere; the
    first crossing is picked by integer n. NULL values are excluded
    identically both engines.

    Scale: one window pass partitioned by the experiment stream (five
    types here; a real deployment keys thousands of concurrent
    experiments), a filtered first-crossing lookup joined back to
    per-stream totals."""
    obs = (load_table(spark, sf_dir, "events")
           .filter(F.col("value").isNotNull())
           .select("event_type", "ts", "event_id",
                   F.when(F.col("value") > 34, 1).otherwise(0).alias("x")))
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    walk = obs.select(
        "event_type", F.row_number().over(w).alias("n"),
        F.sum("x").over(w.rowsBetween(W.unboundedPreceding, 0))
        .alias("succ"))
    import math
    l1, l0 = math.log(0.55 / 0.45), math.log(0.45 / 0.55)
    llr = walk.select(
        "event_type", "n",
        (F.col("succ") * l1 + (F.col("n") - F.col("succ")) * l0)
        .alias("llr"))
    bound = math.log(19.0)
    crossing = (llr.filter((F.col("llr") >= bound) | (F.col("llr") <= -bound))
                .withColumn("rk", F.row_number().over(
                    W.partitionBy("event_type").orderBy("n")))
                .filter(F.col("rk") == 1))
    totals = obs.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_obs"))
    return (totals.join(crossing.select("event_type", "n", "llr"),
                        "event_type", "left")
            .select("event_type", F.col("n_obs").cast("long").alias("n_obs"),
                    F.when(F.col("n").isNull(), "continue")
                    .when(F.col("llr") > 0, "accept_h1")
                    .otherwise("accept_h0").alias("decision"),
                    F.col("n").cast("long").alias("n_at_decision"),
                    (F.round("llr", 6) + 0.0).alias("llr_at_decision"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Kendall rank correlation (tau-b) per group, from the bounded
# contingency grid (round 13)
# ---------------------------------------------------------------------------

@query("q_kendall_tau", oracle="""
WITH per_order AS (
  SELECT o.o_orderpriority AS pri,
         CAST(FLOOR(o.o_totalprice / 20000) AS BIGINT) AS xb,
         COUNT(*) AS yb
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, o.o_orderkey, 2
), cells AS (
  SELECT pri, xb, yb, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM per_order GROUP BY 1, 2, 3
), cd AS (
  SELECT a.pri,
         COALESCE(SUM(CASE WHEN b.yb > a.yb
                           THEN a.cnt * b.cnt END), 0) AS c_pairs,
         COALESCE(SUM(CASE WHEN b.yb < a.yb
                           THEN a.cnt * b.cnt END), 0) AS d_pairs
  FROM cells a JOIN cells b
    ON b.pri = a.pri AND b.xb > a.xb AND b.yb <> a.yb
  GROUP BY 1
), xm AS (
  SELECT pri, SUM(t * (t - 1)) AS n1d FROM (
    SELECT pri, xb, SUM(cnt) AS t FROM cells GROUP BY 1, 2)
  GROUP BY 1
), ym AS (
  SELECT pri, SUM(t * (t - 1)) AS n2d FROM (
    SELECT pri, yb, SUM(cnt) AS t FROM cells GROUP BY 1, 2)
  GROUP BY 1
), tot AS (
  SELECT pri, SUM(cnt) AS n FROM cells GROUP BY 1
)
SELECT t.pri AS pri, CAST(t.n AS BIGINT) AS n,
       ROUND(2.0 * (COALESCE(cd.c_pairs, 0) - COALESCE(cd.d_pairs, 0))
             / NULLIF(SQRT((t.n * (t.n - 1) - xm.n1d)::DOUBLE
                           * (t.n * (t.n - 1) - ym.n2d)::DOUBLE), 0),
             6) + 0.0 AS kendall_tau
FROM tot t
JOIN xm USING (pri) JOIN ym USING (pri)
LEFT JOIN cd ON cd.pri = t.pri
ORDER BY pri
""")
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank correlation (tau-b) per order priority between the
    order-value bucket and the basket size — the pair-concordance
    companion to q_spearman's rank-moment form: tau reads directly as
    P(concordant) - P(discordant), is even more outlier-proof, and is
    the agreement measure of choice for comparing two RANKERS (judge
    scores vs model scores in eval pipelines; q_rbo_overlap compares
    top-k lists, tau compares full orderings).

    Semantics: tau-b on the QUANTIZED grid (price in 20k buckets,
    basket size exact) — ties from the bucketing enter the tau-b
    denominator exactly, so the statistic is the textbook tau-b of the
    bucketed pair, not an approximation of the unbucketed one.

    Determinism: concordant/discordant/tie counts are exact integer
    sums (pair products of BIGINT cell counts; C <= n(n-1)/2 keeps the
    sums inside BIGINT up to ~1e9 rows per group); tau is one double
    expression identical on both engines, NULLIF-guarded for the
    all-tied group.

    Scale: the O(n^2) pair sum collapses onto the CONTINGENCY GRID —
    one map-side-combined groupBy to per-order rows, one to cells
    (bounded: |priorities| x ~30 price buckets x ~7 basket sizes), then
    a broadcast theta self-join over those bounded cells (~1k rows;
    never the fact table). Margins and totals are three more
    aggregates over the same bounded cells — AQE reuses the cells
    exchange across the consumers, the q_hits_step pattern. At 100 TB
    nothing downstream of the per-order groupBy depends on data size."""
    # Runs on the stock-floor child session because an interleaved
    # min-of-3 A/B (sf0.1, local[32]) measured it faster there:
    # 2.53 / 2.28 s under the 64 KB floor, 1.66 / 1.31 s at stock.
    # The plan is a chain of bounded aggregates/windows over mid-size
    # shuffles, where the floor's extra partitions only add task overhead.
    spark = stock_coalesce_floor(spark)
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (od.join(li, li.l_orderkey == od.o_orderkey)
                 .groupBy(F.col("o_orderpriority").alias("pri"),
                          F.col("o_orderkey").alias("ok"),
                          F.floor(F.col("o_totalprice") / 20000)
                          .cast("long").alias("xb"))
                 .agg(F.count(F.lit(1)).alias("yb")))
    cells = (per_order.groupBy("pri", "xb", "yb")
             .agg(F.count(F.lit(1)).cast("long").alias("cnt")))

    a = cells.select(F.col("pri").alias("p"), F.col("xb").alias("ax"),
                     F.col("yb").alias("ay"), F.col("cnt").alias("an"))
    b = cells.select(F.col("pri").alias("p2"), F.col("xb").alias("bx"),
                     F.col("yb").alias("by"), F.col("cnt").alias("bn"))
    # No explicit broadcast hint (r13): a planned BroadcastExchange
    # rebuilds the whole fact pipeline for the build side (broadcast
    # branches cannot read a reused shuffle — stage-profiled: two
    # identical 2.5 MB single-task map stages). Left to AQE, the build
    # side reads the SAME reused cells exchange and is converted to a
    # runtime broadcast anyway (bounded ~1k cells).
    cd = (a.join(b,
                 (F.col("p") == F.col("p2"))
                 & (F.col("bx") > F.col("ax"))
                 & (F.col("by") != F.col("ay")))
          .groupBy(F.col("p").alias("pri"))
          .agg(F.coalesce(F.sum(F.when(F.col("by") > F.col("ay"),
                                       F.col("an") * F.col("bn"))),
                          F.lit(0)).alias("c_pairs"),
               F.coalesce(F.sum(F.when(F.col("by") < F.col("ay"),
                                       F.col("an") * F.col("bn"))),
                          F.lit(0)).alias("d_pairs")))
    # r14 (guide §1.2): n = sum over cells = sum over the x-margin's
    # per-bucket totals, so the group total rides the x-margin
    # aggregate instead of a THIRD aggregate branch + join over the
    # cells exchange (exact integer algebra either way — same n).
    xm = (cells.groupBy("pri", "xb").agg(F.sum("cnt").alias("t"))
          .groupBy("pri")
          .agg(F.sum(F.col("t") * (F.col("t") - 1)).alias("n1d"),
               F.sum("t").alias("n")))
    ym = (cells.groupBy("pri", "yb").agg(F.sum("cnt").alias("t"))
          .groupBy("pri")
          .agg(F.sum(F.col("t") * (F.col("t") - 1)).alias("n2d")))

    n = F.col("n").cast("double")
    n0d = n * (n - F.lit(1.0))
    return (xm.join(ym, "pri")
            .join(cd, "pri", "left")
            .select(
                "pri", F.col("n").cast("long").alias("n"),
                (F.round(2.0 * (F.coalesce(F.col("c_pairs"), F.lit(0))
                                - F.coalesce(F.col("d_pairs"), F.lit(0)))
                         .cast("double")
                         / F.nullif(F.sqrt(
                             (n0d - F.col("n1d").cast("double"))
                             * (n0d - F.col("n2d").cast("double"))),
                             F.lit(0.0)), 6) + 0.0)
                .alias("kendall_tau"))
            .orderBy("pri"))


# ---------------------------------------------------------------------------
# Benjamini-Hochberg step-up FDR gate over a test battery (round 13)
# ---------------------------------------------------------------------------

@query("q_benjamini_hochberg", oracle="""
WITH cell AS (
  SELECT CAST(MONTH(l_shipdate) AS BIGINT) AS ship_month,
         l_returnflag AS returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS s_centi,
         SUM(CAST(ROUND(l_discount * 100) AS BIGINT)
             * CAST(ROUND(l_discount * 100) AS BIGINT)) AS s2_centi
  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1, 2
), g AS (
  SELECT CAST(SUM(n) AS BIGINT) AS ng,
         CAST(SUM(s_centi) AS BIGINT) AS sg,
         CAST(SUM(s2_centi) AS BIGINT) AS s2g
  FROM cell
), z AS (
  SELECT ship_month, returnflag, n,
         (s_centi::DOUBLE / n - sg::DOUBLE / ng)
         / NULLIF(SQRT((s2g::DOUBLE / ng
                        - (sg::DOUBLE / ng) * (sg::DOUBLE / ng))
                       / n), 0) AS zval
  FROM cell CROSS JOIN g
), p AS (
  SELECT ship_month, returnflag, n, zval,
         ROUND(EXP(-zval * zval / 2), 9) AS p_tilde
  FROM z WHERE zval IS NOT NULL
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY p_tilde, ship_month, returnflag)
           AS rk,
         COUNT(*) OVER () AS m
  FROM p
), kstar AS (
  SELECT COALESCE(MAX(CASE WHEN p_tilde <= rk * 0.10 / m
                           THEN rk END), 0) AS k
  FROM ranked
)
SELECT ship_month, returnflag, CAST(n AS BIGINT) AS n,
       ROUND(zval, 6) + 0.0 AS z,
       p_tilde + 0.0 AS p_tilde,
       CAST(rk AS BIGINT) AS rk,
       (rk <= k) AS rejected
FROM ranked CROSS JOIN kstar
ORDER BY rk
""")
def q_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control over a battery of
    per-cell location tests — the multiple-testing gate every
    monitoring/experimentation battery in this package feeds (run 21
    drift tests a day and one will "fail" daily at alpha=0.05; BH
    bounds the expected FALSE-DISCOVERY share of the flagged set at q
    instead). Battery: per (ship month, returnflag) cell, a one-sample z
    of mean discount vs the global mean under the global variance;
    p_tilde = exp(-z^2/2) is the normal-tail CHERNOFF BOUND — a
    documented monotone transform of |z| (not the exact tail area; no
    erf on either engine), which BH only needs for its RANKING, so the
    rejection ORDER equals the exact-p order. Step-up at q = 0.10:
    sort p ascending, k* = max{k: p_(k) <= k*q/m}, reject ranks <= k*.

    Determinism: cell moments are exact integer centi-sums; z and
    p_tilde are identical double expressions, p_tilde rounded at 9
    digits WITH the (ship_month, returnflag) tiebreak before ranking so
    last-ulp exp() differences cannot flip a rank; the threshold
    comparison uses the same rounded p on both engines.

    Scale: one map-side-combined groupBy to the bounded battery
    (12 months x |returnflags| ~ 36 cells), a 1-row global broadcast,
    then ranking windows over the BOUNDED battery only — the step-up
    scan never touches fact rows. m is data-independent at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    centi = F.round(F.col("l_discount") * 100).cast("long")
    cell = (li.filter(F.col("l_shipdate").isNotNull())
            .groupBy(F.month("l_shipdate").cast("long")
                     .alias("ship_month"),
                     F.col("l_returnflag").alias("returnflag"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(centi).alias("s_centi"),
                 F.sum(centi * centi).alias("s2_centi")))
    g = cell.agg(F.sum("n").alias("ng"), F.sum("s_centi").alias("sg"),
                 F.sum("s2_centi").alias("s2g"))
    nd = F.col("n").cast("double")
    mu_g = F.col("sg").cast("double") / F.col("ng").cast("double")
    var_g = (F.col("s2g").cast("double") / F.col("ng").cast("double")
             - mu_g * mu_g)
    zval = ((F.col("s_centi").cast("double") / nd - mu_g)
            / F.nullif(F.sqrt(var_g / nd), F.lit(0.0)))
    p = (cell.crossJoin(F.broadcast(g))
         .select("ship_month", "returnflag", "n", zval.alias("zval"))
         .filter(F.col("zval").isNotNull())
         .withColumn("p_tilde",
                     F.round(F.exp(-F.col("zval") * F.col("zval") / 2), 9)))
    w = W.orderBy("p_tilde", "ship_month", "returnflag")
    ranked = p.select(
        "*", F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(
            w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("m"))
    kstar = ranked.agg(F.coalesce(
        F.max(F.when(F.col("p_tilde") <= F.col("rk") * 0.10 / F.col("m"),
                     F.col("rk"))), F.lit(0)).alias("k"))
    return (ranked.crossJoin(F.broadcast(kstar))
            .select("ship_month", "returnflag",
                    F.col("n").cast("long").alias("n"),
                    (F.round("zval", 6) + 0.0).alias("z"),
                    (F.col("p_tilde") + 0.0).alias("p_tilde"),
                    F.col("rk").cast("long").alias("rk"),
                    (F.col("rk") <= F.col("k")).alias("rejected"))
            .orderBy("rk"))


# ---------------------------------------------------------------------------
# Krippendorff's alpha (nominal) per group (round 13)
# ---------------------------------------------------------------------------

@query("q_krippendorff_alpha", oracle="""
WITH r AS (
  SELECT o.o_orderpriority AS pri, l.l_orderkey AS ok,
         l.l_returnflag AS cat
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), g1 AS (
  SELECT pri, ok, cat, CAST(COUNT(*) AS BIGINT) AS nuc
  FROM r GROUP BY 1, 2, 3
), g2 AS (
  SELECT pri, ok, CAST(SUM(nuc) AS BIGINT) AS m,
         CAST(SUM(nuc * nuc) AS BIGINT) AS s2
  FROM g1 GROUP BY 1, 2 HAVING SUM(nuc) >= 2
), so AS (
  SELECT pri, CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(m) AS BIGINT) AS n_tot,
         CAST(SUM(CAST(ROUND((m * m - s2) * 1000000000.0 / (m - 1))
                       AS BIGINT)) AS BIGINT) AS s_nano
  FROM g2 GROUP BY 1
), marg AS (
  SELECT g1.pri, g1.cat, CAST(SUM(g1.nuc) AS BIGINT) AS nc
  FROM g1 JOIN g2 ON g2.pri = g1.pri AND g2.ok = g1.ok
  GROUP BY 1, 2
), m2 AS (
  SELECT pri, SUM(nc * nc) AS sum_nc2 FROM marg GROUP BY 1
)
SELECT so.pri AS pri, CAST(n_units AS BIGINT) AS n_units,
       CAST(n_tot AS BIGINT) AS n_ratings,
       ROUND(1.0 - (n_tot - 1)::DOUBLE * (s_nano::DOUBLE / 1e9)
             / NULLIF(n_tot::DOUBLE * n_tot - sum_nc2::DOUBLE, 0),
             6) + 0.0 AS alpha
FROM so JOIN m2 ON m2.pri = so.pri
ORDER BY pri
""")
def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal) per order priority — the
    agreement coefficient that completes the labeling-QA family
    (q_cohens_kappa: 2 raters, q_fleiss_kappa: fixed rater count,
    q_gwet_ac1: prevalence-robust 2-rater, q_icc: continuous):
    alpha handles VARYING numbers of ratings per unit and missing
    ratings natively, which is how real annotation queues look.
    Demo framing: each order is a unit, its line-level return flags
    are the "ratings" — units with fewer than two ratings drop, per
    the coincidence-matrix definition.

    Semantics (nominal data, closed form): within unit u with m
    ratings and per-category counts n_uc, the disagreeing ordered
    pairs number m^2 - sum_c n_uc^2; Krippendorff's coincidence
    weighting divides by (m - 1). With n.. total pairable ratings and
    category margins n_c,
    ``alpha = 1 - (n.. - 1) * S_o / (n..^2 - sum_c n_c^2)``,
    S_o = sum_u (m_u^2 - sum_c n_uc^2) / (m_u - 1). Perfect agreement
    gives S_o = 0 -> alpha = 1; a single-category group NULLIFs.

    Determinism: the per-unit rational term is nano-quantized before
    the cross-unit sum (order-free); margins and totals are exact
    integer sums; the closing expression is one identical double form
    (n..^2 computed in DOUBLE on both engines — it crosses 2^63 at
    ~3e9 ratings per group).

    Scale: two keyed map-side-combined groupBys (unit-category, then
    unit), one keyed equi-join of margins back onto kept units, and a
    final bounded per-priority aggregate. State never exceeds
    |units| rows; nothing is cross-joined or sorted globally."""
    # Runs on the stock-floor child session because an interleaved
    # min-of-3 A/B (sf0.1, local[32]) measured it faster there:
    # 2.28 / 2.34 s under the 64 KB floor, 2.00 / 1.57 s at stock.
    # The plan is a chain of bounded aggregates/windows over mid-size
    # shuffles, where the floor's extra partitions only add task overhead.
    spark = stock_coalesce_floor(spark)
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    g1 = (li.join(od, od.o_orderkey == li.l_orderkey)
          .groupBy(F.col("o_orderpriority").alias("pri"),
                   F.col("l_orderkey").alias("ok"),
                   F.col("l_returnflag").alias("cat"))
          .agg(F.count(F.lit(1)).cast("long").alias("nuc")))
    g2 = (g1.groupBy("pri", "ok")
          .agg(F.sum("nuc").alias("m"),
               F.sum(F.col("nuc") * F.col("nuc")).alias("s2"))
          .filter(F.col("m") >= 2))
    so = (g2.groupBy("pri")
          .agg(F.count(F.lit(1)).alias("n_units"),
               F.sum("m").alias("n_tot"),
               F.sum(F.round((F.col("m") * F.col("m") - F.col("s2"))
                             * 1000000000.0 / (F.col("m") - 1))
                     .cast("long")).alias("s_nano")))
    marg = (g1.join(g2.select("pri", "ok"), ["pri", "ok"])
            .groupBy("pri", "cat").agg(F.sum("nuc").alias("nc")))
    m2 = (marg.groupBy("pri")
          .agg(F.sum(F.col("nc") * F.col("nc")).alias("sum_nc2")))
    ntd = F.col("n_tot").cast("double")
    return (so.join(m2, "pri")
            .select("pri",
                    F.col("n_units").cast("long").alias("n_units"),
                    F.col("n_tot").cast("long").alias("n_ratings"),
                    (F.round(1.0 - (ntd - 1.0)
                             * (F.col("s_nano").cast("double") / 1e9)
                             / F.nullif(ntd * ntd
                                        - F.col("sum_nc2").cast("double"),
                                        F.lit(0.0)), 6) + 0.0)
                    .alias("alpha"))
            .orderBy("pri"))
