"""Retrieval, graph, and data-layout operators for corpus curation
(extends SURVEY.md §2.11's training-data family).

Everything here follows the repo's oracle-determinism rules:

- selection and ranking keys are integers, strings, or md5 digests —
  never raw float sums (the q_weighted_sample lesson);
- float *outputs* are either exact rationals (integer numerator /
  integer denominator, one IEEE division) or left-folded over an
  identically-sorted term list on both engines before ROUND;
- every scale-critical plan shape is pinned by a test in
  ``tests/test_plans.py`` (no CartesianProduct, no single-partition
  Exchange, map-only where claimed).

Reference parity: the reference pipeline (core.py) has no retrieval or
layout stage; these operators extend the engine for the 100 TB
training-data use case the brief names first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.cache_slot import CacheSlot
from ..sources import load_table
from ..session import stock_coalesce_floor
from .registry import query

#: The co-purchase edge list (parts sharing an order, %4 sample) is the
#: base graph for q_triangle_count, q_label_propagation, and q_kcore.
#: Uncached, every iterative consumer re-embeds the lineitem self-join
#: once per plan branch per round — the r10 plan sweep measured 30-60
#: lineitem scans in one kcore/triangle plan, which at 100 TB is 30-60
#: full fact-table passes. One shared slot: all three queries build the
#: IDENTICAL plan, so CacheSlot's plan-equivalence check keeps a single
#: cached relation across them (bounded executor storage).
_COPURCHASE_EDGES = CacheSlot()


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached undirected co-purchase edges ``(pa, pb)``, pa < pb."""
    li = load_table(spark, sf_dir, "lineitem")
    a, b = li.alias("a"), li.alias("b")
    return _COPURCHASE_EDGES.own(
        a.join(b, (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
               & (F.col("b.l_partkey") > F.col("a.l_partkey")))
        .filter((F.col("a.l_partkey") % 4 == 0)
                & (F.col("b.l_partkey") % 4 == 0))
        .select(F.col("a.l_partkey").alias("pa"),
                F.col("b.l_partkey").alias("pb"))
        .distinct())

#: Whitespace tokenizer shared with queries/llm.py (same regex both engines).
_TOK = r"\s+"


# ---------------------------------------------------------------------------
# Inverted index construction
# ---------------------------------------------------------------------------

@query("q_inverted_index", oracle=r"""
WITH t AS (
  SELECT doc_id, UNNEST(list_distinct(string_split_regex(lower(text), '\s+'))) AS term
  FROM documents
)
SELECT term,
       COUNT(*) AS df,
       array_to_string(list_sort(list(doc_id)), ',') AS postings
FROM t
WHERE term <> ''
GROUP BY term
HAVING COUNT(*) >= 5
""")
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: term -> (document frequency, sorted
    posting list). The retrieval-side dual of q_bm25 (which consumes
    df): this materializes the index itself, the way a sparse-retrieval
    or decontamination stage would persist it.

    Scale: explode of per-doc *distinct* terms (dedup happens map-side
    inside the row, before the shuffle), then one map-side-combined
    groupBy on term; the shuffle carries (term, doc_id) pairs only.
    Posting lists are collected per term — at 100 TB posting lists for
    stop-like terms are the skew risk, so production caps list length
    per (term, shard) and stores the index bucketed by term (the
    ``HAVING df >= 5`` floor here is the inverse guard: drop hapax
    noise). Output is the compact string form so the driver hash is
    engine-neutral."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    terms = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower("text"), _TOK))).alias("term"),
    ).filter(F.col("term") != "")
    return (
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias("postings"),
        )
        .filter(F.col("df") >= 5)
    )


# ---------------------------------------------------------------------------
# Sparse (term-space) cosine similarity via an inverted-index join
# ---------------------------------------------------------------------------

@query("q_sparse_cosine", oracle=r"""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (
    SELECT doc_id, UNNEST(string_split_regex(lower(text), '\s+')) AS term
    FROM documents
  )
  WHERE term <> ''
  GROUP BY doc_id, term
), norms AS (
  SELECT doc_id, SUM(tf * tf) AS n2 FROM tf GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.tf * b.tf) AS dot
  FROM tf a JOIN tf b ON b.term = a.term AND b.doc_id = a.doc_id + 1
  GROUP BY a.doc_id, b.doc_id
)
SELECT d.doc_a, d.doc_b, CAST(d.dot AS BIGINT) AS dot,
       ROUND(d.dot / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 6) AS cosine
FROM dots d
JOIN norms na ON na.doc_id = d.doc_a
JOIN norms nb ON nb.doc_id = d.doc_b
""")
def q_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse cosine similarity in term space, computed as an
    inverted-index self-join: dot(a, b) = sum over shared terms of
    tf_a * tf_b. The sparse dual of q_sim_topk's dense cosine — this is
    how near-dup candidates are scored when embeddings don't exist yet.

    Demonstrated on consecutive doc pairs (the registry's standard
    bounded-pair harness, cf. q_ngram_jaccard) so the oracle is
    all-integer until one final sqrt/divide: tf counts and dot products
    are exact BIGINTs, both engines' IEEE sqrt/divide are correctly
    rounded, so the ROUND(6) output is bit-stable — no float-sum
    ordering anywhere.

    Scale: the real candidate generator is the same join keyed on term
    with a df ceiling (drop stop-terms before the join, exactly like
    q_bm25 filters to query terms) — shuffle size is sum over terms of
    df^2 restricted to rare terms, never |docs|^2. The pair predicate
    here stands in for the LSH/banding candidate filter."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), _TOK)).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    norms = tf.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    a, b = tf.alias("a"), tf.alias("b")
    dots = (
        a.join(b, (F.col("b.term") == F.col("a.term"))
               & (F.col("b.doc_id") == F.col("a.doc_id") + 1))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    return (
        dots.join(na, F.col("na.doc_id") == F.col("doc_a"))
        .join(nb, F.col("nb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "dot",
            F.round(
                F.col("dot")
                / (F.sqrt(F.col("na.n2").cast("double"))
                   * F.sqrt(F.col("nb.n2").cast("double"))),
                6,
            ).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic per-group reservoir sampling
# ---------------------------------------------------------------------------

@query("q_sample_reservoir", oracle="""
SELECT lang, doc_id, n_chars
FROM (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
  FROM documents
)
WHERE rk <= 5
""")
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group reservoir sampling, k=5 docs per language, with a
    content-derived priority (md5 of the text) instead of a RNG — the
    reproducible form of reservoir sampling: re-running on the same
    corpus yields the same sample, and the sample is independent of row
    order / partitioning (q_weighted_sample's uniform-weight cousin,
    but per-group and windowed rather than global top-k).

    Scale: one hash-partitioned window per group key; no global sort.
    Groups far larger than memory are fine — rank() early-stops nothing
    here, but at 100 TB the same semantics ship as a per-partition
    top-k (A-Res on the md5 key) followed by a per-group merge of k·P
    candidates, which `operators/rank.py` already scaffolds for the
    epoch shuffle."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    return (
        d.select("lang", "doc_id", "n_chars",
                 F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
        .drop("rk")
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout keys
# ---------------------------------------------------------------------------

@query("q_zorder_key", oracle="""
WITH q AS (
  SELECT p_partkey,
         CAST(p_partkey % 256 AS BIGINT) AS x,
         CAST(p_size AS BIGINT)          AS y
  FROM part
)
SELECT p_partkey, x, y,
       CAST(list_sum(list_transform(range(0, 8),
              i -> ((x >> i) & 1) * (1::BIGINT << (2 * i))
                 + ((y >> i) & 1) * (1::BIGINT << (2 * i + 1))))
            AS BIGINT) AS zval,
       CAST(list_sum(list_transform(range(0, 8),
              i -> ((x >> i) & 1) * (1::BIGINT << (2 * i))
                 + ((y >> i) & 1) * (1::BIGINT << (2 * i + 1))))
            AS BIGINT) // 4096 AS zbucket
FROM q
""")
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) interleaved layout key over two scan dimensions
    (partkey-mod and size), plus the coarse bucket a writer would
    range-partition on. This is the data-layout operator behind
    multi-dimensional data skipping: writing files clustered by zval
    keeps both ``x BETWEEN``- and ``y BETWEEN``-style predicates
    selective against parquet min/max footers, where a lexicographic
    sort only serves its leading column.

    All-integer bit arithmetic (8 bits per dimension, folded with a
    HOF) — exact on both engines. Map-only: zero Exchange, zero UDF
    (pinned by test_zorder_map_only). The production write is
    ``df.repartitionByRange("zbucket").sortWithinPartitions("zval")``;
    the key computation shown here is the whole cost added to the
    write path."""
    p = load_table(spark, sf_dir, "part")
    q = p.select(
        "p_partkey",
        (F.col("p_partkey") % 256).cast("long").alias("x"),
        F.col("p_size").cast("long").alias("y"),
    )
    # SQL-level shiftright accepts expression shift counts (the Python
    # wrapper doesn't); pow(2, k) is exact in double for k < 53.
    z = F.expr(
        "aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, i) -> acc"
        " + (shiftright(x, i) & 1) * CAST(pow(2, 2 * i) AS BIGINT)"
        " + (shiftright(y, i) & 1) * CAST(pow(2, 2 * i + 1) AS BIGINT))"
    )
    return q.select(
        "p_partkey", "x", "y",
        z.alias("zval"),
        F.floor(z / 4096).cast("long").alias("zbucket"),
    )


# ---------------------------------------------------------------------------
# PageRank (two exact-anchored iterations)
# ---------------------------------------------------------------------------

_PAGERANK_ORACLE = r"""
WITH e0 AS (
  SELECT DISTINCT 2 * l_suppkey + 1 AS src, 2 * l_partkey AS dst FROM lineitem
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), nn AS (
  SELECT COUNT(*)::DOUBLE AS n FROM nodes
), deg AS (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
), r1 AS (
  SELECT e.dst AS node,
         ROUND(0.15 / nn.n + 0.85 * SUM((1.0 / nn.n) / d.outdeg), 9) AS r
  FROM edges e JOIN deg d ON d.src = e.src CROSS JOIN nn
  GROUP BY e.dst, nn.n
), r2 AS (
  SELECT e.dst AS node,
         ROUND(0.15 / nn.n + 0.85 * SUM(r1.r / d.outdeg), 6) AS r
  FROM edges e
  JOIN deg d ON d.src = e.src
  JOIN r1 ON r1.node = e.src
  CROSS JOIN nn
  GROUP BY e.dst, nn.n
)
SELECT node, r AS pagerank FROM r2 WHERE node % 2 = 1
"""


@query("q_pagerank", oracle=_PAGERANK_ORACLE)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two PageRank iterations (damping 0.85) over the supplier<->part
    supply graph, reported for supplier nodes. The iterative-graph
    family's value-pinned anchor, exactly as q_kmeans_step anchors
    Lloyd iterations and q_cluster_components anchors HashMin label
    propagation: a fixed iteration count makes the output
    SQL-expressible, so the driver can hash-check real ranks.

    Node ids are disambiguated arithmetically (2s+1 / 2p); edges are
    symmetrized so no node dangles. r1 is rounded to 9 digits before it
    feeds iteration 2 — both engines then iterate from bit-identical
    state, so cross-engine float-sum jitter cannot compound (the same
    re-anchoring trick q_kmeans_step uses on its distance key).

    Scale: each iteration is one equi-join (ranks x edges, both hash-
    partitioned on node) plus one map-side-combined groupBy on dst —
    the textbook Pregel step expressed relationally. Degree and rank
    tables are |V|; the join shuffles |E|. At 100 TB the edge list is
    bucketed by src so iterations reuse the layout with zero re-
    shuffle; skewed hubs (stop-term-like super-nodes) take the salted
    two-stage aggregation from operators/skew.py."""
    # Runs on the stock-floor child session because an interleaved
    # min-of-3 A/B (sf0.1, local[32]) measured it faster there:
    # 3.19 / 3.59 s under the 64 KB floor, 1.96 / 2.55 s at stock.
    # That measurement is the reason, not the plan's shape: its rank x
    # edge joins do expand output.
    spark = stock_coalesce_floor(spark)
    li = load_table(spark, sf_dir, "lineitem")
    # Uniform not-null filter on BOTH endpoints (r13, guide §2.4): the
    # edge consumers below (degree, r1 join, r2 join) each push their
    # OWN isnotnull predicate into their copy of this subtree — which
    # de-canonicalizes the distinct exchange, so AQE built the same
    # 5.8 MB edge-partial shuffle SIX times concurrently (stage-
    # profiled: six identical-byte map stages). Filtering both
    # endpoints here makes every branch's subtree byte-identical; the
    # pushed join predicates are subsumed and the runtime plan
    # materializes the edge shuffle once (ReusedExchange).
    e0 = (li.select((2 * F.col("l_suppkey") + 1).alias("src"),
                    (2 * F.col("l_partkey")).alias("dst"))
          .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
          .distinct())
    edges = e0.unionAll(e0.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst")))
    # |V| as a lazy 1-row scalar broadcast (no driver action at build
    # time — the q_length_batches lesson).
    nn = F.broadcast(
        edges.select("src").distinct()
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))

    r1 = (
        edges.join(deg, "src").crossJoin(nn)
        .groupBy("dst", "n")
        .agg(F.round(0.15 / F.col("n")
                     + 0.85 * F.sum((1.0 / F.col("n")) / F.col("outdeg")), 9)
             .alias("r"))
        .select(F.col("dst").alias("node"), "r")
    )
    r2 = (
        edges.join(deg, "src")
        .join(r1.withColumnRenamed("node", "src"), "src")
        .crossJoin(nn)
        .groupBy("dst", "n")
        .agg(F.round(0.15 / F.col("n")
                     + 0.85 * F.sum(F.col("r") / F.col("outdeg")), 6)
             .alias("pagerank"))
        .select(F.col("dst").alias("node"), "pagerank")
    )
    return r2.filter(F.col("node") % 2 == 1)


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance
# ---------------------------------------------------------------------------

@query("q_mv_maintenance", oracle="""
SELECT o_orderpriority,
       CAST(year(o_orderdate) AS INT) AS yr,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY 1, 2
""")
def q_mv_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a pre-aggregated view
    (orders before 1997) is brought up to date by merging the delta
    batch (1997+) at the *aggregate* level — partial states (count,
    decimal sum) are combined per key, never re-scanning history. The
    oracle is the full recompute, proving merged == recomputed.

    Exactness: monetary sums are DECIMAL(18,2) so partial-state
    merging is order-independent (the flagship's exact-DECIMAL rule);
    the double cast happens once, after the exact merge.

    Scale: this is the nightly-ingest pattern — the view update costs
    one scan of the delta plus a |keys|-sized merge, independent of
    history size. The merge is a union of two partial-agg tables
    followed by one map-side-combined groupBy on the view key; with
    the view stored bucketed by key the merge shuffles only the
    delta's partial rows."""
    o = load_table(spark, sf_dir, "orders")
    key = [F.col("o_orderpriority"), F.year("o_orderdate").cast("int").alias("yr")]
    cut = F.col("o_orderdate") < F.lit("1997-01-01")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(*key).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
        )

    view = partial(o.filter(cut))          # the stored MV
    delta = partial(o.filter(~cut))        # tonight's batch, pre-aggregated
    return (
        view.unionAll(delta)
        .groupBy("o_orderpriority", "yr")
        .agg(F.sum("n_orders").alias("n_orders"),
             F.sum("total").cast("double").alias("total"))
    )


# ---------------------------------------------------------------------------
# Character-distribution quality signals (entropy + Simpson diversity)
# ---------------------------------------------------------------------------

@query("q_char_entropy", oracle=r"""
WITH chars AS (
  SELECT doc_id,
         length(text) AS n,
         list_sort(list_filter(list_distinct(string_split(text, '')), c -> c <> '')) AS cs
  FROM documents
), cnts AS (
  SELECT doc_id, n,
         list_transform(cs, c -> length(text) - length(replace(text, c, ''))) AS cnt
  FROM chars JOIN documents USING (doc_id)
)
SELECT doc_id, n AS n_chars_m, len(cnt) AS n_distinct,
       ROUND(ln(n::DOUBLE) - list_reduce(
               list_transform(cnt, k -> k::DOUBLE * ROUND(ln(k::DOUBLE), 12)),
               (x, y) -> x + y) / n, 4) AS entropy,
       ROUND(1.0 - list_reduce(list_transform(cnt, k -> k * k), (x, y) -> x + y)::DOUBLE
                 / (n::BIGINT * n), 6) AS diversity
FROM cnts
WHERE n > 0
""")
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution quality signals per document: Shannon
    entropy (H = ln n - sum(c_k ln c_k)/n) and Gini-Simpson diversity
    (1 - sum(c_k^2)/n^2). Low-entropy / low-diversity docs are
    boilerplate, padding, or binary junk — a standard corpus-quality
    gate alongside q_quality_score's length/stopword heuristics.

    Determinism: per-char counts are exact integers computed by
    length-difference (no explode); the distinct-char list is SORTED on
    both engines, each ln is re-anchored to 12 digits, and both engines
    LEFT-FOLD the identical term list (F.aggregate / list_reduce), so
    the pre-ROUND doubles are bit-identical — float-sum ordering never
    differs. Diversity is an exact rational until one IEEE division.

    Scale: map-only, zero shuffle, no UDF — the whole signal is one
    projection over per-row HOFs (cost O(n_chars * n_distinct_chars)
    per row, alphabet-bounded). Pinned by test_char_entropy_map_only."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    q = d.select(
        "doc_id",
        F.length("text").alias("n"),
        F.array_sort(F.filter(F.array_distinct(F.split("text", "")),
                              lambda c: c != "")).alias("cs"),
        "text",
    ).select(
        "doc_id", "n",
        F.transform(
            "cs",
            lambda c: F.length("text") - F.length(F.replace(F.col("text"), c)),
        ).alias("cnt"),
    )
    n = F.col("n").cast("double")
    ent = F.round(
        F.log(n)
        - F.aggregate(
            F.transform("cnt",
                        lambda k: k.cast("double") * F.round(F.log(k.cast("double")), 12)),
            F.lit(0.0),
            lambda x, y: x + y,
        ) / n,
        4,
    )
    div = F.round(
        1.0
        - F.aggregate(F.transform("cnt", lambda k: k * k),
                      F.lit(0).cast("long"),
                      lambda x, y: x + y).cast("double")
        / (F.col("n").cast("long") * F.col("n")),
        6,
    )
    return (
        q.filter(F.col("n") > 0)
        .select("doc_id",
                F.col("n").alias("n_chars_m"),
                F.size("cnt").alias("n_distinct"),
                ent.alias("entropy"),
                div.alias("diversity"))
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection (median / MAD)
# ---------------------------------------------------------------------------

@query("q_anomaly_mad", oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad, ANY_VALUE(m.med) AS med
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_id, e.event_type,
       ROUND(e.value, 6) AS value,
       ROUND(abs(e.value - m.med) / m.mad, 6) AS mad_score
FROM events e JOIN mad m USING (event_type)
WHERE m.mad > 0 AND abs(e.value - m.med) > 6 * m.mad
""")
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group anomaly detection: flag events whose value sits
    more than 6 MADs from the group median. Median/MAD resist the
    outliers they hunt (unlike q_zscore's mean/stddev, which the
    anomalies themselves inflate) — the robust member of the
    monitoring family.

    Determinism: medians are sort-based (exact interpolating
    percentile on both engines — no float accumulation), |v - med|,
    6*mad and the comparison are single IEEE ops on identical inputs,
    so the flag set is bit-stable; no float-sum anywhere.

    Scale: two grouped exact percentiles (|groups| shuffle each) plus
    one broadcast join of the |groups|-sized stats table back to the
    fact stream. At 100 TB exact percentile becomes
    ``percentile_approx`` (t-digest — q_agg_percentile's documented
    scale path) with identical plan shape; the stats side stays tiny
    so the join stays broadcast."""
    e = load_table(spark, sf_dir, "events")
    med = (e.groupBy("event_type")
           .agg(F.percentile("value", F.lit(0.5)).alias("med")))
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad"),
             F.first("med").alias("med"))
    )
    return (
        e.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0)
                & (F.abs(F.col("value") - F.col("med")) > 6 * F.col("mad")))
        .select("event_id", "event_type",
                F.round("value", 6).alias("value"),
                F.round(F.abs(F.col("value") - F.col("med")) / F.col("mad"), 6)
                .alias("mad_score"))
    )


# ---------------------------------------------------------------------------
# Product quantization: encode + asymmetric distance computation
# ---------------------------------------------------------------------------

@query("q_pq_adc", oracle="""
WITH m AS (
  SELECT UNNEST(range(0, 4)) AS sub
), cb AS (
  SELECT vec_id AS cid, sub,
         list_slice(embedding, sub * 16 + 1, sub * 16 + 16) AS cvec
  FROM embeddings CROSS JOIN m WHERE vec_id < 8
), ev AS (
  SELECT vec_id, sub,
         list_slice(embedding, sub * 16 + 1, sub * 16 + 16) AS svec
  FROM embeddings CROSS JOIN m
), d AS (
  SELECT ev.vec_id, ev.sub, cb.cid,
         ROUND(list_sum(list_transform(range(1, 17),
             i -> (CAST(ev.svec[i] AS DOUBLE) - CAST(cb.cvec[i] AS DOUBLE))
                * (CAST(ev.svec[i] AS DOUBLE) - CAST(cb.cvec[i] AS DOUBLE))
         )), 6) AS d2
  FROM ev JOIN cb ON cb.sub = ev.sub
), enc AS (
  SELECT vec_id, sub, cid AS code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rk
    FROM d
  ) WHERE rk = 1
), q AS (
  SELECT sub, cid, d2 AS qd2 FROM d WHERE vec_id = 0
)
SELECT e.vec_id,
       array_to_string(list(e.code ORDER BY e.sub), ',') AS codes,
       ROUND(SUM(q.qd2), 6) AS adc_d2
FROM enc e JOIN q ON q.sub = e.sub AND q.cid = e.code
GROUP BY e.vec_id
""")
def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end-to-end: 64-dim embeddings split into 4
    subspaces, each quantized against an 8-entry codebook
    (deterministic first-k init, as q_kmeans_step), then every vector
    scored against query vec 0 by asymmetric distance computation —
    the compressed-domain member of the similarity family
    (brute-force -> bucketed -> IVF -> PQ).

    Scale: the codebook (k·m rows) and the per-query ADC table are
    broadcast; encoding is one equi-join on the subspace id plus one
    map-side argmin groupBy, so the shuffle carries |n|·m single-byte
    codes, never vectors; scoring a 100 TB corpus reads only the code
    table (64x smaller than the raw embeddings here: 4 bytes vs 256).
    Distances are rounded to 6 digits before the argmin with cid as
    tiebreak (the kmeans/weighted-sample determinism rule), so the
    code assignment is bit-stable across engines."""
    from ..operators.pq import adc_lookup, adc_score, pq_codebooks, pq_encode

    e = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebooks(e, k=8, m=4, dim=64)
    enc = pq_encode(e, cb, m=4, dim=64)
    lut = adc_lookup(e.filter(F.col("vec_id") == 0), cb, m=4, dim=64)
    return adc_score(enc, lut)


# ---------------------------------------------------------------------------
# CDC changelog compaction (apply a change stream to a snapshot)
# ---------------------------------------------------------------------------

@query("q_cdc_apply", oracle="""
SELECT o_custkey AS custkey,
       o_orderkey AS last_orderkey,
       o_orderstatus AS last_status,
       ROUND(o_totalprice, 2) AS last_price
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY o_custkey
      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
  FROM orders
)
WHERE rk = 1 AND o_orderstatus <> 'P'
""")
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction: treat the orders stream as a change
    log keyed by customer (each row an upsert, status 'P' a delete
    marker) and materialize the final snapshot — latest version per
    key wins, deleted keys drop out. The batch form of the MERGE that
    q_merge_upsert and q_scd2 cover for single-batch and
    history-tracking cases respectively; this one compacts an
    arbitrarily long log in one pass.

    Determinism: the version key (o_orderdate, o_orderkey) is total —
    no float ordering anywhere.

    Scale: one hash-partitioned window per key, no global sort (pinned
    by test_cdc_apply_partitioned_window). At 100 TB the log is
    bucketed by key so daily compaction re-uses the layout with zero
    shuffle; per-partition pre-compaction (keep only the local latest
    per key before the exchange) bounds the shuffle to one row per
    (key, map task) — the map-side-combine trick applied to windows."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc(),
                                           F.col("o_orderkey").desc())
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") == 1) & (F.col("o_orderstatus") != "P"))
        .select(F.col("o_custkey").alias("custkey"),
                F.col("o_orderkey").alias("last_orderkey"),
                F.col("o_orderstatus").alias("last_status"),
                F.round("o_totalprice", 2).alias("last_price"))
    )


# ---------------------------------------------------------------------------
# Triangle counting on the co-purchase graph
# ---------------------------------------------------------------------------

@query("q_triangle_count", oracle="""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a
  JOIN lineitem b ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
  WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0
), deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT pa AS node FROM e UNION ALL SELECT pb FROM e
  ) GROUP BY node
), o AS (
  SELECT CASE WHEN (da.d, pa) < (db.d, pb) THEN pa ELSE pb END AS u,
         CASE WHEN (da.d, pa) < (db.d, pb) THEN pb ELSE pa END AS v
  FROM e JOIN deg da ON da.node = pa JOIN deg db ON db.node = pb
), tri AS (
  SELECT e1.u AS a
  FROM o e1
  JOIN o e2 ON e2.u = e1.v
  JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT a % 10 AS bucket, COUNT(*) AS n_triangles
FROM tri GROUP BY 1
""")
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the co-purchase graph (parts sharing an
    order), the graph family's density statistic next to q_pagerank's
    centrality and q_cluster_components' connectivity. Classic
    degree-oriented algorithm (Schank-Wagner / Cohen's MapReduce
    form): orient every edge from its lower-(degree, id) endpoint,
    then a triangle is a wedge e1=(u,v), e2=(v,w) closed by e3=(u,w)
    — two equi-joins, each wedge generated exactly once.

    Determinism: all-integer; counts reported per id-bucket so the
    output stays |10| rows at any scale.

    Scale: degree orientation is THE scale move — wedge fanout is
    bounded by out-degree, and out-degree under (deg, id) orientation
    is O(sqrt(|E|)) even for hubs, so the join never explodes on a
    popular part. Edge derivation shuffles (orderkey-grouped) pairs
    pre-filtered by the partkey predicate; everything downstream
    shuffles compact (u, v) longs. The edge list is cached once
    (_copurchase_edges): the degree agg, the orientation join, and the
    three wedge-join branches all read one materialized relation
    instead of re-running the lineitem self-join per branch."""
    # Runs on the stock-floor child session because an interleaved
    # min-of-3 A/B (sf0.1, local[32]) measured it faster there:
    # 2.95 / 2.33 s under the 64 KB floor, 2.66 / 2.12 s at stock.
    # That measurement is the reason, not the plan's shape: its wedge
    # joins do expand output.
    spark = stock_coalesce_floor(spark)
    e = _copurchase_edges(spark, sf_dir)
    deg = (e.select(F.col("pa").alias("node"))
           .unionAll(e.select(F.col("pb").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("d")))
    da, db = deg.alias("da"), deg.alias("db")
    with_deg = (e.join(da, F.col("da.node") == F.col("pa"))
                .join(db, F.col("db.node") == F.col("pb")))
    lower_first = (F.struct(F.col("da.d"), F.col("pa"))
                   < F.struct(F.col("db.d"), F.col("pb")))
    # The oriented edge list feeds THREE wedge-join branches (e1/e2/e3);
    # localCheckpoint it so the branches read one materialized RDD
    # instead of each re-embedding the degree join (the r10 plan sweep
    # measured 30 duplicated subtrees here pre-fix).
    o = with_deg.select(
        F.when(lower_first, F.col("pa")).otherwise(F.col("pb")).alias("u"),
        F.when(lower_first, F.col("pb")).otherwise(F.col("pa")).alias("v"))\
        .localCheckpoint(eager=False)
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    tri = (e1.join(e2, F.col("e2.u") == F.col("e1.v"))
           .join(e3, (F.col("e3.u") == F.col("e1.u"))
                 & (F.col("e3.v") == F.col("e2.v")))
           .select(F.col("e1.u").alias("a")))
    return (tri.groupBy((F.col("a") % 10).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_triangles")))


# ---------------------------------------------------------------------------
# Fuzzy join (edit distance <= 1) via FastSS deletion neighborhoods
# ---------------------------------------------------------------------------

@query("q_fuzzy_join", oracle="""
WITH k AS (
  SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 1000
)
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       a.c_name AS name_a, b.c_name AS name_b
FROM k a JOIN k b ON b.c_custkey > a.c_custkey
WHERE levenshtein(a.c_name, b.c_name) = 1
""")
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join at edit distance exactly 1 (spelling-variant /
    typo record linkage) via FastSS deletion neighborhoods
    (Bocek et al. 2007): a string's depth-1 neighborhood is itself
    plus every single-character deletion; two strings are within
    ED <= 1 iff their neighborhoods intersect, so candidates come from
    ONE equi-join on the variant string and the exact refine runs on
    candidates only. The oracle computes ED directly over the bounded
    all-pairs space — proving the neighborhood join loses nothing.

    Scale: |s|+1 variants per row, map-side generated; the join key is
    a (len-1)-char string, so the shuffle is |n|·len keys, never
    |n|^2 comparisons. The refine (JVM levenshtein) touches only
    candidate pairs — the same candidates-then-verify discipline as
    MinHash-LSH -> q_ngram_jaccard. Hub variants ("Customer#00000001"
    minus digit i collide across many names) are the skew point: at
    100 TB the variant key is salted by length bucket, and candidates
    dedup BEFORE the refine so each pair is scored once."""
    c = (load_table(spark, sf_dir, "customer")
         .filter(F.col("c_custkey") <= 1000)
         .select("c_custkey", "c_name"))
    name = F.col("c_name")
    deletions = F.transform(
        F.sequence(F.lit(1), F.length(name)),
        lambda i: F.concat(name.substr(F.lit(1), i - 1),
                           name.substr(i + 1, F.length(name))),
    )
    variants = c.select(
        "c_custkey", "c_name",
        F.explode(F.array_union(F.array(name), deletions)).alias("variant"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    cand = (
        a.join(b, (F.col("b.variant") == F.col("a.variant"))
               & (F.col("b.c_custkey") > F.col("a.c_custkey")))
        .select(F.col("a.c_custkey").alias("key_a"),
                F.col("b.c_custkey").alias("key_b"),
                F.col("a.c_name").alias("name_a"),
                F.col("b.c_name").alias("name_b"))
        .distinct()
    )
    return cand.filter(F.levenshtein("name_a", "name_b") == 1)


# ---------------------------------------------------------------------------
# OHLC time-series bars (grouped resampling)
# ---------------------------------------------------------------------------

@query("q_ohlc_bars", oracle="""
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS bar,
       ROUND(first(value ORDER BY ts, event_id), 6) AS open,
       ROUND(MAX(value), 6) AS high,
       ROUND(MIN(value), 6) AS low,
       ROUND(first(value ORDER BY ts DESC, event_id DESC), 6) AS close,
       COUNT(*) AS volume
FROM events
WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
GROUP BY 1, 2
""")
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped time-series resampling into OHLC bars: per (series,
    hour) the open/high/low/close/volume summary every metrics or
    market pipeline downsamples with. First/last are picked by the
    total (ts, event_id) key via min_by/max_by — order-based, not
    sum-based, so every output is an original double (no float
    accumulation anywhere; the determinism rule satisfied for free).

    Scale: ONE map-side-combined groupBy on (series, bucket) — min_by,
    max_by, min, max, count all have partial states, so the shuffle is
    |series x buckets| summary rows, never events. This is the batch
    twin of the streaming tumbling-window family (q_stream_tumbling):
    same bucketing expression, same combine semantics, reusable as the
    gap-fill input (q_gap_fill). Two-day slice keeps the demo output
    bounded; the plan is slice-independent."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp"))
    okey = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("bar"),
        )
        .agg(
            F.round(F.min_by("value", okey), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", okey), 6).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
    )


# ---------------------------------------------------------------------------
# Grouped linear regression on exact integer sums
# ---------------------------------------------------------------------------

@query("q_grouped_regression", oracle="""
WITH p AS (
  SELECT event_type,
         CAST(TRUNC(epoch(ts)) AS BIGINT) - 1704067200 AS x,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS y
  FROM events
), s AS (
  SELECT event_type,
         COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM p GROUP BY event_type
)
SELECT event_type, n,
       ROUND((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
           / NULLIF(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE, 0), 9)
         AS slope_centi_per_sec,
       ROUND((sy::DOUBLE - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
           / NULLIF(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE, 0))
           * sx::DOUBLE) / n::DOUBLE, 6) AS intercept_centi
FROM s
""")
def q_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series least-squares trend (is the metric drifting?): slope
    and intercept of value vs time for every event type, computed from
    the five classical sufficient statistics (n, Σx, Σy, Σxy, Σx²).

    Exactness: x is integer seconds from the epoch anchor, y is
    integer centi-units (the data's native 2-decimal precision), so
    every sum is an exact BIGINT — order-independent, no float
    accumulation. The closed-form division then runs on identical
    doubles with an identical expression tree on both engines
    (regr_slope/regr_avgy would float-sum internally and tie the
    result to fold order — the q_weighted_sample lesson says don't).

    Scale: one map-side-combined groupBy carrying five longs per
    group; |groups| output rows. The same sufficient-statistics merge
    works incrementally (q_mv_maintenance's pattern: partial states
    are additive), so a 100 TB trend updates from deltas."""
    e = load_table(spark, sf_dir, "events")
    p = e.select(
        "event_type",
        (F.unix_timestamp("ts") - F.lit(1704067200)).alias("x"),
        F.round(F.col("value") * 100, 0).cast("long").alias("y"),
    )
    s = p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c).cast("double")
                           for c in ("n", "sx", "sy", "sxy", "sxx"))
    # zero x-variance (all points share one timestamp): the LSQ slope
    # is undefined -> NULL, never an ANSI DIVIDE_BY_ZERO crash
    slope = (n * sxy - sx * sy) / F.nullif(n * sxx - sx * sx, F.lit(0.0))
    return s.select(
        "event_type", "n",
        F.round(slope, 9).alias("slope_centi_per_sec"),
        F.round((sy - slope * sx) / n, 6).alias("intercept_centi"),
    )


# ---------------------------------------------------------------------------
# Set-similarity join with prefix filtering (PPJoin-style)
# ---------------------------------------------------------------------------

@query("q_setsim_join", oracle=r"""
WITH s AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, len(string_split_regex(lower(text), '\s+')) - 1),
             i -> array_to_string(list_slice(
                      string_split_regex(lower(text), '\s+'), i, i + 2), ' ')
         )) AS sh
  FROM documents WHERE doc_id < 500
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND(LEN(list_intersect(a.sh, b.sh))::DOUBLE
               / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh))),
               6) AS jaccard
  FROM s a JOIN s b ON b.doc_id > a.doc_id
)
WHERE jaccard >= 0.8
""")
def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join at Jaccard >= 0.8 over 3-gram shingle
    sets, with PPJoin-style prefix filtering (Xiao et al. 2008): order
    each set by ascending global document frequency (rarest first) and
    index only its first |s| - ceil(t|s|) + 1 tokens — two sets can
    reach threshold t only if their prefixes share a token, so the
    candidate join touches prefixes, not sets. The oracle computes the
    bounded all-pairs join directly, proving the filter lossless (the
    same candidates-then-verify contract as q_fuzzy_join / MinHash ->
    q_ngram_jaccard, but FILTER-exact rather than probabilistic like
    LSH banding).

    Determinism: the prefix length uses pure integer arithmetic
    (ceil(4m/5) = (4m+4) div 5 — never 0.8*m in floats), and Jaccard
    is an exact integer ratio rounded once.

    Scale: candidate volume is sum over RARE tokens of df^2 — the df
    ordering concentrates prefixes on the long tail, so stop-shingle
    df^2 blowup never happens (contrast the unfiltered index join:
    sum over ALL tokens). One window per doc for ranks, one equi-join
    on prefix tokens, verification only on surviving pairs. The
    doc_id < 500 slice bounds the oracle; the Spark plan is
    slice-independent."""
    # spread=True (r13): the shingle branches re-tokenize the
    # single-file scan serially otherwise (the q_containment_join
    # finding; every downstream result is a set/aggregate).
    d = (load_table(spark, sf_dir, "documents", spread=True)
         .filter(F.col("doc_id") < 500))
    toks = F.split(F.lower("text"), _TOK)
    # Guard: sequence(0, n) DESCENDS when n < 0 (docs under 3 tokens
    # would fabricate shingles and element_at(0) throws) — emit an
    # empty set instead, matching the oracle's empty range().
    shingles = F.when(
        F.size(toks) >= 3,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(" ", F.element_at(toks, i + 1),
                                  F.element_at(toks, i + 2),
                                  F.element_at(toks, i + 3)))),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.select("doc_id", F.explode(shingles).alias("g"))
    dfreq = sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(dfreq, "g")
        .select(
            "doc_id", "g",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy("df", "g")).alias("r"),
            F.count(F.lit(1)).over(
                W.partitionBy("doc_id")
                .orderBy("df", "g")
                .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            ).alias("m"),
        )
    )
    # prefix length p = m - ceil(0.8 m) + 1, all-integer
    prefix = ranked.filter(
        F.col("r") <= F.col("m") - F.floor((4 * F.col("m") + 4) / 5) + 1)
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    ma, mb = F.col("pa.m"), F.col("pb.m")
    # PPJoin+ prunes BEFORE the distinct/verify, both lossless at t=4/5:
    # size filter t|a| <= |b| <= |a|/t (J>=t forces comparable sizes),
    # and the positional upper bound 1 + min(m_a - r_a, m_b - r_b) >=
    # ceil(t/(1+t)(m_a+m_b)) = ceil(4(m_a+m_b)/9) — tokens after the
    # shared prefix position can contribute at most that much overlap
    # (Xiao et al. 2008 §3.2). All-integer arithmetic throughout.
    cand = (
        pa.join(pb, (F.col("pb.g") == F.col("pa.g"))
                & (F.col("pb.doc_id") > F.col("pa.doc_id"))
                & (4 * mb <= 5 * ma) & (4 * ma <= 5 * mb)
                & (F.least(ma - F.col("pa.r"), mb - F.col("pb.r")) + 1
                   >= F.floor((4 * (ma + mb) + 8) / 9)))
        .select(F.col("pa.doc_id").alias("doc_a"),
                F.col("pb.doc_id").alias("doc_b"))
        .distinct()
    )
    sets = d.select("doc_id", shingles.alias("sh"))
    sa, sb = sets.alias("sa"), sets.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    return (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.round(inter.cast("double")
                    / (F.size("sa.sh") + F.size("sb.sh") - inter), 6)
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )


# ---------------------------------------------------------------------------
# SCD2 time travel (AS OF read over the versioned dimension)
# ---------------------------------------------------------------------------

@query("q_scd2_asof", oracle="""
WITH dim AS (
  SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal FROM customer
), upd AS (
  SELECT c_custkey, ROUND(acctbal + 100.0, 2) AS new_bal
  FROM dim WHERE c_custkey % 7 = 0
), scd AS (
  SELECT d.c_custkey, d.acctbal,
         '2024-01-01' AS valid_from,
         CASE WHEN u.c_custkey IS NOT NULL THEN '2024-06-01' END AS valid_to
  FROM dim d LEFT JOIN upd u USING (c_custkey)
  UNION ALL
  SELECT c_custkey, new_bal AS acctbal,
         '2024-06-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
  FROM upd
)
SELECT c_custkey, acctbal, valid_from
FROM scd
WHERE valid_from <= '2024-07-15'
  AND (valid_to IS NULL OR valid_to > '2024-07-15')
  AND c_custkey % 7 = 0
""")
def q_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the SCD2 dimension q_scd2 builds: the AS OF
    read that answers "what did this row look like on date d" — select
    the single version whose [valid_from, valid_to) interval covers d.
    Shown for the changed keys at a post-update date (each must
    resolve to its NEW version; the interval predicate, not recency,
    does the picking).

    Scale: the AS OF predicate is a pure row filter over the history
    table — map-only on top of however the history is stored; with the
    history partitioned by valid_from month the filter prunes
    partitions. Exactly one version matches per key BY CONSTRUCTION
    (intervals partition the timeline), so no window or dedup is
    needed at read time — that's the property SCD2 maintenance pays
    its merge cost to preserve."""
    from .analysis import q_scd2

    hist = q_scd2(spark, sf_dir)
    d = F.lit("2024-07-15")
    return (
        hist.filter((F.col("valid_from") <= d)
                    & (F.col("valid_to").isNull() | (F.col("valid_to") > d))
                    & (F.col("c_custkey") % 7 == 0))
        .select("c_custkey", "acctbal", "valid_from")
    )


# ---------------------------------------------------------------------------
# Chi-square independence (lang x source contingency)
# ---------------------------------------------------------------------------

@query("q_chi_square", oracle="""
WITH o AS (
  SELECT lang, source, COUNT(*) AS obs FROM documents GROUP BY 1, 2
), rt AS (
  SELECT lang, SUM(obs) AS row_tot FROM o GROUP BY lang
), ct AS (
  SELECT source, SUM(obs) AS col_tot FROM o GROUP BY source
), n AS (
  SELECT SUM(obs) AS tot FROM o
)
SELECT o.lang,
       CAST(rt.row_tot AS BIGINT) AS n_docs,
       ROUND(SUM(
         (o.obs::DOUBLE - (rt.row_tot::DOUBLE * ct.col_tot::DOUBLE / n.tot::DOUBLE))
         * (o.obs::DOUBLE - (rt.row_tot::DOUBLE * ct.col_tot::DOUBLE / n.tot::DOUBLE))
         / (rt.row_tot::DOUBLE * ct.col_tot::DOUBLE / n.tot::DOUBLE)
       ), 6) AS chi2_contrib
FROM o
JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n
GROUP BY o.lang, rt.row_tot
""")
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screening: is document language
    distributed independently of source? Per-language contribution to
    the chi-square statistic over the lang x source contingency table
    — the categorical drift / sampling-bias check a data card backs
    its "balanced by construction" claim with (q_data_card reports the
    proportions; this tests them).

    Determinism: observed and marginal counts are exact integers; each
    cell term is a fixed-shape double expression on identical inputs;
    the per-language sum folds a handful of cells (ulp-safe under
    ROUND 6).

    Scale: one map-side-combined groupBy to the contingency table
    (|langs x sources| rows), then everything downstream — marginals,
    expectations, the statistic — runs on that tiny table with
    broadcast joins and a 1-row total. The corpus is scanned once."""
    d = load_table(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    rt = o.groupBy("lang").agg(F.sum("obs").alias("row_tot"))
    ct = o.groupBy("source").agg(F.sum("obs").alias("col_tot"))
    n = F.broadcast(o.agg(F.sum("obs").alias("tot")))
    exp = (F.col("row_tot").cast("double") * F.col("col_tot").cast("double")
           / F.col("tot").cast("double"))
    term = ((F.col("obs").cast("double") - exp) * (F.col("obs").cast("double") - exp)
            / exp)
    return (
        o.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(n)
        .groupBy("lang", "row_tot")
        .agg(F.round(F.sum(term), 6).alias("chi2_contrib"))
        .select("lang", F.col("row_tot").cast("long").alias("n_docs"),
                "chi2_contrib")
    )


# ---------------------------------------------------------------------------
# Cross-source quantile normalization
# ---------------------------------------------------------------------------

@query("q_quantile_norm", oracle="""
SELECT doc_id, source, n_chars,
       ROUND(CAST(RANK() OVER (PARTITION BY source ORDER BY n_chars, doc_id) - 1 AS DOUBLE)
             / (COUNT(*) OVER (PARTITION BY source) - 1), 6) AS qnorm
FROM documents
""")
def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of a quality score: replace
    the raw score by its within-source percent rank, so one threshold
    means the same thing for every source (a CCNet-style cohort gate's
    prerequisite — q_quality_percentile thresholds per cohort; this
    normalizes the score axis itself so downstream mixing can compare
    across cohorts).

    Determinism: percent rank is the exact rational (rank-1)/(n-1) on
    a total (score, id) order — one IEEE division, no float
    accumulation.

    Scale: one hash-partitioned window per source (rank and count
    share the partitioning; the count rides the same exchange). At
    100 TB with few giant sources, the same semantics come from the
    distributed-rank scaffold (operators/rank.py) per source — no
    single-partition collapse either way."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    wc = (W.partitionBy("source").orderBy("n_chars", "doc_id")
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    return d.select(
        "doc_id", "source", "n_chars",
        F.round((F.rank().over(w) - 1).cast("double")
                / (F.count(F.lit(1)).over(wc) - 1), 6).alias("qnorm"),
    )


# ---------------------------------------------------------------------------
# BFS levels (bounded multi-hop reachability)
# ---------------------------------------------------------------------------

@query("q_bfs_levels", oracle="""
WITH e0 AS (
  SELECT DISTINCT 2 * l_suppkey + 1 AS src, 2 * l_partkey AS dst FROM lineitem
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
), l0 AS (
  SELECT 1::BIGINT AS node
), l1 AS (
  SELECT DISTINCT e.dst AS node FROM edges e JOIN l0 ON l0.node = e.src
  WHERE e.dst NOT IN (SELECT node FROM l0)
), l2 AS (
  SELECT DISTINCT e.dst AS node FROM edges e JOIN l1 ON l1.node = e.src
  WHERE e.dst NOT IN (SELECT node FROM l0)
    AND e.dst NOT IN (SELECT node FROM l1)
)
SELECT node, 0 AS dist FROM l0
UNION ALL SELECT node, 1 FROM l1
UNION ALL SELECT node, 2 FROM l2
""")
def q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded breadth-first search: every node within 2 hops of
    supplier node 0 on the supply graph, labeled with its exact hop
    distance — multi-hop reachability (q_cluster_components answers
    "same component?", this answers "how far?"). Fixed depth makes it
    SQL-expressible, the iterative-family anchoring rule
    (q_kmeans_step / q_pagerank).

    All-integer; frontier dedup via anti-joins against visited levels.

    Scale: each hop is one equi-join frontier x edges plus an
    anti-join against the visited set — the Pregel BFS step. The
    frontier and visited sets hash-partition on node; the full
    iterated form keeps visited as the running union exactly like the
    HashMin components loop bounds its state."""
    li = load_table(spark, sf_dir, "lineitem")
    # Uniform both-endpoint not-null filter: canonicalizes every hop's
    # copy of the edge subtree so the distinct exchange materializes
    # once (the q_pagerank fix, same rationale).
    e0 = (li.select((2 * F.col("l_suppkey") + 1).alias("src"),
                    (2 * F.col("l_partkey")).alias("dst"))
          .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
          .distinct())
    edges = e0.unionAll(e0.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst")))
    l0 = spark.range(1, 2).select(F.col("id").alias("node"))
    frontier, visited, out = l0, l0, l0.select("node", F.lit(0).alias("dist"))
    for dist in (1, 2):
        nxt = (edges.join(frontier.withColumnRenamed("node", "src"), "src")
               .select(F.col("dst").alias("node")).distinct()
               .join(visited, "node", "left_anti"))
        out = out.unionByName(nxt.select("node", F.lit(dist).alias("dist")))
        visited = visited.unionByName(nxt).distinct()
        frontier = nxt
    return out


# ---------------------------------------------------------------------------
# Deterministic negative sampling (hash ring)
# ---------------------------------------------------------------------------

@query("q_negative_sample", oracle="""
WITH c AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(text), 1, 2)) AS BIGINT) % 64 AS bucket,
         md5(text) AS h
  FROM documents
), probes AS (
  SELECT a.doc_id AS anchor_id, a.bucket AS abucket, p.i,
         (a.bucket + p.i) % 64 AS probe_bucket
  FROM c a CROSS JOIN (SELECT UNNEST(range(1, 4)) AS i) p
  WHERE a.doc_id < 20
)
SELECT anchor_id, i AS probe, neg_id FROM (
  SELECT p.anchor_id, p.i,
         c.doc_id AS neg_id,
         ROW_NUMBER() OVER (PARTITION BY p.anchor_id, p.i
                            ORDER BY c.h, c.doc_id) AS rk
  FROM probes p JOIN c ON c.bucket = p.probe_bucket
  WHERE c.doc_id <> p.anchor_id
) WHERE rk = 1
""")
def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor document draws 3 pseudo-random negatives by probing the
    next 3 buckets of a 64-slot content-hash ring and taking the
    hash-minimal resident of each — reproducible (content-keyed like
    q_sample_reservoir), anchor-decorrelated (ring offsets differ per
    anchor bucket), and joinable (the probe is an equi-join on the
    bucket id, never an |anchors| x |corpus| cross join).

    Scale: the corpus is bucketed once (map-only projection); probes
    are 3 rows per anchor; the join shuffles on the 64-way bucket key
    and the per-(anchor, probe) argmin is a window over tiny groups.
    At 100 TB widen the ring so bucket occupancy stays O(shard) and
    keep per-bucket hash-min sketches (one row per bucket) so the
    probe join touches |ring| rows, not the corpus. The 20-anchor
    slice bounds the demo; the plan is slice-independent."""
    d = load_table(spark, sf_dir, "documents")
    c = d.select(
        "doc_id",
        (F.conv(F.substring(F.md5("text"), 1, 2), 16, 10).cast("long") % 64)
        .alias("bucket"),
        F.md5("text").alias("h"),
    )
    probes = (
        c.filter(F.col("doc_id") < 20)
        .select(F.col("doc_id").alias("anchor_id"), "bucket")
        .select("anchor_id", "bucket",
                F.explode(F.sequence(F.lit(1), F.lit(3))).alias("i"))
        .select("anchor_id", "i",
                ((F.col("bucket") + F.col("i")) % 64).alias("probe_bucket"))
    )
    j = (probes.join(c, c["bucket"] == probes["probe_bucket"])
         .filter(F.col("doc_id") != F.col("anchor_id")))
    w = W.partitionBy("anchor_id", "i").orderBy("h", "doc_id")
    return (
        j.select("anchor_id", F.col("i").alias("probe"),
                 F.col("doc_id").alias("neg_id"),
                 F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


# ---------------------------------------------------------------------------
# Random-projection (Johnson-Lindenstrauss) dimensionality reduction
# ---------------------------------------------------------------------------

@query("q_random_projection", oracle="""
WITH dims AS (
  SELECT UNNEST(range(0, 8)) AS j
)
SELECT e.vec_id, d.j,
       ROUND(list_sum(list_transform(range(1, 65),
           i -> CAST(e.embedding[i] AS DOUBLE)
              * (CASE WHEN CAST(('0x' || substr(md5((i - 1) || ':' || d.j), 1, 1)) AS BIGINT) % 2 = 0
                      THEN 1.0 ELSE -1.0 END)
       )) / sqrt(8.0), 5) AS proj
FROM embeddings e CROSS JOIN dims d
""")
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 8 dims with a
    Rademacher (+-1) matrix derived from md5(i:j) parity — the
    projection is content-addressed, so every executor materializes
    the SAME matrix from nothing (no broadcast, no RNG state, the
    hyperplane-LSH trick from operators/similarity.py applied to
    dimensionality reduction). Distances are preserved within
    (1 +- eps) whp — the cheap front-end that makes downstream
    brute-force / IVF / PQ run on 8 floats instead of 64.

    Determinism: the +-1 matrix is exact on both engines (hex-digit
    parity); each output is one fixed-order fold over 64 products,
    rounded at 5 (the kmeans d2 precedent for cross-engine fold
    jitter).

    Scale: map-only per row (64 x 8 multiply-adds), zero shuffle,
    zero UDF — whole-stage-codegen arithmetic. Output rows are
    (vec, dim) pairs for the oracle; production keeps the 8-array
    column form."""
    e = load_table(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", "embedding",
                  F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j"))
    sign = lambda i: F.when(  # noqa: E731
        F.conv(F.substring(F.md5(F.concat_ws(":", (i - 1).cast("string"),
                                             F.col("j").cast("string"))),
                           1, 1), 16, 10).cast("long") % 2 == 0,
        F.lit(1.0)).otherwise(F.lit(-1.0))
    proj = F.aggregate(
        F.zip_with(
            F.transform("embedding", lambda x: x.cast("double")),
            F.sequence(F.lit(1), F.lit(64)),
            lambda x, i: x * sign(i)),
        F.lit(0.0), lambda acc, v: acc + v) / F.sqrt(F.lit(8.0))
    return ed.select("vec_id", "j", F.round(proj, 5).alias("proj"))


# ---------------------------------------------------------------------------
# Bigram PMI collocations
# ---------------------------------------------------------------------------

@query("q_bigram_pmi", oracle=r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
), bi AS (
  SELECT UNNEST(list_transform(range(1, len(t)),
                i -> t[i] || ' ' || t[i + 1])) AS bigram,
         UNNEST(list_slice(t, 1, len(t) - 1)) AS w1,
         UNNEST(list_slice(t, 2, len(t))) AS w2
  FROM toks
), uni AS (
  SELECT UNNEST(t) AS w FROM toks
), uc AS (
  SELECT w, COUNT(*) AS c FROM uni WHERE w <> '' GROUP BY w
), bc AS (
  SELECT bigram, w1, w2, COUNT(*) AS c
  FROM bi WHERE w1 <> '' AND w2 <> '' GROUP BY bigram, w1, w2
), n AS (
  SELECT SUM(c)::DOUBLE AS tot FROM uc
)
SELECT bc.bigram, bc.c AS n_pair,
       ROUND(ln(bc.c::DOUBLE * n.tot / (u1.c::DOUBLE * u2.c::DOUBLE)), 6) AS pmi
FROM bc JOIN uc u1 ON u1.w = bc.w1 JOIN uc u2 ON u2.w = bc.w2 CROSS JOIN n
WHERE bc.c >= 20
""")
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    token pairs, ln(P(ab) / (P(a)P(b))) — the signal behind phrase
    detection (word2phrase), tokenizer-merge candidates, and boiler-
    plate discovery. High-PMI pairs co-occur far above chance.

    Determinism: all counts are exact integers; PMI is ONE ln of an
    exactly-computed double ratio (integer products / division —
    bit-identical inputs, correctly-rounded ln in practice), rounded
    at 6; the >= 20 support floor is an integer predicate, so the
    selected set cannot flip.

    Scale: bigrams are generated per-row (map-only HOF, zero shuffle
    before the count groupBy); the unigram table joins back by word —
    broadcast while small, AQE otherwise (the q_tfidf vocabulary
    pattern); the 1-row total is a broadcast scalar. Support floors
    keep the output |frequent pairs|, not |all pairs|."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select("doc_id", F.split(F.lower("text"), _TOK).alias("t"))
    bi = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.expr("slice(t, 2, greatest(size(t) - 1, 0))"),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")) \
     .filter((F.col("w1") != "") & (F.col("w2") != ""))
    uc = (toks.select(F.explode("t").alias("w")).filter(F.col("w") != "")
          .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    bc = (bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
          .filter(F.col("n_pair") >= 20))
    tot = F.broadcast(uc.agg(F.sum("c").cast("double").alias("tot")))
    u1 = uc.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1")
    u2 = uc.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2")
    return (
        bc.join(u1, "w1").join(u2, "w2").crossJoin(tot)
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "n_pair",
            F.round(F.log(F.col("n_pair").cast("double") * F.col("tot")
                          / (F.col("c1").cast("double")
                             * F.col("c2").cast("double"))), 6).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Table profiling (per-column quality report)
# ---------------------------------------------------------------------------

@query("q_profile_table", oracle="""
SELECT 'o_custkey' AS col,
       COUNT(*) AS n_rows,
       COUNT(*) - COUNT(o_custkey) AS n_null,
       COUNT(DISTINCT o_custkey) AS n_distinct,
       CAST(MIN(o_custkey) AS VARCHAR) AS min_v,
       CAST(MAX(o_custkey) AS VARCHAR) AS max_v
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
       COUNT(DISTINCT o_orderstatus),
       CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
       COUNT(DISTINCT o_totalprice),
       CAST(ROUND(MIN(o_totalprice), 2) AS VARCHAR),
       CAST(ROUND(MAX(o_totalprice), 2) AS VARCHAR)
FROM orders
""")
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: per-column row/null/distinct counts and value
    bounds — the ingestion-time health report that catches schema rot
    (nulls creeping into a key column, a categorical exploding in
    cardinality) before a 100 TB job consumes the table. Emitted in
    long form (one row per column) so the report schema is
    table-independent.

    Scale: ONE scan — all per-column aggregates run in a single
    partial+final aggregation pass (they share the grand-total group);
    exact COUNT(DISTINCT) rewrites to expand + two-phase agg, and at
    100 TB each swaps to approx_count_distinct with the plan shape
    unchanged (the documented sketch twin, cf. q_agg_approx). Value
    bounds are cast to strings so one report schema fits every column
    type."""
    o = load_table(spark, sf_dir, "orders")

    def prof(col: str, fmt=None):
        v = F.col(col)
        mn, mx = F.min(v), F.max(v)
        if fmt is not None:
            mn, mx = fmt(mn), fmt(mx)
        return o.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(v)).alias("n_null"),
            F.countDistinct(v).alias("n_distinct"),
            mn.cast("string").alias("min_v"),
            mx.cast("string").alias("max_v"),
        ).select(F.lit(col).alias("col"), "n_rows", "n_null",
                 "n_distinct", "min_v", "max_v")

    return (prof("o_custkey")
            .unionByName(prof("o_orderstatus"))
            .unionByName(prof("o_totalprice",
                              fmt=lambda c: F.round(c, 2))))


# ---------------------------------------------------------------------------
# IVF probe search (value-pinned ANN anchor)
# ---------------------------------------------------------------------------

@query("q_ivf_probe", oracle="""
WITH c AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8
), q AS (
  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
), d AS (
  SELECT e.vec_id, c.cid,
         ROUND(list_sum(list_transform(range(1, 65),
             i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
                * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
         )), 6) AS d2
  FROM embeddings e CROSS JOIN c
), assign AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
    FROM d) WHERE rk = 1
), probes AS (
  SELECT cid FROM (
    SELECT c.cid,
           ROUND(list_sum(list_transform(range(1, 65),
               i -> (CAST(q.qvec[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
                  * (CAST(q.qvec[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
           )), 6) AS qd
    FROM c CROSS JOIN q
    QUALIFY ROW_NUMBER() OVER (ORDER BY qd, cid) <= 2)
), cand AS (
  SELECT a.vec_id, a.cid,
         ROUND(list_sum(list_transform(range(1, 65),
             i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qvec[i] AS DOUBLE))
                * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qvec[i] AS DOUBLE))
         )), 6) AS d2
  FROM assign a
  JOIN probes p ON p.cid = a.cid
  JOIN embeddings e ON e.vec_id = a.vec_id
  CROSS JOIN q
)
SELECT vec_id, cid, d2 FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY d2, vec_id) AS rk FROM cand
) WHERE rk <= 5
""")
def q_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN search, value-pinned: assign every
    vector to its nearest of 8 deterministic centroids (the kmeans
    assignment), probe the query's nprobe=2 nearest cells, and return
    the exact top-5 within the probed cells. This moves the ANN scale
    path (operators/similarity.py, previously rows-only + recall-
    tested) into the driver's hash-checked set — the same promotion
    the md5 twins gave MinHash/SimHash.

    Determinism: every distance is rounded to 6 with id tiebreaks
    before ANY argmin/top-k (the kmeans rule), so assignment, probe
    choice, and final ranking are bit-stable.

    Scale: centroids broadcast twice (assignment + probe table — both
    k rows); the probe filter is a broadcast semi-join that prunes the
    corpus to nprobe/k of its cells BEFORE any exact distance; the
    final top-5 is TakeOrdered, no global sort. At 100 TB the
    assignment is precomputed as a partition column (cell-partitioned
    layout, cf. bucketing.py) so a query reads only its probed
    partitions — partition pruning does the candidate cut for free."""
    from ..operators.kmeans import assign_clusters

    e = load_table(spark, sf_dir, "embeddings")
    cent = (e.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("cid"),
                    F.col("embedding").alias("cvec")))
    assigned = assign_clusters(e, cent).select("vec_id", "cid")

    qv = (e.filter(F.col("vec_id") == 0)
          .select(F.col("embedding").alias("qvec")))
    d2 = lambda a, b: F.round(  # noqa: E731
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double"))),
            F.lit(0.0), lambda acc, v: acc + v), 6)
    probes = (
        cent.crossJoin(F.broadcast(qv))
        .select("cid", d2(F.col("cvec"), F.col("qvec")).alias("qd"))
        .withColumn("rk", F.row_number().over(
            W.orderBy("qd", "cid")))
        .filter(F.col("rk") <= 2)
        .select("cid")
    )
    cand = (
        assigned.join(F.broadcast(probes), "cid")
        .join(e, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select("vec_id", "cid",
                d2(F.col("embedding"), F.col("qvec")).alias("d2"))
    )
    return (cand.orderBy("d2", "vec_id").limit(5)
            .select("vec_id", "cid", "d2"))


# ---------------------------------------------------------------------------
# Unpivot / melt (wide -> long reshaping)
# ---------------------------------------------------------------------------

@query("q_unpivot", oracle="""
SELECT p_partkey, metric, ROUND(val, 2) AS val
FROM (
  SELECT p_partkey,
         CAST(p_size AS DOUBLE) AS size,
         p_retailprice AS retailprice
  FROM part WHERE p_partkey <= 200
) UNPIVOT (val FOR metric IN (size, retailprice))
""")
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide metric columns reshaped to (id, metric,
    value) long form — q_pivot's inverse, closing the reshaping pair
    (long form is what the profiler, gap-fill, and every generic
    metrics sink consume). Uses Spark's native ``unpivot`` so nulls
    and type widening follow the engine's stack semantics, not a
    hand-rolled union.

    Scale: map-only — each input row becomes |metrics| output rows
    with zero shuffle (the explode family's cousin); column pruning
    still reaches the scan because the id + melted columns are the
    only ones read."""
    p = (load_table(spark, sf_dir, "part")
         .filter(F.col("p_partkey") <= 200)
         .select("p_partkey",
                 F.col("p_size").cast("double").alias("size"),
                 F.col("p_retailprice").alias("retailprice")))
    return (p.unpivot("p_partkey", ["size", "retailprice"],
                      "metric", "val")
            .select("p_partkey", "metric", F.round("val", 2).alias("val")))


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) query
# ---------------------------------------------------------------------------

@query("q_skyline", oracle=r"""
WITH m AS (
  SELECT doc_id, n_chars,
         LEN(list_distinct(string_split_regex(lower(text), '\s+'))) AS n_vocab
  FROM documents
)
SELECT a.doc_id, a.n_chars, a.n_vocab
FROM m a
WHERE NOT EXISTS (
  SELECT 1 FROM m b
  WHERE b.n_chars >= a.n_chars AND b.n_vocab >= a.n_vocab
    AND (b.n_chars > a.n_chars OR b.n_vocab > a.n_vocab)
)
""")
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) query: documents not dominated on
    (length, vocabulary richness) — the multi-objective data-selection
    frontier ("longest AND most diverse examples") that a single
    weighted score can't express. Classic DB operator
    (Borzsony/Kossmann/Stocker 2001).

    Spark shape: sort by x descending, then a doc is on the frontier
    iff (a) its y beats the running max-y over all STRICTLY longer
    docs (a RANGE frame ending 1 before the current x) and (b) it has
    the max y among equal-x docs — two window functions over ONE sort
    order, no self-join. The oracle states dominance directly as a
    NOT EXISTS anti-join; the window form must agree exactly.

    Determinism: both metrics are exact integers.

    Scale: the window form trades the oracle's O(n^2) self-join for
    ONE sort — but Spark plans a partition-less window as Exchange
    SinglePartition, so the sort is a single-partition collapse. The
    input is therefore shrunk FIRST by a LOSSLESS distributed grid
    pre-filter: bucket both metrics into a GxG grid (bounds from a
    1-row broadcast min/max aggregate — the q_pagerank scalar
    pattern, no driver action), and drop every point whose cell has a
    nonempty cell strictly north-east (any such point is strictly
    dominated in both dims by construction of the bucket boundaries;
    every true skyline point survives, and every false survivor is
    still eliminated by a surviving skyline witness, so the window
    over survivors is exact). The cell occupancy table is <= G^2 rows
    — the only things that ever reach the single partition are grid
    survivors, bounded by the frontier's thickness, not by |corpus|."""
    G = 64
    d = load_table(spark, sf_dir, "documents")
    m = d.select(
        "doc_id", "n_chars",
        F.size(F.array_distinct(F.split(F.lower("text"), _TOK)))
        .alias("n_vocab"),
    )
    stats = m.agg(F.min("n_chars").alias("x0"), F.max("n_chars").alias("x1"),
                  F.min("n_vocab").alias("y0"), F.max("n_vocab").alias("y1"))

    def bucket(c, lo, hi):
        # degenerate range (all values equal) -> one bucket, no divide
        return F.when(F.col(hi) == F.col(lo), F.lit(0)).otherwise(
            F.least(F.floor((F.col(c) - F.col(lo)) * G
                            / (F.col(hi) - F.col(lo))).cast("int"),
                    F.lit(G - 1)))

    g = (m.crossJoin(F.broadcast(stats))
         .select("doc_id", "n_chars", "n_vocab",
                 bucket("n_chars", "x0", "x1").alias("gx"),
                 bucket("n_vocab", "y0", "y1").alias("gy")))
    cells = g.groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("_n")) \
             .select("gx", "gy")
    # cells with a nonempty strictly-NE cell: every point inside is
    # strictly dominated. <= G^2 rows on both sides — the theta join is
    # over the tiny occupancy table, never the corpus.
    ne = cells.select(F.col("gx").alias("hx"), F.col("gy").alias("hy"))
    dominated_cells = (cells.join(F.broadcast(ne),
                                  (F.col("hx") > F.col("gx"))
                                  & (F.col("hy") > F.col("gy")), "left_semi"))
    survivors = g.join(F.broadcast(dominated_cells), ["gx", "gy"],
                       "left_anti").drop("gx", "gy")
    over_longer = (W.orderBy(F.col("n_chars").desc())
                   .rangeBetween(W.unboundedPreceding, -1))
    over_equal = W.partitionBy("n_chars")
    return (
        survivors.select(
            "doc_id", "n_chars", "n_vocab",
            F.max("n_vocab").over(over_longer).alias("best_longer"),
            F.max("n_vocab").over(over_equal).alias("best_equal"),
        )
        .filter((F.col("n_vocab") > F.coalesce(F.col("best_longer"), F.lit(-1)))
                & (F.col("n_vocab") == F.col("best_equal")))
        .select("doc_id", "n_chars", "n_vocab")
    )


# ---------------------------------------------------------------------------
# Null-safe equality join
# ---------------------------------------------------------------------------

@query("q_join_nullsafe", oracle="""
WITH o AS (
  SELECT NULLIF(o_orderstatus, 'P') AS status_n FROM orders
), dim AS (
  SELECT * FROM (VALUES ('F', 'finished'), ('O', 'open'),
                        (CAST(NULL AS VARCHAR), 'pending-null')) d(status_n, label)
)
SELECT dim.label, COUNT(o.status_n IS NOT DISTINCT FROM dim.status_n) AS n
FROM o JOIN dim ON o.status_n IS NOT DISTINCT FROM dim.status_n
GROUP BY dim.label
""")
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match NULL keys instead of vanishing — the semantics CDC and SCD
    pipelines need when NULL is a legitimate key state (here: 'P'
    orders nullified into a pending marker that still must join its
    dim row). Completes the join-semantics family next to
    inner/left/full/cross/semi/anti.

    Scale note: Spark plans ``<=>`` as a HASH join key (null-safe
    equality is still an equi-join — coalesce-style key normalization
    is NOT needed), so the broadcast/shuffle strategies all apply
    unchanged; the dim side here is a 3-row broadcast."""
    o = (load_table(spark, sf_dir, "orders")
         .select(F.nullif("o_orderstatus", F.lit("P")).alias("status_n")))
    dim = F.broadcast(spark.createDataFrame(
        [("F", "finished"), ("O", "open"), (None, "pending-null")],
        "status_n string, label string"))
    return (o.join(dim, o["status_n"].eqNullSafe(dim["status_n"]))
            .groupBy("label").agg(F.count(F.lit(1)).alias("n")))


# ---------------------------------------------------------------------------
# Vocabulary coverage (OOV rate against a frequency-built vocab)
# ---------------------------------------------------------------------------

@query("q_oov_rate", oracle=r"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(lower(text), '\s+')) AS w
  FROM documents
), tok2 AS (
  SELECT doc_id, w FROM toks WHERE w <> ''
), vocab AS (
  SELECT w FROM (
    SELECT w, COUNT(*) AS c, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rk
    FROM tok2 GROUP BY w
  ) WHERE rk <= 20
)
SELECT t.doc_id,
       COUNT(*) AS n_tok,
       COUNT(*) FILTER (WHERE v.w IS NULL) AS n_oov,
       ROUND(COUNT(*) FILTER (WHERE v.w IS NULL)::DOUBLE / COUNT(*), 6) AS oov_rate
FROM tok2 t LEFT JOIN vocab v ON v.w = t.w
GROUP BY t.doc_id
""")
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: build a top-20 frequency vocabulary from
    the corpus itself, then score every document's out-of-vocabulary
    token rate — the tokenizer-fit metric that decides whether a vocab
    (or a tokenizer's merges) actually covers a candidate corpus
    before training on it. High-OOV docs are foreign-language or
    junk relative to the vocab.

    Determinism: counts are integers; the vocab cut is a total
    (count desc, word) order; one exact division per doc.

    Scale: the vocab is |k| rows — broadcast against the exploded
    token stream (the q_bm25/q_tfidf vocabulary-join pattern); one
    map-side-combined groupBy per doc. The vocab cut is
    ``orderBy(...).limit(k)`` — Spark plans TakeOrderedAndProject
    (per-partition top-k, then a k-row merge on the driver), NOT a
    partition-less Window, so no Exchange SinglePartition anywhere
    (pinned in tests/test_plans.py)."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = (d.select("doc_id",
                     F.explode(F.split(F.lower("text"), _TOK)).alias("w"))
            .filter(F.col("w") != ""))
    vocab = (toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.col("c").desc(), "w").limit(20)
             .select("w", F.lit(True).alias("in_vocab")))
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tok"),
             F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"))
        .select("doc_id", "n_tok", "n_oov",
                F.round(F.col("n_oov").cast("double") / F.col("n_tok"), 6)
                .alias("oov_rate"))
    )


# ---------------------------------------------------------------------------
# N-gram repetition ratio (compression-proxy quality signal)
# ---------------------------------------------------------------------------

@query("q_ngram_repetition", oracle=r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
), g AS (
  SELECT doc_id,
         len(toks) AS n_tok,
         list_transform(range(1, len(toks) - 2),
                        i -> array_to_string(list_slice(toks, i, i + 3), ' ')) AS grams
  FROM t
)
SELECT doc_id, n_tok,
       len(grams) AS n_grams,
       len(list_distinct(grams)) AS n_distinct,
       ROUND(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 6) AS rep_ratio
FROM g
WHERE len(grams) > 0
""")
def q_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram repetition ratio: 1 - |distinct 4-grams| / |4-grams| per
    document — the compression-proxy quality signal (a repeated block
    compresses; rep_ratio is its cheap scan-time stand-in) that
    complements q_doc_repetition's Gopher top-gram fractions and
    q_char_entropy's character-level signals at the phrase level.

    Determinism: pure integer counts + one exact division (the gram
    lists never leave the row).

    Scale: map-only — grams are built, deduped, and counted inside
    per-row HOFs; zero shuffle, zero UDF (pinned by
    test_ngram_repetition_map_only)."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = F.split(F.lower("text"), _TOK)
    grams = F.when(
        F.size(toks) >= 4,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 4),
            lambda i: F.concat_ws(" ", F.element_at(toks, i + 1),
                                  F.element_at(toks, i + 2),
                                  F.element_at(toks, i + 3),
                                  F.element_at(toks, i + 4))),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", F.size(toks).alias("n_tok"), grams.alias("grams"))
    return (
        g.filter(F.size("grams") > 0)
        .select("doc_id", "n_tok",
                F.size("grams").alias("n_grams"),
                F.size(F.array_distinct("grams")).alias("n_distinct"),
                F.round(1.0 - F.size(F.array_distinct("grams")).cast("double")
                        / F.size("grams"), 6).alias("rep_ratio"))
    )


# ---------------------------------------------------------------------------
# Exact median without a global sort (two-pass histogram refine)
# ---------------------------------------------------------------------------

@query("q_median_twopass", oracle="""
SELECT ROUND(quantile_cont(value, 0.5), 6) AS median_value,
       COUNT(*) AS n
FROM events
""")
def q_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global median computed by the two-pass histogram-refine
    operator (operators/median2pass.py) instead of a sort — the scale
    path for exact quantiles over data too big to sort and too
    important to approximate. The oracle is the engine's sort-based
    interpolated median; matching it proves the two-pass algorithm
    exact, not approximately right.

    This query fn is deliberately EAGER (the algorithm is two driver-
    coordinated scans with B-counts of state — like kmeans_iterate or
    compact_ingest_state, it cannot be one lazy plan); the driver-side
    state is the B-bucket histogram and a <=100k-value refine set,
    both bounded by construction."""
    from ..operators.median2pass import exact_median_two_pass

    e = load_table(spark, sf_dir, "events")
    schema = "median_value double, n bigint"
    try:
        med = exact_median_two_pass(e, "value")
    except ValueError:  # empty input: a grand aggregate still returns
        return spark.createDataFrame([(None, 0)], schema)  # one (NULL, 0) row
    # round in Spark SQL semantics (HALF_UP, matching DuckDB ROUND) —
    # Python round() is banker's (half-to-even) and can flip an exact
    # tie at the 1e-6 boundary
    return (spark.createDataFrame([(med, e.count())], schema)
            .select(F.round("median_value", 6).alias("median_value"), "n"))


# ---------------------------------------------------------------------------
# SemDeDup: semantic near-duplicate marking within k-means clusters
# ---------------------------------------------------------------------------

@query("q_semdedup", oracle=r"""
WITH c AS (
  SELECT vec_id AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM embeddings WHERE vec_id < 8
), v0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), a AS (
  SELECT v0.vec_id, c.cid, v0.v,
         ROUND(list_sum(list_transform(range(1, len(v0.v) + 1),
               i -> (v0.v[i] - c.cvec[i]) * (v0.v[i] - c.cvec[i]))), 6) AS d2
  FROM v0 CROSS JOIN c
), best AS (
  SELECT vec_id, v, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
  FROM a
), m AS (
  SELECT vec_id, cid, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM best WHERE rk = 1
), dup AS (
  SELECT DISTINCT b.vec_id
  FROM m a JOIN m b ON a.cid = b.cid AND b.vec_id > a.vec_id
                    AND a.nrm > 0 AND b.nrm > 0
  WHERE ROUND(list_sum(list_transform(range(1, len(a.v) + 1),
                                      i -> a.v[i] * b.v[i]))
              / (a.nrm * b.nrm), 6) >= 0.3
)
SELECT m.vec_id, m.cid, (dup.vec_id IS NOT NULL) AS is_dup
FROM m LEFT JOIN dup ON dup.vec_id = m.vec_id
""")
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster embeddings
    with k-means (k=8, the deterministic first-k init q_kmeans_step
    pins), then mark as duplicate every vector that has a SAME-CLUSTER
    neighbor with cosine >= tau and a smaller vec_id — keep-one
    semantics, the representative with the lowest id survives. tau=0.3
    fits this synthetic table's similarity range (random-ish vectors,
    max pairwise cosine ~0.51); web-scale text uses ~0.95+.

    This is the semantic member of the dedup family: exact -> MinHash
    (lexical near-dup) -> SimHash -> embedding near-dup (pairwise
    threshold) -> SemDeDup (CLUSTER-scoped pairwise), and the reason it
    scales is precisely the cluster scoping: pairwise cost drops from
    O(n^2) to O(sum s_i^2), and k grows with the corpus (the paper runs
    ~100k clusters) so cluster sizes stay bounded; each cluster's pair
    enumeration is an equi-join on cid — no all-pairs anywhere.
    Assignment reuses assign_clusters (broadcast centroids, rounded-d2
    + cid-tiebreak argmin, so engines can never disagree on a cluster).

    Determinism: d2 and cosine both rounded to 6 digits before any
    comparison (the q_kmeans_step / q_weighted_sample argmin rule)."""
    from ..operators.kmeans import assign_clusters

    e = load_table(spark, sf_dir, "embeddings")
    cent = (e.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("cid"),
                    F.col("embedding").alias("cvec")))
    assigned = assign_clusters(e, cent)
    sq = F.aggregate(
        F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    v = (assigned.select(
            "vec_id", "cid",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"))
         .withColumn("nrm", F.sqrt(sq)))
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    cos = F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 6)
    # zero-norm vectors (undecodable/empty payloads in an edge corpus)
    # have no defined cosine: they can never be duplicates, and the
    # norm guard keeps ANSI mode from a divide-by-zero
    dup = (a.join(b, (F.col("a.cid") == F.col("b.cid"))
                  & (F.col("b.vec_id") > F.col("a.vec_id"))
                  & (F.col("a.nrm") > 0) & (F.col("b.nrm") > 0))
           .filter(cos >= 0.3)
           .select(F.col("b.vec_id").alias("vec_id")).distinct())
    return (v.join(dup.withColumn("is_dup", F.lit(True)), "vec_id", "left")
            .select("vec_id", "cid",
                    F.coalesce("is_dup", F.lit(False)).alias("is_dup")))


# ---------------------------------------------------------------------------
# Asymmetric containment join (doc-subsumption detection)
# ---------------------------------------------------------------------------

@query("q_containment_join", oracle=r"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(lower(text), '\s+'))) AS term
  FROM documents WHERE doc_id < 500
), m AS (
  SELECT doc_id, COUNT(*) AS m FROM tok GROUP BY doc_id
), i AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM tok a JOIN tok b USING (term)
  WHERE a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(inter * 1.0 / m.m, 6) AS containment
FROM i JOIN m ON m.doc_id = doc_a
WHERE inter * 10 >= 9 * m.m
""")
def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric token-containment join: emit (a, b) when
    |T_a INTERSECT T_b| / |T_a| >= 0.9 — "a is subsumed by b". The
    asymmetric sibling of the symmetric Jaccard families
    (q_setsim_join, q_dedup_tokenset): a quote-page or boilerplate
    wrapper containing a whole smaller document is invisible to
    Jaccard (union is dominated by the big doc) but is exactly what a
    training corpus must catch — the small doc's tokens still enter
    the model twice.

    Prefix filter, lossless at t = 9/10: if C(a->b) >= t then at most
    floor((1-t)|T_a|) of a's tokens are absent from b, so among a's
    floor((1-t)|T_a|) + 1 RAREST tokens (global-df ascending order,
    ties by token) at least one appears in b. The candidate join is
    therefore a's short prefix against b's FULL token list — candidate
    volume is sum over prefix tokens of df, and because the prefix
    keeps only the df-ascending head, stop-term df^2 blowup never
    happens (same engine as q_setsim_join but with the one-sided
    prefix the containment bound permits). Threshold test is
    all-integer (inter*10 >= 9*m_a): no float at the decision point.

    Scale: df table is |vocab| (broadcastable after the agg); the
    prefix join shuffles prefix tokens only; verification touches
    surviving pairs. The doc_id < 500 slice bounds the oracle's
    all-pairs check; the Spark plan is slice-independent."""
    # spread=True (r13): the tokenize branches (sizes / dfreq / the
    # prefix join probe) each re-tokenize the single-file scan in ONE
    # task — stage-profiled as three concurrent 1.4 s single-task
    # stages; the round-robin spread parallelizes the regex split +
    # explode map work (every downstream result is a set/aggregate, so
    # partitioning cannot change it).
    d = (load_table(spark, sf_dir, "documents", spread=True)
         .filter(F.col("doc_id") < 500))
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower("text"), _TOK)))
        .alias("term"))
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("m"))
    dfreq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ranked = tok.join(dfreq, "term").select(
        "doc_id", "term",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy("df", "term")).alias("r"),
        F.count(F.lit(1)).over(
            W.partitionBy("doc_id").orderBy("df", "term")
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("m"))
    # prefix length floor(m/10) + 1, all-integer (t = 9/10)
    prefix = ranked.filter(F.col("r") <= F.floor(F.col("m") / 10) + 1)
    cand = (prefix.alias("pa")
            .join(tok.alias("tb"),
                  (F.col("tb.term") == F.col("pa.term"))
                  & (F.col("tb.doc_id") != F.col("pa.doc_id")))
            .select(F.col("pa.doc_id").alias("doc_a"),
                    F.col("tb.doc_id").alias("doc_b"))
            .distinct())
    sets = d.select(
        "doc_id",
        F.array_distinct(F.split(F.lower("text"), _TOK)).alias("ts"))
    sa, sb = sets.alias("sa"), sets.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.ts"), F.col("sb.ts")))
    return (cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
            .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
            .select("doc_a", "doc_b", inter.alias("inter"),
                    F.size("sa.ts").alias("m_a"))
            .filter(F.col("inter") * 10 >= 9 * F.col("m_a"))
            .select("doc_a", "doc_b",
                    F.round(F.col("inter").cast("double") / F.col("m_a"), 6)
                    .alias("containment")))


# ---------------------------------------------------------------------------
# k-NN label-noise detection (data-quality audit over labeled embeddings)
# ---------------------------------------------------------------------------

@query("q_label_knn_noise", oracle="""
WITH norms AS (
  SELECT vec_id, SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)) AS nrm
  FROM (SELECT vec_id, UNNEST(embedding) AS e FROM embeddings)
  GROUP BY vec_id
), pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(UNNEST(q.embedding) AS DOUBLE) AS qe,
         CAST(UNNEST(c.embedding) AS DOUBLE) AS ce
  FROM embeddings q CROSS JOIN embeddings c
  WHERE q.vec_id < 100 AND q.vec_id <> c.vec_id
), dots AS (
  SELECT query_id, cand_id, SUM(qe * ce) AS dot FROM pairs GROUP BY 1, 2
), scored AS (
  SELECT query_id, cand_id,
         ROUND(dot / SQRT(nq.nrm * nc.nrm), 6) AS cos
  FROM dots
  JOIN norms nq ON nq.vec_id = query_id
  JOIN norms nc ON nc.vec_id = cand_id
), nn AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, cand_id) AS rn
    FROM scored) WHERE rn <= 5
)
SELECT nn.query_id AS vec_id,
       CAST(ql.label AS BIGINT) AS label,
       CAST(SUM(CASE WHEN cl.label <> ql.label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_disagree,
       ROUND(SUM(CASE WHEN cl.label <> ql.label THEN 1 ELSE 0 END)
             / 5.0, 6) + 0.0 AS noise_frac
FROM nn
JOIN embeddings ql ON ql.vec_id = nn.query_id
JOIN embeddings cl ON cl.vec_id = nn.cand_id
GROUP BY nn.query_id, ql.label
""")
def q_label_knn_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit via k-NN label disagreement (the Confident
    Learning / deep-k-NN family): for each labeled vector, find its 5
    cosine nearest neighbors and report the fraction whose label
    disagrees — vectors whose neighborhoods vote against them are the
    mislabeled-example candidates a training pipeline quarantines.

    Determinism: neighbors rank on the ROUNDED cosine with id tiebreak
    (the q_weighted_sample argmin rule), so engine fold-order cannot
    flip a pick; the disagreement count is pure integers.

    Scale: the demo scores a 100-query audit slice against the full
    corpus brute-force; production swaps candidate generation for the
    IVF/LSH path (operators/similarity.py, ivf_index.py) and the
    disagreement aggregate is unchanged. Labels ride the posting join
    as tiny ints — never the vectors."""
    e = load_table(spark, sf_dir, "embeddings")
    norm = F.aggregate(F.col("embedding"), F.lit(0.0),
                       lambda acc, x: acc + x.cast("double") * x.cast("double"))
    wn = e.select("vec_id", "label", "embedding", norm.alias("nrm"))
    q = (wn.filter(F.col("vec_id") < 100)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("label").alias("qlabel"),
                 F.col("embedding").alias("qv"), F.col("nrm").alias("qn")))
    c = wn.select(F.col("vec_id").alias("cand_id"),
                  F.col("label").alias("clabel"),
                  F.col("embedding").alias("cv"), F.col("nrm").alias("cn"))
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = (q.join(F.broadcast(c), F.col("query_id") != F.col("cand_id"))
              .withColumn("cos", F.round(
                  F.try_divide(dot, F.sqrt(F.col("qn") * F.col("cn"))), 6)))
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    nn = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    disagree = F.when(F.col("clabel") != F.col("qlabel"), 1).otherwise(0)
    return (nn.groupBy(F.col("query_id").alias("vec_id"),
                       F.col("qlabel").cast("long").alias("label"))
            .agg(F.sum(disagree).cast("long").alias("n_disagree"),
                 (F.round(F.sum(disagree) / 5.0, 6) + 0.0).alias("noise_frac")))


# ---------------------------------------------------------------------------
# Distributed AUC (Mann-Whitney rank-sum over score jump points)
# ---------------------------------------------------------------------------

@query("q_auc_ranking", oracle="""
WITH s AS (
  SELECT ROUND(CAST(embedding[1] AS DOUBLE), 6) AS score,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
), c AS (
  SELECT score,
         SUM(y) AS n_pos_s,
         SUM(1 - y) AS n_neg_s
  FROM s GROUP BY score
), cum AS (
  SELECT n_pos_s, n_neg_s,
         COALESCE(SUM(n_neg_s) OVER (
           ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_neg_below
  FROM c
), tot AS (
  SELECT SUM(n_pos_s) AS n_pos, SUM(n_neg_s) AS n_neg FROM c
)
SELECT ROUND(SUM(n_pos_s * (n_neg_below + n_neg_s / 2.0))
             / NULLIF(tot.n_pos * tot.n_neg, 0), 6) + 0.0 AS auc,
       CAST(tot.n_pos AS BIGINT) AS n_pos,
       CAST(tot.n_neg AS BIGINT) AS n_neg
FROM cum CROSS JOIN tot
GROUP BY tot.n_pos, tot.n_neg
""")
def q_auc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ROC-AUC via the Mann-Whitney rank-sum identity:
    AUC = P(score_pos > score_neg) + P(equal)/2, computed from
    per-DISTINCT-score class counts and a cumulative negative count —
    the model-evaluation anchor beside the training-step anchors
    (q_kmeans_step, q_grouped_regression). Demo scorer: first embedding
    component predicting label >= 5. Exact under ties (the /2 term is
    the tied-pair convention scikit-learn uses); scores are rounded to
    6 BEFORE grouping so both engines bucket identically.

    Scale: one hash shuffle on score for the jump-point counts
    (|distinct scores|, not |rows|); the cumulative negative count is
    then an EXACT two-level prefix sum — per-coarse-bucket totals
    (map-side combined, one bounded ordered window over |buckets| rows
    for the exclusive bucket offsets, broadcast back) plus a
    within-bucket window PARTITIONED by bucket — so no window runs
    over an unpartitioned |distinct scores| stream (the round-6 review
    item: the docstring promised bucketing the plan didn't have).
    |buckets| = 64 cells per unit of score range, bounded by the
    scorer's codomain, not the data size; tests/test_plans.py pins the
    partitioned-window shape. The oracle keeps the simple global
    window (same exact answer, oracle scale only)."""
    e = load_table(spark, sf_dir, "embeddings")
    s = e.select(
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"))
    c = (s.groupBy("score").agg(
        F.sum("y").alias("n_pos_s"),
        F.sum(1 - F.col("y")).alias("n_neg_s"))
        .withColumn("b", F.floor(F.col("score") * 64).cast("long")))
    wb = W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
    bt = (c.groupBy("b").agg(F.sum("n_neg_s").alias("bneg"))
          .select("b", F.coalesce(F.sum("bneg").over(wb), F.lit(0))
                  .alias("neg_before_b")))
    win = (W.partitionBy("b").orderBy("score")
           .rowsBetween(W.unboundedPreceding, -1))
    cum = (c.join(F.broadcast(bt), "b")
           .select("n_pos_s", "n_neg_s",
                   (F.col("neg_before_b")
                    + F.coalesce(F.sum("n_neg_s").over(win), F.lit(0)))
                   .alias("n_neg_below")))
    tot = c.agg(F.sum("n_pos_s").alias("n_pos"),
                F.sum("n_neg_s").alias("n_neg"))
    return (cum.crossJoin(F.broadcast(tot))
            .groupBy("n_pos", "n_neg")
            .agg((F.round(F.sum(F.col("n_pos_s")
                                * (F.col("n_neg_below")
                                   + F.col("n_neg_s") / 2.0))
                          # single-class input: AUC undefined -> NULL
                          # (ANSI mode would abort on the bare /0)
                          / F.nullif(F.col("n_pos") * F.col("n_neg"),
                                     F.lit(0)), 6) + 0.0)
                 .alias("auc"))
            .select("auc", F.col("n_pos").cast("long").alias("n_pos"),
                    F.col("n_neg").cast("long").alias("n_neg")))


# ---------------------------------------------------------------------------
# Zipf's-law fit over the token frequency spectrum
# ---------------------------------------------------------------------------

@query("q_zipf_fit", oracle=r"""
WITH toks AS (
  SELECT UNNEST(string_split_regex(lower(text), '\s+')) AS w FROM documents
), counts AS (
  SELECT w, COUNT(*) AS c FROM toks WHERE w <> '' GROUP BY w
), top AS (
  SELECT c FROM counts ORDER BY c DESC, w LIMIT 100
), pts AS (
  SELECT CAST(ROUND(LN(ROW_NUMBER() OVER (ORDER BY c DESC)) * 1000000)
              AS BIGINT) AS x,
         CAST(ROUND(LN(c) * 1000000) AS BIGINT) AS y
  FROM top
), s AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_vocab,
       ROUND((n * sxy - sx * sy)::DOUBLE / NULLIF(n * sxx - sx * sx, 0), 6)
         + 0.0 AS slope,
       ROUND((sy - (n * sxy - sx * sy)::DOUBLE / NULLIF(n * sxx - sx * sx, 0)
              * sx) / n / 1000000, 6) + 0.0 AS intercept,
       ROUND(((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy))
             / NULLIF((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy), 0),
             6) + 0.0 AS r2
FROM s
""")
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: least-squares slope of log(frequency) against
    log(rank) over the top-100 token spectrum — the corpus-health
    statistical fingerprint (natural text sits near slope -1; template
    spam and synthetic filler bend it) that complements the per-doc
    signals (q_char_entropy, q_ngram_repetition) with a corpus-level
    law. Outputs slope, intercept (in ln-count units), and R^2.

    Determinism: the spectrum cut is a total order (count desc, word);
    log points quantize to integer micro-units so the regression sums
    are exact integers; slope/intercept/R^2 are computed from those
    integers in one fixed expression both engines share.

    Scale: the frequency table is a map-side-combined groupBy; the
    top-100 cut is TakeOrderedAndProject (per-partition top-k, k-row
    driver merge — pinned in test_plans.py); the rank window and the
    regression then run over a bounded 100-row set, so the only
    full-corpus passes are the tokenize+count — exactly the
    q_token_topk scan shape."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    counts = (d.select(F.explode(F.split(F.lower("text"), _TOK)).alias("w"))
              .filter(F.col("w") != "")
              .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    top = counts.orderBy(F.col("c").desc(), "w").limit(100).select("c")
    # rank window over the bounded 100-row cut (NOT the full vocab —
    # same bounded-window precedent as the IVF centroid ranking)
    pts = top.select(
        F.round(F.log(F.row_number().over(W.orderBy(F.desc("c"))))
                * 1e6).cast("bigint").alias("x"),
        F.round(F.log("c") * 1e6).cast("bigint").alias("y"))
    s = pts.agg(F.count(F.lit(1)).alias("n"),
                F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"),
                F.sum(F.col("y") * F.col("y")).alias("syy"),
                F.sum(F.col("x") * F.col("y")).alias("sxy"))
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # degenerate spectrum (one point / zero variance): fit undefined
    slope = cov.cast("double") / F.nullif(varx, F.lit(0))
    return s.select(
        F.col("n").cast("bigint").alias("n_vocab"),
        (F.round(slope, 6) + 0.0).alias("slope"),
        (F.round((F.col("sy") - slope * F.col("sx")) / F.col("n") / 1e6, 6)
         + 0.0).alias("intercept"),
        (F.round(cov.cast("double") * cov
                 / F.nullif(varx.cast("double") * vary, F.lit(0.0)), 6)
         + 0.0).alias("r2"))


# ---------------------------------------------------------------------------
# Label-propagation communities (synchronous, value-pinned iterations)
# ---------------------------------------------------------------------------

@query("q_label_propagation", oracle="""
WITH e0 AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a
  JOIN lineitem b ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
  WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0
), e AS (
  SELECT pa AS src, pb AS dst FROM e0
  UNION ALL
  SELECT pb AS src, pa AS dst FROM e0
), l0 AS (
  SELECT DISTINCT src AS node, src AS lbl FROM e
), l1 AS (
  SELECT node, lbl FROM (
    SELECT e.src AS node, l.lbl,
           ROW_NUMBER() OVER (PARTITION BY e.src
                              ORDER BY COUNT(*) DESC, l.lbl) AS rk
    FROM e JOIN l0 l ON l.node = e.dst
    GROUP BY e.src, l.lbl
  ) WHERE rk = 1
), l2 AS (
  SELECT node, lbl FROM (
    SELECT e.src AS node, l.lbl,
           ROW_NUMBER() OVER (PARTITION BY e.src
                              ORDER BY COUNT(*) DESC, l.lbl) AS rk
    FROM e JOIN l1 l ON l.node = e.dst
    GROUP BY e.src, l.lbl
  ) WHERE rk = 1
), l3 AS (
  SELECT node, lbl FROM (
    SELECT e.src AS node, l.lbl,
           ROW_NUMBER() OVER (PARTITION BY e.src
                              ORDER BY COUNT(*) DESC, l.lbl) AS rk
    FROM e JOIN l2 l ON l.node = e.dst
    GROUP BY e.src, l.lbl
  ) WHERE rk = 1
)
SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS size
FROM l3 GROUP BY lbl
""")
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation
    (Raghavan et al. 2007) over the co-purchase graph, 3 value-pinned
    iterations: every node adopts the most frequent label among its
    neighbors (ties -> smallest label — a total order, so engines can
    never disagree). Where q_cluster_components answers "which nodes
    are CONNECTED", LPA answers "which nodes are DENSELY connected" —
    the community structure a curriculum/mixing stage uses to group
    related items.

    Determinism: labels are integer node ids throughout; the adopt
    rule is an integer-count argmax with a total-order tie-break;
    the iteration count is pinned (the q_pagerank re-anchoring
    argument: both engines iterate from identical state).

    Scale: each iteration is one |E| equi-join (labels ride as
    longs), one (node, lbl) map-side-combined count, and one
    node-keyed window — the Pregel step rendered relationally, same
    contract as q_pagerank; nothing is ever quadratic in degree. The
    edge list is cached once (_copurchase_edges) and each iteration's
    label table is localCheckpoint-ed — without both, the plan
    re-embeds the lineitem self-join once per branch per round (16
    scans in the r10 plan sweep); with them every round is exactly
    one |E| join over the materialized edges (operators/pagerank.py's
    loop contract)."""
    # Runs on the stock-floor child session because an interleaved
    # min-of-3 A/B (sf0.1, local[32]) measured it faster there:
    # 3.42 / 2.93 s under the 64 KB floor, 2.77 / 2.64 s at stock.
    # That measurement is the reason, not the plan's shape: its label x
    # edge joins do expand output.
    spark = stock_coalesce_floor(spark)
    e0 = _copurchase_edges(spark, sf_dir)
    e = (e0.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
         .unionAll(e0.select(F.col("pb").alias("src"),
                             F.col("pa").alias("dst"))))
    lbl = e.select(F.col("src").alias("node")).distinct() \
           .select("node", F.col("node").alias("lbl"))
    w = W.partitionBy("vnode").orderBy(F.col("c").desc(), "lbl")
    for i in range(3):
        votes = (e.join(lbl, F.col("node") == F.col("dst"))
                 .groupBy(F.col("src").alias("vnode"), "lbl")
                 .agg(F.count(F.lit(1)).alias("c")))
        lbl = (votes.withColumn("rk", F.row_number().over(w))
               .filter(F.col("rk") == 1)
               .select(F.col("vnode").alias("node"), "lbl"))
        if i < 2:  # keep the last round's Pregel step plan-inspectable
            lbl = lbl.localCheckpoint(eager=False)
    return (lbl.groupBy(F.col("lbl").alias("community"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("size")))


# ---------------------------------------------------------------------------
# k-core peeling (3 value-pinned rounds)
# ---------------------------------------------------------------------------

@query("q_kcore", oracle="""
WITH e0 AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a
  JOIN lineitem b ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
  WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0
), e AS (
  SELECT pa AS src, pb AS dst FROM e0
  UNION ALL
  SELECT pb AS src, pa AS dst FROM e0
), a0 AS (
  SELECT src AS node FROM e GROUP BY src HAVING COUNT(*) >= 3
), a1 AS (
  SELECT e.src AS node FROM e
  JOIN a0 s ON s.node = e.src JOIN a0 d ON d.node = e.dst
  GROUP BY e.src HAVING COUNT(*) >= 3
), a2 AS (
  SELECT e.src AS node FROM e
  JOIN a1 s ON s.node = e.src JOIN a1 d ON d.node = e.dst
  GROUP BY e.src HAVING COUNT(*) >= 3
), final AS (
  SELECT e.src AS node, COUNT(*) AS deg FROM e
  JOIN a2 s ON s.node = e.src JOIN a2 d ON d.node = e.dst
  GROUP BY e.src
)
SELECT CAST(deg AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM final GROUP BY deg
""")
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=3, three value-pinned rounds) on the
    co-purchase graph, reported as the core's degree histogram — the
    dense-subgraph filter (spam rings, link farms, well-connected
    product clusters live in high cores; stragglers peel away). Each
    round drops nodes whose degree WITHIN the surviving subgraph is
    < k; three rounds is the exact 3-core when peeling has converged
    (an iterated production form loops to an empty-peel fixpoint with
    per-iteration lineage truncation, exactly operators/pagerank.py's
    loop contract). Completes the graph family: connectivity
    (components), centrality (PageRank), distance (BFS), density
    (triangles), community (LPA), coreness (this).

    Determinism: pure integer degree counts and thresholds.

    Scale: each round is one |E| double semi-join against the alive
    set + a map-side-combined degree groupBy — the Pregel step; the
    alive set only shrinks, so rounds get cheaper, and nothing is
    ever quadratic in degree. The edge list is cached once
    (_copurchase_edges) and each round's alive set is
    localCheckpoint-ed — without both, the s/d double-branch doubles
    the embedded plan per round (the r10 plan sweep measured 60
    lineitem scans in this one query); with them the plan is linear
    in rounds over one materialized edge relation."""
    e0 = _copurchase_edges(spark, sf_dir)
    e = (e0.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
         .unionAll(e0.select(F.col("pb").alias("src"),
                             F.col("pa").alias("dst"))))
    alive = (e.groupBy(F.col("src").alias("node"))
             .agg(F.count(F.lit(1)).alias("deg"))
             .filter(F.col("deg") >= 3).select("node")
             .localCheckpoint(eager=False))
    for _ in range(2):
        s = alive.select(F.col("node").alias("ns"))
        d = alive.select(F.col("node").alias("nd"))
        alive = (e.join(s, F.col("src") == F.col("ns"))
                 .join(d, F.col("dst") == F.col("nd"))
                 .groupBy(F.col("src").alias("node"))
                 .agg(F.count(F.lit(1)).alias("deg"))
                 .filter(F.col("deg") >= 3).select("node")
                 .localCheckpoint(eager=False))  # linear lineage per round
    s = alive.select(F.col("node").alias("ns"))
    d = alive.select(F.col("node").alias("nd"))
    final = (e.join(s, F.col("src") == F.col("ns"))
             .join(d, F.col("dst") == F.col("nd"))
             .groupBy(F.col("src").alias("node"))
             .agg(F.count(F.lit(1)).alias("deg")))
    return (final.groupBy(F.col("deg").cast("bigint").alias("degree"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes")))


# ---------------------------------------------------------------------------
# PCA power-iteration step (top principal component)
# ---------------------------------------------------------------------------

@query("q_pca_power_step", oracle="""
WITH x AS (
  SELECT vec_id, CAST(t.j AS BIGINT) AS j,
         embedding[CAST(t.j AS BIGINT)]::DOUBLE AS xj,
         embedding[1]::DOUBLE AS x1
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(j)
), w1 AS (
  SELECT j, SUM(CAST(ROUND(x1 * xj * 1e9) AS BIGINT)) AS w1n
  FROM x GROUP BY j
), n1 AS (SELECT SQRT(SUM(w1n::DOUBLE * w1n::DOUBLE)) AS nrm FROM w1),
v1 AS (SELECT j, w1n::DOUBLE / n1.nrm AS v FROM w1 CROSS JOIN n1),
s AS (
  SELECT x.vec_id, SUM(CAST(ROUND(x.xj * v1.v * 1e9) AS BIGINT)) / 1e9 AS sv
  FROM x JOIN v1 USING (j) GROUP BY x.vec_id
), w2 AS (
  SELECT x.j, SUM(CAST(ROUND(s.sv * x.xj * 1e9) AS BIGINT)) AS w2n
  FROM x JOIN s ON x.vec_id = s.vec_id GROUP BY x.j
), n2 AS (SELECT SQRT(SUM(w2n::DOUBLE * w2n::DOUBLE)) AS nrm FROM w2),
lam AS (
  SELECT SUM(CAST(ROUND(sv * sv * 1e9) AS BIGINT)) / 1e9
         / (SELECT COUNT(*) FROM embeddings) AS l
  FROM s
)
SELECT j AS dim, ROUND(w2n::DOUBLE / n2.nrm, 6) + 0.0 AS loading,
       ROUND(lam.l, 6) + 0.0 AS rayleigh
FROM w2 CROSS JOIN n2 CROSS JOIN lam
""")
def q_pca_power_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two pinned power-iteration steps toward the top principal
    component of the embedding matrix (uncentered Gram PCA) — the
    dimensionality-reduction anchor of the iterative-ML family
    (q_kmeans_step trains a clustering, q_grouped_regression a linear
    fit, this an eigenvector): v1 = normalize(X'X e1), v2 =
    normalize(X'X v1), plus the Rayleigh quotient v1'Cv1 = sum(s^2)/n
    — the variance the component explains. Production loops the same
    step to convergence; two pinned steps keep it SQL-expressible (the
    q_kmeans_step anchoring rule).

    Determinism: every row-indexed float sum quantizes its terms to
    integer nano-units first (the Kaplan-Meier rule) — w1, the per-row
    projections s, w2, and sum(s^2) are all order-free int64 sums; the
    norms divide 64-cell integer aggregates; finals rounded at 6.

    Scale: X'Xv as X'(Xv) — never materialize the Gram matrix. Each
    step is one map-side-combined groupBy onto d=64 cells (w) or onto
    vec_id (s, co-partitioned with the explode); v broadcasts as d
    rows. int64 holds nano-terms to ~1e9 rows per partial; beyond
    that, drop to 1e6 quantization (documented trade: 3 fewer digits,
    1000x more rows)."""
    e = load_table(spark, sf_dir, "embeddings")
    x = (e.select("vec_id",
                  F.posexplode("embedding").alias("j0", "xj"),
                  F.element_at("embedding", 1).cast("double").alias("x1"))
         .select("vec_id", (F.col("j0") + 1).cast("long").alias("j"),
                 F.col("xj").cast("double").alias("xj"), "x1"))
    w1 = x.groupBy("j").agg(
        F.sum(F.round(F.col("x1") * F.col("xj") * 1e9).cast("long"))
        .alias("w1n"))
    n1 = w1.agg(F.sqrt(F.sum(F.col("w1n").cast("double")
                             * F.col("w1n").cast("double"))).alias("nrm1"))
    v1 = (w1.crossJoin(F.broadcast(n1))
          .select("j", (F.col("w1n").cast("double") / F.col("nrm1"))
                  .alias("v")))
    s = (x.join(F.broadcast(v1), "j")
         .groupBy("vec_id")
         .agg((F.sum(F.round(F.col("xj") * F.col("v") * 1e9).cast("long"))
               / 1e9).alias("sv")))
    w2 = (x.join(s, "vec_id")
          .groupBy("j")
          .agg(F.sum(F.round(F.col("sv") * F.col("xj") * 1e9).cast("long"))
               .alias("w2n")))
    n2 = w2.agg(F.sqrt(F.sum(F.col("w2n").cast("double")
                             * F.col("w2n").cast("double"))).alias("nrm2"))
    cnt = e.agg(F.count("*").alias("nrows"))
    lam = (s.agg(F.sum(F.round(F.col("sv") * F.col("sv") * 1e9)
                       .cast("long")).alias("ssn"))
           .crossJoin(F.broadcast(cnt))
           .select((F.col("ssn") / 1e9 / F.col("nrows")).alias("l")))
    return (w2.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(lam))
            .select(F.col("j").alias("dim"),
                    (F.round(F.col("w2n").cast("double") / F.col("nrm2"), 6)
                     + F.lit(0.0)).alias("loading"),
                    (F.round(F.col("l"), 6) + F.lit(0.0)).alias("rayleigh")))


# ---------------------------------------------------------------------------
# Hilbert-curve layout key (round 12) — the Z-order sibling
# ---------------------------------------------------------------------------

def _hilbert_cases(s: int) -> tuple[str, str, str]:
    """One unrolled Hilbert xy2d step at sub-square size ``s`` (n=256):
    the (x, y, d) rewrite expressions. Plain ANSI CASE + bitwise AND —
    the same text runs on Spark SQL and DuckDB. Within a step the
    names x/y/d bind to the INPUT relation's columns (input columns
    take precedence over same-select aliases in both engines)."""
    rx = f"(x & {s}) > 0"
    ry = f"(y & {s}) > 0"
    # (3*rx) XOR ry spelled as a CASE so no dialect-specific xor is
    # needed: (0,0)->0 (0,1)->1 (1,0)->3 (1,1)->2
    quad = (f"CASE WHEN {rx} AND {ry} THEN 2 WHEN {rx} THEN 3 "
            f"WHEN {ry} THEN 1 ELSE 0 END")
    new_x = f"CASE WHEN {ry} THEN x WHEN {rx} THEN 255 - y ELSE y END"
    new_y = f"CASE WHEN {ry} THEN y WHEN {rx} THEN 255 - x ELSE x END"
    new_d = f"d + {s * s} * ({quad})"
    return new_x, new_y, new_d


def _hilbert_oracle() -> str:
    steps, prev = [], "q0"
    for i, s in enumerate((128, 64, 32, 16, 8, 4, 2, 1)):
        nx, ny, nd = _hilbert_cases(s)
        cur = f"q{i + 1}"
        steps.append(f"{cur} AS (SELECT p_partkey, {nx} AS x, {ny} AS y,"
                     f" x0, y0, {nd} AS d FROM {prev})")
        prev = cur
    return (
        "WITH q0 AS (SELECT p_partkey,"
        " CAST(p_partkey % 256 AS BIGINT) AS x,"
        " CAST(p_size AS BIGINT) AS y,"
        " CAST(p_partkey % 256 AS BIGINT) AS x0,"
        " CAST(p_size AS BIGINT) AS y0,"
        " CAST(0 AS BIGINT) AS d FROM part),\n"
        + ",\n".join(steps)
        + f"\nSELECT p_partkey, x0 AS x, y0 AS y,"
          f" d AS hval, d // 4096 AS hbucket FROM {prev}"
    )


@query("q_hilbert_key", oracle=_hilbert_oracle())
def q_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout key over the SAME two scan dimensions as
    q_zorder_key (partkey-mod and size, 8 bits each) — the space-
    filling curve with strictly better locality than Morton order
    (every curve step is distance 1, so a contiguous hval range maps
    to at most a few compact rectangles, where a Z-order range
    straddles the large 'seams' at power-of-two boundaries). At 100 TB
    this is the difference between a 2-D range predicate touching K
    parquet files and touching 2-3K: writers cluster by
    ``repartitionByRange("hbucket") + sortWithinPartitions("hval")``,
    and min/max footers stay tight on BOTH dimensions.

    The classic xy2d fold (8 quadrant steps of rotate/flip + offset,
    public-domain algorithm) unrolls into 8 chained projections of
    pure integer CASE/AND arithmetic — exact on both engines, one
    shared expression text (see _hilbert_cases). Map-only: zero
    Exchange, zero UDF (pinned by test_hilbert_map_only); a golden
    test pins the SQL fold against an independent Python reference."""
    p = load_table(spark, sf_dir, "part")
    # x0/y0 carry the ORIGINAL coordinates through the fold (the step
    # rewrites x and y in place)
    df = p.selectExpr("p_partkey",
                      "CAST(p_partkey % 256 AS BIGINT) AS x",
                      "CAST(p_size AS BIGINT) AS y",
                      "CAST(p_partkey % 256 AS BIGINT) AS x0",
                      "CAST(p_size AS BIGINT) AS y0",
                      "CAST(0 AS BIGINT) AS d")
    for s in (128, 64, 32, 16, 8, 4, 2, 1):
        nx, ny, nd = _hilbert_cases(s)
        df = df.selectExpr("p_partkey", f"{nx} AS x", f"{ny} AS y",
                           "x0", "y0", f"{nd} AS d")
    return df.selectExpr("p_partkey", "x0 AS x", "y0 AS y",
                         "d AS hval", "d DIV 4096 AS hbucket")


# ---------------------------------------------------------------------------
# Matryoshka truncation recall (round 12) — embedding-dim budget eval
# ---------------------------------------------------------------------------

@query("q_matryoshka_recall", oracle="""
WITH dims AS (SELECT CAST(UNNEST([16, 32, 64]) AS BIGINT) AS dim),
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
pairs AS (
  SELECT d.dim, q.vec_id AS query_id, c.vec_id AS cand_id,
         list_transform(q.embedding[1:d.dim], x -> CAST(x AS DOUBLE)) AS qv,
         list_transform(c.embedding[1:d.dim], x -> CAST(x AS DOUBLE)) AS cv
  FROM dims d CROSS JOIN q CROSS JOIN embeddings c
  WHERE q.vec_id <> c.vec_id
), scored AS (
  SELECT dim, query_id, cand_id,
         ROUND(list_sum(list_transform(range(1, CAST(dim AS INT) + 1),
                                       i -> qv[i] * cv[i]))
           / NULLIF(SQRT(
               list_sum(list_transform(range(1, CAST(dim AS INT) + 1),
                                       i -> qv[i] * qv[i]))
             * list_sum(list_transform(range(1, CAST(dim AS INT) + 1),
                                       i -> cv[i] * cv[i]))), 0), 9) AS cos
  FROM pairs
), ranked AS (
  SELECT dim, query_id, cand_id,
         ROW_NUMBER() OVER (PARTITION BY dim, query_id
                            ORDER BY cos DESC, cand_id) AS rn
  FROM scored
), top AS (
  SELECT dim, query_id, cand_id FROM ranked WHERE rn <= 5
), truth AS (
  SELECT query_id, cand_id FROM top WHERE dim = 64
), den AS (
  SELECT COUNT(*) AS n_truth FROM truth
), hits AS (
  SELECT t.dim, COUNT(*) AS n_hit
  FROM top t JOIN truth u
    ON t.query_id = u.query_id AND t.cand_id = u.cand_id
  GROUP BY t.dim
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(n_truth AS BIGINT) AS n_truth,
       ROUND(n_hit::DOUBLE / NULLIF(n_truth, 0), 6) + 0.0 AS mean_recall
FROM hits CROSS JOIN den ORDER BY dim
""")
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / truncated-embedding retrieval eval: recall@5 of
    cosine search using only the FIRST 16 or 32 of the 64 embedding
    dimensions, against the full-dim top-5 as ground truth (the dim=64
    row is the 1.0 self-check). This is the dimension-budget question
    every embedding pipeline answers before shipping a cheaper index:
    how much retrieval quality does each prefix length keep? (For
    matryoshka-trained encoders the prefix is the sanctioned
    truncation; for others this measures the loss directly.)

    Determinism: cosines round at 9 digits with a cand_id tiebreak
    BEFORE ranking (the argmin/top-k rule), so a last-ulp fold-order
    difference cannot flip a top-5 membership; recall counts are
    integers; one rounded division per dim.

    Scale: the eval set (16 queries x 3 dims) broadcasts onto ONE scan
    of the corpus — the q_sim_topk bounded-anchor pattern; at 100 TB
    the corpus side streams through executors once, and truth/test
    top-k tables are |queries| x 5 rows."""
    e = (load_table(spark, sf_dir, "embeddings", spread=True)
         .select("vec_id", "embedding"))
    # r13 (guide §2.3): the three prefix cosines are computed per
    # (query, cand) pair with STATIC slice lengths — the old form
    # exploded the dim spine first (3x the pairs through the join) and
    # recomputed both prefix NORMS per exploded pair from runtime
    # slices. Prefix norms now project once per side; each per-pair
    # prefix dot is the identical left-to-right fold over the first d
    # elements (slice with a literal length), so every cosine is
    # bit-identical and the (dim, cos) set is unchanged
    # (oracle-verified at all three SFs). The folds stay interpreted
    # HOFs: the 64-term unroll is the JIT huge-method anti-lesson
    # (operators/similarity.py::unrolled_dot docstring).
    dims = (16, 32, 64)

    def pdot(a: str, b: str, d: int):
        return F.expr(
            f"aggregate(zip_with(slice({a}, 1, {d}), slice({b}, 1, {d}),"
            f" (a, b) -> CAST(a AS DOUBLE) * b),"
            f" 0D, (acc, v) -> acc + v)")

    def pnorms(col: str, pre: str):
        return [
            F.expr(f"aggregate(slice({col}, 1, {d}), 0D,"
                   f" (acc, v) -> acc + CAST(v AS DOUBLE) * v)")
            .alias(f"{pre}{d}") for d in dims]

    qd = (e.filter(F.col("vec_id") < 16)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("qfull"))
          .select("query_id", "qfull", *pnorms("qfull", "qn")))
    pairs = (e.select(F.col("vec_id").alias("cand_id"),
                      F.col("embedding").alias("cfull"),
                      *pnorms("embedding", "cn"))
             .crossJoin(F.broadcast(qd))
             .filter(F.col("query_id") != F.col("cand_id")))
    cos_d = {d: F.round(
        pdot("qfull", "cfull", d)
        / F.nullif(F.sqrt(F.col(f"qn{d}") * F.col(f"cn{d}")), F.lit(0.0)),
        9) for d in dims}
    scored = pairs.select(
        "query_id", "cand_id",
        F.explode(F.array(*[
            F.struct(F.lit(d).cast("long").alias("dim"),
                     cos_d[d].alias("cos")) for d in dims])).alias("_dc")
    ).select(F.col("_dc.dim").alias("dim"), "query_id", "cand_id",
             F.col("_dc.cos").alias("cos"))
    w = W.partitionBy("dim", "query_id").orderBy(F.desc("cos"),
                                                 F.asc("cand_id"))
    top = (scored.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") <= 5)
           .select("dim", "query_id", "cand_id"))
    truth = (top.filter(F.col("dim") == 64)
             .select(F.col("query_id").alias("tq"),
                     F.col("cand_id").alias("tc")))
    den = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    hits = (top.join(F.broadcast(truth),
                     (F.col("query_id") == F.col("tq"))
                     & (F.col("cand_id") == F.col("tc")))
            .groupBy("dim").agg(F.count(F.lit(1)).alias("n_hit")))
    return (hits.crossJoin(F.broadcast(den))
            .select(F.col("dim").cast("long").alias("dim"),
                    F.col("n_truth").cast("long").alias("n_truth"),
                    (F.round(F.col("n_hit").cast("double")
                             / F.nullif(F.col("n_truth"), F.lit(0)), 6)
                     + 0.0).alias("mean_recall"))
            .orderBy("dim"))
