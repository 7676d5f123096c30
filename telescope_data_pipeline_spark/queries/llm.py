"""LLM-training-data pipeline operators (SURVEY.md §2.11) on the
``documents`` (text) and ``embeddings`` (vector) tables.

Oracle-checkable forms live here; hash-seeded variants (MinHash-LSH,
SimHash, random-hyperplane ANN) whose outputs depend on a specific hash
function are registered as rows-only queries from
``operators.dedup`` / ``operators.similarity``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import query

#: Tokenizer used consistently across text queries (Spark split pattern and
#: the DuckDB regex are the same).
_TOK = r"\s+"


@query("q_dedup_exact", oracle="""
SELECT substr(text, 1, 30) AS dedup_key,
       MIN(doc_id)         AS keep_id,
       COUNT(*)            AS n_copies
FROM documents
GROUP BY 1
HAVING COUNT(*) > 1
""")
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on a normalized content key, keep the smallest
    id. Demonstrated on a 30-char prefix key (the driver corpus has no
    full-text duplicates). At 100 TB the groupBy key is ``sha2(text, 256)``
    so the shuffle carries 32-byte digests, never the document bytes —
    same plan shape, same semantics (collision probability ~2^-128)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.substring("text", 1, 30).alias("dedup_key"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


@query("q_dedup_tokenset", oracle=r"""
SELECT array_to_string(list_sort(list_distinct(string_split_regex(text, '\s+'))), ' ')
         AS fingerprint,
       MIN(doc_id) AS keep_id,
       COUNT(*)    AS n_copies
FROM documents
GROUP BY 1
HAVING COUNT(*) > 1
""")
def q_dedup_tokenset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words fingerprint dedup: documents with identical distinct
    token sets are near-duplicates (word-order-insensitive). The sorted
    token-set string is the canonical form of an n-gram fingerprint; at
    scale the fingerprint is hashed before the shuffle."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.array_join(F.array_sort(F.array_distinct(F.split("text", _TOK))), " ")
    return (
        d.groupBy(fp.alias("fingerprint"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


@query("q_ngram_jaccard", oracle=r"""
WITH toks AS (
  SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS t FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       LEN(list_filter(a.t, x -> list_contains(b.t, x))) AS n_common,
       ROUND(LEN(list_filter(a.t, x -> list_contains(b.t, x)))::DOUBLE
             / (LEN(a.t) + LEN(b.t) - LEN(list_filter(a.t, x -> list_contains(b.t, x)))),
             6) AS jaccard
FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
""")
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard similarity between document pairs (here the
    deterministic consecutive-id pairing; the MinHash-LSH operator uses
    the same measure over candidate pairs). array_intersect/union stay
    JVM-side — no Python in the loop."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select("doc_id", F.array_distinct(F.split("text", _TOK)).alias("t"))
    a = toks.alias("a")
    b = toks.select((F.col("doc_id") - 1).alias("join_id"),
                    F.col("doc_id").alias("doc_b"), F.col("t").alias("tb"))
    inter = F.size(F.array_intersect(F.col("a.t"), F.col("tb")))
    union = F.size(F.col("a.t")) + F.size(F.col("tb")) - inter
    return (
        a.join(b, F.col("a.doc_id") == F.col("join_id"))
        .select(F.col("a.doc_id").alias("doc_a"), "doc_b",
                inter.alias("n_common"),
                F.round(inter.cast("double") / union, 6).alias("jaccard"))
    )


@query("q_sim_topk", oracle="""
WITH norms AS (
  SELECT vec_id, SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)) AS nrm
  FROM (SELECT vec_id, UNNEST(embedding) AS e FROM embeddings)
  GROUP BY vec_id
), pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(UNNEST(q.embedding) AS DOUBLE) AS qe,
         CAST(UNNEST(c.embedding) AS DOUBLE) AS ce
  FROM embeddings q CROSS JOIN embeddings c
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
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search: 20 query vectors vs the
    full corpus, top-5 each. The dot product is a JVM-side higher-order
    fold over zipped arrays (no UDF). This is the exactness baseline the
    LSH-bucketed ANN operator (operators/similarity.py) is measured
    against; at 100 TB the corpus side is bucketed so each query scores
    only its candidate buckets."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    vecs = e.select("vec_id", "embedding")
    norm = F.aggregate(F.col("embedding"), F.lit(0.0),
                       lambda acc, x: acc + x.cast("double") * x.cast("double"))
    with_norm = vecs.withColumn("nrm", norm)
    q = (with_norm.filter(F.col("vec_id") < 20)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv"), F.col("nrm").alias("qn")))
    c = with_norm.select(F.col("vec_id").alias("cand_id"),
                         F.col("embedding").alias("cv"), F.col("nrm").alias("cn"))
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = (
        q.join(F.broadcast(c), F.col("query_id") != F.col("cand_id"))
        # try_divide: a zero-norm vector must yield NULL cosine (DuckDB
        # x/0 semantics), not an ANSI runtime failure
        .withColumn("cos", F.try_divide(dot, F.sqrt(F.col("qn") * F.col("cn"))))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "cand_id", F.col("rn").alias("rank"),
                (F.round("cos", 6) + 0.0).alias("cosine"))
    )


@query("q_text_stats", oracle=r"""
SELECT doc_id, lang,
       LEN(string_split_regex(text, '\s+'))                 AS n_tokens,
       LEN(list_distinct(string_split_regex(text, '\s+')))  AS n_uniq,
       ROUND(n_chars::DOUBLE / LEN(string_split_regex(text, '\s+')), 6) AS chars_per_tok,
       CASE WHEN n_chars < 150 THEN 'short'
            WHEN n_chars < 350 THEN 'medium'
            ELSE 'long' END                                   AS len_bucket
FROM documents
""")
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics: token count (whitespace tokenizer),
    vocabulary size, chars-per-token, length bucket — the quality-signal
    primitives of a training-data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", _TOK)
    n_tokens = F.size(toks)
    return d.select(
        "doc_id", "lang",
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.round(F.col("n_chars").cast("double") / n_tokens, 6).alias("chars_per_tok"),
        F.when(F.col("n_chars") < 150, "short")
         .when(F.col("n_chars") < 350, "medium")
         .otherwise("long").alias("len_bucket"),
    )


@query("q_doc_quality", oracle=r"""
SELECT doc_id,
       ROUND(LEAST(n_chars::DOUBLE / 400, 1.0) * 0.5
             + (LEN(list_distinct(string_split_regex(text, '\s+')))::DOUBLE
                / LEN(string_split_regex(text, '\s+'))) * 0.5, 6) AS quality,
       CASE WHEN n_chars >= 100
             AND LEN(string_split_regex(text, '\s+')) >= 20 THEN 1 ELSE 0 END AS keep
FROM documents
""")
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length saturation + lexical diversity) and
    a keep/drop gate — the filter stage of a data-curation pipeline."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", _TOK)
    diversity = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    length_score = F.least(F.col("n_chars").cast("double") / 400, F.lit(1.0))
    return d.select(
        "doc_id",
        F.round(length_score * 0.5 + diversity * 0.5, 6).alias("quality"),
        F.when((F.col("n_chars") >= 100) & (F.size(toks) >= 20), 1)
         .otherwise(0).alias("keep"),
    )


@query("q_lang_id", oracle=r"""
WITH scored AS (
  SELECT doc_id, lang,
         LEN(list_filter(string_split_regex(text, '\s+'),
                         t -> t IN ('the', 'a', 'of', 'and')))   AS en_score,
         LEN(list_filter(string_split_regex(text, '\s+'),
                         t -> t IN ('el', 'la', 'de', 'los')))   AS es_score,
         LEN(list_filter(string_split_regex(text, '\s+'),
                         t -> t IN ('der', 'die', 'das', 'und'))) AS de_score
  FROM documents
)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN en_score >= es_score AND en_score >= de_score THEN 'en'
            WHEN es_score >= de_score THEN 'es'
            ELSE 'de' END AS predicted_lang,
       en_score, es_score, de_score
FROM scored
""")
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language identification (the n-gram-heuristic shape:
    score per language from characteristic-token hits, argmax with a
    deterministic tie order). The driver corpus is synthetic so accuracy
    is not the point — the operator shape (tokenize → per-language score
    → argmax) is."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", _TOK)

    def score(markers: list[str]):
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scored = d.select(
        "doc_id", F.col("lang").alias("labeled_lang"),
        score(["the", "a", "of", "and"]).alias("en_score"),
        score(["el", "la", "de", "los"]).alias("es_score"),
        score(["der", "die", "das", "und"]).alias("de_score"),
    )
    return scored.select(
        "doc_id", "labeled_lang",
        F.when((F.col("en_score") >= F.col("es_score"))
               & (F.col("en_score") >= F.col("de_score")), "en")
         .when(F.col("es_score") >= F.col("de_score"), "es")
         .otherwise("de").alias("predicted_lang"),
        "en_score", "es_score", "de_score",
    )


@query("q_token_topk", oracle=r"""
SELECT tok, COUNT(*) AS n
FROM (SELECT UNNEST(string_split_regex(text, '\s+')) AS tok FROM documents)
GROUP BY tok
ORDER BY n DESC, tok
LIMIT 20
""")
def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token frequency top-20 (explode → count → top-k).
    The partial aggregation happens map-side; only per-token partial
    counts shuffle — the plan a 100 TB vocabulary count needs."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", _TOK)).alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
    )


@query("q_dedup_embed", oracle="""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(UNNEST(a.embedding) AS DOUBLE) AS x,
         CAST(UNNEST(b.embedding) AS DOUBLE) AS y
  FROM embeddings a CROSS JOIN embeddings b
  WHERE a.vec_id < b.vec_id
), dots AS (
  SELECT id_a, id_b, SUM(x * y) AS dot, SUM(x * x) AS na, SUM(y * y) AS nb
  FROM pairs GROUP BY 1, 2
)
SELECT id_a, id_b, ROUND(dot / SQRT(na * nb), 6) AS cosine
FROM dots WHERE dot / SQRT(na * nb) >= 0.4
""")
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.4 — the driver
    corpus tops out at 0.51 pairwise). BOUNDED ORACLE ANCHOR, not the
    production path: the broadcast all-pairs form exists so DuckDB can
    hash-check every pair exactly at oracle scale. The production
    entry point is operators/similarity.py::embedding_near_duplicates
    (banded hyperplane-LSH candidates + exact-cosine verify, linear
    shuffle — demoed by q_dedup_embed_lsh, recall- and plan-tested);
    same anchor/production split as q_dedup_minhash_md5 vs the
    xxhash64 MinHash."""
    from ..operators.similarity import cosine as cos_expr

    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos_expr("va", "vb"))
        .filter(F.col("cosine") >= 0.4)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


@query("q_dedup_embed_lsh", oracle=None)  # LSH candidates: rows-only
def q_dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs through the PRODUCTION path
    (operators/similarity.py::embedding_near_duplicates): multi-table
    hyperplane-LSH candidate equi-join + exact-cosine verify — never
    all-pairs (plan-tested: no CartesianProduct/BNLJ). Demo threshold
    matches the anchor's 0.4 with a low-bit/many-table config sized
    for recall at that unusually low threshold; the operator's
    defaults target the >= 0.9 near-duplicate regime. Precision is
    exact (verified cosine); recall is probabilistic, so rows-only —
    the planted-pair recall contract lives in
    tests/test_dedup_similarity.py.

    Cost attribution: at 4 bits the per-table bucket count is 16, so
    candidate volume approaches quadratic on a clustered corpus — the
    demo's wall time measures CANDIDATE COUNT, not engine speed.
    ``operators/similarity.py::embedding_lsh_candidates`` yields that
    candidate stream, so a timing can be put against its count;
    production near-dup at >= 0.9 runs the operator defaults (8 bits x
    8 tables, 256 buckets/table)."""
    from ..operators.similarity import embedding_near_duplicates

    # spread=True (r13): the single-file embeddings scan is one task,
    # serializing the 64 interpreted plane-dot folds per row that the
    # bucket assignment computes; the guarded round-robin repartition
    # spreads that map work across cores. Pair-SET output, so the
    # repartition cannot change the result (measured with the verify
    # precast: 4.5 s -> 2.4 s min-of-3 at sf0.1, identical pairs).
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    return embedding_near_duplicates(e, threshold=0.4, dim=64,
                                     n_bits=4, n_tables=16)


@query("q_dedup_near", oracle=None)  # hash-seeded candidates: rows-only check
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate detection (shingle → minhash → band →
    bucket-join → exact-Jaccard refine). Candidate generation depends on
    xxhash64, so no SQL oracle; the Jaccard refinement is verified against
    a brute-force oracle in tests/test_dedup.py."""
    from ..operators.dedup import minhash_near_duplicates

    d = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(d, "doc_id", "text",
                                   shingle_n=3, num_hashes=32, bands=8,
                                   threshold=0.2)


@query("q_dedup_simhash", oracle=None)  # hash-seeded: rows-only check
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: zero-Python JVM fingerprints (explode →
    xxhash64 → codegen'd bit votes, map-side combined), pigeonhole
    banding (max_hamming+1 chunks => guaranteed recall at the radius),
    popcount refine. Radius 3 for the demo: on the heavily templated
    synthetic corpus radius 7 materializes ~2.8M genuinely-near pairs,
    so its wall time measures result size, not engine speed (VERDICT r2);
    wider radii (up to 16) are exactness-tested against brute-force
    hamming in tests/test_dedup_similarity.py."""
    from ..operators.dedup import simhash_near_duplicates

    d = load_table(spark, sf_dir, "documents", spread=True)
    return simhash_near_duplicates(d, "doc_id", "text", max_hamming=3)


@query("q_sim_ann", oracle=None)  # LSH-approximate: rows-only check
def q_sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via random-hyperplane LSH (8 bits x
    4 tables): the scale path for similarity search — shuffle is linear
    in corpus size, never the cross product. Recall vs the brute-force
    baseline is measured in tests/test_similarity.py."""
    from ..operators.similarity import ann_topk

    e = load_table(spark, sf_dir, "embeddings")
    return ann_topk(e.filter(F.col("vec_id") < 20), e,
                    k=5, dim=64, n_bits=8, n_tables=4)


@query("q_sim_ivf", oracle=None)  # sample-trained centroids: rows-only check
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell approximate nearest neighbors (k-means coarse quantizer,
    nprobe cell search) — the inverted-file ANN family beside the LSH
    variant (q_sim_ann). nprobe=n_centroids reproduces exact top-k
    (verified in tests); shuffle is |corpus| + |queries|*nprobe."""
    from ..operators.similarity import ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(e.filter(F.col("vec_id") < 20), e,
                    k=5, n_centroids=16, nprobe=4)


@query("q_dedup_apply", oracle=r"""
WITH keep AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents
  GROUP BY array_to_string(list_sort(list_distinct(string_split_regex(text, '\s+'))), ' ')
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN keep USING (doc_id)
""")
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup APPLIED: the surviving corpus after keep-min-id dedup on the
    token-set fingerprint (q_dedup_tokenset reports the groups; this
    returns the cleaned dataset — the operator a pipeline actually
    chains). Implemented as a window rank, no self-join."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    fp = F.array_join(F.array_sort(F.array_distinct(F.split("text", _TOK))), " ")
    w = W.partitionBy(fp).orderBy("doc_id")
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


@query("q_dedup_clusters", oracle=None)  # hash-seeded pair graph: rows-only
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup dedup: MinHash-LSH pairs -> connected
    components (iterative min-label propagation, DataFrame-only) ->
    keep-min-id per cluster -> surviving corpus. The full dedup chain a
    training pipeline runs (pairs alone miss A~B~C transitivity)."""
    from ..operators.components import dedup_clusters
    from ..operators.dedup import minhash_near_duplicates

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(d, "doc_id", "text", threshold=0.5)
    return dedup_clusters(d.select("doc_id", "lang", "source", "n_chars"),
                          pairs, "doc_id")


@query("q_token_bpe", oracle=r"""
SELECT doc_id,
       LEN(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))     AS n_bpe_tokens,
       LEN(string_split_regex(text, '\s+'))                           AS n_ws_tokens
FROM documents
WHERE doc_id < 200
""")
def q_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex (letter runs / digit runs /
    single punctuation — the GPT-2 pre-tokenizer shape) next to the
    whitespace count. regexp_extract_all stays JVM-side."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    bpe = F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    return d.select(
        "doc_id",
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(F.split("text", _TOK)).alias("n_ws_tokens"),
    )


@query("q_fingerprint", oracle=None)  # hash-based: rows-only check
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting by winnowing (Schleimer et al. 2003):
    k-gram hashes -> sliding-window minimum -> distinct fingerprints per
    doc. All higher-order array ops (transform over positions + xxhash64
    + windowed array_min) — zero Python. Docs sharing fingerprints are
    copy-paste candidates."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", _TOK)
    k, w = 5, 4
    n_grams = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    gram_hashes = F.transform(
        F.sequence(F.lit(0), n_grams - 1),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, k))))
    n_windows = F.size(gram_hashes) - (w - 1)
    # Guard the short-doc edge: with 1..w-1 grams there is no full
    # window, and sequence(0, n_windows-1) would count DOWN (Spark's
    # sequence is bidirectional: sequence(0, -1) = [0, -1]), feeding
    # slice() an illegal 0 start. Winnowing's boundary rule applies:
    # such a doc's single fingerprint is the min over all its grams.
    fingerprints = F.when(n_windows >= 1, F.array_distinct(F.transform(
        F.sequence(F.lit(0), n_windows - 1),
        lambda i: F.array_min(F.slice(gram_hashes, i + 1, w))))) \
        .otherwise(F.array(F.array_min(gram_hashes)))
    return (
        d.filter(n_grams > 0)
        .select("doc_id",
                F.explode(fingerprints).alias("fingerprint"))
    )


@query("q_fingerprint_md5", oracle=r"""
WITH t AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
), g AS (
  SELECT doc_id,
         list_transform(range(0, len(toks) - 4),
           i -> md5(array_to_string(list_slice(toks, i + 1, i + 5), ' ')))
           AS gh
  FROM t WHERE len(toks) >= 5
)
SELECT doc_id, UNNEST(fps) AS fingerprint
FROM (
  SELECT doc_id,
         CASE WHEN len(gh) >= 4 THEN
           list_distinct(list_transform(range(0, len(gh) - 3),
             i -> list_min(list_slice(gh, i + 1, i + 4))))
         ELSE [list_min(gh)] END AS fps
  FROM g
)
""")
def q_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003), engine-portable
    form: identical to q_fingerprint but k-grams are md5-digested (hex
    strings order lexicographically the same way in Spark and DuckDB),
    which makes the whole pipeline oracle-checkable — the xxhash64 form
    stays the production choice (8-byte fingerprints, ~3x cheaper to
    hash and shuffle). Same per-row HOF shape: zero Python, zero
    shuffle before the final explode."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", _TOK)
    k, w = 5, 4
    n_grams = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    gram_hashes = F.transform(
        F.sequence(F.lit(0), n_grams - 1),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, k))))
    n_windows = F.size(gram_hashes) - (w - 1)
    fingerprints = F.when(n_windows >= 1, F.array_distinct(F.transform(
        F.sequence(F.lit(0), n_windows - 1),
        lambda i: F.array_min(F.slice(gram_hashes, i + 1, w))))) \
        .otherwise(F.array(F.array_min(gram_hashes)))
    return (
        d.filter(n_grams > 0)
        .select("doc_id",
                F.explode(fingerprints).alias("fingerprint"))
    )


@query("q_sample_stratified", oracle=r"""
WITH s AS (
  SELECT lang, n_chars FROM documents
  WHERE md5(concat('strat:', CAST(doc_id AS VARCHAR))) <
        CASE lang WHEN 'en' THEN 'e6666666666668000000000000000000'
                  WHEN 'fr' THEN '80000000000000000000000000000000'
                  WHEN 'es' THEN '80000000000000000000000000000000'
                  WHEN 'de' THEN '80000000000000000000000000000000'
                  WHEN 'zh' THEN '33333333333334000000000000000000'
                  ELSE '00000000000000000000000000000000' END
)
-- integer-first average: SUM*100/COUNT is a dyadic-exact double, so
-- the scale-0 ROUND agrees across engines even on .xx5 midpoints
-- (ROUND(AVG, 2) split at sf0.001: 309.275 -> 309.28 vs 309.27)
SELECT lang, COUNT(*) AS n_sampled,
       ROUND(SUM(n_chars) * 100.0 / COUNT(*)) / 100 + 0.0 AS avg_chars
FROM s GROUP BY lang
""")
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling for training-mix composition: per-language
    keep fractions (upsample en, downsample zh; unlisted languages
    dropped, like sampleBy with a missing stratum). The Bernoulli draw
    is the md5-threshold form of operators/mixing.py (the
    q_split_assign/q_mix_corpus_hash pattern) on a SALTED key, so the
    draw is independent of the corpus-mix query's, deterministic,
    content-addressed, and engine-portable — which is what promotes
    this from a rows-only check to a full DuckDB oracle (engine RNG
    sampleBy can never hash-match another engine). Map-only: one scan,
    one filter, one map-side-combined groupBy."""
    from ..operators.mixing import mix_by_hash

    d = (load_table(spark, sf_dir, "documents")
         .select(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))
                 .alias("skey"), "lang", "n_chars"))
    fractions = {"en": 0.9, "fr": 0.5, "es": 0.5, "de": 0.5, "zh": 0.2}
    sampled = mix_by_hash(d, "skey", "lang", fractions=fractions,
                          default_fraction=0.0)
    return (sampled.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_sampled"),
                 (F.round(F.sum("n_chars") * 100.0 / F.count(F.lit(1)))
                  / 100 + 0.0).alias("avg_chars")))


@query("q_agg_approx", oracle=None)  # sketch-based: rows-only check
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate twins of the exact aggregates — the 100 TB swaps
    the exact queries document: HyperLogLog count-distinct and t-digest
    quantiles. Accuracy vs the exact forms is asserted in
    tests/test_approx.py; sketches are engine-specific so no SQL oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
             F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
             F.percentile_approx("l_extendedprice", [0.25, 0.75], 10000)
              .alias("approx_iqr"))
        .select("l_returnflag", "approx_orders", "approx_median",
                F.col("approx_iqr")[0].alias("approx_q1"),
                F.col("approx_iqr")[1].alias("approx_q3"))
    )


@query("q_doc_repetition", oracle=r"""
WITH t AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
), m AS (
  SELECT doc_id, toks, LEN(toks) AS n_tok,
         list_transform(range(1, LEN(toks)),
                        i -> concat(toks[i], ' ', toks[i + 1])) AS bigrams
  FROM t WHERE LEN(toks) >= 2
)
SELECT doc_id, n_tok,
       ROUND(list_max(list_transform(list_distinct(toks),
                  u -> LEN(list_filter(toks, x -> x = u))))::DOUBLE
             / n_tok, 6) AS top_token_frac,
       ROUND(1.0 - LEN(list_distinct(bigrams))::DOUBLE / LEN(bigrams),
             6) AS dup_bigram_frac
FROM m
""")
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher-rule family, Rae et
    al. 2021 §A1.1: fraction of the doc that is the most frequent token,
    fraction of duplicate bigrams). Entirely per-row higher-order array
    ops — zero shuffle, zero Python; the whole stage map-executes next
    to the scan."""
    d = load_table(spark, sf_dir, "documents")
    return (d.select("doc_id", F.split("text", _TOK).alias("toks"))
            .filter(F.size("toks") >= 2)
            .select(
                "doc_id",
                F.size("toks").alias("n_tok"),
                F.round(F.array_max(F.transform(
                    F.array_distinct("toks"),
                    lambda u: F.size(F.filter(F.col("toks"),
                                              lambda x: x == u))))
                        .cast("double") / F.size("toks"), 6)
                 .alias("top_token_frac"),
                F.round(1.0 - F.size(F.array_distinct(F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("toks", i),
                        F.element_at("toks", i + 1))))).cast("double")
                    / (F.size("toks") - 1), 6).alias("dup_bigram_frac")))


@query("q_text_redact", oracle=r"""
SELECT doc_id,
       regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
                      '\w{8,}', '<LONG>', 'g') AS redacted,
       LEN(regexp_extract_all(text, '[0-9]+'))
         + LEN(regexp_extract_all(text, '\w{8,}')) AS n_redactions
FROM documents
""")
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style pattern redaction (scrubbing stage of a training-data
    pipeline): digit runs and long identifier-like tokens replaced by
    placeholder tags, with a per-doc redaction count. Pure JVM
    regexp_replace — codegen'd, no Python, pushdown-friendly."""
    d = load_table(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace("text", "[0-9]+", "<NUM>"), r"\w{8,}", "<LONG>")
    n = (F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), F.lit(0)))
         + F.size(F.regexp_extract_all("text", F.lit(r"\w{8,}"), F.lit(0))))
    return d.select("doc_id", red.alias("redacted"), n.alias("n_redactions"))


@query("q_decontaminate", oracle=r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
), sh AS (
  SELECT doc_id, UNNEST(list_distinct(list_transform(range(1, LEN(t) - 2),
         i -> array_to_string(t[i:i+3], ' ')))) AS s
  FROM toks WHERE LEN(t) >= 4
), bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id < 10
)
SELECT c.doc_id, COUNT(DISTINCT c.s) AS n_hits
FROM sh c JOIN bench USING (s)
WHERE c.doc_id >= 10
GROUP BY c.doc_id
""")
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the eval-overlap scrub every training
    corpus needs): flag corpus documents sharing any 4-gram with a
    benchmark set (here docs 0-9), with the overlapping-gram count.
    The benchmark gram set is tiny -> BROADCAST to the exploded corpus
    grams, so the only shuffle is the per-doc count; at 100 TB the gram
    strings are xxhash64'd before the join so the broadcast carries
    8-byte keys (same plan, hashed key — kept raw here so DuckDB can
    oracle it)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", _TOK)
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size(toks) - 3),
        lambda i: F.concat_ws(" ", F.element_at(toks, i),
                              F.element_at(toks, i + 1),
                              F.element_at(toks, i + 2),
                              F.element_at(toks, i + 3))))
    sh = (d.filter(F.size(toks) >= 4)
          .select("doc_id", F.explode(grams).alias("s")))
    bench = sh.filter(F.col("doc_id") < 10).select("s").distinct()
    return (sh.filter(F.col("doc_id") >= 10)
            .join(F.broadcast(bench), "s")
            .groupBy("doc_id")
            .agg(F.countDistinct("s").alias("n_hits")))


@query("q_tfidf", oracle=r"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(text, '\s+')) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
), df AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.tok,
         ROUND(tf.tf * LN(n.n_docs::DOUBLE / df.df), 6) AS tfidf,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf * LN(n.n_docs::DOUBLE / df.df) DESC,
                                     tf.tok) AS rn
  FROM tf JOIN df USING (tok) CROSS JOIN n
)
SELECT doc_id, tok, tfidf, rn AS rank FROM scored WHERE rn <= 3
""")
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: term frequency is a (doc, tok)
    aggregation, document frequency a tok aggregation whose result
    joins back (AQE broadcasts it while it fits), and the per-doc top-k is a
    window on a total order. Both aggs partial-combine map-side; no
    all-pairs anything."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", _TOK)).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf = F.log(F.col("n_docs") / F.col("df"))
    # No forced broadcast on the vocabulary: its size is data-dependent
    # (a 100 TB corpus's vocab can exceed driver memory) — AQE's runtime
    # stats pick broadcast when it fits and shuffle join when it doesn't.
    scored = (tf.join(df, "tok")
              .crossJoin(F.broadcast(n))  # 1-row scalar aggregate
              .withColumn("tfidf", F.round(F.col("tf") * idf, 6)))
    w = W.partitionBy("doc_id").orderBy(F.desc(F.col("tf") * idf),
                                        F.asc("tok"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("doc_id", "tok", "tfidf", F.col("rn").alias("rank")))


@query("q_cluster_components", oracle="""
WITH RECURSIVE sub AS (
  SELECT * FROM embeddings WHERE vec_id < 500
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(UNNEST(a.embedding) AS DOUBLE) AS x,
         CAST(UNNEST(b.embedding) AS DOUBLE) AS y
  FROM sub a CROSS JOIN sub b
  WHERE a.vec_id < b.vec_id
), dots AS (
  SELECT id_a, id_b, SUM(x * y) AS dot, SUM(x * x) AS na, SUM(y * y) AS nb
  FROM pairs GROUP BY 1, 2
), edges AS (
  SELECT id_a AS u, id_b AS v FROM dots WHERE dot / SQRT(na * nb) >= 0.4
  UNION ALL
  SELECT id_b, id_a FROM dots WHERE dot / SQRT(na * nb) >= 0.4
), reach(node, root) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node
)
SELECT node AS id, MIN(root) AS component FROM reach GROUP BY node
""")
def q_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components as an ORACLE-CHECKED query: the iterative
    min-label propagation (operators/components.py — the HashMin scheme
    that scales with the shuffle) over the deterministic embedding
    near-dup graph, proven against DuckDB's recursive-CTE transitive
    closure. This pins the iterative-algorithm family to an exact
    oracle; q_dedup_clusters remains the rows-only form over the
    hash-seeded MinHash graph.

    The demo graph is BOUNDED to the first 500 vectors at every SF: the
    all-pairs edge generator (and the recursive-CTE oracle) is O(n²) by
    construction, so an unbounded demo stops being a demo at sf0.1
    (5,000 vectors → 12.5M candidate pairs).  At corpus scale the edge
    source is the banded candidate join (q_dedup_clusters); this query
    exists to pin the *component labelling* to an exact oracle."""
    from ..operators.components import connected_components

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    from ..operators.similarity import cosine as cos_expr

    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = (a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
             .withColumn("cosine", cos_expr("va", "vb"))
             .filter(F.col("cosine") >= 0.4)
             .select("id_a", "id_b"))
    return connected_components(pairs)


@query("q_split_assign", oracle=r"""
SELECT doc_id,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'd' THEN 'val'
            ELSE 'test' END AS split
FROM documents
""")
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment — the standard
    content-addressed split for training corpora: hash the stable id,
    bucket on the digest, so membership is reproducible across runs,
    machines, and engines (no RNG, no state to serialize). Implemented
    on the first hex nibble of md5 (16 buckets: 13 train / 1 val /
    2 test ≈ 81/6/13); production splits widen to more digest chars for
    finer ratios. Pure projection — zero shuffle at any corpus size —
    and md5 is bit-identical across Spark, DuckDB, and Python, which is
    exactly why it beats engine-specific hash() for reproducibility."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < "d", "train")
         .when(bucket == "d", "val")
         .otherwise("test").alias("split"))


@query("q_pack_sequences", oracle=r"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
           AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, n_tok,
         SUM(n_tok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t
)
SELECT doc_id, n_tok,
       CAST((cum - n_tok) // 512 AS BIGINT) AS seq_id,
       CAST((cum - n_tok) % 512 AS BIGINT) AS seq_off
FROM c
""")
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign each document its (sequence, offset)
    position when the corpus is concatenated in doc_id order and cut
    into fixed 512-token context windows — the streaming-concat packing
    used to build pretraining batches (documents may straddle a window
    boundary; a document belongs to the window where it starts).

    The cumulative token count runs through
    ``operators.prefix_sum.lazy_prefix_sum`` — NOT a bare ``orderBy``
    window, which Spark evaluates on a single partition (the whole
    corpus shipped to one task at 100 TB). The two-phase scan
    range-buckets by doc_id, prefix-sums the ≤n per-bucket subtotals
    with a bucket-id window (bounded), and finishes with
    bucket-local windows — identical output, parallel everywhere.
    All-integer outputs: no float parity risk. r13: switched from the
    CacheSlot-backed ``distributed_prefix_sum`` to the fully-lazy twin
    — this query is the prefix sum's ONLY consumer, so the cache paid
    an eager materialization job + an in-memory write for nothing (the
    q_hits_step un-pinning rule); the tokenize runs spread across
    cores instead of one scan task."""
    from ..operators.prefix_sum import lazy_prefix_sum

    d = load_table(spark, sf_dir, "documents", spread=True)
    n_tok = F.size(F.filter(F.split("text", _TOK), lambda x: x != ""))
    t = d.select("doc_id", n_tok.alias("n_tok"))
    return (lazy_prefix_sum(t, "doc_id", ["doc_id"], "n_tok", out_col="cum")
            .selectExpr("doc_id", "n_tok",
                        "CAST((cum - n_tok) DIV 512 AS LONG) AS seq_id",
                        "CAST((cum - n_tok) % 512 AS LONG) AS seq_off"))


@query("q_doc_chunks", oracle=r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, len(toks) AS n,
         UNNEST(range(0, len(toks), 48)) AS chunk_start, toks
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, CAST(chunk_start AS BIGINT) AS chunk_start,
       array_to_string(
         list_slice(toks, chunk_start + 1, least(chunk_start + 64, n)), ' ')
         AS chunk_text,
       CAST(least(chunk_start + 64, n) - chunk_start AS INT) AS chunk_len
FROM s
""")
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (chunk 64 tokens, stride 48,
    16-token overlap) — how long documents become model-sized pieces
    for embedding/RAG indexing and context-window training. The chunk
    starts are a per-row ``sequence()`` (no join against a numbers
    table), the chunk itself a ``slice`` of the token array, and the
    explode multiplies rows only by ceil(n_tok/stride) — all JVM-side
    higher-order functions, zero Python, zero shuffle: chunking is a
    map-only operator at any corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", _TOK), lambda x: x != "")
    t = (d.select("doc_id", toks.alias("toks"))
         .withColumn("n", F.size("toks"))
         .filter(F.col("n") > 0))
    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(48))
    return (t.select("doc_id", "n", "toks",
                     F.explode(starts).alias("chunk_start"))
            .select("doc_id",
                    F.col("chunk_start").cast("long").alias("chunk_start"),
                    F.concat_ws(" ", F.slice("toks", F.col("chunk_start") + 1,
                                             F.lit(64))).alias("chunk_text"),
                    (F.least(F.col("chunk_start") + 64, F.col("n"))
                     - F.col("chunk_start")).cast("int")
                     .alias("chunk_len")))


@query("q_unigram_logprob", oracle=r"""
WITH toks AS (
  SELECT doc_id, UNNEST(list_filter(string_split_regex(text, '\s+'),
                                    x -> x != '')) AS tok
  FROM documents
), freq AS (
  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
), total AS (
  SELECT SUM(c) AS n FROM freq
)
SELECT t.doc_id,
       COUNT(*) AS n_tok,
       ROUND(AVG(LN(f.c / total.n)), 6) + 0.0 AS avg_logprob
FROM toks t JOIN freq f USING (tok) CROSS JOIN total
GROUP BY t.doc_id
""")
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram log-probability quality score — the KenLM-style proxy:
    score each document by the mean log-probability of its tokens under
    the corpus's own unigram distribution (template/boilerplate text
    scores high, rare-token noise scores low; both tails get filtered
    in a real pipeline). Two aggregations and one join: the vocabulary
    table joins back onto the token stream (AQE broadcasts while it fits — the
    same shape as TF-IDF), the scalar total is a 1-row broadcast, and
    the per-doc mean partial-aggregates map-side. Shuffle volume is
    |tokens| once for the vocab count, |docs| for the final mean."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(
        F.filter(F.split("text", _TOK), lambda x: x != "")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").cast("double").alias("n"))
    # vocabulary join unhinted for the same reason as q_tfidf: AQE
    # broadcasts it while it fits, shuffles when a 100 TB vocab doesn't
    return (toks.join(freq, "tok")
            .crossJoin(F.broadcast(total))  # 1-row scalar aggregate
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tok"),
                 (F.round(F.avg(F.log(F.col("c") / F.col("n"))), 6)
                  + F.lit(0.0)).alias("avg_logprob")))


@query("q_mix_corpus", oracle=r"""
WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS lang_n
  FROM documents
)
SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
FROM ranked
WHERE rk <= CEIL(lang_n * (CASE WHEN lang = 'en' THEN 0.5 ELSE 0.25 END))
""")
def q_mix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing: select a language-balanced subset by
    taking a fixed fraction of each language's documents (en 50%,
    others 25%), chosen by md5 rank so the draw is reproducible across
    engines and runs — the content-addressed analog of weighted
    sampling that real mixture schedules need (no RNG state; re-runs
    and backfills pick identical documents).

    Scale note: rank-within-language needs a per-language sort, and
    with ~5 languages that is 5 giant sort partitions — fine here,
    skewed at 100 TB. The corpus-scale form is q_mix_corpus_hash /
    operators/mixing.py::mix_by_hash, which drops the rank and
    thresholds on the hash VALUE itself: one scan, no sort, no
    Exchange, fraction accurate to the digest's uniformity. This rank
    form is kept because it is exact at any fraction and anchors the
    tolerance test for the hash form."""
    d = load_table(spark, sf_dir, "documents")
    wrk = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    wn = W.partitionBy("lang")
    frac = F.when(F.col("lang") == "en", 0.5).otherwise(0.25)
    return (d.select("doc_id", "lang")
            .withColumn("rk", F.row_number().over(wrk).cast("long"))
            .withColumn("lang_n", F.count(F.lit(1)).over(wn))
            .filter(F.col("rk") <= F.ceil(F.col("lang_n") * frac))
            .select("doc_id", "lang", "rk"))


@query("q_mix_corpus_hash", oracle=r"""
SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS digest
FROM documents
WHERE md5(CAST(doc_id AS VARCHAR)) <
      CASE WHEN lang = 'en' THEN '80000000000000000000000000000000'
           ELSE '40000000000000000000000000000000' END
""")
def q_mix_corpus_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing, 100 TB form (operators/mixing.py::mix_by_hash):
    the same en-50%/others-25% mixture as q_mix_corpus, selected by
    thresholding the md5 digest VALUE instead of ranking within each
    language — a pure scan+filter with NO Exchange in the plan (the
    rank form sorts each language in a single partition; ~5 languages
    means ~5 tasks carrying the whole corpus). Selected counts are
    binomial around frac*n — exact enough at corpus scale (relative
    error ~ 1/sqrt(n)) and tested against the exact rank form — while
    the draw stays deterministic, content-addressed, and engine-portable
    (equal-length lowercase hex compares as its numeric value, so the
    DuckDB oracle runs the identical predicate)."""
    from ..operators.mixing import mix_by_hash

    d = load_table(spark, sf_dir, "documents")
    return mix_by_hash(d.select("doc_id", "lang"), "doc_id", "lang",
                       fractions={"en": 0.5}, default_fraction=0.25)


@query("q_pack_greedy", oracle=r"""
WITH RECURSIVE t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
           AS n_tok,
         ROW_NUMBER() OVER (ORDER BY doc_id) AS rk
  FROM documents
), r AS (
  SELECT rk, doc_id, n_tok,
         CAST(0 AS BIGINT) AS win, CAST(0 AS BIGINT) AS off,
         CAST(n_tok AS BIGINT) AS fill
  FROM t WHERE rk = 1
  UNION ALL
  SELECT t.rk, t.doc_id, t.n_tok,
         CASE WHEN r.fill + t.n_tok > 512 THEN r.win + 1 ELSE r.win END,
         CASE WHEN r.fill + t.n_tok > 512 THEN CAST(0 AS BIGINT) ELSE r.fill END,
         CASE WHEN r.fill + t.n_tok > 512 THEN CAST(t.n_tok AS BIGINT)
              ELSE r.fill + t.n_tok END
  FROM r JOIN t ON t.rk = r.rk + 1
)
SELECT doc_id, CAST(n_tok AS INT) AS n_tok, win, off FROM r
""")
def q_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-straddle greedy packing (operators/packing.py): documents
    never split across context windows; one that doesn't fit starts a
    new window. The distributed form packs range shards independently
    (greedy is sequentially dependent — the honest scale design aligns
    windows to shards, costing <= half a window of padding per shard
    boundary) and offsets window ids by an exact driver fold over shard
    window counts. Demoed single-shard so the output equals the pure
    sequential fold — which is exactly what the oracle's recursive CTE
    computes row-by-row (value-pinned num_partitions=1 makes the fold
    SQL-expressible; fine at oracle scale, quadratic-ish in DuckDB so
    never the scale path). tests/test_training_data_ops.py additionally
    pins every shard count against a reference fold."""
    from ..operators.packing import pack_greedy

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", _TOK), lambda x: x != ""))
    t = d.select("doc_id", n_tok.alias("n_tok"))
    return pack_greedy(t, "doc_id", "n_tok", budget=512, num_partitions=1)


@query("q_dup_spans", oracle=r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, UNNEST(range(0, len(toks) - 7)) AS s, toks
  FROM t WHERE len(toks) >= 8
), g2 AS (
  SELECT doc_id, CAST(s AS BIGINT) AS start,
         md5(array_to_string(list_slice(toks, s + 1, s + 8), ' ')) AS gh
  FROM g
), f AS (
  SELECT gh FROM g2 GROUP BY gh HAVING COUNT(*) > 1
)
SELECT doc_id, COUNT(*) AS n_dup_spans,
       CAST(MIN(start) AS BIGINT) AS first_dup_start
FROM g2 JOIN f USING (gh)
GROUP BY doc_id
""")
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find every 8-token
    span whose exact text occurs more than once in the corpus — the
    memorization-prone boilerplate that survives document-level dedup —
    and report, per document, how many of its spans are duplicated and
    where the first one starts.

    Scale design: spans are md5-DIGESTED before anything shuffles, so
    the gram groupBy and the join back to positions move 16-byte keys,
    never span text — |tokens| rows each, strictly linear (the
    suffix-array construction the paper uses is the single-machine
    answer; rolling-hash gram matching is its shuffle-friendly
    equivalent, trading the minimal-length guarantee for fixed-length
    grams). Gram generation is a per-row sequence()+slice(): map-only,
    like q_doc_chunks. md5 keeps the demo engine-portable (DuckDB
    computes bit-identical digests); a production run swaps in
    xxhash64 for speed with the same plan shape."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", _TOK), lambda x: x != "")
    t = (d.select("doc_id", toks.alias("toks"))
         .withColumn("n", F.size("toks"))
         .filter(F.col("n") >= 8))
    g = (t.select("doc_id", "toks",
                  F.explode(F.sequence(F.lit(0), F.col("n") - 8))
                   .alias("start"))
         .select("doc_id", F.col("start").cast("long").alias("start"),
                 F.md5(F.concat_ws(" ", F.slice("toks", F.col("start") + 1,
                                                F.lit(8)))).alias("gh")))
    dup = (g.groupBy("gh").agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") > 1).select("gh"))
    return (g.join(dup, "gh")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_dup_spans"),
                 F.min("start").alias("first_dup_start")))


@query("q_bm25", oracle=r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl FROM t
), tf AS (
  SELECT doc_id, len(toks) AS dl, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, toks, UNNEST(toks) AS tok FROM t)
  WHERE tok IN ('spark', 'join', 'window')
  GROUP BY doc_id, len(toks), tok
), df AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok
)
SELECT tf.doc_id,
       ROUND(SUM(
         LN((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * tf.tf * 2.2
         / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / stats.avgdl))
       ), 6) + 0.0 AS bm25
FROM tf JOIN df USING (tok) CROSS JOIN stats
GROUP BY tf.doc_id
""")
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring (Robertson-Spärck Jones; k1=1.2, b=0.75)
    of every document against a fixed query term set — the classic
    sparse-retrieval scorer a RAG/training-data pipeline runs next to
    the dense ANN path (operators/similarity.py).

    Plan shape: tokenize → filter to query terms BEFORE anything
    shuffles (the explode emits only query-term hits, so shuffle volume
    is |hits|, not |tokens|), per-(doc,term) tf agg with map-side
    combine, document-frequency table broadcast back onto the hits
    (3 rows here; a 10^5-term query set still broadcasts), corpus
    stats as a 1-row broadcast scalar. One linear shuffle end-to-end."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", _TOK), lambda x: x != "")
    t = d.select("doc_id", toks.alias("toks")).withColumn("dl", F.size("toks"))
    stats = t.agg(F.count(F.lit(1)).cast("double").alias("n_docs"),
                  F.avg("dl").alias("avgdl"))
    hits = (t.select("doc_id", "dl", F.explode("toks").alias("tok"))
            .filter(F.col("tok").isin("spark", "join", "window")))
    tf = (hits.groupBy("doc_id", "dl", "tok")
          .agg(F.count(F.lit(1)).alias("tf")))
    df_tbl = tf.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("double").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0)
    score = (idf * F.col("tf") * 2.2
             / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl")
                                     / F.col("avgdl"))))
    return (tf.join(F.broadcast(df_tbl), "tok")
            .crossJoin(F.broadcast(stats))  # 1-row scalar aggregate
            .groupBy("doc_id")
            .agg((F.round(F.sum(score), 6) + F.lit(0.0)).alias("bm25")))


@query("q_dedup_incremental", oracle="""
WITH existing AS (
  SELECT DISTINCT md5(substr(text, 1, 30)) AS digest
  FROM documents WHERE doc_id % 2 = 0
), batch AS (
  SELECT MIN(doc_id) AS doc_id, md5(substr(text, 1, 30)) AS digest,
         COUNT(*) AS n_batch_copies
  FROM documents WHERE doc_id % 2 = 1
  GROUP BY md5(substr(text, 1, 30))
)
SELECT doc_id, digest, n_batch_copies
FROM batch WHERE digest NOT IN (SELECT digest FROM existing)
""")
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup — the production shape of exact
    dedup: a new crawl batch (odd doc_ids here) is deduplicated within
    itself (min-id keep per digest) and then ANTI-joined against the
    digests of the existing corpus (even doc_ids), so re-crawled
    content never re-enters and the existing corpus is never
    re-deduplicated. Demoed on the 30-char-prefix key (the corpus has
    no full-text duplicates; production uses sha2(text, 256)).

    Scale design: both sides reduce to 16-byte digests before the
    shuffle; the batch-internal groupBy is |batch| rows and the
    anti-join shuffles digests only — at 100 TB the existing-corpus
    digest table is the stored dedup index (bucketed by digest), so
    each nightly batch joins against it without scanning corpus text."""
    d = load_table(spark, sf_dir, "documents")
    dig = F.md5(F.substring("text", 1, 30))
    existing = (d.filter(F.col("doc_id") % 2 == 0)
                .select(dig.alias("digest")).distinct())
    batch = (d.filter(F.col("doc_id") % 2 == 1)
             .groupBy(dig.alias("digest"))
             .agg(F.min("doc_id").alias("doc_id"),
                  F.count(F.lit(1)).alias("n_batch_copies")))
    return (batch.join(existing, "digest", "left_anti")
            .select("doc_id", "digest", "n_batch_copies"))


@query("q_quality_gate", oracle=r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
  FROM documents
), m AS (
  SELECT doc_id, COALESCE(len(toks), 0) AS n_tok,
         CASE WHEN len(toks) > 0 THEN
           list_sum(list_transform(toks, x -> LEN(x)))::DOUBLE / len(toks)
         ELSE 0.0 END AS mean_wlen,
         CASE WHEN len(toks) > 0 THEN
           list_max(list_transform(list_distinct(toks),
             u -> len(list_filter(toks, x -> x = u))))::DOUBLE / len(toks)
         ELSE 1.0 END AS top_frac
  FROM t
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       CASE
         WHEN n_tok < 20 THEN 'too_short'
         WHEN n_tok > 1000 THEN 'too_long'
         WHEN mean_wlen < 2.0 OR mean_wlen > 12.0 THEN 'word_length'
         WHEN top_frac > 0.2 THEN 'repetitive'
         ELSE 'keep'
       END AS verdict
FROM m
""")
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed document-quality gate — the C4/Gopher-style filter
    cascade as ONE scan: length bounds, mean word length, and
    top-token repetition evaluated per row with first-failing-rule
    attribution (the attribution is what a pipeline operator needs to
    tune thresholds: 'what did each rule cost me?').

    Every rule is a JVM higher-order array expression over the token
    array — the whole gate is map-only, zero shuffle, zero Python, and
    composes with the dedup/packing stages downstream without a
    barrier. Rule thresholds are illustrative; the comparisons are on
    exact integer counts and 6-digit-stable ratios, so the verdict is
    engine-portable."""
    from ..functions.text import quality_verdict

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.coalesce(
        F.size(F.filter(F.split("text", _TOK), lambda x: x != "")), F.lit(0))
    return d.select("doc_id", n_tok.cast("long").alias("n_tok"),
                    quality_verdict(F.col("text")).alias("verdict"))


@query("q_dedup_minhash_md5", oracle=r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(0, len(toks) - 2),
           i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))
           AS shingles
  FROM t WHERE len(toks) >= 3
), sg AS (
  SELECT doc_id, shingles,
         list_transform(range(0, 8),
           i -> list_min(list_transform(shingles,
                  s -> md5(i::VARCHAR || ':' || s)))) AS sig
  FROM sh
), banded AS (
  SELECT doc_id, shingles,
         UNNEST(range(0, 4)) AS band_idx,
         list_transform(range(0, 4),
           b -> md5(sig[2*b + 1] || ',' || sig[2*b + 2])) AS bands
  FROM sg
), g AS (
  SELECT doc_id, shingles, CAST(band_idx AS INT) AS band_idx,
         bands[CAST(band_idx AS INT) + 1] AS band_hash
  FROM banded
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM g a JOIN g b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       ROUND(LEN(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))::DOUBLE
             / (LEN(sa.shingles) + LEN(sb.shingles)
                - LEN(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))),
             6) AS jaccard
FROM cand c
JOIN sh sa ON sa.doc_id = c.id_a
JOIN sh sb ON sb.doc_id = c.id_b
WHERE LEN(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))::DOUBLE
      / (LEN(sa.shingles) + LEN(sb.shingles)
         - LEN(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))) >= 0.5
""")
def q_dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, engine-portable twin of
    q_dedup_near: the identical Broder banding construction (3-gram
    shingles, k=8 signatures, 4 bands of 2 rows) but with md5-string
    hashes — lexicographic min and band digests compute bit-identically
    in Spark and DuckDB, which upgrades the LAST hash-seeded dedup
    family to a full oracle check (the xxhash64 form stays the
    production choice: 8-byte signatures, ~3x cheaper).

    Same scale shape as the production operator: zero-shuffle per-row
    signature folds, candidate generation as a (band_idx, band_hash)
    self-equi-join (|docs|*bands rows, never all-pairs), exact-Jaccard
    refinement on candidates only."""
    from ..operators.dedup import shingle

    d = load_table(spark, sf_dir, "documents", spread=True)
    sh = shingle(d, "doc_id", "text", n=3)
    k, bands = 8, 4
    r = k // bands
    sig = F.array(*[
        F.array_min(F.transform(
            "shingles", lambda s, i=i: F.md5(F.concat(F.lit(f"{i}:"), s))))
        for i in range(k)
    ])
    sg = sh.select("id", "shingles", sig.alias("sig"))
    band_arr = F.array(*[
        F.md5(F.concat_ws(",", F.slice("sig", b * r + 1, r)))
        for b in range(bands)
    ])
    g = sg.select("id", F.posexplode(band_arr).alias("band_idx", "band_hash"))
    a = g.select(F.col("id").alias("id_a"), "band_idx", "band_hash")
    b = g.select(F.col("id").alias("id_b"), "band_idx", "band_hash")
    cand = (a.join(b, ["band_idx", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    sa = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    return (cand.join(sa, "id_a").join(sb, "id_b")
            .filter(jac >= 0.5)
            .select("id_a", "id_b", F.round(jac, 6).alias("jaccard")))


@query("q_epoch_shuffle", oracle="""
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         ORDER BY md5('epoch7:' || CAST(doc_id AS VARCHAR)), doc_id)
         AS BIGINT) - 1 AS position
FROM documents
""")
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: assign every document its position
    in a seeded pseudo-random permutation — the reproducible global
    shuffle a training run needs per epoch (re-runs, restarts, and
    backfills see the identical order; changing the seed string gives
    the next epoch's permutation). Content-addressed like
    q_split_assign: no RNG state, engine-portable.

    Scale design: the naive form is row_number() over a global ORDER BY
    — a single-partition sort. operators/rank.py::distributed_row_number
    buckets by the digest's 60-bit numeric prefix (order-consistent
    with hex-string order), counts per bucket, prefix-folds ≤n bucket
    bases on the driver, and ranks locally per bucket — the same
    two-phase shape as the sequence-packing prefix sum."""
    from ..operators.rank import distributed_row_number

    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("epoch7:"), F.col("doc_id").cast("string")))
    t = d.select("doc_id", h.alias("h"))
    out = distributed_row_number(
        t, order_cols=["h", "doc_id"],
        bucket_key=F.conv(F.substring("h", 1, 15), 16, 10))
    return out.select("doc_id", "position")


@query("q_length_batches", oracle=r"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
           AS n_tok
  FROM documents
), b AS (
  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         CAST(CEIL(LOG2(n_tok)) AS BIGINT) AS bucket
  FROM t WHERE n_tok > 0
)
SELECT doc_id, n_tok, bucket,
       CAST((ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) - 1)
            // 8 AS BIGINT) AS batch_in_bucket
FROM b
""")
def q_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching: group documents into power-of-two
    length buckets and cut each bucket into fixed-size batches — the
    padding-efficient dynamic batching of seq2seq training (a batch of
    similar lengths pads to its max, so mixing a 30-token doc into a
    500-token batch wastes 94% of the batch's compute).

    Scale design: see :func:`length_bucketed_batches`. The demo form
    uses the id-bounds scan fallback (no metadata service here); a
    production caller passes ``id_bounds`` from table statistics and
    the whole query is lazy."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", _TOK), lambda x: x != ""))
    t = (d.select("doc_id", n_tok.cast("long").alias("n_tok"))
         .filter(F.col("n_tok") > 0)
         .withColumn("bucket", F.ceil(F.log2("n_tok")).cast("long")))
    return length_bucketed_batches(t)


def length_bucketed_batches(t: DataFrame, batch_size: int = 8,
                            id_bounds: tuple[int, int] | None = None
                            ) -> DataFrame:
    """Cut each ``bucket`` of ``t(doc_id, n_tok, bucket)`` into
    fixed-size batches without a per-bucket sort partition.

    The naive rank-within-bucket is a per-bucket sort — with ~10
    buckets that is 10 giant partitions at corpus scale, the
    q_mix_corpus trap. Here the rank comes from ONE
    ``distributed_row_number`` over the composite key bucket*span +
    (doc_id - lo) (monotone: bucket-major, doc-minor), and each doc's
    within-bucket position is its global position minus its bucket's
    base (cumulative counts of earlier buckets — a ≤|buckets|-row
    broadcast). No single-bucket sort partition anywhere.

    ``id_bounds``: known (min, max) of doc_id. Pass it (from table
    statistics / the ingest manifest) and this function is fully LAZY —
    no driver action at construction. Without it, a bounded two-column
    min/max scan sizes the composite key (round-4 VERDICT: the scan
    re-runs per call and makes the query fn eager; it is the fallback,
    not the default production path). Either way the span is guarded:
    a fixed shift would silently alias buckets for ids beyond it
    (64-bit snowflake ids overflow any hardcoded headroom); bucket <=
    63 means the key fits int64 whenever span < 2^57."""
    from ..operators.rank import distributed_row_number

    if id_bounds is None:
        lohi = t.select(F.min("doc_id").alias("lo"),
                        F.max("doc_id").alias("hi")).first()
        if lohi["lo"] is None:
            return (t.withColumn("batch_in_bucket",
                                 F.lit(None).cast("long"))
                    .select("doc_id", "n_tok", "bucket", "batch_in_bucket"))
        id_bounds = (int(lohi["lo"]), int(lohi["hi"]))
    lo, span = id_bounds[0], id_bounds[1] - id_bounds[0] + 1
    if span >= 1 << 57:
        raise ValueError(
            "length_bucketed_batches: doc_id span too wide for a "
            "bucket-major composite key - densify ids (e.g. via "
            "q_epoch_shuffle positions) first")
    key = (F.col("bucket") * span + (F.col("doc_id") - lo)).alias("ok")
    ranked = distributed_row_number(
        t.withColumn("ok", key), order_cols=["ok"], out_col="gpos")
    bases = ranked.groupBy("bucket").agg(F.min("gpos").alias("base"))
    return (ranked.join(F.broadcast(bases), "bucket")
            .select("doc_id", "n_tok", "bucket",
                    F.expr(f"(gpos - base) DIV {int(batch_size)}")
                    .alias("batch_in_bucket")))


@query("q_weighted_sample", oracle="""
WITH k AS (
  SELECT doc_id, n_chars,
         ROUND(LN(CAST(CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
                                            1, 15)) AS BIGINT) + 1 AS DOUBLE)
                  / 1152921504606846976.0) / n_chars, 12) AS es_key
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS weight
FROM k ORDER BY es_key DESC, doc_id LIMIT 100
""")
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis 2006): each document draws u from its OWN md5 digest and
    competes with key ln(u)/w — the top-k by key is an exact weighted
    sample (selection probability proportional to weight w, here
    n_chars as the stand-in for a quality score). Content addressing
    makes the draw reproducible across engines, runs, and backfills —
    no RNG state, like q_split_assign/q_mix_corpus_hash.

    Scale design: one map-only key projection + a top-k, which Catalyst
    plans as TakeOrderedAndProject (per-partition heaps, merge on the
    driver — never a global sort). Zero-weight documents cannot be
    sampled and are filtered up front (their key would divide by zero).
    The 60-bit digest prefix maps to u in (0, 1]. The key is ROUNDed to
    12 digits on BOTH sides before the ORDER BY: Math.log (JVM) and libm
    log (DuckDB) each guarantee only ~1-ulp accuracy, and an un-rounded
    raw double as the top-100 sort key would let a last-ulp divergence
    near the cutoff flip which document is selected on some platforms.
    12 digits is far coarser than 1 ulp yet far finer than any realistic
    key collision; doc_id remains the deterministic tiebreak."""
    d = load_table(spark, sf_dir, "documents")
    u = ((F.conv(F.substring(
            F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))),
            1, 15), 16, 10).cast("long") + 1).cast("double")
         / float(1 << 60))
    es_key = F.round(F.log(u) / F.col("n_chars"), 12)
    return (d.filter(F.col("n_chars") > 0)
            .select("doc_id", F.col("n_chars").cast("long").alias("weight"),
                    es_key.alias("_k"))
            .orderBy(F.desc("_k"), "doc_id").limit(100)
            .select("doc_id", "weight"))


def _simhash_md5_oracle() -> str:
    """Generated DuckDB SQL for q_dedup_simhash_md5 (64 bit-vote sums
    from md5 nibbles; majority fingerprint re-packed as 16 hex chars;
    4x16-bit banding; nibble-wise popcount refine)."""
    # bit k lives in hex nibble k DIV 4 (1-based char k//4+1), bit k%4
    votes = ", ".join(
        f"SUM(2 * ((CAST(('0x' || substr(h, {k // 4 + 1}, 1)) AS INT) "
        f">> {k % 4}) & 1) - 1) AS v{k}" for k in range(64))
    nibbles = " || ".join(
        "substr('0123456789abcdef', 1 + "
        + " + ".join(f"(CASE WHEN v{4 * i + j} > 0 THEN {1 << j} ELSE 0 END)"
                     for j in range(4))
        + ", 1)" for i in range(16))
    return f"""
WITH toks AS (
  SELECT doc_id,
         md5(UNNEST(list_filter(string_split_regex(text, '\\s+'),
                                x -> x != ''))) AS h
  FROM documents
), votes AS (
  SELECT doc_id, {votes} FROM toks GROUP BY doc_id
), fp AS (
  SELECT doc_id, {nibbles} AS f FROM votes
), banded AS (
  SELECT doc_id, f, UNNEST(range(0, 4)) AS c FROM fp
), g AS (
  SELECT doc_id, f, CAST(c AS INT) AS c,
         substr(f, CAST(c AS INT) * 4 + 1, 4) AS chunk
  FROM banded
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.f AS fa, b.f AS fb
  FROM g a JOIN g b ON a.c = b.c AND a.chunk = b.chunk
                    AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(list_sum(list_transform(range(1, 17),
         i -> bit_count(xor(CAST(('0x' || substr(fa, i, 1)) AS BIGINT),
                            CAST(('0x' || substr(fb, i, 1)) AS BIGINT)))))
         AS BIGINT) AS hamming
FROM cand
WHERE list_sum(list_transform(range(1, 17),
        i -> bit_count(xor(CAST(('0x' || substr(fa, i, 1)) AS BIGINT),
                           CAST(('0x' || substr(fb, i, 1)) AS BIGINT))))) <= 3
"""


@query("q_dedup_simhash_md5", oracle=_simhash_md5_oracle())
def q_dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, engine-portable twin of q_dedup_simhash:
    the identical Charikar construction (64 bit votes per token,
    majority fingerprint, pigeonhole banding at radius 3, popcount
    refine) but with md5 token hashes whose nibbles compute
    bit-identically in Spark and DuckDB — completing full-construction
    oracle coverage for all three near-dup families (MinHash
    q_dedup_minhash_md5, winnowing q_fingerprint_md5, SimHash here).
    The xxhash64 packed-fold form stays the production choice (~3x
    cheaper, zero-shuffle signatures); this relational form shuffles
    |tokens| rows into the 64-column vote aggregation.

    Shape: explode -> 64 map-side-combined bit-vote sums per doc ->
    majority fingerprint re-packed as 16 hex chars -> (chunk_idx,
    chunk) self-equi-join -> nibble-wise popcount refine. Linear
    shuffle, no all-pairs."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = (d.select("doc_id",
                     F.explode(F.filter(F.split("text", _TOK),
                                        lambda x: x != "")).alias("tok"))
            .select("doc_id", F.md5("tok").alias("h")))
    votes = toks.groupBy("doc_id").agg(*[
        F.sum(2 * (F.shiftright(
            F.conv(F.substring("h", k // 4 + 1, 1), 16, 10).cast("int"),
            k % 4).bitwiseAND(1)) - 1).alias(f"v{k}")
        for k in range(64)
    ])
    hexdig = "0123456789abcdef"
    fp = votes.select(
        "doc_id",
        F.concat(*[
            F.substring(F.lit(hexdig), sum_expr + 1, F.lit(1))
            for sum_expr in [
                sum((F.when(F.col(f"v{4 * i + j}") > 0, 1 << j).otherwise(0))
                    for j in range(4))
                for i in range(16)
            ]
        ]).alias("f"))
    g = fp.select(
        "doc_id", "f",
        F.posexplode(F.array(*[F.substring("f", c * 4 + 1, 4)
                               for c in range(4)])).alias("c", "chunk"))
    a = g.select(F.col("doc_id").alias("id_a"), F.col("f").alias("fa"),
                 "c", "chunk")
    b = g.select(F.col("doc_id").alias("id_b"), F.col("f").alias("fb"),
                 "c", "chunk")
    nib_x = [F.bit_count(
        F.conv(F.substring("fa", i, 1), 16, 10).cast("int").bitwiseXOR(
            F.conv(F.substring("fb", i, 1), 16, 10).cast("int")))
        for i in range(1, 17)]
    hamming = nib_x[0]
    for x in nib_x[1:]:
        hamming = hamming + x
    return (a.join(b, ["c", "chunk"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
            .filter(F.col("hamming") <= 3)
            .distinct())


@query("q_data_card", oracle=r"""
WITH t AS (
  SELECT lang, source, n_chars,
         COALESCE(len(list_filter(string_split_regex(text, '\s+'),
                                  x -> x != '')), 0) AS n_tok
  FROM documents
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       ROUND(AVG(n_chars), 6) AS mean_chars,
       CAST(SUM(CASE WHEN n_tok >= 20 AND n_tok <= 1000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_length_ok,
       ROUND(SUM(CASE WHEN n_tok >= 20 AND n_tok <= 1000
                      THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
         AS length_ok_rate
FROM t GROUP BY lang, source
""")
def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card: the per-(lang, source) datasheet every corpus
    release ships (Gebru et al. 2021 "Datasheets for Datasets") — doc
    and token counts, mean length, and the fraction passing the length
    gate, grouped by provenance. One groupBy with map-side-combined
    aggregates: shuffle volume is |lang x source| groups, nothing
    else, at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.coalesce(
        F.size(F.filter(F.split("text", _TOK), lambda x: x != "")), F.lit(0))
    len_ok = ((n_tok >= 20) & (n_tok <= 1000)).cast("int")
    return (d.select("lang", "source", "n_chars",
                     n_tok.alias("n_tok"), len_ok.alias("len_ok"))
            .groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("total_tokens"),
                 F.round(F.avg("n_chars"), 6).alias("mean_chars"),
                 F.sum("len_ok").cast("long").alias("n_length_ok"),
                 F.round(F.sum("len_ok").cast("double")
                         / F.count(F.lit(1)), 6).alias("length_ok_rate")))


@query("q_line_dedup", oracle=r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents
), b AS (
  SELECT doc_id,
         list_transform(range(0, CAST(CEIL(LEN(t) / 10.0) AS INT)),
                        i -> array_to_string(t[CAST(i * 10 + 1 AS INT):CAST((i + 1) * 10 AS INT)], ' ')) AS blocks
  FROM toks WHERE LEN(t) > 0
), e AS (
  SELECT doc_id, UNNEST(blocks) AS block,
         UNNEST(range(0, LEN(blocks))) AS pos
  FROM b
), c AS (
  SELECT block AS cblock, COUNT(*) AS n_occ FROM e GROUP BY 1
), kept AS (
  SELECT e.doc_id, e.pos, e.block
  FROM e JOIN c ON e.block = c.cblock WHERE c.n_occ < 3
), reb AS (
  SELECT doc_id, array_to_string(list(block ORDER BY pos), ' ') AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       COALESCE(reb.clean_text, '') AS clean_text,
       CAST(LEN(b.blocks) AS BIGINT) AS n_blocks,
       CAST(LEN(b.blocks) - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_removed
FROM b LEFT JOIN reb USING (doc_id)
""")
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate line removal (Raffel et al. 2020: drop any
    line occurring >= 3 times in the corpus), re-expressed for a corpus
    whose documents carry no newlines: the "line" unit is the disjoint
    10-token block. Every block is counted ACROSS the whole corpus
    (within-doc repeats included, as C4 does), blocks seen >= 3 times
    are dropped, and each document is re-assembled from its surviving
    blocks in order.

    Scale: the global block count groups on md5(block) — the shuffle
    carries 16-byte digests + counts, never block text (the oracle
    groups on raw text; md5 equality is the same partition at ~2^-64
    collision odds). Re-assembly is one groupBy(doc_id) with an
    order-restoring array_sort over collected (pos, block) structs —
    documents are bounded, so per-group state is bounded. Two linear
    shuffles total, both map-side combined; no all-pairs anywhere."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = F.filter(F.split("text", _TOK), lambda x: x != "")
    nb = F.ceil(F.size(toks) / F.lit(10.0)).cast("int")
    blocks = F.when(
        F.size(toks) > 0,
        F.transform(F.sequence(F.lit(0), nb - 1),
                    lambda i: F.array_join(
                        F.slice(toks, i * 10 + 1, 10), " ")))
    base = (d.select("doc_id", blocks.alias("blocks"))
            .filter(F.size("blocks") > 0))
    e = (base.select("doc_id", F.posexplode("blocks").alias("pos", "block"))
         .withColumn("bkey", F.md5("block")))
    counts = e.groupBy("bkey").agg(F.count(F.lit(1)).alias("n_occ"))
    kept = e.join(counts, "bkey").filter(F.col("n_occ") < 3)
    reb = (kept.groupBy("doc_id")
           .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "block"))),
                        lambda s: s["block"]), " ").alias("clean_text"),
                F.count(F.lit(1)).alias("n_kept")))
    return (base.select("doc_id", F.size("blocks").cast("long").alias("n_blocks"))
            .join(reb, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    "n_blocks",
                    (F.col("n_blocks") - F.coalesce("n_kept", F.lit(0)))
                    .cast("long").alias("n_removed")))


@query("q_quality_percentile", oracle=r"""
WITH t AS (
  SELECT doc_id, lang,
         LEN(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tok
  FROM documents
), thr AS (
  SELECT lang, ROUND(quantile_cont(n_tok, 0.25), 6) AS lang_p25
  FROM t GROUP BY lang
)
SELECT t.doc_id, t.lang, CAST(t.n_tok AS BIGINT) AS n_tok,
       thr.lang_p25 AS lang_p25
FROM t JOIN thr USING (lang) WHERE t.n_tok >= thr.lang_p25
""")
def q_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile quality gate: keep documents whose score
    (token count here; any numeric quality signal slots in) reaches
    their language's 25th percentile. Relative-to-cohort thresholds are
    how production corpus filters avoid one global cutoff starving
    low-resource languages (CCNet, Wenzek et al. 2020, buckets by
    per-language perplexity percentile exactly like this).

    Scale: thresholds are one groupBy(lang) — exact interpolated
    ``percentile``, |langs| rows out — broadcast back onto the corpus,
    so the corpus itself is scanned once and never shuffled. The
    threshold is rounded to 6 digits on both engine sides (interpolated
    percentiles are float arithmetic; the filter comparison must see
    identical values)."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.coalesce(
        F.size(F.filter(F.split("text", _TOK), lambda x: x != "")), F.lit(0))
    t = d.select("doc_id", "lang", n_tok.cast("long").alias("n_tok"))
    thr = t.groupBy("lang").agg(
        F.round(F.expr("percentile(n_tok, 0.25)"), 6).alias("lang_p25"))
    return (t.join(F.broadcast(thr), "lang")
            .filter(F.col("n_tok") >= F.col("lang_p25"))
            .select("doc_id", "lang", "n_tok", "lang_p25"))


@query("q_mix_token_budget", oracle=r"""
WITH t AS (
  SELECT doc_id, source,
         LEN(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tok,
         md5('mx:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), c AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id) AS cum_tok
  FROM t
)
SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(cum_tok AS BIGINT) AS cum_tok
FROM c WHERE cum_tok <= 2000
""")
def q_mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-capped corpus mixing: each source contributes
    documents until its TOKEN budget (2000 here) is filled — the unit a
    training mix is actually specified in (The Pile / LLaMA mixes are
    token-weighted, not doc-weighted). Documents are admitted in
    content-hash order, so the per-source subset is an unbiased,
    deterministic, re-runnable sample (same addressing family as
    q_mix_corpus_hash / q_split_assign) and the budget boundary is a
    running token sum over that order.

    Scale: one hash shuffle on source + a per-source sort — linear, and
    the window never sees text, only (16-byte hash, n_tok). Sources are
    corpus slices (bounded cardinality, each a large fraction of rows);
    if ONE source dwarfs a partition, swap the window for the two-phase
    distributed prefix sum in ``operators/prefix_sum.py`` keyed by
    (source, hash-bucket) — same semantics, bounded per-task state."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.coalesce(
        F.size(F.filter(F.split("text", _TOK), lambda x: x != "")), F.lit(0))
    t = d.select(
        "doc_id", "source", n_tok.cast("long").alias("n_tok"),
        F.md5(F.concat(F.lit("mx:"), F.col("doc_id").cast("string"))).alias("h"))
    w = W.partitionBy("source").orderBy("h", "doc_id")
    return (t.withColumn("cum_tok", F.sum("n_tok").over(w).cast("long"))
            .filter(F.col("cum_tok") <= 2000)
            .select("doc_id", "source", "n_tok", "cum_tok"))


@query("q_split_stratified", oracle=r"""
WITH t AS (
  SELECT doc_id, lang,
         md5('strat:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM t
)
SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn,
       CASE WHEN rn <= CAST(FLOOR(0.8 * n) AS BIGINT) THEN 'train'
            WHEN rn <= CAST(FLOOR(0.9 * n) AS BIGINT) THEN 'val'
            ELSE 'test' END AS split
FROM r
""")
def q_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified train/val/test split: every language
    contributes EXACTLY floor(80%)/floor(10%)/rest of its documents —
    unlike the hash-threshold split (q_split_assign), whose per-stratum
    proportions only converge in expectation. Ranking within each
    stratum is by content-addressed md5, so the assignment is
    deterministic, reproducible, and unbiased w.r.t. any document
    property.

    Scale: one hash shuffle on lang + per-stratum sort (languages are
    bounded-cardinality corpus slices). For a stratum too large for one
    sort partition, swap the window for the composite-key
    ``distributed_row_number`` (the q_length_batches shape: lang-major,
    hash-minor) — same semantics, no giant partition. The stratum-size
    count rides the same window (zero extra shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang",
        F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
        .alias("h"))
    w = W.partitionBy("lang").orderBy("h", "doc_id")
    wn = W.partitionBy("lang")
    r = (t.withColumn("rn", F.row_number().over(w).cast("long"))
         .withColumn("n", F.count(F.lit(1)).over(wn)))
    split = (F.when(F.col("rn") <= F.floor(0.8 * F.col("n")), "train")
             .when(F.col("rn") <= F.floor(0.9 * F.col("n")), "val")
             .otherwise("test"))
    return r.select("doc_id", "lang", "rn", split.alias("split"))


@query("q_dedup_canonical", oracle=r"""
WITH fp AS (
  SELECT doc_id, n_chars,
         array_to_string(list_sort(list_distinct(
             string_split_regex(text, '\s+'))), ' ') AS fingerprint
  FROM documents
), ranked AS (
  SELECT fingerprint, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY fingerprint
                            ORDER BY n_chars DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY fingerprint) AS n_copies
  FROM fp
)
SELECT fingerprint, doc_id AS keep_id,
       CAST(n_chars AS BIGINT) AS keep_chars,
       CAST(n_copies AS BIGINT) AS n_copies
FROM ranked WHERE rk = 1 AND n_copies > 1
""")
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: within each duplicate group, KEEP
    the highest-quality copy (longest here; any quality score slots in)
    instead of the arbitrary min-id copy the plain dedup keeps — the
    selection step production dedup actually runs after clustering
    (e.g. keep the copy with the best format/quality signals, drop the
    truncated mirrors).

    Scale: one shuffle on the group fingerprint (hashed at production
    scale so digests shuffle, not fingerprints); the arg-max is a
    window top-1 inside the same partitioning — no second shuffle, no
    driver state."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.array_join(
        F.array_sort(F.array_distinct(F.split("text", _TOK))), " ")
    t = d.select("doc_id", "n_chars", fp.alias("fingerprint"))
    w = W.partitionBy("fingerprint").orderBy(F.desc("n_chars"), "doc_id")
    # group size over the SAME partition+sort spec (full frame) so both
    # window functions share one exchange + one sort — a bare
    # partitionBy() count would plan a second hashpartitioning exchange
    wn = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = (t.withColumn("rk", F.row_number().over(w))
              .withColumn("n_copies", F.count(F.lit(1)).over(wn)))
    return (ranked.filter((F.col("rk") == 1) & (F.col("n_copies") > 1))
            .select("fingerprint", F.col("doc_id").alias("keep_id"),
                    F.col("n_chars").cast("long").alias("keep_chars"),
                    F.col("n_copies").cast("long").alias("n_copies")))


@query("q_dedup_bloom", oracle="""
WITH dg AS (
  SELECT doc_id, md5(substr(text, 1, 30)) AS digest FROM documents
)
SELECT b.doc_id, b.digest
FROM dg b
WHERE b.doc_id % 2 = 1
  AND b.digest NOT IN (SELECT digest FROM dg WHERE doc_id % 2 = 0)
""")
def q_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier incremental dedup: a Bloom pre-filter in front of the
    exact digest anti-join (operators/bloom.py). Docs whose digest the
    filter rejects are DEFINITELY new (Bloom has no false negatives)
    and skip the join entirely; only the small maybe-member set pays
    the exact check, which discards the false positives. The final
    semantics are therefore EXACT — identical to the plain anti-join —
    which is what lets this approximate-structure query carry a full
    value oracle (same precedent as the bucketed similarity join).

    Demo: even-id documents are "the corpus", odd-id documents are the
    incoming batch. m=2^14 bits / k=7 is sized so sf0.1 (2,500 corpus
    digests) produces a ~5% FP rate and genuinely exercises the rescue
    join, while sf0.01 sails through with ~zero.

    Scale: the filter is built once per ingest cycle (one explode +
    bit_or groupBy, m/64 = 256 longs collected — the only driver
    artifact, size independent of corpus); the probe is map-only
    against a plan literal (zero shuffle); the exact join now sees only
    |new ∩ FP| rows instead of the whole batch. The build's collect is
    a deliberate construction-time action, like the id-bounds scan
    fallback in length_bucketed_batches — production builds the filter
    on the ingest schedule and reuses it across micro-batches."""
    from ..operators.bloom import bloom_build, bloom_probe_literal

    d = load_table(spark, sf_dir, "documents")
    digest = F.md5(F.substring("text", 1, 30))
    corpus = (d.filter(F.col("doc_id") % 2 == 0)
              .select(digest.alias("digest")))
    batch = (d.filter(F.col("doc_id") % 2 == 1)
             .select("doc_id", digest.alias("digest")))
    packed = bloom_build(corpus, "digest", m_bits=1 << 14, k=7)
    probed = bloom_probe_literal(batch, "digest", packed, k=7)
    definitely_new = (probed.filter(~F.col("might_contain"))
                      .select("doc_id", "digest"))
    rescued = (probed.filter(F.col("might_contain"))
               .join(corpus, "digest", "left_anti")
               .select("doc_id", "digest"))
    return definitely_new.unionByName(rescued)


@query("q_kmeans_step", oracle="""
WITH c AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8
), a AS (
  SELECT e.vec_id, c.cid, e.embedding,
         ROUND(list_sum(list_transform(range(1, len(e.embedding) + 1),
             i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
                * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
         )), 6) AS d2
  FROM embeddings e CROSS JOIN c
), best AS (
  SELECT vec_id, embedding, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
  FROM a
), dims AS (
  SELECT cid,
         UNNEST(range(0, len(embedding))) AS pos,
         UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val
  FROM best WHERE rk = 1
)
SELECT cid, CAST(pos AS INT) AS pos,
       ROUND(AVG(val), 6) + 0.0 AS centroid_val,
       COUNT(*) AS n_members
FROM dims GROUP BY cid, pos
""")
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd k-means iteration (k=8, deterministic first-k init),
    pinned to a value oracle — the iterative-clustering family's exact
    anchor, like q_cluster_components for label propagation. The full
    iterated form is ``operators/kmeans.py::kmeans_iterate`` (golden:
    SSE monotone non-increasing).

    Scale: assignment is the IVF assigner's shape — k centroids
    broadcast, |n|·k distance rows, argmin per vector via min_by (one
    groupBy shuffle); update is one map-side-combined (cluster,
    dimension) groupBy, k·dim groups out. The distance key is rounded
    to 6 digits with cid as tiebreak, so engines whose float fold order
    differs in the last ulp cannot flip an assignment (the
    q_weighted_sample lesson applied to argmin)."""
    from ..operators.kmeans import kmeans_step

    e = load_table(spark, sf_dir, "embeddings")
    cent = (e.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("cid"),
                    F.col("embedding").alias("cvec")))
    out = kmeans_step(e, cent)
    return out.select("cid", "pos",
                      (F.col("centroid_val") + 0.0).alias("centroid_val"),
                      "n_members")


# ---------------------------------------------------------------------------
# DSIR: importance resampling weights from hashed n-gram features
# ---------------------------------------------------------------------------

@query("q_dsir", oracle=r"""
WITH toks AS (
  SELECT doc_id, lang,
         UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x != '')) AS tok
  FROM documents
), b AS (
  SELECT doc_id, lang, substring(md5(tok), 1, 2) AS bkt FROM toks
), tgt AS (
  SELECT bkt, COUNT(*) AS ct FROM b WHERE lang = 'en' GROUP BY bkt
), raw AS (
  SELECT bkt, COUNT(*) AS cr FROM b GROUP BY bkt
), nt AS (SELECT SUM(ct) AS n FROM tgt),
nr AS (SELECT SUM(cr) AS n FROM raw),
ratio AS (
  SELECT r.bkt,
         CAST(ROUND((LN((COALESCE(t.ct, 0) + 1.0) / (nt.n + 256.0))
                     - LN((r.cr + 1.0) / (nr.n + 256.0))) * 1e9, 0)
              AS BIGINT) AS lr_nano
  FROM raw r LEFT JOIN tgt t USING (bkt) CROSS JOIN nt CROSS JOIN nr
)
SELECT b.doc_id,
       COUNT(*) AS n_tok,
       ROUND(CAST(SUM(ratio.lr_nano) AS DOUBLE) / 1e9, 6) + 0.0 AS log_weight
FROM b JOIN ratio USING (bkt)
GROUP BY b.doc_id
""")
def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): score every document by its hashed-n-gram
    importance log-weight log p_target(doc) - log p_raw(doc), where
    both distributions are bag-of-hashed-feature unigram models —
    target estimated from the in-domain slice (here: lang='en' as the
    stand-in target corpus), raw from the whole corpus, both add-one
    smoothed over B=256 buckets. Documents are then selected by
    Gumbel-top-k / threshold on log_weight + noise; the deterministic
    weight table here is the expensive distributed part, and the draw
    composes with q_weighted_sample's exponential-race trick.

    Hashed features keep the model state BOUNDED at any corpus size:
    the bucket is the first 2 hex chars of md5(token) (a string key —
    no hex->int conversion, so the identical expression runs in any
    engine), and the whole model is two 256-row tables. The per-bucket
    log-ratio is quantized to integer NANO-units before the per-doc
    sum — integer addition is exact and order-free, so float fold
    order can never flip the 6th digit of a boundary-landing weight
    (one sf0.1 doc did exactly that under 9-digit float re-anchoring).

    Scale: two map-side-combined groupBys over the token stream build
    the models; the 256-row ratio table broadcasts back onto the
    stream; one groupBy(doc) finishes. Shuffle = |tokens| bucket keys
    once + |docs| out. Nothing grows with vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang",
        F.explode(F.filter(F.split(F.lower("text"), _TOK),
                           lambda x: x != "")).alias("tok"))
    b = toks.select("doc_id", "lang",
                    F.substring(F.md5("tok"), 1, 2).alias("bkt"))
    tgt = (b.filter(F.col("lang") == "en")
           .groupBy("bkt").agg(F.count(F.lit(1)).alias("ct")))
    raw = b.groupBy("bkt").agg(F.count(F.lit(1)).alias("cr"))
    nt = tgt.agg(F.sum("ct").cast("double").alias("n_t"))
    nr = raw.agg(F.sum("cr").cast("double").alias("n_r"))
    lr = (F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                / (F.col("n_t") + 256.0))
          - F.log((F.col("cr") + 1.0) / (F.col("n_r") + 256.0)))
    ratio = (raw.join(tgt, "bkt", "left")
             .crossJoin(F.broadcast(nt)).crossJoin(F.broadcast(nr))
             .select("bkt",
                     F.round(lr * 1e9, 0).cast("long").alias("lr_nano")))
    return (b.join(F.broadcast(ratio), "bkt")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tok"),
                 (F.round(F.sum("lr_nano").cast("double") / 1e9, 6)
                  + F.lit(0.0)).alias("log_weight")))


# ---------------------------------------------------------------------------
# Heavy hitters: exact phi-frequent tokens via Misra-Gries + rescue
# ---------------------------------------------------------------------------

@query("q_heavy_hitters", oracle=r"""
WITH toks AS (
  SELECT UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x != '')) AS w
  FROM documents
), f AS (
  SELECT w, COUNT(*) AS c FROM toks GROUP BY w
), n AS (
  SELECT COUNT(*) AS n FROM toks
)
SELECT f.w, f.c FROM f, n WHERE f.c * 40 > n.n
""")
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi-frequent tokens (phi = 1/40) over the corpus token
    stream via operators/heavy_hitters.py: per-partition Misra-Gries
    summaries (k counters, bounded memory at ANY vocabulary size) whose
    union provably contains every globally heavy key, then an exact
    rescue count of the candidates only — the full frequency table is
    never materialized, which is the whole point at 100 TB (contrast
    q_token_topk, which ranks the complete table). The sketch prunes,
    the rescue makes it exact, so the DuckDB GROUP BY/HAVING oracle
    must match bit-for-bit despite the partition-dependent candidate
    set. Threshold compares c*k > n in integers — no division."""
    from ..operators.heavy_hitters import heavy_hitters_exact

    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select(F.explode(
        F.filter(F.split(F.lower("text"), _TOK),
                 lambda x: x != "")).alias("w"))
    return heavy_hitters_exact(toks, "w", k=40)


@query("q_url_canonical", oracle=r"""
WITH raw AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END || '://'
         || CASE WHEN doc_id % 3 = 0 THEN UPPER(source) ELSE source END
         || '.Example.COM'
         || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
         || '/a/./b/../docs/' || CAST(doc_id % 50 AS VARCHAR)
         || CASE WHEN doc_id % 2 = 0
                 THEN '?utm_source=feed&ref=' || source || '&id='
                      || CAST(doc_id % 50 AS VARCHAR)
                 ELSE '?id=' || CAST(doc_id % 50 AS VARCHAR) END
         || '#sec' || CAST(doc_id % 5 AS VARCHAR) AS url
  FROM documents
), c1 AS (
  SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM raw
), c2 AS (
  SELECT doc_id,
         lower(regexp_extract(u, '^([^/]*//[^/?#]*)', 1))
         || regexp_replace(u, '^[^/]*//[^/?#]*', '') AS u
  FROM c1
), c3 AS (
  SELECT doc_id,
         regexp_replace(u, '^(https://[^/:]*):443', '\1') AS u
  FROM c2
), c4 AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(u, '/\./', '/', 'g'),
                        '/[^/]+/\.\./', '/', 'g') AS u
  FROM c3
), c5 AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(u, '(utm_[a-z]+|ref)=[^&#]*&?',
                                       '', 'g'),
                        '[?&]$', '') AS u
  FROM c4
)
SELECT u AS canonical_url, CAST(COUNT(*) AS BIGINT) AS n_variants,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id
FROM c5 GROUP BY u
""")
def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + canonical-URL dedup — the first gate a
    crawl pipeline runs (the SAME page arrives as scheme/host case
    variants, default-port forms, dot-segment paths, tracking-tagged
    and fragment-tagged links). Demo URLs are synthesized
    DETERMINISTICALLY from doc_id/source (both engines build identical
    inputs — the q_mix_corpus synthesized-column pattern) with five
    planted variant axes; canonicalization is a fixed chain of
    engine-identical string transforms: strip fragment, lowercase
    scheme+authority, drop the https default port, resolve '/./' and
    '/seg/../' dot-segments, strip utm_*/ref tracking params, tidy
    dangling separators. Dedup keeps MIN(doc_id) per canonical URL —
    the q_dedup_canonical selection rule on the URL key.

    Scale: map-only string work (codegen'd regexp chain, zero Python)
    + one map-side-combined groupBy on the canonical key — the
    exact-dedup shuffle shape; canonical keys could feed the md5
    digest path unchanged. Determinism: every transform is a pure
    regex with a total result; the only float-free aggregation is
    COUNT/MIN."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https"))
        .otherwise(F.lit("HTTPS")), F.lit("://"),
        F.when(F.col("doc_id") % 3 == 0, F.upper("source"))
        .otherwise(F.col("source")),
        F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/a/./b/../docs/"), (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit("?utm_source=feed&ref="), F.col("source"),
                        F.lit("&id="), (F.col("doc_id") % 50).cast("string")))
        .otherwise(F.concat(F.lit("?id="),
                            (F.col("doc_id") % 50).cast("string"))),
        F.lit("#sec"), (F.col("doc_id") % 5).cast("string"))
    u = F.regexp_replace(url, r"#.*$", "")
    u = F.concat(F.lower(F.regexp_extract(u, r"^([^/]*//[^/?#]*)", 1)),
                 F.regexp_replace(u, r"^[^/]*//[^/?#]*", ""))
    u = F.regexp_replace(u, r"^(https://[^/:]*):443", r"$1")
    u = F.regexp_replace(F.regexp_replace(u, r"/\./", "/"),
                         r"/[^/]+/\.\./", "/")
    u = F.regexp_replace(F.regexp_replace(u, r"(utm_[a-z]+|ref)=[^&#]*&?",
                                          ""),
                         r"[?&]$", "")
    return (d.select(F.col("doc_id"), u.alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_variants"),
                 F.min("doc_id").cast("bigint").alias("keep_id")))


@query("q_heavy_hitters_grouped", oracle=r"""
WITH toks AS (
  SELECT source, UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x != '')) AS w
  FROM documents
), f AS (
  SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w
), n AS (
  SELECT source, COUNT(*) AS n FROM toks GROUP BY source
)
SELECT f.source, f.w, f.c
FROM f JOIN n ON n.source = f.source WHERE f.c * 25 > n.n
""")
def q_heavy_hitters_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE phi-frequent tokens (phi = 1/25) — the grouped form
    of q_heavy_hitters via
    operators/heavy_hitters.py::heavy_hitters_exact_grouped: one
    Misra-Gries summary per (partition, group) prunes candidates with
    the same superset guarantee applied group-by-group, then the exact
    rescue counts candidate (source, token) pairs only and compares
    c*k > n_source in integers. The per-source vocabulary table is
    never materialized — the shape a per-domain boilerplate detector
    needs at crawl scale (a token dominating ONE domain is boilerplate
    even when globally rare). Exact and partitioning-independent, so
    the GROUP BY / HAVING oracle matches bit-for-bit."""
    from ..operators.heavy_hitters import heavy_hitters_exact_grouped

    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select("source", F.explode(
        F.filter(F.split(F.lower("text"), _TOK),
                 lambda x: x != "")).alias("w"))
    return heavy_hitters_exact_grouped(toks, "source", "w", k=25)


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal rank fusion of sparse (BM25) + dense (cosine)
# ---------------------------------------------------------------------------

@query("q_rank_fusion", oracle=r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl FROM t
), tf AS (
  SELECT doc_id, len(toks) AS dl, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, toks, UNNEST(toks) AS tok FROM t)
  WHERE tok IN ('spark', 'join', 'window')
  GROUP BY doc_id, len(toks), tok
), dfq AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok
), bm AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           LN((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
           * tf.tf * 2.2
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / stats.avgdl))
         ), 6) + 0.0 AS bm25
  FROM tf JOIN dfq USING (tok) CROSS JOIN stats
  GROUP BY tf.doc_id
), bm_rank AS (
  SELECT doc_id, r_bm FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm
    FROM bm) WHERE r_bm <= 100
), norms AS (
  SELECT vec_id, SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)) AS nrm
  FROM (SELECT vec_id, UNNEST(embedding) AS e FROM embeddings)
  GROUP BY vec_id
), dots AS (
  SELECT doc_id, SUM(qe * ce) AS dot FROM (
    SELECT c.vec_id AS doc_id,
           CAST(UNNEST(q.embedding) AS DOUBLE) AS qe,
           CAST(UNNEST(c.embedding) AS DOUBLE) AS ce
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id = 0 AND c.vec_id <> 0)
  GROUP BY doc_id
), cosd AS (
  SELECT dots.doc_id,
         ROUND(dot / SQRT(nq.nrm * nc.nrm), 6) + 0.0 AS cos
  FROM dots
  JOIN norms nq ON nq.vec_id = 0
  JOIN norms nc ON nc.vec_id = dots.doc_id
), cos_rank AS (
  SELECT doc_id, r_cos FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r_cos
    FROM cosd) WHERE r_cos <= 100
)
SELECT doc_id,
       ROUND(COALESCE(1.0 / (60 + r_bm), 0) + COALESCE(1.0 / (60 + r_cos), 0),
             6) + 0.0 AS rrf,
       CAST(COALESCE(r_bm, 0) AS BIGINT)  AS r_bm,
       CAST(COALESCE(r_cos, 0) AS BIGINT) AS r_cos
FROM (SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id, r_bm, r_cos
      FROM bm_rank b FULL OUTER JOIN cos_rank c ON b.doc_id = c.doc_id)
ORDER BY rrf DESC, doc_id LIMIT 20
""")
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal rank fusion (Cormack et al.
    2009, k=60): the sparse leg is the BM25 scorer (q_bm25, fixed term
    query), the dense leg is cosine against a fixed query embedding
    (vec 0), each cut to its top-100 list, fused on the shared id
    space by rrf = sum 1/(60 + rank) over the lists a doc appears in.
    This is the standard RAG / curation ranker: lexical recall where
    the term matches, semantic recall where it doesn't, no score
    calibration needed because only RANKS cross the fusion boundary.

    Determinism: both legs rank their ROUNDED score with an id
    tiebreak (the argmin rule), absent-list ranks are 0-sentineled
    (never NULL — nullable-int dtype drift), and 1/(60+r) sums of
    identical rationals are IEEE-exact in both engines.

    Scale: each leg ends in a TakeOrdered top-100 (no global sort
    materializes); the fusion joins two 100-row lists — driver-trivial
    regardless of corpus size. The legs themselves are the linear
    plans their parent queries pin (BM25: filter-before-explode +
    broadcast df; dense: candidate scoring is brute-force here, the
    IVF/LSH operators at 100 TB)."""
    bm = q_bm25(spark, sf_dir)
    w_bm = W.orderBy(F.desc("bm25"), F.asc("doc_id"))
    bm_rank = (bm.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(100)
               .select("doc_id", F.row_number().over(w_bm).alias("r_bm")))

    e = load_table(spark, sf_dir, "embeddings")
    norm = F.aggregate(F.col("embedding"), F.lit(0.0),
                       lambda acc, x: acc + x.cast("double") * x.cast("double"))
    wn = e.select("vec_id", "embedding", norm.alias("nrm"))
    q = (wn.filter(F.col("vec_id") == 0)
         .select(F.col("embedding").alias("qv"), F.col("nrm").alias("qn")))
    c = (wn.filter(F.col("vec_id") != 0)
         .select(F.col("vec_id").alias("doc_id"),
                 F.col("embedding").alias("cv"), F.col("nrm").alias("cn")))
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    cosd = (c.crossJoin(F.broadcast(q))  # 1-row query vector
            .select("doc_id",
                    (F.round(F.try_divide(
                        dot, F.sqrt(F.col("qn") * F.col("cn"))), 6) + 0.0)
                    .alias("cos")))
    w_cos = W.orderBy(F.desc("cos"), F.asc("doc_id"))
    cos_rank = (cosd.orderBy(F.desc("cos"), F.asc("doc_id")).limit(100)
                .select("doc_id", F.row_number().over(w_cos).alias("r_cos")))

    fused = bm_rank.join(cos_rank, "doc_id", "full")
    rrf = (F.coalesce(1.0 / (60 + F.col("r_bm")), F.lit(0.0))
           + F.coalesce(1.0 / (60 + F.col("r_cos")), F.lit(0.0)))
    return (fused.select(
                "doc_id",
                (F.round(rrf, 6) + 0.0).alias("rrf"),
                F.coalesce("r_bm", F.lit(0)).cast("long").alias("r_bm"),
                F.coalesce("r_cos", F.lit(0)).cast("long").alias("r_cos"))
            .orderBy(F.desc("rrf"), F.asc("doc_id")).limit(20))


# ---------------------------------------------------------------------------
# Late-interaction (ColBERT-style) max-sim retrieval
# ---------------------------------------------------------------------------

@query("q_maxsim_late", oracle="""
WITH sl AS (SELECT UNNEST([0, 1, 2, 3]) AS i),
qslice AS (
  SELECT sl.i AS qi,
         [CAST(e.embedding[sl.i * 16 + k] AS DOUBLE) FOR k IN range(1, 17)] AS qv
  FROM embeddings e CROSS JOIN sl WHERE e.vec_id = 0
), dslice AS (
  SELECT e.vec_id AS doc_id, sl.i AS dj,
         [CAST(e.embedding[sl.i * 16 + k] AS DOUBLE) FOR k IN range(1, 17)] AS dv
  FROM embeddings e CROSS JOIN sl WHERE e.vec_id <> 0
), scored AS (
  SELECT d.doc_id, q.qi,
         MAX(ROUND(
           list_sum(list_transform(range(1, 17),
                                   k -> q.qv[k] * d.dv[k]))
           / SQRT(list_sum(list_transform(range(1, 17), k -> q.qv[k] * q.qv[k]))
                  * list_sum(list_transform(range(1, 17), k -> d.dv[k] * d.dv[k]))),
           6)) AS best
  FROM dslice d CROSS JOIN qslice q
  GROUP BY d.doc_id, q.qi
)
SELECT doc_id, ROUND(SUM(best), 6) + 0.0 AS maxsim
FROM scored GROUP BY doc_id
ORDER BY maxsim DESC, doc_id LIMIT 10
""")
def q_maxsim_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (ColBERT-family MaxSim, Khattab &
    Zaharia 2020): documents and the query are MULTI-vector — here each
    64-dim embedding is sliced into 4 x 16-dim sub-vectors standing in
    for token embeddings — and the score is
    sum over query sub-vectors of max over doc sub-vectors of cosine.
    Late interaction keeps per-token granularity that single-vector
    cosine (q_sim_topk) pools away, which is why rerankers use it.

    Shape: posexplode each side's slice array, equi-free 4x4 sub-vector
    pairing per doc via a 4-row broadcast of the query slices, cosine
    per pair (rounded before MAX — rounding is monotone, so the max of
    rounded equals the rounded max up to tie collapse, identical in
    both engines), MAX per (doc, query-slice), SUM per doc, TakeOrdered
    top-10.

    Scale: the candidate doc set would come from the single-vector ANN
    stage (IVF/LSH); MaxSim then scores |candidates| x |q_tokens| x
    |d_tokens| pairs — all JVM-side fold arithmetic, no UDF, and the
    per-doc reduction is a two-level mergeable aggregate."""
    e = load_table(spark, sf_dir, "embeddings")
    slices = F.array(*[F.slice("embedding", i * 16 + 1, 16) for i in range(4)])
    q = (e.filter(F.col("vec_id") == 0)
         .select(F.posexplode(slices).alias("qi", "qv")))
    d = (e.filter(F.col("vec_id") != 0)
         .select(F.col("vec_id").alias("doc_id"),
                 F.posexplode(slices).alias("dj", "dv")))
    # r13: per-pair dot and norms unrolled to codegen over the 16-wide
    # slices (operators/similarity.py::unrolled_dot — identical fold
    # order, bit-identical cosine). HARD DEPENDENCY on the embeddings
    # schema: every slice is exactly 16 wide because the fixed 64-dim
    # vectors split 4x16 above — under ANSI mode element_at past the
    # array end would abort the job (r13 ADVICE; the zip_with fold
    # would instead silently yield NULL, which is no safer).
    from ..operators.similarity import unrolled_dot

    dot = unrolled_dot("qv", "dv", 16)
    sq = lambda c: unrolled_dot(c, c, 16)  # noqa: E731 - local helper
    cos = F.round(F.try_divide(dot, F.sqrt(sq("qv") * sq("dv"))), 6)
    return (d.crossJoin(F.broadcast(q))  # 4-row query-slice table
            .groupBy("doc_id", "qi").agg(F.max(cos).alias("best"))
            .groupBy("doc_id")
            .agg((F.round(F.sum("best"), 6) + 0.0).alias("maxsim"))
            .orderBy(F.desc("maxsim"), F.asc("doc_id")).limit(10))


# ---------------------------------------------------------------------------
# Positional phrase search over the inverted index family
# ---------------------------------------------------------------------------

@query("q_phrase_search", oracle=r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS lst FROM documents
), tok AS (
  SELECT doc_id, UNNEST(lst) AS term,
         UNNEST(range(0, len(lst))) AS pos
  FROM t
), t1 AS (
  SELECT doc_id, pos FROM tok WHERE term = 'spark'
), t2 AS (
  SELECT doc_id, pos FROM tok WHERE term = 'join'
)
SELECT t1.doc_id,
       COUNT(*) AS n_occ,
       CAST(MIN(t1.pos) AS BIGINT) AS first_pos
FROM t1 JOIN t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
GROUP BY t1.doc_id
""")
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query ("spark join") over a POSITIONAL inverted
    index: the positional extension of q_inverted_index — posting
    lists carry (doc, position), and a two-term phrase is a hash
    equi-join of the first term's postings on (doc_id, pos + 1)
    against the second term's. Reports per-doc occurrence count and
    first hit position (the snippet anchor).

    Scale: postings are FILTERED to the phrase's terms before any
    shuffle (the BM25 move — shuffle volume is |hits of the two
    terms|, never |tokens|); the positional adjacency test rides the
    equi-join key (next_pos precomputed), so the plan is a pure hash
    join at any corpus size. N-term phrases chain n-1 such joins,
    rarest term first."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), _TOK)).alias("pos", "term"))
    t1 = (tok.filter(F.col("term") == "spark")
          .select("doc_id", "pos", (F.col("pos") + 1).alias("next_pos")))
    t2 = (tok.filter(F.col("term") == "join")
          .select(F.col("doc_id").alias("doc_id2"),
                  F.col("pos").alias("pos2")))
    return (t1.join(t2, (F.col("doc_id2") == F.col("doc_id"))
                    & (F.col("pos2") == F.col("next_pos")))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_occ"),
                 F.min("pos").cast("long").alias("first_pos")))


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting step (adaptive training-mix optimization)
# ---------------------------------------------------------------------------

@query("q_doremi_step", oracle=r"""
WITH toks AS (
  SELECT source,
         substring(md5(UNNEST(list_filter(
             string_split_regex(lower(text), '\s+'), x -> x != ''))), 1, 2)
         AS bkt
  FROM documents
), model AS (
  SELECT bkt, COUNT(*) AS c FROM toks GROUP BY bkt
), n AS (SELECT SUM(c) AS n FROM model),
nl AS (
  SELECT model.bkt,
         CAST(ROUND(-LN((model.c + 1.0) / (n.n + 256.0)) * 1e9, 0)
              AS BIGINT) AS nl_nano
  FROM model CROSS JOIN n
), per_src AS (
  SELECT toks.source,
         CAST(SUM(nl.nl_nano) AS DOUBLE) / 1e9 / COUNT(*) AS loss
  FROM toks JOIN nl USING (bkt)
  GROUP BY toks.source
), base AS (
  SELECT SUM(loss * 1.0) / COUNT(*) AS baseline FROM per_src
), ex AS (
  SELECT source, loss,
         ROUND(loss - base.baseline, 6) AS excess
  FROM per_src CROSS JOIN base
), z AS (SELECT SUM(EXP(excess)) AS z FROM ex)
SELECT source,
       ROUND(loss, 6) + 0.0 AS loss,
       excess + 0.0 AS excess,
       ROUND(EXP(ex.excess) / z.z, 6) + 0.0 AS weight
FROM ex CROSS JOIN z
""")
def q_doremi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style domain-reweighting step (Xie et al. 2023): each
    source's proxy loss is its average per-token negative log-prob
    under a corpus-wide hashed-256-bucket unigram model (the q_dsir
    feature machinery pointed at mix optimization instead of
    importance sampling); domains with ABOVE-baseline loss get
    exponentially upweighted — w_d proportional to exp(loss_d - mean) —
    the multiplicative-weights update that makes the training mix
    chase hard domains. The adaptive member of the mixing family
    (static q_mix_corpus, hash q_mix_corpus_hash, budget
    q_mix_token_budget).

    Determinism: per-token loss is summed in integer nano-units
    (order-free); the excess is ROUNDed before EXP so both engines
    exponentiate identical inputs; weights renormalize over the
    |sources|-row table (1-row broadcast sum).

    Scale: the model is 256 rows broadcast onto the token stream; one
    hash shuffle on source for the loss aggregate; everything after is
    |sources|-sized."""
    d = load_table(spark, sf_dir, "documents")
    toks = (d.select(
                "source",
                F.explode(F.filter(F.split(F.lower("text"), _TOK),
                                   lambda x: x != "")).alias("tok"))
            .select("source", F.substring(F.md5("tok"), 1, 2).alias("bkt")))
    model = toks.groupBy("bkt").agg(F.count(F.lit(1)).alias("c"))
    n = model.agg(F.sum("c").alias("n"))
    nl = (model.crossJoin(F.broadcast(n))
          .select("bkt",
                  F.round(-F.log((F.col("c") + 1.0) / (F.col("n") + 256.0))
                          * 1e9, 0).cast("long").alias("nl_nano")))
    per_src = (toks.join(F.broadcast(nl), "bkt")
               .groupBy("source")
               .agg((F.sum("nl_nano").cast("double") / 1e9
                     / F.count(F.lit(1))).alias("loss")))
    base = per_src.agg((F.sum(F.col("loss") * 1.0)
                        / F.count(F.lit(1))).alias("baseline"))
    ex = (per_src.crossJoin(F.broadcast(base))
          .select("source", "loss",
                  F.round(F.col("loss") - F.col("baseline"), 6)
                  .alias("excess")))
    z = ex.agg(F.sum(F.exp("excess")).alias("z"))
    return (ex.crossJoin(F.broadcast(z))
            .select("source",
                    (F.round("loss", 6) + 0.0).alias("loss"),
                    (F.col("excess") + 0.0).alias("excess"),
                    (F.round(F.exp("excess") / F.col("z"), 6) + 0.0)
                    .alias("weight")))


# ---------------------------------------------------------------------------
# Training-shard export sink: token-budget sharding + manifest round-trip
# ---------------------------------------------------------------------------

@query("q_shard_export", oracle=r"""
WITH t AS (
  SELECT doc_id,
         LEN(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
           AS n_tok,
         ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 10))
           ::BIGINT AS hk
  FROM documents
), c AS (
  SELECT doc_id, n_tok, hk,
         SUM(n_tok) OVER (ORDER BY hk * 1048576 + doc_id) AS cum
  FROM t
)
SELECT CAST(FLOOR((cum - n_tok) / 4000.0) AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(hk) AS BIGINT) AS content_sum
FROM c GROUP BY 1
""")
def q_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export: the corpus is cut into ~4000-token shards
    in deterministic content-hash order (each doc lands in the shard
    where its running token count BEGINS), written PARTITIONED BY
    shard_id, and the returned manifest (docs, tokens, order-free
    content fingerprint per shard) is computed from the FILES READ BACK
    — so the oracle parity proves the sink round-trip byte-preserved
    membership, the q_compact_files contract applied to the export
    sink a training run actually consumes.

    The running count is the distributed two-phase prefix sum
    (operators/prefix_sum.py — no single-partition sort; the
    q_pack_sequences scaffold). The unique order key is the 40-bit md5
    prefix * 2^20 + doc_id (60 bits, overflow-safe), with a LOUD runtime guard on the id span
    (composite-key aliasing rule): both engines order by the identical
    composite, so shard boundaries agree exactly.

    Scale: shard assignment is linear; the write is one file per
    shard directory via repartition on the partition column (never
    coalesce(1) — that serializes the whole plan)."""
    import tempfile

    from ..operators.prefix_sum import distributed_prefix_sum

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.coalesce(
        F.size(F.filter(F.split("text", _TOK), lambda x: x != "")), F.lit(0))
    h = F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
    hk = F.conv(F.substring(h, 1, 10), 16, 10).cast("long")
    # the span guard lives INSIDE the okey expression so Catalyst can
    # never prune it away (the round-6 advisor finding: a guard in a
    # dropped projection column is dead code) — an aliasing doc_id now
    # fails the job loudly instead of silently corrupting shard order
    t = (d.select("doc_id", n_tok.cast("long").alias("n_tok"),
                  hk.alias("hk"))
         .withColumn(
             "okey",
             F.when(F.col("doc_id") < F.lit(1 << 20),
                    F.col("hk") * (1 << 20) + F.col("doc_id"))
             .otherwise(F.raise_error(F.lit(
                 "q_shard_export: doc_id exceeds the 2^20 "
                 "composite-key span")))))
    c = distributed_prefix_sum(t, "okey", "n_tok", out_col="cum")
    sharded = c.select(
        "doc_id", "n_tok", "hk",
        F.floor((F.col("cum") - F.col("n_tok")) / F.lit(4000.0))
        .cast("long").alias("shard_id"))
    out = tempfile.mkdtemp(prefix="tdps_shards_")
    (sharded.repartition("shard_id")
     .write.mode("overwrite").partitionBy("shard_id").parquet(out))
    # explicit schema: an empty corpus writes zero files, and a bare
    # read would fail schema inference
    back = spark.read.schema(sharded.schema).parquet(out)
    return (back.groupBy("shard_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("n_tokens"),
                 F.sum("hk").cast("long").alias("content_sum")))


# ---------------------------------------------------------------------------
# Record linkage: blocking keys + Fellegi-Sunter-style agreement scores
# ---------------------------------------------------------------------------

@query("q_linkage_blocked", oracle="""
WITH b AS (
  SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal,
         SUBSTR(c_name, -2) AS name_tail,
         CAST(FLOOR(c_acctbal / 500) AS BIGINT) AS bal_bucket
  FROM customer
), pairs AS (
  SELECT a.c_custkey AS cust_a, c.c_custkey AS cust_b,
         (CASE WHEN ABS(a.c_acctbal - c.c_acctbal) < 100 THEN 2 ELSE 0 END)
       + (CASE WHEN a.name_tail = c.name_tail THEN 3 ELSE 0 END)
       + (CASE WHEN ABS(a.c_acctbal - c.c_acctbal) < 20 THEN 1 ELSE 0 END)
           AS score
  FROM b a JOIN b c
    ON a.c_nationkey = c.c_nationkey
   AND a.c_mktsegment = c.c_mktsegment
   AND a.bal_bucket = c.bal_bucket
   AND a.c_custkey < c.c_custkey
)
SELECT cust_a, cust_b, CAST(score AS INT) AS score
FROM pairs WHERE score >= 2
""")
def q_linkage_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage with blocking: candidate pairs come ONLY from an
    equi-join on a composite blocking key (nation, segment,
    balance-bucket), then integer Fellegi-Sunter-style agreement
    weights score each pair (balance proximity +2/+1, name-tail
    agreement +3) and a threshold keeps probable matches. The
    entity-resolution pattern that generalizes the dedup family from
    equal-content (q_dedup_exact) and similar-text (q_fuzzy_join,
    q_setsim_join) to structured-record identity.

    Determinism: all weights are integer CASE tests on exact parquet
    values; the pair universe is a keyed self-join with a strict
    id-order dedup.

    Scale: the blocking key IS the shuffle key — candidate
    generation is a hash equi-join, never all-pairs (pinned in
    test_plans.py); block sizes are bounded by construction
    (nation x segment x 500-wide balance bucket), the standard
    blocking answer to quadratic ER. Boundary misses (true matches
    straddling a bucket edge) are the known blocking trade-off —
    production runs a second pass with offset buckets, same plan."""
    c = load_table(spark, sf_dir, "customer")
    b = c.select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal",
        F.substring("c_name", -2, 2).alias("name_tail"),
        F.floor(F.col("c_acctbal") / 500).cast("bigint").alias("bal_bucket"))
    a, d = b.alias("a"), b.alias("d")
    bal_diff = F.abs(F.col("a.c_acctbal") - F.col("d.c_acctbal"))
    score = ((F.when(bal_diff < 100, 2).otherwise(0))
             + (F.when(F.col("a.name_tail") == F.col("d.name_tail"), 3)
                .otherwise(0))
             + (F.when(bal_diff < 20, 1).otherwise(0)))
    return (a.join(d, (F.col("a.c_nationkey") == F.col("d.c_nationkey"))
                   & (F.col("a.c_mktsegment") == F.col("d.c_mktsegment"))
                   & (F.col("a.bal_bucket") == F.col("d.bal_bucket"))
                   & (F.col("a.c_custkey") < F.col("d.c_custkey")))
            .select(F.col("a.c_custkey").alias("cust_a"),
                    F.col("d.c_custkey").alias("cust_b"),
                    score.cast("int").alias("score"))
            .filter(F.col("score") >= 2))


# ---------------------------------------------------------------------------
# k-anonymity audit over quasi-identifier combinations
# ---------------------------------------------------------------------------

@query("q_kanonymity", oracle="""
WITH q AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket
  FROM customer
)
SELECT c_nationkey, c_mktsegment, bal_bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM q
GROUP BY 1, 2, 3
HAVING COUNT(*) < 5
""")
def q_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: every quasi-identifier combination (nation,
    segment, coarse balance bucket) whose equivalence class holds
    fewer than k=5 records — the re-identification risk screen a
    training-data pipeline runs BEFORE releasing records whose
    combination of innocuous attributes is unique enough to identify
    someone. Flagged classes are the rows to suppress or generalize
    (widen the bucket) — the remediation is re-running this query
    with a coarser grid until it returns empty.

    Scale: one map-side-combined groupBy over the quasi-identifier
    tuple + a HAVING on the count — the cheapest possible audit shape;
    the output is bounded by the number of RISKY classes, not data
    size."""
    c = load_table(spark, sf_dir, "customer")
    return (c.select("c_nationkey", "c_mktsegment",
                     F.floor(F.col("c_acctbal") / 1000).cast("bigint")
                     .alias("bal_bucket"))
            .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .filter(F.col("n") < 5))


# ---------------------------------------------------------------------------
# Kneser-Ney bigram language-model estimation
# ---------------------------------------------------------------------------

@query("q_kneser_ney", oracle=r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents
), grams AS (
  SELECT UNNEST(list_transform(range(1, len(ws)),
                               i -> struct_pack(w1 := ws[i], w2 := ws[i+1])))
           AS g
  FROM toks WHERE len(ws) >= 2
), big AS (
  SELECT g.w1 AS w1, g.w2 AS w2, COUNT(*) AS c
  FROM grams WHERE g.w1 <> '' AND g.w2 <> ''
  GROUP BY 1, 2
), ctx AS (
  SELECT w1, SUM(c) AS cprev, COUNT(*) AS nfollow FROM big GROUP BY w1
), cont AS (
  SELECT w2, COUNT(*) AS ncont FROM big GROUP BY w2
), t AS (
  SELECT COUNT(*) AS n_types FROM big
), top AS (
  SELECT w1, w2, c FROM big ORDER BY c DESC, w1, w2 LIMIT 20
)
SELECT top.w1, top.w2, CAST(top.c AS BIGINT) AS c,
       ROUND(GREATEST(top.c - 0.75, 0) / ctx.cprev
             + (0.75 * ctx.nfollow / ctx.cprev)
               * (cont.ncont / t.n_types), 6) + 0.0 AS p_kn
FROM top
JOIN ctx ON top.w1 = ctx.w1
JOIN cont ON top.w2 = cont.w2
CROSS JOIN t
""")
def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram estimation — the n-gram LM the
    data pipeline itself trains (for perplexity filtering, DSIR-style
    importance weights, decontamination scoring): absolute discount
    d=0.75 on the bigram MLE, mass redistributed by CONTINUATION
    counts (in how many distinct contexts does w2 appear) rather than
    raw frequency — the distinction that makes KN the standard n-gram
    smoother. Reported for the corpus's top-20 bigrams.

    Statistics produced distributed: bigram counts c(w1,w2), context
    totals c(w1.), follower fan-out N1+(w1.), continuation counts
    N1+(.w2), bigram-type total — each a map-side-combined groupBy
    over the exploded bigram stream.

    Determinism: all five statistics are exact integer counts; p_kn
    is one fixed float expression over them, rounded at 6; the top-20
    cut is a total order (c desc, w1, w2).

    Scale: bigrams explode in-row (no shuffle of text); the three
    count tables shuffle DIGESTED keys only; the top-20 cut is
    TakeOrderedAndProject, and the final enrichment joins run
    against the 20-row broadcast — the full count tables are never
    re-shuffled for the join (pinned in test_plans.py)."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    ws = F.split(F.lower("text"), _TOK)
    grams = F.when(
        F.size(ws) >= 2,
        F.transform(F.sequence(F.lit(0), F.size(ws) - 2),
                    lambda i: F.struct(
                        F.element_at(ws, i + 1).alias("w1"),
                        F.element_at(ws, i + 2).alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    # Uniform not-null filter on both gram columns (r13): the final
    # enrichment joins push isnotnull(w1) into the ctx branch and
    # isnotnull(w2) into the cont branch, de-canonicalizing each
    # consumer's copy of the bigram-count subtree; with both filters
    # stated up front every branch is byte-identical and the count
    # exchange materializes once (ReusedExchange) — which replaces the
    # old CacheSlot pin (all four consumers live in ONE action, the
    # q_hits_step un-pinning rule; the pinned relation was also
    # |bigram types|-sized, the wrong thing to cache at corpus scale).
    big = (d.select(F.explode(grams).alias("g"))
           .select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
           .filter((F.col("w1") != "") & (F.col("w2") != "")
                   & F.col("w1").isNotNull() & F.col("w2").isNotNull())
           .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")))
    ctx = big.groupBy("w1").agg(F.sum("c").alias("cprev"),
                                F.count(F.lit(1)).alias("nfollow"))
    cont = big.groupBy("w2").agg(F.count(F.lit(1)).alias("ncont"))
    types = big.agg(F.count(F.lit(1)).alias("n_types"))
    top = big.orderBy(F.col("c").desc(), "w1", "w2").limit(20)
    p_kn = (F.greatest(F.col("c") - 0.75, F.lit(0.0)) / F.col("cprev")
            + (0.75 * F.col("nfollow") / F.col("cprev"))
            * (F.col("ncont") / F.col("n_types")))
    return (F.broadcast(top)
            .join(ctx, "w1").join(cont, "w2")
            .crossJoin(F.broadcast(types))
            .select("w1", "w2", F.col("c").cast("bigint").alias("c"),
                    (F.round(p_kn, 6) + 0.0).alias("p_kn")))


# ---------------------------------------------------------------------------
# HyperLogLog registers: mergeable distinct-count sketch, oracle-exact
# ---------------------------------------------------------------------------

@query("q_hll_union", oracle="""
WITH pts AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT)
           AS bucket,
         CASE WHEN v > 0 THEN 53 - length(bin(v)) ELSE 53 END AS rho
  FROM (SELECT event_type, user_id,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 13))
                    AS BIGINT) AS v
        FROM events)
), regs AS (
  SELECT event_type AS scope, bucket, MAX(rho) AS reg
  FROM pts GROUP BY 1, 2
  UNION ALL
  SELECT 'ALL' AS scope, bucket, MAX(rho) AS reg
  FROM pts GROUP BY 1, 2
), spine AS (
  SELECT s.scope, g.b
  FROM (SELECT DISTINCT scope FROM regs) s
  CROSS JOIN (SELECT UNNEST(range(0, 256)) AS b) g
), full_regs AS (
  SELECT spine.scope, spine.b, COALESCE(regs.reg, 0) AS reg
  FROM spine LEFT JOIN regs
    ON regs.scope = spine.scope AND regs.bucket = spine.b
), est AS (
  SELECT scope,
         SUM(1::BIGINT << (53 - reg)) AS s,
         COUNT(*) FILTER (WHERE reg = 0) AS z
  FROM full_regs GROUP BY scope
), ex AS (
  SELECT event_type AS scope, COUNT(DISTINCT user_id) AS n_exact
  FROM events GROUP BY 1
  UNION ALL
  SELECT 'ALL' AS scope, COUNT(DISTINCT user_id) AS n_exact FROM events
), final AS (
  SELECT est.scope, ex.n_exact,
         ROUND(CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                         / (s::DOUBLE / 9007199254740992.0) <= 640.0
                         AND z > 0
                    THEN 256.0 * LN(256.0 / z)
                    ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                         / (s::DOUBLE / 9007199254740992.0)
               END, 6) AS e
  FROM est JOIN ex ON est.scope = ex.scope
)
SELECT scope, CAST(n_exact AS BIGINT) AS n_exact,
       e + 0.0 AS hll_est,
       ROUND((e - n_exact) / n_exact * 100, 4) + 0.0 AS err_pct
FROM final
""")
def q_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user sketch with p=8 (256 registers), built
    register-by-register so the oracle can replicate it EXACTLY — the
    hash-checked twin of q_agg_approx's opaque HLL++ the way
    q_dedup_minhash_md5 twins the xxhash64 MinHash. Registers are
    md5-derived (bucket = first 8 hash bits, rho = leading-zero rank
    of the next 52), per-event-type sketches estimate per-type
    distinct users, and the 'ALL' row is the register-wise MAX merge
    of the per-type sketches — the algebraic mergeability (sketch of a
    union = max of sketches) that makes HLL the 100 TB distinct-count
    answer: partial sketches combine associatively across partitions,
    days, or datacenters without re-reading anything.

    Determinism: registers are exact integers (rho via bin-string
    length, never floating log2); the harmonic sum is computed in
    integer units of 2^-53 (each register contributes the bigint
    1<<(53-reg)) so no float-accumulation order exists; the final
    estimate is one fixed double expression (with the standard
    small-range linear-counting correction) rounded at 6.

    Scale: one map-side-combined groupBy onto <= |types| * 256
    register cells; everything downstream operates on the fixed-size
    register table. The exact COUNT(DISTINCT) columns exist only to
    report err_pct — drop them in production and nothing shuffles more
    than registers."""
    ev = load_table(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string"))
    v = F.conv(F.substring(h, 3, 13), 16, 10).cast("long")
    pts = ev.select(
        "event_type",
        F.conv(F.substring(h, 1, 2), 16, 10).cast("long").alias("bucket"),
        F.when(v > 0, 53 - F.length(F.bin(v)))
        .otherwise(F.lit(53)).cast("int").alias("rho"))
    per_type = (pts.groupBy(F.col("event_type").alias("scope"), "bucket")
                .agg(F.max("rho").alias("reg")))
    merged = (pts.groupBy("bucket").agg(F.max("rho").alias("reg"))
              .select(F.lit("ALL").alias("scope"), "bucket", "reg"))
    regs = per_type.unionByName(merged)
    spine = (regs.select(F.col("scope").alias("sscope")).distinct()
             .select("sscope", F.explode(F.sequence(F.lit(0), F.lit(255)))
                     .alias("b")))
    full = (spine.join(F.broadcast(regs),
                       (F.col("sscope") == F.col("scope"))
                       & (F.col("b") == F.col("bucket")), "left")
            .select(F.col("sscope").alias("scope"), "b",
                    F.coalesce(F.col("reg"), F.lit(0)).alias("reg")))
    est = (full.groupBy("scope")
           .agg(F.sum(F.expr("shiftleft(1L, 53 - reg)")).alias("s"),
                F.count(F.when(F.col("reg") == 0, 1)).alias("z")))
    raw = (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
           * F.lit(65536.0)
           / (F.col("s").cast("double") / F.lit(9007199254740992.0)))
    e = F.round(F.when((raw <= 640.0) & (F.col("z") > 0),
                       F.lit(256.0) * F.log(F.lit(256.0) / F.col("z")))
                .otherwise(raw), 6)
    ex = (ev.groupBy(F.col("event_type").alias("scope"))
          .agg(F.count_distinct("user_id").alias("n_exact"))
          .unionByName(ev.agg(F.count_distinct("user_id").alias("n_exact"))
                       .select(F.lit("ALL").alias("scope"), "n_exact")))
    return (est.join(F.broadcast(ex), "scope")
            .select("scope", F.col("n_exact").cast("bigint").alias("n_exact"),
                    (e + 0.0).alias("hll_est"),
                    (F.round((e - F.col("n_exact")) / F.col("n_exact")
                             * 100, 4) + 0.0).alias("err_pct")))


# ---------------------------------------------------------------------------
# Count-Min sketch: point-frequency estimates with exact comparison
# ---------------------------------------------------------------------------

@query("q_cms_count", oracle=r"""
WITH tok AS (
  SELECT w FROM (
    SELECT UNNEST(string_split_regex(lower(text), '\s+')) AS w FROM documents
  ) WHERE w <> ''
), salts AS (
  SELECT CAST(UNNEST(range(0, 4)) AS VARCHAR) AS r
), cells AS (
  SELECT s.r,
         CAST(('0x' || substr(md5(s.r || ':' || t.w), 1, 3)) AS BIGINT) % 512
           AS b,
         COUNT(*) AS n
  FROM tok t CROSS JOIN salts s
  GROUP BY 1, 2
), exact AS (
  SELECT w, COUNT(*) AS c FROM tok GROUP BY w ORDER BY c DESC, w LIMIT 10
), probes AS (
  SELECT e.w, e.c, s.r,
         CAST(('0x' || substr(md5(s.r || ':' || e.w), 1, 3)) AS BIGINT) % 512
           AS b
  FROM exact e CROSS JOIN salts s
)
SELECT p.w AS term, CAST(MAX(p.c) AS BIGINT) AS c_exact,
       CAST(MIN(cells.n) AS BIGINT) AS c_est,
       CAST(MIN(cells.n) - MAX(p.c) AS BIGINT) AS overcount
FROM probes p JOIN cells ON cells.r = p.r AND cells.b = p.b
GROUP BY p.w
""")
def q_cms_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (d=4 rows x w=512 buckets, md5-salted) for
    point frequency estimates, probed for the corpus's top-10 tokens
    and compared against their exact counts — the bounded-memory
    frequency table that complements q_heavy_hitters' Misra-Gries
    (which keys are hot) with "how hot is THIS key" point queries, and
    the standard guarantee shape: estimates never undercount
    (overcount >= 0 always; with prob 1-(1/2)^4 the excess is
    <= 2/512 of total mass).

    Determinism: cell counts are exact integers from md5-derived
    bucket ids; estimate = MIN over the 4 row cells, exact = MAX over
    the (constant) joined exact counts; no floats anywhere.

    Scale: the sketch build is one map-side-combined groupBy onto at
    most 4x512 = 2048 cells regardless of corpus size (the fan-out
    happens inside the combiner's input, not the shuffle); probes join
    a 40-row broadcast against the 2048-cell table. The exact top-10
    side exists only for the comparison — production keeps the 2048
    cells and answers any point query map-side."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    tok = (d.select(F.explode(F.split(F.lower("text"), _TOK)).alias("w"))
           .filter(F.col("w") != ""))
    salt = F.explode(F.array(*[F.lit(str(i)) for i in range(4)])).alias("r")
    bucket = (F.conv(F.substring(
        F.md5(F.concat_ws(":", "r", "w")), 1, 3), 16, 10)
        .cast("long") % 512).alias("b")
    cells = (tok.select("w", salt).select("r", bucket)
             .groupBy("r", "b").agg(F.count(F.lit(1)).alias("n")))
    exact = (tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.col("c").desc(), "w").limit(10))
    probes = (exact.select("w", "c", salt)
              .select("w", "c", "r",
                      (F.conv(F.substring(
                          F.md5(F.concat_ws(":", "r", "w")), 1, 3), 16, 10)
                       .cast("long") % 512).alias("b")))
    return (cells.join(F.broadcast(probes), ["r", "b"])
            .groupBy(F.col("w").alias("term"))
            .agg(F.max("c").cast("bigint").alias("c_exact"),
                 F.min("n").cast("bigint").alias("c_est"),
                 (F.min("n") - F.max("c")).cast("bigint").alias("overcount")))


# ---------------------------------------------------------------------------
# BPE merge-learning step: the argmax adjacent-pair selection
# ---------------------------------------------------------------------------

@query("q_bpe_merge_step", oracle=r"""
WITH tok AS (
  SELECT w FROM (
    SELECT UNNEST(string_split_regex(lower(text), '\s+')) AS w FROM documents
  ) WHERE w <> ''
), vocab AS (
  SELECT w, COUNT(*) AS c FROM tok GROUP BY w
), pairs AS (
  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, c
  FROM (SELECT w, c, UNNEST(range(1, length(w))) AS i
        FROM vocab WHERE length(w) >= 2)
)
SELECT pair, CAST(SUM(c) AS BIGINT) AS freq
FROM pairs GROUP BY pair ORDER BY freq DESC, pair LIMIT 10
""")
def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-TRAINING iteration: count adjacent symbol
    pairs across the corpus (weighted by word frequency) and surface
    the top merge candidates — rank 1 is the pair a BPE learner would
    merge next; iterating (apply merge, recount) yields the merge
    table q_token_bpe's pre-tokenizer only approximates. Training the
    tokenizer ON the corpus it will encode is a standard pipeline
    step, and this is its inner loop.

    The BPE-training trick this encodes: pair counts come from the
    DISTINCT-word vocabulary weighted by word counts, so the pair
    stream is bounded by total vocabulary characters, NOT corpus
    tokens — each merge iteration costs |vocab|, not |corpus|.

    Determinism: exact integer counts; the top-10 cut is a total
    order (freq desc, pair).

    Scale: corpus -> vocabulary is one map-side-combined groupBy;
    pairs explode in-row over the bounded vocab; the cut is
    TakeOrderedAndProject (plan-tested)."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    tok = (d.select(F.explode(F.split(F.lower("text"), _TOK)).alias("w"))
           .filter(F.col("w") != ""))
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    pairs = (vocab.filter(F.length("w") >= 2)
             .select("w", "c",
                     F.explode(F.sequence(
                         F.lit(1), F.length("w") - 1)).alias("i"))
             .select(F.expr("substr(w, i, 2)").alias("pair"), "c"))
    return (pairs.groupBy("pair").agg(F.sum("c").cast("bigint").alias("freq"))
            .orderBy(F.col("freq").desc(), "pair").limit(10))


# ---------------------------------------------------------------------------
# Data-quality constraint validation (expectations suite)
# ---------------------------------------------------------------------------

@query("q_dq_rules", oracle="""
WITH o AS (
  SELECT COUNT(*) AS n,
         COUNT(*) FILTER (WHERE o_orderdate IS NULL) AS v_null,
         COUNT(*) FILTER (WHERE o_totalprice < 0) AS v_range,
         COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_dup
  FROM orders
), l AS (
  SELECT COUNT(*) AS n,
         COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS v_disc
  FROM lineitem
), j AS (
  SELECT COUNT(*) AS n,
         COUNT(*) FILTER (WHERE ord.o_orderkey IS NULL) AS v_orphan,
         COUNT(*) FILTER (WHERE ord.o_orderkey IS NOT NULL) AS n_matched,
         COUNT(*) FILTER (WHERE ord.o_orderkey IS NOT NULL
                          AND li.l_shipdate < ord.o_orderdate) AS v_time
  FROM lineitem li LEFT JOIN orders ord ON li.l_orderkey = ord.o_orderkey
)
SELECT rule, CAST(n_checked AS BIGINT) AS n_checked,
       CAST(n_violations AS BIGINT) AS n_violations,
       n_violations = 0 AS passed
FROM (
  SELECT 'orders.o_orderdate NOT NULL' AS rule, n AS n_checked,
         v_null AS n_violations FROM o
  UNION ALL
  SELECT 'orders.o_totalprice >= 0', n, v_range FROM o
  UNION ALL
  SELECT 'orders.o_orderkey UNIQUE', n, v_dup FROM o
  UNION ALL
  SELECT 'lineitem.l_discount IN [0,1]', n, v_disc FROM l
  UNION ALL
  SELECT 'lineitem.l_orderkey FK orders', n, v_orphan FROM j
  UNION ALL
  SELECT 'lineitem.l_shipdate >= o_orderdate', n_matched, v_time FROM j
)
""")
def q_dq_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: an expectations suite (not-null,
    range, uniqueness, referential integrity, cross-table temporal
    order) evaluated to a violations report — the contract check a
    pipeline runs before promoting a snapshot to training, and the
    relational complement to q_profile_table (profile describes,
    this PASSES or FAILS). Null values pass range rules (they are the
    not-null rule's business).

    Determinism: every violation count is an exact integer;
    uniqueness is count - count(distinct) in one aggregate.

    Scale: 6 rules cost 3 passes — one conditional aggregate per
    table (all same-scan rules fused) and ONE left join that serves
    both the FK-orphan and temporal rules; adding another same-scan
    rule is one more conditional count, not another pass. Each pass
    is map-side combined to a 1-row summary."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    oagg = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("o_orderdate").isNull(), 1)).alias("v_null"),
        F.count(F.when(F.col("o_totalprice") < 0, 1)).alias("v_range"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("v_dup"))
    lagg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when((F.col("l_discount") < 0)
                       | (F.col("l_discount") > 1), 1)).alias("v_disc"))
    j = (li.select("l_orderkey", "l_shipdate")
         .join(o.select("o_orderkey", "o_orderdate"),
               F.col("l_orderkey") == F.col("o_orderkey"), "left")
         .agg(F.count(F.lit(1)).alias("n"),
              F.count(F.when(F.col("o_orderkey").isNull(), 1))
              .alias("v_orphan"),
              F.count(F.when(F.col("o_orderkey").isNotNull(), 1))
              .alias("n_matched"),
              F.count(F.when(F.col("o_orderkey").isNotNull()
                             & (F.col("l_shipdate") < F.col("o_orderdate")),
                             1)).alias("v_time")))

    def row(src, rule, n_col, v_col):
        return src.select(F.lit(rule).alias("rule"),
                          F.col(n_col).alias("n_checked"),
                          F.col(v_col).alias("n_violations"))

    rules = (row(oagg, "orders.o_orderdate NOT NULL", "n", "v_null")
             .unionByName(row(oagg, "orders.o_totalprice >= 0", "n",
                              "v_range"))
             .unionByName(row(oagg, "orders.o_orderkey UNIQUE", "n", "v_dup"))
             .unionByName(row(lagg, "lineitem.l_discount IN [0,1]", "n",
                              "v_disc"))
             .unionByName(row(j, "lineitem.l_orderkey FK orders", "n",
                              "v_orphan"))
             .unionByName(row(j, "lineitem.l_shipdate >= o_orderdate",
                              "n_matched", "v_time")))
    return rules.select("rule",
                        F.col("n_checked").cast("bigint").alias("n_checked"),
                        F.col("n_violations").cast("bigint")
                        .alias("n_violations"),
                        (F.col("n_violations") == 0).alias("passed"))


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling
# ---------------------------------------------------------------------------

@query("q_sample_neyman", oracle="""
WITH stats AS (
  SELECT source, COUNT(*) AS nh,
         SUM(n_chars) AS sx, SUM(n_chars * n_chars) AS sxx
  FROM documents GROUP BY source
), wgt AS (
  SELECT source, nh,
         nh * sqrt((nh * sxx - sx * sx)::DOUBLE / nh / (nh - 1)) AS w
  FROM stats WHERE nh >= 2
), alloc AS (
  SELECT source, nh,
         CAST(ROUND(100.0 * w / (SELECT SUM(w) FROM wgt)) AS BIGINT) AS k
  FROM wgt
), ranked AS (
  SELECT d.doc_id, d.source, a.k,
         ROW_NUMBER() OVER (PARTITION BY d.source
                            ORDER BY md5('ney:' || CAST(d.doc_id AS VARCHAR)),
                                     d.doc_id) AS rk
  FROM documents d JOIN alloc a ON a.source = d.source
)
SELECT doc_id, source, CAST(k AS BIGINT) AS stratum_quota
FROM ranked WHERE rk <= k
""")
def q_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sampling: a 100-row budget split
    across sources proportionally to N_h * s_h (stratum size x
    stratum standard deviation of n_chars) — the variance-optimal
    allocation for estimating a corpus mean, vs q_sample_stratified's
    equal-rate draw. High-variance strata get MORE samples; a
    near-constant stratum needs almost none. The draw inside each
    stratum is the md5-priority rank the sampling family standardizes
    (content-keyed, partitioning-independent).

    Determinism: the stddev is computed from exact integer sufficient
    statistics (n*Sxx - Sx^2 over BIGINTs), so both engines sqrt the
    SAME double and the rounded quota can never disagree; the
    within-stratum rank is a total order (md5, doc_id).

    Scale: one stats groupBy (map-side combined, integer partials),
    a |strata|-row allocation table broadcast back, one per-stratum
    window for the rank. Single-member strata are excluded (stddev
    undefined) — documented, matching the WHERE nh >= 2 guard."""
    d = load_table(spark, sf_dir, "documents")
    stats = (d.groupBy("source")
             .agg(F.count(F.lit(1)).alias("nh"),
                  F.sum("n_chars").alias("sx"),
                  F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx")))
    wgt = (stats.filter(F.col("nh") >= 2)
           .select("source", "nh",
                   (F.col("nh")
                    * F.sqrt((F.col("nh") * F.col("sxx")
                              - F.col("sx") * F.col("sx")).cast("double")
                             / F.col("nh") / (F.col("nh") - 1)))
                   .alias("w")))
    tot = wgt.agg(F.sum("w").alias("tw"))
    alloc = (wgt.crossJoin(F.broadcast(tot))
             .select("source",
                     F.round(100.0 * F.col("w") / F.col("tw"))
                     .cast("bigint").alias("k")))
    pri = F.md5(F.concat(F.lit("ney:"), F.col("doc_id").cast("string")))
    w_rk = W.partitionBy("source").orderBy(pri, "doc_id")
    return (d.join(F.broadcast(alloc), "source")
            .withColumn("rk", F.row_number().over(w_rk))
            .filter(F.col("rk") <= F.col("k"))
            .select("doc_id", "source",
                    F.col("k").cast("bigint").alias("stratum_quota")))


# ---------------------------------------------------------------------------
# Cross-source contamination overlap matrix
# ---------------------------------------------------------------------------

@query("q_source_overlap", oracle=r"""
WITH t AS (
  SELECT source, lower(text) AS lt FROM documents
), g AS (
  SELECT DISTINCT source,
         md5(array_to_string(list_slice(toks, i + 1, i + 5), ' ')) AS h
  FROM (SELECT source, string_split_regex(lt, '\s+') AS toks FROM t),
       UNNEST(range(0, len(toks) - 4)) AS u(i)
  WHERE len(toks) >= 5
), sz AS (
  SELECT source, COUNT(*) AS n FROM g GROUP BY source
), ov AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared
  FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, CAST(shared AS BIGINT) AS shared_grams,
       ROUND(shared::DOUBLE / (sa.n + sb.n - shared), 6) + 0.0 AS jaccard
FROM ov
JOIN sz sa ON sa.source = ov.source_a
JOIN sz sb ON sb.source = ov.source_b
""")
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many distinct 5-gram digests they share (plus the gram-set
    Jaccard) — the leakage audit behind "can I put source A in train
    and source B in eval?", generalizing q_decontaminate (corpus vs
    one benchmark) to all-pairs-of-sources. High-overlap pairs must
    land on the same side of a split, or the eval is contaminated.

    Determinism: the digest recipe is exactly q_fingerprint_md5's
    5-gram md5; overlap counts are integers; Jaccard is one
    integer-ratio division rounded at 6.

    Scale: grams dedup to DISTINCT (source, digest) BEFORE the self-
    join (a gram appearing 1M times in a source costs one row), the
    join is an equi-join on the digest (never |A| x |B|), and the
    output is bounded by |sources|^2. The per-source sizes ride a
    tiny broadcast."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = F.split(F.lower("text"), _TOK)
    k = 5
    n_grams = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    gram_hashes = F.transform(
        F.sequence(F.lit(0), n_grams - 1),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, k))))
    g = (d.filter(n_grams > 0)
         .select("source", F.explode(gram_hashes).alias("h"))
         .distinct())
    sz = g.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = g.select(F.col("source").alias("source_a"), "h")
    b = g.select(F.col("source").alias("source_b"), F.col("h").alias("hb"))
    ov = (a.join(b, (F.col("h") == F.col("hb"))
                 & (F.col("source_a") < F.col("source_b")))
          .groupBy("source_a", "source_b")
          .agg(F.count(F.lit(1)).alias("shared")))
    sa = sz.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (ov.join(F.broadcast(sa), "source_a")
            .join(F.broadcast(sb), "source_b")
            .select("source_a", "source_b",
                    F.col("shared").cast("bigint").alias("shared_grams"),
                    (F.round(F.col("shared").cast("double")
                             / (F.col("na") + F.col("nb")
                                - F.col("shared")), 6) + 0.0)
                    .alias("jaccard")))


# ---------------------------------------------------------------------------
# MLM-style masked-example generation (deterministic span choice)
# ---------------------------------------------------------------------------

@query("q_mlm_mask", oracle=r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
  FROM documents WHERE doc_id < 200
), m AS (
  SELECT doc_id, toks,
         list_transform(range(1, len(toks) + 1),
           i -> CAST(('0x' || substr(md5('mask:' || CAST(doc_id AS VARCHAR)
                                     || ':' || CAST(i AS VARCHAR)), 1, 4))
                     AS BIGINT) < 9830) AS is_m
  FROM t WHERE len(toks) >= 1 AND toks[1] <> ''
)
SELECT doc_id,
       array_to_string(list_transform(range(1, len(toks) + 1),
         i -> CASE WHEN is_m[i] THEN '<mask>' ELSE toks[i] END), ' ')
         AS masked_text,
       COALESCE(array_to_string(list_filter(
         list_transform(range(1, len(toks) + 1),
           i -> CASE WHEN is_m[i] THEN toks[i] END),
         x -> x IS NOT NULL), ' '), '') AS targets,
       CAST(len(list_filter(is_m, x -> x)) AS BIGINT) AS n_masked
FROM m
""")
def q_mlm_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Masked-LM training-example generation: ~15% of each document's
    tokens are replaced by a sentinel, with the originals emitted as
    the prediction targets — the BERT/T5-family preprocessing step
    rendered as a pure map. The mask decision is content-addressed
    (md5 of doc:position against a 0.15 * 2^16 threshold), so
    regeneration is REPRODUCIBLE across runs, partitionings, and
    engines — the property that makes the training set auditable
    (q_split_assign's argument applied to example construction).

    Determinism: every mask bit is an integer hash comparison; the
    outputs are string folds over those bits in position order.

    Scale: map-only — zero shuffle, zero UDF; tokens never leave
    their row. The doc_id < 200 slice bounds the demo; the plan is
    slice-independent (plan-tested zero Exchange)."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("doc_id") < 200))
    toks = F.split(F.lower("text"), _TOK)
    idx = F.sequence(F.lit(1), F.size(toks))

    def is_masked(i):
        h = F.md5(F.concat(F.lit("mask:"), F.col("doc_id").cast("string"),
                           F.lit(":"), i.cast("string")))
        return F.conv(F.substring(h, 1, 4), 16, 10).cast("long") < 9830

    masked = F.transform(idx, lambda i: F.when(
        is_masked(i), F.lit("<mask>")).otherwise(F.element_at(toks, i)))
    targets = F.filter(
        F.transform(idx, lambda i: F.when(is_masked(i),
                                          F.element_at(toks, i))),
        lambda x: x.isNotNull())
    n_masked = F.size(F.filter(idx, is_masked))
    return (d.filter((F.size(toks) >= 1)
                     & (F.element_at(toks, 1) != ""))
            .select("doc_id",
                    F.concat_ws(" ", masked).alias("masked_text"),
                    F.concat_ws(" ", targets).alias("targets"),
                    n_masked.cast("bigint").alias("n_masked")))


# ---------------------------------------------------------------------------
# Composed dedup cascade: exact -> token-set -> fingerprint near-dup
# ---------------------------------------------------------------------------

@query("q_dedup_cascade", oracle=r"""
WITH d0 AS (
  SELECT doc_id, lower(text) AS lt FROM documents
), s1 AS (  -- exact: keep the lowest doc_id per exact text
  SELECT doc_id, lt FROM (
    SELECT doc_id, lt,
           ROW_NUMBER() OVER (PARTITION BY md5(lt) ORDER BY doc_id) AS rk
    FROM d0) WHERE rk = 1
), s2 AS (  -- token-set: same DISTINCT sorted token multiset-as-set
  SELECT doc_id, lt FROM (
    SELECT doc_id, lt,
           ROW_NUMBER() OVER (
             PARTITION BY md5(array_to_string(
               list_sort(list_distinct(string_split_regex(lt, '\s+'))), ' '))
             ORDER BY doc_id) AS rk
    FROM s1) WHERE rk = 1
), fp AS (   -- winnowing fingerprints of the stage-2 survivors
  SELECT doc_id, UNNEST(fps) AS f FROM (
    SELECT doc_id,
           CASE WHEN len(gh) >= 4 THEN
             list_distinct(list_transform(range(0, len(gh) - 3),
               i -> list_min(list_slice(gh, i + 1, i + 4))))
           ELSE [list_min(gh)] END AS fps
    FROM (
      SELECT doc_id,
             list_transform(range(0, len(toks) - 4),
               i -> md5(array_to_string(list_slice(toks, i + 1, i + 5), ' ')))
               AS gh
      FROM (SELECT doc_id, string_split_regex(lt, '\s+') AS toks FROM s2)
      WHERE len(toks) >= 5))
), dropped3 AS (  -- near-dup: shares a fingerprint with a lower id
  SELECT DISTINCT b.doc_id
  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
), n AS (
  SELECT (SELECT COUNT(*) FROM d0) AS n0,
         (SELECT COUNT(*) FROM s1) AS n1,
         (SELECT COUNT(*) FROM s2) AS n2,
         (SELECT COUNT(*) FROM dropped3) AS r3
)
SELECT stage, CAST(docs_in AS BIGINT) AS docs_in,
       CAST(docs_removed AS BIGINT) AS docs_removed,
       CAST(docs_out AS BIGINT) AS docs_out
FROM (
  SELECT 'exact' AS stage, n0 AS docs_in, n0 - n1 AS docs_removed,
         n1 AS docs_out FROM n
  UNION ALL
  SELECT 'tokenset', n1, n1 - n2, n2 FROM n
  UNION ALL
  SELECT 'neardup', n2, r3, n2 - r3 FROM n
)
""")
def q_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed dedup PIPELINE as one query: exact (md5 of text)
    -> token-set (order/frequency-insensitive) -> fingerprint near-dup
    (winnowing digests, keep-lowest-id), each stage consuming the
    previous stage's survivors, reported as a per-stage removal
    funnel. The ORDER is the production design: cheap exact first so
    the expensive near-dup stage sees the smallest possible input —
    the composition argument behind running the dedup family as a
    cascade rather than independent passes.

    Determinism: every stage keys on md5 digests with doc_id
    tie-breaks; all outputs are integer counts.

    Scale: exact/token-set are digest groupBys (one shuffle each,
    shrinking); near-dup candidates come from a fingerprint
    equi-join over survivors only — never all-pairs, never raw text
    in a shuffle. The funnel report itself is 3 rows."""
    d0 = (load_table(spark, sf_dir, "documents")
          .select("doc_id", F.lower("text").alias("lt")))

    def keep_first(df: DataFrame, key) -> DataFrame:
        w = W.partitionBy(key).orderBy("doc_id")
        return (df.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1).drop("_rk"))

    s1 = keep_first(d0, F.md5("lt"))
    tokset = F.md5(F.concat_ws(" ", F.array_sort(
        F.array_distinct(F.split("lt", _TOK)))))
    s2 = keep_first(s1, tokset)

    toks = F.split("lt", _TOK)
    k, wsize = 5, 4
    n_grams = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    gh = F.transform(F.sequence(F.lit(0), n_grams - 1),
                     lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, k))))
    n_windows = F.size(gh) - (wsize - 1)
    fps = F.when(n_windows >= 1, F.array_distinct(F.transform(
        F.sequence(F.lit(0), n_windows - 1),
        lambda i: F.array_min(F.slice(gh, i + 1, wsize))))) \
        .otherwise(F.array(F.array_min(gh)))
    fp = (s2.filter(n_grams > 0)
          .select("doc_id", F.explode(fps).alias("f")))
    a = fp.select(F.col("doc_id").alias("ida"), "f")
    b = fp.select(F.col("doc_id").alias("idb"), F.col("f").alias("fb"))
    dropped3 = (a.join(b, (F.col("f") == F.col("fb"))
                       & (F.col("ida") < F.col("idb")))
                .select(F.col("idb").alias("doc_id")).distinct())

    n0 = d0.count()
    n1 = s1.count()
    n2 = s2.count()
    r3 = dropped3.count()
    return spark.createDataFrame(
        [("exact", n0, n0 - n1, n1),
         ("tokenset", n1, n1 - n2, n2),
         ("neardup", n2, r3, n2 - r3)],
        "stage string, docs_in long, docs_removed long, docs_out long")


@query("q_kmv_theta", oracle="""
WITH h AS (
  SELECT DISTINCT o_orderpriority,
         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13)) AS BIGINT) AS v
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
), scoped AS (
  SELECT CASE o_orderpriority WHEN '1-URGENT' THEN 'A' ELSE 'B' END AS scope, v FROM h
  UNION ALL
  SELECT 'UNION' AS scope, v FROM (SELECT DISTINCT v FROM h)
), ranked AS (
  SELECT scope, v,
         row_number() OVER (PARTITION BY scope ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY scope) AS n
  FROM scoped
), kept AS (
  SELECT scope, v, n FROM ranked WHERE rn <= 256
), sk AS (
  SELECT scope, MAX(n) AS n, MAX(v) AS vk
  FROM kept GROUP BY scope
), est AS (
  SELECT scope, n AS n_exact,
         CASE WHEN n >= 256
              THEN 255.0 / (vk::DOUBLE / 4503599627370496.0)
              ELSE n::DOUBLE END AS e
  FROM sk
), tmin AS (
  SELECT LEAST(
    (SELECT CASE WHEN n >= 256 THEN vk::DOUBLE / 4503599627370496.0
                 ELSE 1.0 END FROM sk WHERE scope = 'A'),
    (SELECT CASE WHEN n >= 256 THEN vk::DOUBLE / 4503599627370496.0
                 ELSE 1.0 END FROM sk WHERE scope = 'B')
  ) AS theta
), ix AS (
  SELECT COUNT(*) AS c FROM
    (SELECT v FROM kept WHERE scope = 'A') ka
    JOIN (SELECT v FROM kept WHERE scope = 'B') kb USING (v)
    CROSS JOIN tmin
  WHERE ka.v::DOUBLE / 4503599627370496.0 < tmin.theta
), ix_exact AS (
  SELECT COUNT(*) AS n_exact FROM (
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
), final AS (
  SELECT scope, CAST(n_exact AS BIGINT) AS n_exact, e FROM est
  UNION ALL
  SELECT 'INTERSECT' AS scope, CAST(ix_exact.n_exact AS BIGINT) AS n_exact,
         ix.c::DOUBLE / tmin.theta AS e
  FROM ix, ix_exact, tmin
)
SELECT scope, n_exact,
       ROUND(e, 6) + 0.0 AS kmv_est,
       ROUND((e - n_exact) / n_exact * 100.0, 4) + 0.0 AS err_pct
FROM final
""")
def q_kmv_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) theta sketch with set-operation estimates — the
    missing member of the sketch family beside q_hll_union (distinct
    counts) and q_cms_count (frequencies): HLL registers cannot
    estimate INTERSECTIONS, KMV theta sketches can. Scopes A/B are the
    customer sets placing 1-URGENT / 2-HIGH orders; the sketch of each
    scope is its k=256 smallest md5-derived 52-bit hash values.
    Estimates: distinct |S| = (k-1)/theta_k (theta_k = k-th smallest
    normalized hash); UNION = bottom-k of the merged hash set;
    INTERSECT = theta-sketch a-priori: |{v in keptA o keptB :
    v < min(thetaA, thetaB)}| / min(thetaA, thetaB). The exact columns
    exist only to report err_pct.

    Determinism: hashes are md5-prefix integers (no float hashing);
    bottom-k over DISTINCT hash values is a unique total order (md5
    collisions aside); the estimate is one fixed double expression
    rounded at 6 with -0.0 normalization.

    Scale: the sketch is mergeable state — union-of-sketches =
    bottom-k of concatenated sketches, so partial sketches combine
    associatively across partitions/days without re-reading anything.
    The bottom-k here is TWO-PHASE (per-shard row_number over
    pmod(xxhash64(v), 64) shards, then a final row_number over the
    <= 64*k survivors) so no single task ever sorts a full scope —
    the same skew-safe shape as the packing prefix sum. Kept sets are
    <= k rows; the intersection join and the 1-row theta broadcast are
    O(k). At 100 TB the only full-data pass is the initial distinct."""
    K = 256
    SCALE = float(1 << 52)
    o = load_table(spark, sf_dir, "orders")
    h = (o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
         .select(F.when(F.col("o_orderpriority") == "1-URGENT", F.lit("A"))
                 .otherwise(F.lit("B")).alias("scope"),
                 F.conv(F.substring(
                     F.md5(F.col("o_custkey").cast("string")), 1, 13),
                     16, 10).cast("long").alias("v"))
         .distinct())
    scoped = h.unionByName(
        h.select("v").distinct().select(F.lit("UNION").alias("scope"), "v"))

    # two-phase bottom-k: shard, per-shard bottom-k, then global bottom-k
    sharded = scoped.withColumn(
        "shard", F.pmod(F.xxhash64("v"), F.lit(64)))
    w1 = W.partitionBy("scope", "shard").orderBy("v")
    survivors = (sharded.withColumn("rn1", F.row_number().over(w1))
                 .filter(F.col("rn1") <= K).drop("rn1", "shard"))
    n_per = scoped.groupBy("scope").agg(F.count("*").alias("n"))
    w2 = W.partitionBy("scope").orderBy("v")
    kept = (survivors.withColumn("rn", F.row_number().over(w2))
            .filter(F.col("rn") <= K)
            .join(F.broadcast(n_per), "scope"))

    sk = kept.groupBy("scope").agg(F.max("n").alias("n"),
                                   F.max("v").alias("vk"))
    theta_col = F.when(F.col("n") >= K,
                       F.col("vk").cast("double") / F.lit(SCALE)) \
        .otherwise(F.lit(1.0))
    est = sk.select(
        "scope", F.col("n").alias("n_exact"),
        F.when(F.col("n") >= K, F.lit(float(K - 1))
               / (F.col("vk").cast("double") / F.lit(SCALE)))
        .otherwise(F.col("n").cast("double")).alias("e"))

    tmin = (sk.filter(F.col("scope").isin("A", "B"))
            .select(theta_col.alias("th"))
            .agg(F.min("th").alias("theta")))
    ka = kept.filter(F.col("scope") == "A").select("v")
    kb = kept.filter(F.col("scope") == "B").select(F.col("v").alias("vb"))
    ix = (ka.join(kb, F.col("v") == F.col("vb"))
          .crossJoin(F.broadcast(tmin))
          .filter(F.col("v").cast("double") / F.lit(SCALE) < F.col("theta"))
          .agg(F.count("*").alias("c")))
    ix_exact = (o.filter(F.col("o_orderpriority") == "1-URGENT")
                .select("o_custkey")
                .intersect(o.filter(F.col("o_orderpriority") == "2-HIGH")
                           .select("o_custkey"))
                .agg(F.count("*").alias("n_exact")))
    ix_row = (ix.crossJoin(F.broadcast(tmin))
              .crossJoin(F.broadcast(ix_exact))
              .select(F.lit("INTERSECT").alias("scope"),
                      F.col("n_exact").cast("long").alias("n_exact"),
                      (F.col("c").cast("double") / F.col("theta"))
                      .alias("e")))
    final = est.select("scope", F.col("n_exact").cast("long").alias("n_exact"),
                       "e").unionByName(ix_row)
    return final.select(
        "scope", "n_exact",
        (F.round("e", 6) + F.lit(0.0)).alias("kmv_est"),
        (F.round((F.col("e") - F.col("n_exact")) / F.col("n_exact")
                 * 100.0, 4) + F.lit(0.0)).alias("err_pct"))


@query("q_gini_concentration", oracle="""
WITH r AS (
  SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS i,
         COUNT(*) OVER () AS n, SUM(n_chars) OVER () AS tot
  FROM documents
)
SELECT CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(tot) AS BIGINT) AS total_chars,
       ROUND(2.0 * SUM(i * n_chars) / (MAX(n) * MAX(tot))
             - (MAX(n) + 1.0) / MAX(n), 6) + 0.0 AS gini
FROM r
""")
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the document-length distribution — the
    corpus-concentration audit for the data card (q_data_card reports
    WHAT is in the corpus; this one number says how UNEQUALLY it is
    spread): G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending-rank
    lengths. G near 0 = uniform corpus; G near 1 = a few giant
    documents carry all the mass (a dedup/chunking red flag upstream
    of token-budget mixing).

    Determinism: ranks come from the total order (n_chars, doc_id);
    sum(i*x_i) is a pure int64 sum (order-free); one final float
    expression rounded at 6.

    Scale: the rank is operators/rank.py's TWO-PHASE
    distributed_row_number (bucketed by the integral n_chars key) —
    no single-partition sort; the weighted sum is one map-side-combined
    agg. int64 holds i*x_i up to ~1e12 docs of ~1e6 chars."""
    from ..operators.rank import lazy_row_number

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # r13: fully-lazy rank — single consumer (see operators/rank.py).
    ranked = lazy_row_number(
        d, order_cols=["n_chars", "doc_id"], bucket_key="n_chars",
        out_col="i0")
    return (ranked.select((F.col("i0") + 1).alias("i"), "n_chars")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.sum(F.col("i") * F.col("n_chars")).alias("wsum"))
            .select("n", "total_chars",
                    (F.round(2.0 * F.col("wsum")
                             / (F.col("n") * F.col("total_chars"))
                             - (F.col("n") + 1.0) / F.col("n"), 6)
                     + F.lit(0.0)).alias("gini")))


@query("q_skipgram_counts", oracle="""
WITH lists AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS lst
  FROM documents
), toks AS (
  SELECT doc_id, CAST(t.i AS BIGINT) AS ord, lst[CAST(t.i AS BIGINT)] AS tok
  FROM lists, UNNEST(range(1, len(lst) + 1)) AS t(i)
)
SELECT a.tok AS center, b.tok AS context, CAST(COUNT(*) AS BIGINT) AS c
FROM toks a JOIN toks b
  ON a.doc_id = b.doc_id AND b.ord BETWEEN a.ord - 2 AND a.ord + 2
     AND b.ord <> a.ord
GROUP BY 1, 2
ORDER BY c DESC, center, context
LIMIT 100
""")
def q_skipgram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts (window +/-2) — the word2vec /
    GloVe training-prep primitive: top-100 (center, context) pairs by
    corpus count. q_bigram_pmi scores ADJACENT pairs; this one counts
    the full context window, which is what embedding trainers consume.

    Determinism: pair construction is in-row (no join ordering in
    play); the top-100 cut sits on the total order (count DESC,
    center, context).

    Scale: pairs are built IN-ROW with array higher-order functions
    (each token emits <= 4 pairs — bounded fan-out, zero Python, zero
    shuffle) so the only wide operations are the map-side-combined
    pair count and the TakeOrdered top-100. The oracle's self-join
    formulation is the quadratic shape this plan deliberately avoids
    at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.selectExpr(
        "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk") \
        .filter(F.expr("size(tk) > 0"))
    pairs = tk.selectExpr("""
        explode(flatten(transform(sequence(1, size(tk)), i ->
          filter(transform(array(-2, -1, 1, 2), o ->
            IF(i + o >= 1 AND i + o <= size(tk),
               struct(element_at(tk, i) AS center,
                      element_at(tk, i + o) AS context),
               CAST(NULL AS struct<center: string, context: string>))),
            p -> p IS NOT NULL)))) AS pr""")
    return (pairs.select("pr.center", "pr.context")
            .groupBy("center", "context")
            .agg(F.count("*").cast("long").alias("c"))
            .orderBy(F.col("c").desc(), "center", "context")
            .limit(100))
