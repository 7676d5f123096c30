"""Near-duplicate detection operators for large text corpora.

Three scale-tiered strategies, all shuffle-aware:

- **Exact / fingerprint dedup** — groupBy on a digest of the normalized
  content (see queries/llm.py): shuffle carries 32-byte keys.
- **MinHash + LSH** (this module) — shingle → k minhashes → band →
  bucket equi-join. Candidate generation is a self-equi-join on
  (band_idx, band_hash): linear shuffle, no all-pairs comparison. The
  standard construction from Broder (1997) / Leskovec et al., "Mining of
  Massive Datasets" ch. 3 — public algorithms, implemented here on
  DataFrame ops only (xxhash64 is Spark's built-in 64-bit hash).
- **SimHash** (Charikar 2002) — per-document 64-bit signature via an
  Arrow-vectorized pandas UDF (no shuffle at all for signature
  computation; near-dup candidates via banded signature chunks).

Outputs depend on the concrete hash function, so these register as
rows-only driver checks; the *verification* step (true Jaccard on
candidate pairs) is hash-independent and unit-tested against a
brute-force oracle in tests/test_dedup.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cache_slot import CacheSlot


def shingle(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingles array).

    Sliding word windows via a JVM-side transform over token positions —
    no Python, no explode (the array stays with its row).
    """
    # filter('') matters beyond hygiene: split on \s+ emits an empty
    # token for LEADING/TRAILING whitespace, which would silently join
    # real shingles — and diverge from any oracle that tokenizes with a
    # filter (q_dedup_minhash_md5's DuckDB side does).
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    n_sh = F.size(toks) - (n - 1)
    # Guard the short-doc edge: with fewer than n tokens there is no
    # n-shingle, and sequence(0, n_sh-1) would count DOWN (Spark's
    # sequence is bidirectional: sequence(0, -1) = [0, -1]), feeding
    # slice() an illegal 0 start — a runtime crash, not an empty array.
    shingles = F.when(n_sh >= 1, F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n_sh - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )).otherwise(F.array().cast("array<string>"))
    return df.select(F.col(id_col).alias("id"), shingles.alias("shingles")) \
             .filter(F.size("shingles") > 0)


def minhash_signatures(shingled: DataFrame, num_hashes: int = 32) -> DataFrame:
    """(id, sig array<long>) — sig[i] = min over shingles of hash_i(s).

    hash_i is xxhash64 salted with the function index; the min-reduction
    happens inside a per-row array fold (array_min of transform), so
    signatures cost zero shuffle.
    """
    sig = F.array(*[
        F.array_min(F.transform("shingles", lambda s, i=i: F.xxhash64(F.lit(i), s)))
        for i in range(num_hashes)
    ])
    return shingled.select("id", sig.alias("sig"))


def band_rows(signatures: DataFrame, num_hashes: int = 32,
              bands: int = 8) -> DataFrame:
    """(id, band_idx, band_hash) LSH band rows: each signature sliced
    into ``bands`` chunks of ``num_hashes/bands`` rows, each chunk
    hashed to one 64-bit band key — a zero-shuffle per-row fold.
    Shared by the batch candidate join below and the streaming
    band-index ingestion (streaming/ingest.py)."""
    if num_hashes % bands:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    r = num_hashes // bands  # rows per band
    return signatures.select(
        "id",
        F.posexplode(F.array(*[
            F.xxhash64(F.concat_ws(",", F.transform(
                F.slice("sig", b * r + 1, r), lambda x: x.cast("string"))))
            for b in range(bands)
        ])).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(signatures: DataFrame, num_hashes: int = 32,
                        bands: int = 8) -> DataFrame:
    """Candidate near-dup pairs: documents agreeing on at least one full
    band of their MinHash signature.

    Explode each doc into ``bands`` (band_idx, band_hash) rows, self
    equi-join on both — a hash-partitioned shuffle join whose cost is
    |docs|·bands, not |docs|². ``id_a < id_b`` keeps each pair once.
    """
    banded = band_rows(signatures, num_hashes=num_hashes, bands=bands)
    a = banded.select(F.col("id").alias("id_a"), "band_idx", "band_hash")
    b = banded.select(F.col("id").alias("id_b"), "band_idx", "band_hash")
    return (
        a.join(b, on=["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH pipeline: candidates via banding, then exact
    Jaccard verification on the candidate pairs only.

    Returns (id_a, id_b, jaccard) with jaccard >= threshold. With r =
    num_hashes/bands rows per band the candidate-recall S-curve is
    1-(1-t^r)^bands; defaults (r=4, b=8) put the 50% knee near t≈0.4.
    """
    sh = shingle(df, id_col, text_col, n=shingle_n)
    sigs = minhash_signatures(sh, num_hashes=num_hashes)
    cand = lsh_candidate_pairs(sigs, num_hashes=num_hashes, bands=bands)
    a = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", F.round(inter.cast("double") / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash (Charikar 2002): 64-bit signature; near-dups differ in few bits.
# ---------------------------------------------------------------------------

_FNV_OFFSET = np.uint64(14695981039346656037)
_FNV_PRIME = np.uint64(1099511628211)


def _simhash_batch(texts: pd.Series) -> np.ndarray:
    """SimHash a batch of texts with numpy-vectorized FNV-1a.

    All tokens in the batch hash together: one (n_tokens,) uint64 vector
    stepped over BYTE POSITIONS (~max token length iterations of whole-array
    xor/multiply), not a Python loop over characters; the bit unpack /
    sign-pack run as C-speed unpackbits/packbits and the per-doc vote is a
    single reduceat over the token-sorted block. Output is bit-for-bit
    identical to the scalar FNV-1a construction (asserted in
    tests/test_dedup_similarity.py), so fingerprints are stable across
    versions of this kernel.
    """
    n_docs = len(texts)
    fps = np.zeros(n_docs, dtype=np.int64)  # empty doc -> all-zero acc -> 0
    toks = texts.reset_index(drop=True).fillna("").str.split().explode()
    toks = toks[toks.notna()]
    if len(toks) == 0:
        return fps
    doc_idx = toks.index.to_numpy(dtype=np.int64)
    # ONE encode for the whole batch: tokens can't contain whitespace (they
    # came from split()), and 0x20 is never a UTF-8 continuation byte, so
    # byte-splitting the space-joined blob exactly recovers token bounds.
    flat = np.frombuffer(" ".join(toks.tolist()).encode("utf-8"), dtype=np.uint8)
    sep = np.nonzero(flat == 0x20)[0]
    offs = np.concatenate([[0], sep + 1])
    lens = np.concatenate([sep, [len(flat)]]) - offs

    h = np.full(len(lens), _FNV_OFFSET, dtype=np.uint64)
    for j in range(int(lens.max())):
        active = np.nonzero(lens > j)[0]
        h[active] = (h[active] ^ flat[offs[active] + j].astype(np.uint64)) \
            * _FNV_PRIME
    # (n_tokens, 64) 0/1 bits, little-endian bytes MSB-first per byte —
    # the same layout as unpackbits(h.tobytes()) in the scalar form.
    bits = np.unpackbits(h.astype("<u8").view(np.uint8).reshape(-1, 8), axis=1)
    uniq, first = np.unique(doc_idx, return_index=True)
    ones = np.add.reduceat(bits, first, axis=0, dtype=np.int64)
    n_tok = np.bincount(doc_idx, minlength=n_docs)[uniq]
    acc = 2 * ones - n_tok[:, None]  # (+1 per set bit, -1 per clear bit)
    packed = np.packbits((acc > 0).astype(np.uint8), axis=1)
    fps[uniq] = packed.view(">u8").ravel().astype("=u8").view(np.int64)
    return fps


@F.pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """Vectorized SimHash: tokenize, hash each token to 64 bits
    (FNV-1a — stable across runs/machines, unlike Python's builtin hash),
    sum signed bit contributions, take the sign bit-vector. Both the Arrow
    transport AND the compute are batch-vectorized (see _simhash_batch)."""
    return pd.Series(_simhash_batch(texts))


def _sql_btree(terms: list[str], op: str) -> str:
    """Balanced pairwise reduction of SQL expression strings: depth
    log2(n) instead of n. Catalyst's analyzer walks expression trees
    recursively, so a 64-deep left-lean chain costs seconds of driver
    time per fresh plan; the balanced form is semantically identical
    (the ops used here are associative)."""
    while len(terms) > 1:
        terms = [f"({terms[i]} {op} {terms[i + 1]})" if i + 1 < len(terms)
                 else terms[i] for i in range(0, len(terms), 2)]
    return terms[0]


def simhash_fingerprints_jvm(df: DataFrame, id_col: str,
                             text_col: str) -> DataFrame:
    """(id, fp) SimHash fingerprints computed ENTIRELY JVM-side with
    ZERO shuffle: a per-row ``aggregate()`` fold over the token array
    accumulates the 64 bit-vote counters (packed 3-per-long into a
    22-field struct), so fingerprints are a map-only projection — no
    explode, no groupBy, nothing crosses the network. At cluster scale
    this stage's cost is exactly one scan of the text column.

    The expression is generated as ONE SQL string and parsed JVM-side:
    composing the same ~400-node tree through the Column API costs
    ~1.5s of py4j round-trips per call; the SQL parser does it in
    milliseconds. All shift/accumulate literals are LONG (``1L``) —
    an int literal silently masks shift counts to 5 bits in the JVM
    (``1 << 33 == 2``), which would fold bits 32-63 onto 0-31 and
    produce a 32-bit fingerprint with sign-extension for the top half.

    Fingerprint values differ from :func:`simhash64` (xxhash64 vs FNV-1a
    token hashes; ASCII vs unicode whitespace split) but the SimHash
    property — hamming distance tracks token-multiset similarity — is
    identical. Use this form in pipelines; use the pandas UDF only when
    FNV-stable fingerprints must match an external system.
    """
    # Pack 3 bit-counters into 16-bit fields (bits 0-47) of each
    # accumulator long — 22 struct fields instead of 64. The top 16 bits
    # stay EMPTY on purpose: packing a 4th counter into bits 48-63 puts
    # it on the sign bit, and under ANSI mode (Spark 4 default) a doc
    # with >= 32768 occurrences of one hash bit aborts the whole fold
    # with ARITHMETIC_OVERFLOW (32768 << 48 == 2^63) before the
    # token-count guard below can fire. With 3-per-long the largest
    # possible accumulator value is 65535 << 32 ~= 2^48 — signed
    # addition can never overflow, so the guard is the one failure path.
    # A counter saturates only past 65535 tokens per doc — guarded below.
    n_groups = 22  # ceil(64 / 3); the last group holds a single counter
    zero = ("named_struct("
            + ", ".join(f"'p{g}', 0L" for g in range(n_groups)) + ", 'n', 0L)")
    # Per-token work, two r13 cuts (guide §1.2 step 2 — per-task work;
    # both are EXACT-INTEGER rewrites, so fingerprints are bit-identical
    # to the historical form and the banding/recall tests still pin them):
    # 1. hash HOISTED: interpreted lambdas have no common-subexpression
    #    elimination, so `xxhash64(tok)` inside each of the 64 bit terms
    #    re-hashed every token 64 times. A `transform(..., x ->
    #    xxhash64(x))` pre-pass hashes once and folds over the hashes.
    # 2. 3-bit LUT per group: the three per-bit chains
    #    shiftleft(shiftrightunsigned(h, 3g+j) & 1, 16j), summed, equal
    #    element_at(<8-entry long array>, (h >> 3g) & 7) — one shift,
    #    one mask, one constant-array index instead of nine shift/mask
    #    ops and two adds. Integer addition is exact, so the LUT value
    #    IS the old balanced-tree sum, term for term.
    packs = []
    for g in range(n_groups):
        w = min(3, 64 - g * 3)
        lut = [sum(((m >> j) & 1) << (16 * j) for j in range(w))
               for m in range(1 << w)]
        lut_sql = ", ".join(f"{v}L" for v in lut)
        packs.append(
            f"'p{g}', acc.p{g} + element_at(array({lut_sql}), "
            f"cast((shiftrightunsigned(h, {g * 3}) & {(1 << w) - 1}L)"
            f" as int) + 1)")
    merge = "named_struct(" + ", ".join(packs) + ", 'n', acc.n + 1L)"
    agg = (f"aggregate(transform(filter(split({text_col}, '\\\\s+'), "
           f"x -> x != ''), x -> xxhash64(x)), "
           f"{zero}, (acc, h) -> {merge})")
    withacc = df.selectExpr(f"{id_col} AS id", f"{agg} AS acc")
    bits = [f"(case when 2 * (shiftrightunsigned(acc.p{k // 3}, {16 * (k % 3)})"
            f" & 65535L) - acc.n > 0 then shiftleft(1L, {k}) else 0L end)"
            for k in range(64)]
    fp = _sql_btree(bits, "|")
    # Runtime guard for the 16-bit packing: a doc with > 65535 tokens
    # would carry a bit-counter into the adjacent field and silently
    # corrupt the fingerprint. The guard must be a CASE whose branches
    # DIFFER: an `if(isnull(assert_true(..)), fp, fp)` form is folded
    # away by SimplifyConditionals (both branches identical), deleting
    # the assert from the optimized plan — so overflow would corrupt
    # silently, the exact failure this guard exists to make loud.
    err = ("raise_error(concat("
           "'simhash_fingerprints_jvm: doc ', cast(id AS string), "
           "' has ', cast(acc.n AS string), ' > 65535 tokens — packed "
           "16-bit bit-vote counters would overflow; split the doc or "
           "use the unpacked simhash64 pandas kernel'))")
    return withacc.selectExpr(
        "id",
        f"case when acc.n > 65535L then cast({err} AS long) "
        f"else cast({fp} AS long) end AS fp")


#: Single-slot fingerprint-cache ownership (see simhash_near_duplicates).
_FP_SLOT = CacheSlot()


def simhash_near_duplicates(df: DataFrame, id_col: str, text_col: str,
                            max_hamming: int = 8,
                            jvm: bool = True) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit fingerprint into
    ``max_hamming + 1`` chunks. By pigeonhole, any pair differing in at
    most ``max_hamming`` bits agrees on at least one whole chunk, so the
    (chunk_idx, chunk_value) equi-join has GUARANTEED recall at the
    advertised radius; an exact popcount refine drops false candidates.

    Scale note: chunk width is 64/(max_hamming+1) bits, so bucket
    cardinality is ~2^width — the linear-shuffle regime is
    ``max_hamming <= 7`` (chunks of >= 8 bits). Wider radii still return
    exact results but candidate volume grows toward |docs|^2/2^width per
    chunk; for d > 7 at corpus scale, prefer multi-table permutation
    schemes (Manku et al., WWW 2007) layered on this same join.

    ``jvm=True`` (default) computes fingerprints with the zero-Python
    :func:`simhash_fingerprints_jvm`; ``jvm=False`` uses the FNV-stable
    pandas kernel :func:`simhash64`."""
    if jvm:
        fp = simhash_fingerprints_jvm(df, id_col, text_col)
    else:
        fp = df.select(F.col(id_col).alias("id"),
                       simhash64(F.col(text_col)).alias("fp"))
    # The banded self-join consumes fp twice; without a cache Spark
    # recomputes the whole fingerprint aggregation per side (Spark does
    # not ReuseExchange across the differing a/b projections). fp is
    # |docs| rows x 16 bytes — cacheable at any corpus scale. The cache
    # is single-slot per session: each call unpersists the previous
    # fingerprint table (the returned DF is lazy, so the call itself
    # cannot know when its own join has materialized), bounding executor
    # storage to one fingerprint table regardless of invocation count.
    fp = _FP_SLOT.own(fp)
    # Materialize the cache BEFORE the self-join: left lazy, the join's
    # two scan legs race on the unmaterialized blocks and each computes
    # the fingerprint fold, doubling the most expensive stage. count()
    # is one cheap job over |docs| cached rows.
    fp.count()
    return hamming_near_duplicates(fp, max_hamming=max_hamming)


def hamming_near_duplicates(fp: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs among 64-bit fingerprints (``id``, ``fp`` long):
    the pigeonhole banded equi-join + exact popcount refine behind
    SimHash text dedup (above) — any fingerprint family with Hamming
    semantics plugs in here. Guaranteed recall at the radius; see
    :func:`simhash_near_duplicates` for the bucket-cardinality scale
    envelope."""
    if not 0 <= max_hamming <= 31:
        raise ValueError(f"max_hamming={max_hamming} outside [0, 31]")
    n_chunks = max_hamming + 1
    width = 64 // n_chunks   # first `64 % n_chunks` chunks get +1 bit
    extra = 64 % n_chunks
    bounds = []
    start = 0
    for k in range(n_chunks):
        w = width + (1 if k < extra else 0)
        bounds.append((start, w))
        start += w
    chunks = fp.select(
        "id", "fp",
        F.posexplode(F.array(*[
            F.shiftrightunsigned("fp", s).bitwiseAND(
                F.lit((1 << w) - 1 if w < 64 else -1))  # -1 = all 64 bits set
            for s, w in bounds
        ])).alias("chunk_idx", "chunk"),
    )
    a = chunks.select(F.col("id").alias("id_a"), F.col("fp").alias("fp_a"),
                      "chunk_idx", "chunk")
    b = chunks.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b"),
                      "chunk_idx", "chunk")
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.join(b, on=["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        # popcount refine BEFORE distinct: hamming is a function of the
        # pair, so the order is semantics-free, but filtering first keeps
        # out-of-radius candidates out of the dedup shuffle entirely
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
