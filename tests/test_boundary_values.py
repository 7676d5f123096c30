"""Boundary-value parity for the bin-edge / divide-by-zero prone queries
(VERDICT r2 item 5): plant adversarial rows in a temp events/embeddings
table and require BIT-LEVEL Spark-vs-DuckDB parity on them — float-tie
bucket edges, catch-all overflow, exact period multiples, sigma = 0
groups, single-row groups, and zero-norm vectors.

This is the same comparison the driver's correctness gate runs, pointed
at data chosen to sit exactly on the edges the sf tables happen to miss.
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest

from telescope_data_pipeline_spark.queries import get
from telescope_data_pipeline_spark.schemas import EVENTS

from .oracle_utils import compare, run_oracle

T0 = dt.datetime(2024, 1, 1)


def _planted_dir(spark, events_rows=None, embeddings_rows=None):
    """A temp dir shaped like an sf dir, with only the planted tables."""
    d = tempfile.mkdtemp(prefix="tdps_boundary_")
    if events_rows is not None:
        spark.createDataFrame(events_rows, EVENTS).coalesce(1) \
            .write.mode("overwrite").parquet(f"{d}/events.parquet")
    if embeddings_rows is not None:
        spark.createDataFrame(embeddings_rows, "vec_id long, embedding array<double>") \
            .coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    return d


def _parity(spark, name: str, sf_dir: str):
    q = get(name)
    problems = compare(q.fn(spark, sf_dir).toPandas(),
                       run_oracle(q.oracle, sf_dir))
    assert not problems, f"{name}: " + "; ".join(problems)


def _ev(eid, ts, etype, value, user=1):
    return (eid, ts, user, etype, value, None)


def test_histogram_bucket_edges(spark):
    """Values exactly on bucket boundaries (k*50), the catch-all edge
    (450 and beyond), zero, and just-below-edge values must bucket
    identically in Spark and DuckDB."""
    vals = [0.0, 49.999999, 50.0, 99.999999, 100.0, 449.999999,
            450.0, 499.0, 500.0, 1e6, 0.0001]
    rows = [_ev(i, T0 + dt.timedelta(minutes=i), "view", v)
            for i, v in enumerate(vals)]
    d = _planted_dir(spark, events_rows=rows)
    try:
        _parity(spark, "q_histogram", d)
    finally:
        shutil.rmtree(d)


def test_phase_fold_period_multiples(spark):
    """Timestamps on exact fold-period multiples (phase 0), just below a
    bin edge, and on interior bin edges must bin identically. The fold
    period is 3.7 days => 319680 s; bins are 20 per period."""
    period_s = 3.7 * 86400.0
    offsets = [0.0,                       # phase exactly 0 -> bin 0
               period_s,                  # one full period -> bin 0 again
               period_s / 20,             # exactly bin 1 edge
               period_s / 20 * 19,        # exactly last-bin edge
               period_s - 0.001,          # just under wrap -> bin 19
               period_s / 2]              # mid-period -> bin 10
    rows = [_ev(i, dt.datetime.utcfromtimestamp(1_700_000_000 + s), "view", 1.0)
            for i, s in enumerate(offsets)]
    d = _planted_dir(spark, events_rows=rows)
    try:
        _parity(spark, "q_phase_fold", d)
    finally:
        shutil.rmtree(d)


def test_zscore_constant_group_and_singleton(spark):
    """A constant-value group (sigma = 0 -> 0/0) and a single-row group
    (stddev_samp NULL) must both produce NULL z on BOTH engines — in
    ANSI mode an unguarded division would fail the whole query instead."""
    rows = ([_ev(i, T0 + dt.timedelta(minutes=i), "const", 42.0)
             for i in range(3)]                       # sigma == 0
            + [_ev(10, T0, "single", 7.0)]            # stddev_samp NULL
            + [_ev(20 + i, T0 + dt.timedelta(minutes=i), "normal", float(i))
               for i in range(4)])                    # healthy group
    d = _planted_dir(spark, events_rows=rows)
    try:
        _parity(spark, "q_zscore", d)
    finally:
        shutil.rmtree(d)


@pytest.mark.parametrize("name", ["q_sim_topk", "q_sim_bucketed"])
def test_similarity_zero_norm_vector(spark, name):
    """A zero-norm embedding (dot/sqrt(0) -> NULL cosine) must not fail
    the query under ANSI mode and must rank identically (NULLS LAST on
    the DESC order in both engines)."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    rows.append((30, [0.0] * 8))          # zero-norm candidate
    rows[3] = (3, [0.0] * 8)              # zero-norm QUERY vector too
    d = _planted_dir(spark, embeddings_rows=rows)
    try:
        _parity(spark, name, d)
    finally:
        shutil.rmtree(d)


@pytest.mark.full
def test_edge_corpus_never_crashes(spark, tmp_path):
    """Every documents/embeddings query must survive a pathological
    corpus: empty text, 1-token, NULL text/lang, unicode, repeated
    whitespace, long repetitive docs, zero vectors, tiny populations.
    Found in round 4: slice(0) crashes from descending sequence(),
    ANSI DIVIDE_BY_ZERO on zero-norm cosines, np.random.choice on a
    sample smaller than the codebook, NaN length in greedy packing."""
    import inspect

    import numpy as np
    import pandas as pd

    from telescope_data_pipeline_spark.queries import all_queries

    texts = ["", "x", None, "a b",
             "one two three four five six seven eight nine ten " * 30,
             "élève café 中文 😀", "  leading  double  spaces  ",
             "same same same same same same same same"]
    pd.DataFrame({
        "doc_id": list(range(8)), "text": texts,
        "lang": ["en", "zh", None, "es", "en", "en", "en", "en"],
        "source": ["src0"] * 8,
        "n_chars": [len(t) if t else 0 for t in texts],
    }).to_parquet(tmp_path / "documents.parquet")
    pd.DataFrame({
        "vec_id": list(range(6)),
        "embedding": [np.zeros(64, dtype=np.float32),
                      np.ones(64, dtype=np.float32),
                      np.arange(64, dtype=np.float32),
                      -np.ones(64, dtype=np.float32),
                      np.zeros(64, dtype=np.float32),
                      np.random.RandomState(1).randn(64).astype(np.float32)],
        "label": np.zeros(6, dtype=np.int32),
    }).to_parquet(tmp_path / "embeddings.parquet")

    driver_tables = ("documents", "embeddings", "lineitem", "orders",
                     "customer", "supplier", "events", "nation", "region",
                     "part")
    failures = []
    for name, q in all_queries().items():
        src = inspect.getsource(q.fn)
        tables = {t for t in driver_tables if f'"{t}"' in src}
        if not tables or not tables <= {"documents", "embeddings"}:
            continue
        try:
            q.fn(spark, str(tmp_path)).collect()
        except Exception as e:  # noqa: BLE001 - collecting all failures
            failures.append(f"{name}: {str(e).splitlines()[0][:120]}")
    assert not failures, "\n".join(failures)


def test_readability_ari_large_doc_no_overflow(spark, tmp_path):
    """A realistic long document must not ARITHMETIC_OVERFLOW the ARI
    numerator (round-9 ADVICE, high): F.length/F.size return int32, and
    50*nw^2 alone exceeds 2^31 at ~6,600 words — while DuckDB computes
    the same term in BIGINT, so an unguarded Spark side either crashes
    (ANSI) or silently diverges. Plant a 10,000-word doc (50*nw^2 =
    5e9 > 2^31) plus a many-sentence doc stressing the 471*nc*ns term
    (nc*ns > ~4.56e6), and require bit-level parity."""
    import pandas as pd

    texts = [
        "lorem ipsum dolor sit amet " * 2000,            # 10,000 words
        ("A sentence here. " * 900) + "tail",            # 900 sents * ~15.3k chars
        "short prose. two sentences!",
    ]
    pd.DataFrame({
        "doc_id": list(range(len(texts))), "text": texts,
        "lang": ["en"] * len(texts), "source": ["src0"] * len(texts),
        "n_chars": [len(t) for t in texts],
    }).to_parquet(tmp_path / "documents.parquet")
    _parity(spark, "q_readability_ari", str(tmp_path))


def _flagship_tables(d, n_big):
    """lineitem/orders/customer for q_flagship: group (A, F) holds
    ``n_big`` seeded lines priced near 1e9 with no discount, so its
    1e-4-unit sum_disc_price is about n_big * 1e13; group (N, O) holds
    a few ordinary lines."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    big = rng.integers(99_000_000_000, 100_000_000_000, n_big) / 100.0
    small = np.array([1234.56, 99.99, 0.01])
    n = n_big + len(small)
    d.mkdir()
    pd.DataFrame({
        "l_orderkey": np.arange(n) % 5, "l_partkey": 1, "l_suppkey": 1,
        "l_linenumber": np.arange(n, dtype=np.int32),
        "l_quantity": rng.integers(100, 5_000, n) / 100.0,
        "l_extendedprice": np.concatenate([big, small]),
        "l_discount": np.concatenate([np.zeros(n_big), [0.04, 0.1, 0.0]]),
        "l_tax": 0.0,
        "l_returnflag": ["A"] * n_big + ["N"] * len(small),
        "l_linestatus": ["F"] * n_big + ["O"] * len(small),
        "l_shipdate": dt.datetime(1996, 1, 1),
    }).to_parquet(d / "lineitem.parquet", coerce_timestamps="us")
    pd.DataFrame({
        "o_orderkey": np.arange(5), "o_custkey": np.arange(5) % 2,
        "o_orderstatus": "F", "o_totalprice": [10.5, 20.25, 30.0, 1e6, 7.77],
        "o_orderdate": dt.datetime(1995, 7, 1), "o_orderpriority": "1-URGENT",
    }).to_parquet(d / "orders.parquet", coerce_timestamps="us")
    pd.DataFrame({
        "c_custkey": [0, 1], "c_name": ["a", "b"],
        "c_nationkey": np.array([1, 2], dtype=np.int32),
        "c_acctbal": 0.0, "c_mktsegment": "BUILDING",
    }).to_parquet(d / "customer.parquet")
    return str(d)


def test_flagship_integer_lanes_stop_at_2p53(spark, tmp_path):
    """q_flagship sums exact integer 1e-4 units and converts each sum to
    a double once; that matches the DECIMAL oracle only while a group's
    sum stays below 2^53. Below it (900 lines near 1e9: ~9.0e15) the
    output is oracle-exact; at 1000 lines (~9.95e15) the query must fail
    by name instead of silently differing from the oracle."""
    _parity(spark, "q_flagship", _flagship_tables(tmp_path / "below", 900))
    over = _flagship_tables(tmp_path / "over", 1000)
    with pytest.raises(Exception, match="q_flagship: a group.s sum_disc_price reaches 2\\^53"):
        get("q_flagship").fn(spark, over).collect()


@pytest.mark.full
def test_empty_tables_never_crash(spark, tmp_path):
    """Every registered query must handle zero-row inputs: an empty
    partition, a fresh day with no events, a filter that matched
    nothing upstream. Schema-faithful empty parquet for all 10 driver
    tables. The one sanctioned exception: q_sim_ivf raises its
    documented clean error (a quantizer cannot train on an empty
    corpus)."""
    import pyarrow.parquet as pq

    from telescope_data_pipeline_spark.queries import all_queries

    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        sch = pq.read_table(f"/root/testdata/sf0.001/{t}.parquet").schema
        pq.write_table(sch.empty_table(), str(tmp_path / f"{t}.parquet"))
    failures = []
    for name, q in all_queries().items():
        try:
            q.fn(spark, str(tmp_path)).collect()
        except ValueError as e:
            if name == "q_sim_ivf" and "empty corpus" in str(e):
                continue
            failures.append(f"{name}: {str(e).splitlines()[0][:120]}")
        except Exception as e:  # noqa: BLE001 - collecting all failures
            failures.append(f"{name}: {str(e).splitlines()[0][:120]}")
    assert not failures, "\n".join(failures)


def test_markov_equal_timestamp_ties(spark):
    """Transitions at EQUAL timestamps must order by the event_id
    tiebreak identically in both engines, and a single-event user
    contributes no transition."""
    rows = [
        _ev(3, T0, "view", 1.0, user=1),      # same ts, ids 3,1,2:
        _ev(1, T0, "click", 1.0, user=1),     # order is 1,2,3 by id
        _ev(2, T0, "purchase", 1.0, user=1),
        _ev(9, T0, "error", 1.0, user=2),     # singleton: no transition
        _ev(4, T0 + dt.timedelta(seconds=1), "view", 1.0, user=1),
    ]
    d = _planted_dir(spark, events_rows=rows)
    try:
        _parity(spark, "q_markov_transitions", d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_changepoint_constant_and_short_series(spark):
    """A constant series has stat = 0 at EVERY split — the idx
    tiebreak must pick split 1 in both engines; a 1-row series has no
    valid split and must vanish from the report."""
    rows = ([_ev(i, T0 + dt.timedelta(minutes=i), "view", 5.0)
             for i in range(6)]                      # constant series
            + [_ev(100, T0, "error", 3.3)]           # single row
            + [_ev(200 + i, T0 + dt.timedelta(minutes=i), "click",
                   1.0 if i < 3 else 9.0) for i in range(6)])  # clean step
    d = _planted_dir(spark, events_rows=rows)
    try:
        _parity(spark, "q_changepoint", d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_skew_audit_single_and_uniform_keys(spark):
    """One key total (percentile over a single count) and perfectly
    uniform keys (skew_ratio exactly 1) must agree bit-level."""
    rows = [_ev(i, T0 + dt.timedelta(minutes=i), "view", 1.0, user=7)
            for i in range(5)]
    d = _planted_dir(spark, events_rows=rows)
    try:
        _parity(spark, "q_skew_audit", d)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    rows = [_ev(i, T0 + dt.timedelta(minutes=i), "view", 1.0, user=i % 4)
            for i in range(8)]  # 4 keys x 2 rows: ratio == 1.0
    d = _planted_dir(spark, events_rows=rows)
    try:
        _parity(spark, "q_skew_audit", d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_hll_single_user_small_range(spark):
    """One distinct user forces the small-range linear-counting branch
    (255 zero registers) — the correction expression must agree
    bit-level, err_pct included."""
    rows = [_ev(i, T0 + dt.timedelta(minutes=i), "view", 1.0, user=42)
            for i in range(3)]
    d = _planted_dir(spark, events_rows=rows)
    try:
        _parity(spark, "q_hll_union", d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_sequence_pattern_tie_order(spark):
    """Journey strings built from equal-timestamp events must use the
    event_id tiebreak — 'vp' adjacency appears or not depending on
    that order, so a disagreement flips a count."""
    rows = [
        _ev(2, T0, "purchase", 1.0, user=1),  # id order: view(1) then
        _ev(1, T0, "view", 1.0, user=1),      # purchase(2) -> 'vp'
        _ev(3, T0, "error", 1.0, user=2),
        _ev(4, T0, "error", 1.0, user=2),     # 'ee' burst
    ]
    d = _planted_dir(spark, events_rows=rows)
    try:
        _parity(spark, "q_sequence_pattern", d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _events_only_queries():
    """Every registered query whose table footprint is exactly
    {events} — the cohort the empty-table sweep covered but the
    adversarial edge sweep did not (VERDICT r8 item 2)."""
    import inspect

    from telescope_data_pipeline_spark.queries import all_queries

    driver_tables = ("documents", "embeddings", "lineitem", "orders",
                     "customer", "supplier", "events", "nation", "region",
                     "part")
    out = {}
    for name, q in all_queries().items():
        src = inspect.getsource(q.fn)
        tables = {t for t in driver_tables if f'"{t}"' in src}
        if tables == {"events"}:
            out[name] = q
    return out


_EDGE_EVENT_CORPORA = {
    # Single distinct value everywhere: PSI reference range mx == mn,
    # zero-variance stats, constant series, ratio denominators equal.
    "all_same_value": lambda: [
        _ev(i, T0 + dt.timedelta(days=i), "view", 42.0, user=i % 2)
        for i in range(30)
    ],
    # Clicks with NO views anywhere: global CTR prior p0 = x/0; also
    # NULL value/user rows and equal-timestamp bursts.
    "clicks_no_views": lambda: [
        _ev(0, T0, "click", 1.0, user=1),
        _ev(1, T0, "click", None, user=1),
        _ev(2, T0, "click", 3.0, user=None),
        _ev(3, T0, "click", 3.0, user=2),
        _ev(4, T0 + dt.timedelta(days=20), "click", 9.0, user=2),
        # 5 purchases at ONE timestamp: Theil-Sen group passes the size
        # band but every pair has zero time gap (b.t > a.t drops all).
        *[_ev(10 + i, T0 + dt.timedelta(days=3), "purchase", float(i),
              user=3) for i in range(5)],
    ],
    # Every event BEFORE the drift split: empty current window.
    "ref_window_only": lambda: [
        _ev(i, T0 + dt.timedelta(hours=i), "view", float(i), user=1)
        for i in range(10)
    ],
    # Every event AFTER the drift split: empty reference window, so
    # the PSI bin edges are NULL (mn/mx over zero rows).
    "cur_window_only": lambda: [
        _ev(i, dt.datetime(2024, 2, 1) + dt.timedelta(hours=i), "view",
            float(i), user=1)
        for i in range(10)
    ],
}


@pytest.mark.parametrize("corpus", sorted(_EDGE_EVENT_CORPORA))
@pytest.mark.full
def test_edge_events_never_crash(spark, corpus):
    """Every events-only query must survive pathological event streams:
    single distinct value (zero bin width / zero variance), clicks
    with no views (zero-denominator global rate), one-sided drift
    windows (empty reference/current), NULL value/user, equal
    timestamps. Found in round 8: ANSI DIVIDE_BY_ZERO in the PSI bin
    width and the shrinkage prior — this sweep pins the whole family."""
    rows = _EDGE_EVENT_CORPORA[corpus]()
    d = _planted_dir(spark, events_rows=rows)
    failures = []
    try:
        for name, q in _events_only_queries().items():
            try:
                q.fn(spark, d).collect()
            except Exception as e:  # noqa: BLE001 - collecting all failures
                failures.append(f"{name}: {str(e).splitlines()[0][:120]}")
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert not failures, "\n".join(failures)
