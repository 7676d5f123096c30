"""Custom stateful streaming operator: incremental per-key statistics.

SURVEY.md §2.9: the reference's light-curve is accumulated per star
across epochs (batch); the streaming form keeps per-key running state
(count, mean, M2 — Welford's online algorithm, numerically stable) and
emits the updated statistic on every micro-batch. This is the
``applyInPandasWithState`` pattern for operators that need state richer
than windowed aggs. This module carries the full family: running
moments (below), event-time-timeout sessionization, per-series
Misra-Gries heavy hitters, per-source quota enforcement, and
two-sided CUSUM change detection.

State shape: (count long, mean double, m2 double). The update merges
each micro-batch's partial moments into the state (Chan et al. parallel
variance merge — the same math Spark's own stddev uses), so results are
identical no matter how rows split across micro-batches — the property
tests/test_streaming_stateful.py asserts against a single-batch run.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType([
    T.StructField("count", T.LongType()),
    T.StructField("mean", T.DoubleType()),
    T.StructField("m2", T.DoubleType()),
])

OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("count", T.LongType()),
    T.StructField("mean", T.DoubleType()),
    T.StructField("std", T.DoubleType()),
])


def _merge(n1: int, mean1: float, m21: float,
           n2: int, mean2: float, m22: float) -> tuple[int, float, float]:
    if n1 == 0:
        return n2, mean2, m22
    if n2 == 0:
        return n1, mean1, m21
    n = n1 + n2
    delta = mean2 - mean1
    mean = mean1 + delta * n2 / n
    m2 = m21 + m22 + delta * delta * n1 * n2 / n
    return n, mean, m2


def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    n1, mean1, m21 = state.get if state.exists else (0, 0.0, 0.0)
    for pdf in pdfs:
        vals = pdf["value"].dropna()
        n2 = int(len(vals))
        if n2:
            mean2 = float(vals.mean())
            m22 = float(((vals - mean2) ** 2).sum())
            n1, mean1, m21 = _merge(n1, mean1, m21, n2, mean2, m22)
    state.update((n1, mean1, m21))
    std = (m21 / (n1 - 1)) ** 0.5 if n1 > 1 else None
    yield pd.DataFrame([{"user_id": key[0], "count": n1, "mean": mean1,
                         "std": std}])


def running_stats(stream: DataFrame) -> DataFrame:
    """Per-user running (count, mean, std) over a stream of events —
    state persists across micro-batches, 'update' output mode emits the
    refreshed row for every key seen in the batch."""
    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Event-time-timeout sessionization (reference analog: an image set is
# "complete" when no new epoch arrives within the cadence window —
# psf_phot.py's per-set processing fires on set completion; here a user
# session finalizes when the event-time watermark passes last_ts + gap).
# ---------------------------------------------------------------------------

SESSION_STATE_SCHEMA = T.StructType([
    T.StructField("start_us", T.LongType()),
    T.StructField("last_us", T.LongType()),
    T.StructField("n", T.LongType()),
    T.StructField("total", T.DoubleType()),
])

SESSION_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
])


def _finalize(uid: int, start_us: int, last_us: int, n: int, total: float,
              gap_us: int) -> pd.DataFrame:
    # session_window parity: end = last event + gap
    return pd.DataFrame([{
        "user_id": uid,
        "session_start": pd.Timestamp(start_us, unit="us"),
        "session_end": pd.Timestamp(last_us + gap_us, unit="us"),
        "n_events": n,
        "total_value": round(total, 4),
    }])


def _make_session_update(gap_us: int):
    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        uid = key[0]
        if state.hasTimedOut:
            # watermark passed last_ts + gap: the session is final —
            # no in-horizon event can extend it any more
            start_us, last_us, n, total = state.get
            state.remove()
            yield _finalize(uid, start_us, last_us, n, total, gap_us)
            return
        start_us, last_us, n, total = (state.get if state.exists
                                       else (None, None, 0, 0.0))
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values("ts")
        for ts, value in zip(rows["ts"].astype("int64") // 1000,
                             rows["value"].fillna(0.0)):
            ts = int(ts)
            if start_us is None:
                start_us, last_us, n, total = ts, ts, 1, float(value)
            elif ts - last_us >= gap_us:
                # in-batch gap: previous session closed by data, not clock
                yield _finalize(uid, start_us, last_us, n, total, gap_us)
                start_us, last_us, n, total = ts, ts, 1, float(value)
            else:
                last_us, n, total = max(last_us, ts), n + 1, total + float(value)
        state.update((start_us, last_us, n, total))
        # fire once the event-time watermark passes session end; the
        # timeout timestamp must exceed the current watermark (late
        # batches can arrive with the session already expired)
        expiry_ms = (last_us + gap_us) // 1000
        state.setTimeoutTimestamp(max(expiry_ms,
                                      state.getCurrentWatermarkMs() + 1))

    return update


def sessionize_with_timeout(stream: DataFrame, gap: str = "5 minutes",
                            watermark: str = "0 seconds") -> DataFrame:
    """Session aggregation with EVENT-TIME state timeout: a session row
    is emitted exactly once, when it can no longer change — either an
    in-batch gap closes it, or the watermark passes ``last_ts + gap``
    and the timeout callback fires. This is the
    ``applyInPandasWithState`` pattern ``session_window`` cannot
    express when the per-session output needs custom finalization
    (here: append-mode exactly-once session rows with a rounded total;
    in general: model state, quota enforcement, alert suppression).

    Scale: state is one 32-byte row per ACTIVE session, partitioned by
    key across executors; expired state is removed, so state size
    tracks concurrent sessions, not history. Parity with batch
    ``session_window(ts, gap)`` is asserted in
    tests/test_streaming_stateful.py."""
    gap_us = int(pd.Timedelta(gap).total_seconds() * 1_000_000)
    return (
        stream.withWatermark("ts", watermark)
        .select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_session_update(gap_us),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming heavy hitters: per-key Misra-Gries state
# ---------------------------------------------------------------------------

HH_STATE_SCHEMA = T.StructType([
    T.StructField("items", T.ArrayType(T.StringType())),
    T.StructField("counts", T.ArrayType(T.LongType())),
    T.StructField("n", T.LongType()),
])

HH_OUTPUT_SCHEMA = T.StructType([
    T.StructField("series", T.StringType()),
    T.StructField("item", T.StringType()),
    T.StructField("count_lower", T.LongType()),
    T.StructField("n", T.LongType()),
])


def _make_hh_update(k: int):
    def update(key, pdfs: "Iterator[pd.DataFrame]", state: GroupState):
        if state.exists:
            items, counts, n = state.get
            counters = dict(zip(items, counts))
        else:
            counters, n = {}, 0
        for pdf in pdfs:
            vals = pdf["item"].dropna()
            n += int(len(vals))
            for item, c in vals.value_counts().items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {i: c - cut for i, c in counters.items()
                            if c - cut > 0}
        state.update((list(counters.keys()),
                      [int(c) for c in counters.values()], n))
        yield pd.DataFrame(
            [{"series": key[0], "item": i, "count_lower": c, "n": n}
             for i, c in sorted(counters.items(),
                                key=lambda kv: (-kv[1], kv[0]))])

    return update


def heavy_hitters_stream(stream: DataFrame, key_col: str, item_col: str,
                         k: int = 8) -> DataFrame:
    """Continuous per-series phi-frequent items: one bounded
    Misra-Gries summary (<= ``k`` counters + the running stream length)
    as keyed state per ``key_col`` value, updated every micro-batch —
    the streaming twin of operators/heavy_hitters.py, with the same
    mergeable-summaries guarantee carried THROUGH restarts because the
    summary itself is the checkpointed state: after any prefix of the
    stream, every item with frequency > n/k is present with
    count_lower >= freq - n/(k+1), no matter how rows split across
    micro-batches (parity asserted in tests/test_streaming_stateful.py).

    Scale: state is O(k) per series, hash-partitioned by series across
    executors; output mode 'update' re-emits a series' current summary
    only when the batch touched it. Use a downstream exact rescue scan
    (the batch operator's move) when exact counts are needed."""
    return (
        stream.select(F.col(key_col).cast("string").alias("series"),
                      F.col(item_col).cast("string").alias("item"))
        .groupBy("series")
        .applyInPandasWithState(
            _make_hh_update(k),
            outputStructType=HH_OUTPUT_SCHEMA,
            stateStructType=HH_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Per-key quota enforcement (admission control) with windowed reset
# ---------------------------------------------------------------------------

QUOTA_STATE_SCHEMA = T.StructType([
    T.StructField("window_start_us", T.LongType()),
    T.StructField("used", T.LongType()),
])

QUOTA_OUTPUT_SCHEMA = T.StructType([
    T.StructField("source", T.StringType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("admitted", T.BooleanType()),
    T.StructField("used_after", T.LongType()),
])


def _make_quota_update(quota: int, window_us: int):
    def update(key, pdfs: "Iterator[pd.DataFrame]", state: GroupState):
        win0, used = state.get if state.exists else (None, 0)
        out = []
        for pdf in pdfs:
            # deterministic admission order within the batch: event time
            # then id — the same total order a batch replay would use
            for r in pdf.sort_values(["ts", "event_id"]).itertuples():
                us = int(r.ts.value // 1000)  # pandas ns -> us
                w = us - us % window_us
                if win0 is None or w > win0:
                    win0, used = w, 0  # window rolled over: reset budget
                if w < win0:
                    # straggler from an ALREADY-CLOSED window: its
                    # budget is gone — reject WITHOUT consuming the
                    # current window's budget (the round-6 advisor
                    # finding: admitting it both mis-attributed the
                    # admission and stole a current-window slot)
                    out.append({"source": key[0],
                                "event_id": int(r.event_id), "ts": r.ts,
                                "admitted": False, "used_after": used})
                    continue
                admitted = used < quota
                if admitted:
                    used += 1
                out.append({"source": key[0], "event_id": int(r.event_id),
                            "ts": r.ts, "admitted": admitted,
                            "used_after": used})
        state.update((win0 if win0 is not None else 0, used))
        yield pd.DataFrame(out, columns=[f.name for f in QUOTA_OUTPUT_SCHEMA])

    return update


def enforce_quota(stream: DataFrame, key_col: str = "event_type",
                  quota: int = 100,
                  window: str = "1 hour") -> DataFrame:
    """Admission control: at most ``quota`` rows per ``key_col`` value
    per tumbling event-time window pass with ``admitted=true``; the
    rest are tagged (not dropped — the caller decides to divert or
    discard, and the tag stream doubles as an audit log). The running
    (window, used) pair is keyed state, so the budget survives
    micro-batch boundaries and restarts — the quota-enforcement use
    case the running-stats operator's docstring names, made real.

    Deterministic: admission follows the (ts, event_id) total order
    within each batch, and the window rollover keys on event time, so
    a replayed stream admits the SAME rows (exactly-once sinks then
    dedup on event_id). Note the contract is per-arrival-order within
    event-time windows: late rows admitted in an earlier trigger are
    not revoked when stragglers arrive — admission is a gate, not a
    retroactive top-k — and a straggler from an already-CLOSED window
    (event time before the current window) is rejected outright
    without touching the current window's budget: its own window's
    budget is unrecoverable once the single (window, used) pair rolls
    forward, and charging it to the current window would mis-attribute
    both the admission and used_after.

    Scale: O(1) state per key; output rides update mode."""
    window_us = int(pd.Timedelta(window).total_seconds() * 1_000_000)
    return (
        stream.select(F.col(key_col).cast("string").alias("source"),
                      "event_id", "ts")
        .groupBy("source")
        .applyInPandasWithState(
            _make_quota_update(quota, window_us),
            outputStructType=QUOTA_OUTPUT_SCHEMA,
            stateStructType=QUOTA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Change detection: two-sided CUSUM drift alarm per key
# ---------------------------------------------------------------------------

CUSUM_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),        # baseline sample count
    T.StructField("mean", T.DoubleType()),   # baseline mean (frozen)
    T.StructField("m2", T.DoubleType()),     # baseline M2 (frozen)
    T.StructField("s_hi", T.DoubleType()),   # upper CUSUM
    T.StructField("s_lo", T.DoubleType()),   # lower CUSUM
    T.StructField("alarmed", T.BooleanType()),
])

CUSUM_OUTPUT_SCHEMA = T.StructType([
    T.StructField("series", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("s_hi", T.DoubleType()),
    T.StructField("s_lo", T.DoubleType()),
    T.StructField("alarm", T.BooleanType()),
])


def _make_cusum_update(baseline_n: int, k_sigmas: float, h_sigmas: float):
    def update(key, pdfs: "Iterator[pd.DataFrame]", state: GroupState):
        n, mean, m2, s_hi, s_lo, alarmed = (
            state.get if state.exists else (0, 0.0, 0.0, 0.0, 0.0, False))
        out = []
        for pdf in pdfs:
            for r in pdf.sort_values(["ts"]).itertuples():
                x = float(r.value)
                if n < baseline_n:
                    # Welford: learn the baseline before monitoring
                    n += 1
                    d = x - mean
                    mean += d / n
                    m2 += d * (x - mean)
                    continue
                std = (m2 / (n - 1)) ** 0.5 if n > 1 else 1.0
                std = std if std > 0 else 1.0
                z = (x - mean) / std
                s_hi = max(0.0, s_hi + z - k_sigmas)
                s_lo = max(0.0, s_lo - z - k_sigmas)
                fired = (s_hi > h_sigmas) or (s_lo > h_sigmas)
                if fired and not alarmed:
                    alarmed = True
                    out.append({"series": key[0], "ts": r.ts,
                                "s_hi": round(s_hi, 6),
                                "s_lo": round(s_lo, 6), "alarm": True})
        state.update((n, mean, m2, s_hi, s_lo, alarmed))
        if not out:  # heartbeat row so 'update' mode shows progress
            out = [{"series": key[0], "ts": None,
                    "s_hi": round(s_hi, 6), "s_lo": round(s_lo, 6),
                    "alarm": False}]
        yield pd.DataFrame(out, columns=[f.name for f in CUSUM_OUTPUT_SCHEMA])

    return update


def detect_drift(stream: DataFrame, key_col: str = "event_type",
                 baseline_n: int = 100, k_sigmas: float = 0.5,
                 h_sigmas: float = 5.0) -> DataFrame:
    """Two-sided CUSUM change detection per series (Page 1954): the
    first ``baseline_n`` values learn a frozen mean/std (Welford); each
    later value's z-score accumulates into upper/lower CUSUM sums with
    slack ``k_sigmas``, and the FIRST crossing of ``h_sigmas`` emits one
    alarm row per series — the change-detection use case the running-
    stats docstring names, made real. Data-quality monitoring for a
    continuously ingested corpus: a drifting quality-score or
    token-rate series alarms long before a threshold gate would trip.

    State is O(1) per series and exactly reproducible on replay (the
    whole detector state is the checkpointed tuple). CUSUM detects a
    sustained shift of ~2*k_sigmas with expected delay ~h/k samples;
    one-off spikes decay back through the max(0, .) floor."""
    return (
        stream.select(F.col(key_col).cast("string").alias("series"),
                      "ts", "value")
        .filter(F.col("value").isNotNull())
        .groupBy("series")
        .applyInPandasWithState(
            _make_cusum_update(baseline_n, k_sigmas, h_sigmas),
            outputStructType=CUSUM_OUTPUT_SCHEMA,
            stateStructType=CUSUM_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# transformWithState (Spark 4 typed-state API) twin of running_stats.
# applyInPandasWithState carries one opaque state tuple per key; the
# transformWithState StatefulProcessor gets NAMED typed state slots with
# per-slot TTL, timers, and state-schema evolution — the forward path
# for new stateful operators. Parity with the legacy twin is pinned in
# tests/test_streaming_stateful.py.
# ---------------------------------------------------------------------------


def running_stats_tws(stream: DataFrame) -> DataFrame:
    """Per-user running (count, mean, std) via transformWithStateInPandas:
    same Chan/Welford moment merge as ``running_stats`` (the
    applyInPandasWithState twin), held in a named ValueState slot. The
    merge is order-invariant, so micro-batch boundaries never change the
    converged moments — the batch-parity test proves it for both APIs
    (gated on google.protobuf, which the transformWithState state server
    requires; absent it the legacy twin is the tested path)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._moments = handle.getValueState(
                "moments", "count LONG, mean DOUBLE, m2 DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n1, mean1, m21 = (tuple(self._moments.get())
                              if self._moments.exists() else (0, 0.0, 0.0))
            for pdf in rows:
                vals = pdf["value"].dropna()
                n2 = int(len(vals))
                if n2:
                    mean2 = float(vals.mean())
                    m22 = float(((vals - mean2) ** 2).sum())
                    n1, mean1, m21 = _merge(n1, mean1, m21, n2, mean2, m22)
            self._moments.update((n1, mean1, m21))
            std = (m21 / (n1 - 1)) ** 0.5 if n1 > 1 else None
            yield pd.DataFrame([{"user_id": key[0], "count": n1,
                                 "mean": mean1, "std": std}])

        def close(self) -> None:
            pass

    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_RunningStats(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="update",
            timeMode="none",
        )
    )


# ---------------------------------------------------------------------------
# Streaming last-touch attribution (live twin of queries q_attribution)
# ---------------------------------------------------------------------------

ATTR_STATE_SCHEMA = T.StructType([
    T.StructField("touch_type", T.StringType()),
    T.StructField("touch_us", T.LongType()),
    T.StructField("touch_id", T.LongType()),
])

ATTR_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("channel", T.StringType()),
])


def _attr_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Per-user O(1) state: the (type, event-time, id) of the most
    recent non-purchase touch. Each purchase emits exactly once,
    credited to the state as of its position in (ts, event_id) order.
    A late touch OLDER than the stored one is ignored (the watermark
    assumption every stream-order operator here documents)."""
    touch_type, touch_us, touch_id = (
        state.get if state.exists else (None, -1, -1))
    out = []
    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch):
        batch = batch.sort_values(["ts", "event_id"])
        for row in batch.itertuples(index=False):
            us = int(pd.Timestamp(row.ts).value // 1000)
            if row.event_type == "purchase":
                out.append({"user_id": int(key[0]),
                            "event_id": int(row.event_id),
                            "channel": touch_type or "none"})
            elif (us, int(row.event_id)) > (touch_us, touch_id):
                touch_type, touch_us, touch_id = (
                    row.event_type, us, int(row.event_id))
    state.update((touch_type, touch_us, touch_id))
    yield pd.DataFrame(out, columns=["user_id", "event_id", "channel"])


def last_touch_attribution(stream: DataFrame) -> DataFrame:
    """Streaming last-touch attribution: the live twin of the batch
    q_attribution window — per-user state is one (type, ts, id)
    triple, purchases append one attribution row each. Append mode:
    an attribution, once emitted, never changes."""
    return (
        stream.select("user_id", "event_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _attr_update,
            outputStructType=ATTR_OUTPUT_SCHEMA,
            stateStructType=ATTR_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming CUPED readout (live twin of the batch q_cuped,
# queries/science.py — round-9 VERDICT item 6: every monitoring/
# experimentation stat gets a live twin). Two tiers, because CUPED's
# theta needs per-USER cross-moments that no per-arm accumulator can
# maintain alone:
#   1. a per-user stateful operator keeps each user's exact
#      (pre-period, post-period) centi-unit integer sums and, on every
#      update, emits the DELTAS of all pooled sufficient statistics
#      that user contributes (d(sx), d(sxy) = x1*y1 - x0*y0, ...);
#   2. a driver-side CupedAccumulator (the foreachBatch sink) folds
#      those deltas into the nine pooled/per-arm totals — a dozen
#      integers, O(1) state — and exposes the same 2-row arm readout
#      as the batch query after every micro-batch.
# Exactness: state and deltas are integers, so the accumulated totals
# equal the batch sufficient statistics bit-for-bit regardless of how
# rows split across micro-batches; the readout then applies the
# IDENTICAL double expression tree as q_cuped.
# ---------------------------------------------------------------------------

CUPED_STATE_SCHEMA = T.StructType([
    T.StructField("x", T.LongType()),
    T.StructField("y", T.LongType()),
])

CUPED_DELTA_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("arm", T.LongType()),
    T.StructField("dn", T.LongType()),
    T.StructField("dx", T.LongType()),
    T.StructField("dy", T.LongType()),
    T.StructField("dxy", T.LongType()),
    T.StructField("dxx", T.LongType()),
    T.StructField("dyy", T.LongType()),
])


def _cuped_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    x0, y0 = state.get if state.exists else (0, 0)
    first = not state.exists
    bx = by = 0
    for pdf in pdfs:
        # A NULL ts row has pre=NA; the batch q_cuped's one-sided
        # F.when excludes such rows from BOTH periods — align on
        # pre.notna() too (pandas raises on NA in a boolean mask).
        keep = pdf["centi"].notna() & pdf["pre"].notna()
        centi = pdf["centi"][keep]
        pre = pdf["pre"][keep].astype(bool)
        bx += int(centi[pre].sum())
        by += int(centi[~pre].sum())
    x1, y1 = x0 + bx, y0 + by
    state.update((x1, y1))
    uid = int(key[0])
    yield pd.DataFrame([{
        "user_id": uid, "arm": uid % 2, "dn": 1 if first else 0,
        "dx": x1 - x0, "dy": y1 - y0, "dxy": x1 * y1 - x0 * y0,
        "dxx": x1 * x1 - x0 * x0, "dyy": y1 * y1 - y0 * y0,
    }])


def cuped_user_deltas(stream: DataFrame,
                      split: str = "2024-01-16 00:00:00") -> DataFrame:
    """Tier 1 of the streaming CUPED readout: per-user exact
    (pre, post) centi-sums in state; emits pooled-statistic deltas on
    every user update (update mode). Feed the output to a
    CupedAccumulator per micro-batch for the live readout."""
    s = (stream
         .filter((F.col("event_type") == "purchase")
                 & F.col("user_id").isNotNull())
         .select("user_id",
                 F.round(F.col("value") * 100).cast("long").alias("centi"),
                 (F.col("ts") < F.lit(split).cast("timestamp")).alias("pre")))
    return (s.groupBy("user_id")
            .applyInPandasWithState(
                _cuped_update,
                outputStructType=CUPED_DELTA_SCHEMA,
                stateStructType=CUPED_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


class CupedAccumulator:
    """Tier 2: O(1) pooled/per-arm sufficient statistics, updated from
    tier-1 delta frames; ``readout()`` reproduces the batch q_cuped
    arm table (same integer stats, same double expression tree, same
    rounding). Usable as a foreachBatch sink body:
    ``lambda df, _: acc.update(df.toPandas())``."""

    def __init__(self) -> None:
        self.n = self.sx = self.sy = self.sxy = self.sxx = self.syy = 0
        self.arm: dict[int, list[int]] = {}  # arm -> [n_arm, sxa, sya]

    def update(self, deltas: pd.DataFrame) -> None:
        if not len(deltas):
            return
        self.n += int(deltas["dn"].sum())
        self.sx += int(deltas["dx"].sum())
        self.sy += int(deltas["dy"].sum())
        self.sxy += int(deltas["dxy"].sum())
        self.sxx += int(deltas["dxx"].sum())
        self.syy += int(deltas["dyy"].sum())
        for a, g in deltas.groupby("arm"):
            t = self.arm.setdefault(int(a), [0, 0, 0])
            t[0] += int(g["dn"].sum())
            t[1] += int(g["dx"].sum())
            t[2] += int(g["dy"].sum())

    def readout(self) -> pd.DataFrame:
        n, sx, sy = float(self.n), float(self.sx), float(self.sy)
        sxy, sxx, syy = float(self.sxy), float(self.sxx), float(self.syy)
        dvar = n * sxx - sx * sx
        theta = (n * sxy - sx * sy) / dvar if dvar else None
        dcov2 = dvar * (n * syy - sy * sy)
        rho2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy) / dcov2
                if dcov2 else None)
        rows = []
        for a in sorted(self.arm):
            n_arm, sxa, sya = self.arm[a]
            mean_y = sya / n_arm / 100.0
            cuped = (None if theta is None else
                     (sya / n_arm - theta * (sxa / n_arm - sx / n)) / 100.0)
            rows.append({"arm": a, "n_users": n_arm, "mean_y": mean_y,
                         "mean_y_cuped": cuped, "theta": theta,
                         "var_reduction_pct": (None if rho2 is None
                                               else rho2 * 100.0)})
        return pd.DataFrame(
            rows, columns=["arm", "n_users", "mean_y", "mean_y_cuped",
                           "theta", "var_reduction_pct"])


# ---------------------------------------------------------------------------
# Streaming SPRT (live twin of the batch q_sprt, queries/inference.py —
# the experimentation family's early-stopping test is INHERENTLY a
# streaming operator: Wald's procedure decides the moment the evidence
# crosses a boundary, so the production deployment watches the live
# stream and freezes at first crossing; the batch query replays history).
# State per stream key is five integers: (n, successes, decision,
# n_at_decision, successes_at_decision). Within a micro-batch rows sort
# by (ts, event_id) — the batch query's exact order — so when batches
# arrive in time order the crossing point is bit-identical to q_sprt
# (the LLR is integer counts times two constant logs; no float fold).
# Once decided, the decision FREEZES (the SPRT contract: sampling
# stops); n_obs keeps counting so the readout shows post-decision
# volume.
# ---------------------------------------------------------------------------

SPRT_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("succ", T.LongType()),
    T.StructField("dec", T.IntegerType()),      # 0 continue, 1 h1, -1 h0
    T.StructField("n_dec", T.LongType()),
    T.StructField("succ_dec", T.LongType()),
])

SPRT_OUT_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("n_obs", T.LongType()),
    T.StructField("decision", T.StringType()),
    T.StructField("n_at_decision", T.LongType()),
    T.StructField("llr_at_decision", T.DoubleType()),
])

_SPRT_P0, _SPRT_P1, _SPRT_ALPHA = 0.45, 0.55, 0.05
_SPRT_THRESHOLD = 34.0


def _sprt_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    import math

    import numpy as np

    l1 = math.log(_SPRT_P1 / _SPRT_P0)
    l0 = math.log((1 - _SPRT_P1) / (1 - _SPRT_P0))
    bound = math.log((1 - _SPRT_ALPHA) / _SPRT_ALPHA)
    n0, s0, dec, n_dec, s_dec = (state.get if state.exists
                                 else (0, 0, 0, 0, 0))
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    x = (batch["value"].to_numpy() > _SPRT_THRESHOLD).astype(np.int64)
    if len(x) and dec == 0:
        cum = s0 + np.cumsum(x)
        n = n0 + np.arange(1, len(x) + 1, dtype=np.int64)
        llr = cum * l1 + (n - cum) * l0
        hits = np.nonzero((llr >= bound) | (llr <= -bound))[0]
        if hits.size:
            i = int(hits[0])
            dec = 1 if llr[i] > 0 else -1
            n_dec, s_dec = int(n[i]), int(cum[i])
    n1, s1 = n0 + len(x), s0 + int(x.sum())
    state.update((n1, s1, dec, n_dec, s_dec))
    llr_dec = (round(s_dec * l1 + (n_dec - s_dec) * l0, 6) + 0.0
               if dec else None)
    yield pd.DataFrame([{
        "event_type": key[0], "n_obs": n1,
        "decision": {0: "continue", 1: "accept_h1", -1: "accept_h0"}[dec],
        "n_at_decision": n_dec if dec else None,
        "llr_at_decision": llr_dec,
    }])


def sprt_decisions(stream: DataFrame) -> DataFrame:
    """Streaming Wald SPRT per event stream: emits each stream's
    current (decision, n_at_decision, llr_at_decision) on every
    micro-batch that touches it (update mode). Exact-parity twin of
    the batch q_sprt when batches arrive in event-time order; under
    out-of-order arrival the decision is the arrival-order SPRT —
    the semantics a live experiment actually runs."""
    s = (stream.filter(F.col("value").isNotNull())
         .select("event_type", "ts", "event_id", "value"))
    return (s.groupBy("event_type")
            .applyInPandasWithState(
                _sprt_update,
                outputStructType=SPRT_OUT_SCHEMA,
                stateStructType=SPRT_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


# ---------------------------------------------------------------------------
# Streaming EWMA (live twin of the batch q_ewma, queries/analysis.py —
# the monitoring family's smoother runs naturally as a stream: each
# closed DAY folds once into s = (mu + s)/2, so per-key state is five
# scalars regardless of stream length). The open (current) day's exact
# micro-unit sum/count ride in state; a day closes when a later-day
# row arrives. The readout emits both the closed-days EWMA and the
# provisional value folding the still-open day — after the stream
# drains, the provisional equals the batch q_ewma bit-for-bit (daily
# means are exact integers; the fold is the same IEEE double sequence).
# ---------------------------------------------------------------------------

EWMA_STATE_SCHEMA = T.StructType([
    T.StructField("day_epoch", T.LongType()),    # open day, days from epoch
    T.StructField("day_sum", T.LongType()),      # micro-units, exact
    T.StructField("day_cnt", T.LongType()),
    T.StructField("ewma", T.DoubleType()),       # over CLOSED days
    T.StructField("n_closed", T.LongType()),
])

EWMA_OUT_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("n_days", T.LongType()),       # closed + open
    T.StructField("ewma_closed", T.DoubleType()),
    T.StructField("ewma", T.DoubleType()),       # provisional incl. open day
])


def _round_half_up(x: float, scale: int = 0) -> float:
    """Exact twin of Spark's ``F.round(double, scale)``: shortest-repr
    decimal conversion (Scala ``BigDecimal.decimal`` = Java
    ``Double.toString`` = Python ``repr``), then scale with HALF_UP.
    Python's ``round()``/``np.rint`` are half-to-EVEN — a value landing
    exactly on a .5 boundary (e.g. a 2-event day with odd micro-sum:
    round(2.5)) would silently break the documented bit-for-bit batch
    parity (round-10 ADVICE)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(float(x))).quantize(q,
                                                  rounding=ROUND_HALF_UP))


def _ewma_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    day0, dsum, dcnt, ewma, n_closed = (
        state.get if state.exists else (None, 0, 0, 0.0, 0))
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    days = (batch["ts"].to_numpy().astype("datetime64[D]")
            .astype("int64"))
    # HALF_UP per element, matching the batch F.round(value*1e6): the
    # quantization runs once per event inside an already-Python
    # stateful operator; the per-day fold state stays five scalars.
    micro = [int(_round_half_up(v * 1e6))
             for v in batch["value"].to_numpy()]

    def close_day() -> None:
        nonlocal ewma, n_closed
        # exact ints; one HALF_UP-rounded division (batch: F.round)
        mu = int(_round_half_up(dsum / dcnt))
        ewma = float(mu) if n_closed == 0 else (mu + ewma) / 2.0
        n_closed += 1

    for d, v in zip(days, micro):
        d = int(d)
        if day0 is None:
            day0, dsum, dcnt = d, 0, 0
        elif d != day0:
            close_day()
            day0, dsum, dcnt = d, 0, 0
        dsum += int(v)
        dcnt += 1
    state.update((day0, dsum, dcnt, ewma, n_closed))
    if dcnt:
        mu_open = int(_round_half_up(dsum / dcnt))
        provisional = (float(mu_open) if n_closed == 0
                       else (mu_open + ewma) / 2.0)
    else:
        provisional = ewma
    yield pd.DataFrame([{
        "event_type": key[0],
        "n_days": n_closed + (1 if dcnt else 0),
        "ewma_closed": (_round_half_up(ewma / 1e6, 6) + 0.0
                        if n_closed else None),
        "ewma": _round_half_up(provisional / 1e6, 6) + 0.0,
    }])


def ewma_daily(stream: DataFrame) -> DataFrame:
    """Streaming EWMA (alpha = 0.5) over each stream's daily mean
    series: five scalars of state per key, one fold per CLOSED day.
    Exact-parity twin of the batch q_ewma when batches arrive in
    event-time order (the provisional `ewma` column equals the batch
    value once the stream drains); under out-of-order arrival a
    late row lands in the OPEN day's sums — day boundaries are the
    watermark granularity a production deployment would enforce."""
    s = (stream.filter(F.col("value").isNotNull())
         .select("event_type", "ts", "event_id", "value"))
    return (s.groupBy("event_type")
            .applyInPandasWithState(
                _ewma_update,
                outputStructType=EWMA_OUT_SCHEMA,
                stateStructType=EWMA_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


# ---------------------------------------------------------------------------
# Streaming Page-Hinkley drift monitor (live twin of the batch
# q_page_hinkley, queries/insights.py — the monitoring family's drift
# detector is the canonical ALWAYS-ON statistic, so it gets the same
# exact-parity treatment as the EWMA/SPRT/CUPED twins: per-key state is
# seven scalars, each CLOSED day folds once through the identical IEEE
# double sequence, and the open day folds provisionally at readout).
# ---------------------------------------------------------------------------

PH_STATE_SCHEMA = T.StructType([
    T.StructField("day_epoch", T.LongType()),   # open day
    T.StructField("day_sum", T.LongType()),     # micro-units, exact
    T.StructField("day_cnt", T.LongType()),
    T.StructField("i", T.LongType()),           # closed days folded
    T.StructField("s_mu", T.LongType()),        # sum of closed-day mus
    T.StructField("u", T.DoubleType()),
    T.StructField("minu", T.DoubleType()),
    T.StructField("alarm_day", T.LongType()),
])

PH_OUT_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("n_days", T.LongType()),      # closed + open
    T.StructField("ph_stat", T.DoubleType()),   # provisional incl. open
    T.StructField("alarm_day", T.LongType()),
])


def _ph_fold(i: int, s: int, u: float, minu: float, alarm, mu: int):
    """One Page-Hinkley day fold — the IDENTICAL double expression
    sequence as the batch q_page_hinkley aggregate() lambda / the
    oracle's recursive CTE."""
    from ..queries.insights import PH_DELTA_MICRO, PH_LAMBDA_MICRO

    i2 = i + 1
    s2 = s + mu
    u2 = u + ((float(mu) - (float(s2) / i2)) - PH_DELTA_MICRO)
    minu2 = min(minu, u2)
    if alarm is None and u2 - minu2 >= PH_LAMBDA_MICRO:
        alarm = i2
    return i2, s2, u2, minu2, alarm


def _page_hinkley_update(key, pdfs: Iterator[pd.DataFrame],
                         state: GroupState):
    day0, dsum, dcnt, i, s_mu, u, minu, alarm = (
        state.get if state.exists else (None, 0, 0, 0, 0, 0.0, 0.0, None))
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    days = (batch["ts"].to_numpy().astype("datetime64[D]")
            .astype("int64"))
    micro = [int(_round_half_up(v * 1e6))
             for v in batch["value"].to_numpy()]
    for d, v in zip(days, micro):
        d = int(d)
        if day0 is None:
            day0, dsum, dcnt = d, 0, 0
        elif d != day0:
            mu = int(_round_half_up(dsum / dcnt))
            i, s_mu, u, minu, alarm = _ph_fold(i, s_mu, u, minu, alarm, mu)
            day0, dsum, dcnt = d, 0, 0
        dsum += int(v)
        dcnt += 1
    state.update((day0, dsum, dcnt, i, s_mu, u, minu, alarm))
    if dcnt:  # provisional: fold the still-open day
        mu_open = int(_round_half_up(dsum / dcnt))
        pi, ps, pu, pminu, palarm = _ph_fold(i, s_mu, u, minu, alarm,
                                             mu_open)
    else:
        pi, pu, pminu, palarm = i, u, minu, alarm
    yield pd.DataFrame([{
        "event_type": key[0],
        "n_days": pi,
        "ph_stat": _round_half_up((pu - pminu) / 1e6, 6) + 0.0,
        "alarm_day": palarm,
    }])


def page_hinkley_daily(stream: DataFrame) -> DataFrame:
    """Streaming Page-Hinkley over each stream's daily mean series:
    seven scalars of state per key, one fold per CLOSED day, alarm day
    frozen once crossed. Exact-parity twin of the batch q_page_hinkley
    when batches arrive in event-time order (the provisional readout
    equals the batch value once the stream drains); under out-of-order
    arrival a late row lands in the OPEN day's sums — day boundaries
    are the watermark granularity a production deployment enforces."""
    s = (stream.filter(F.col("value").isNotNull())
         .select("event_type", "ts", "event_id", "value"))
    return (s.groupBy("event_type")
            .applyInPandasWithState(
                _page_hinkley_update,
                outputStructType=PH_OUT_SCHEMA,
                stateStructType=PH_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


# ---------------------------------------------------------------------------
# Streaming operating-point monitor: threshold-sweep twin (round 12)
# ---------------------------------------------------------------------------

TS_STATE_SCHEMA = T.StructType([
    T.StructField("pos", T.ArrayType(T.LongType())),
    T.StructField("neg", T.ArrayType(T.LongType())),
])

TS_OUT_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("threshold_milli", T.LongType()),
    T.StructField("cost", T.LongType()),
    T.StructField("tp", T.LongType()),
    T.StructField("fp", T.LongType()),
    T.StructField("fn", T.LongType()),
    T.StructField("tn", T.LongType()),
    T.StructField("precision_", T.DoubleType()),
    T.StructField("recall_", T.DoubleType()),
])


def _threshold_sweep_update(key, pdfs: Iterator[pd.DataFrame],
                            state: GroupState):
    import numpy as np

    if state.exists:
        pos, neg = (np.asarray(x, dtype=np.int64) for x in state.get)
    else:
        pos = np.zeros(20, dtype=np.int64)
        neg = np.zeros(20, dtype=np.int64)
    for pdf in pdfs:
        ok = pdf["value"].notna()
        if not ok.any():
            continue
        eid = pdf.loc[ok, "event_id"].to_numpy(dtype=np.int64)
        # the batch q_threshold_sweep hash, pre-mod guarded:
        # 1000003 * 2654435761 < 2^63, so int64 never overflows
        s_milli = ((eid % 1000003) * 2654435761 % 1000003) % 1000
        bucket = s_milli // 50
        label = (pdf.loc[ok, "value"].to_numpy(dtype=np.float64)
                 > 100).astype(np.int64)
        np.add.at(pos, bucket, label)
        np.add.at(neg, bucket, 1 - label)
    state.update((pos.tolist(), neg.tolist()))
    # exact-integer sweep over thresholds t = 50*k, k = 0..20:
    # predict positive iff bucket >= k
    cp = np.concatenate(([0], np.cumsum(pos)))  # cp[k] = pos below t
    cn = np.concatenate(([0], np.cumsum(neg)))
    tp = cp[-1] - cp
    fp = cn[-1] - cn
    fn = cp
    tn = cn
    cost = fp + 5 * fn
    k = int(np.argmin(cost))  # first minimum = smallest threshold
    prec = (None if tp[k] + fp[k] == 0
            else _round_half_up(float(tp[k]) / float(tp[k] + fp[k]), 6)
            + 0.0)
    rec = (None if tp[k] + fn[k] == 0
           else _round_half_up(float(tp[k]) / float(tp[k] + fn[k]), 6)
           + 0.0)
    yield pd.DataFrame([{
        "event_type": key[0],
        "threshold_milli": 50 * k,
        "cost": int(cost[k]),
        "tp": int(tp[k]), "fp": int(fp[k]),
        "fn": int(fn[k]), "tn": int(tn[k]),
        "precision_": prec, "recall_": rec,
    }])


def threshold_sweep_stream(stream: DataFrame) -> DataFrame:
    """Streaming operating-point monitor: the live twin of the batch
    q_threshold_sweep (queries/insights.py), generalized to EVERY
    event stream (the batch demo picks one). Per key the state is the
    20-bucket (pos, neg) score histogram — 40 integers, bounded — and
    every micro-batch re-emits the cost-argmin threshold with its
    confusion cells and precision/recall.

    Parity is EXACT under ANY arrival order, not just event-time order
    (stronger than the daily-fold twins): integer histogram counts are
    order-free sufficient statistics, so once the same rows arrived the
    readout equals the batch sweep bit-for-bit — the property
    tests/test_streaming_stateful.py asserts on a shuffled-arrival
    stream."""
    s = (stream.filter(F.col("value").isNotNull())
         .select("event_type", "event_id", "value"))
    return (s.groupBy("event_type")
            .applyInPandasWithState(
                _threshold_sweep_update,
                outputStructType=TS_OUT_SCHEMA,
                stateStructType=TS_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


# ---------------------------------------------------------------------------
# Streaming distinct-count: HLL register twin (round 12)
# ---------------------------------------------------------------------------

HLL_STATE_SCHEMA = T.StructType([
    T.StructField("regs", T.ArrayType(T.LongType())),
])

HLL_OUT_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("hll_est", T.DoubleType()),
    T.StructField("n_zero_regs", T.LongType()),
])


def _hll_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    import hashlib
    import math

    import numpy as np

    regs = (np.asarray(state.get[0], dtype=np.int64) if state.exists
            else np.zeros(256, dtype=np.int64))
    for pdf in pdfs:
        ok = pdf["user_id"].notna()
        for uid in pdf.loc[ok, "user_id"]:
            # EXACTLY the batch q_hll_union register rule:
            # md5(CAST(user_id AS STRING)), bucket = first 8 hash bits,
            # rho = 53 - bit_length of the next 52 (bin-length rank)
            h = hashlib.md5(str(int(uid)).encode()).hexdigest()
            bucket = int(h[:2], 16)
            v = int(h[2:15], 16)
            rho = 53 - v.bit_length() if v > 0 else 53
            if rho > regs[bucket]:
                regs[bucket] = rho
    state.update((regs.tolist(),))
    # the batch estimate expression, term for term (double-order exact):
    # s in integer units of 2^-53, harmonic sum is exact; linear-counting
    # fallback when the raw estimate is small and zero registers remain
    s = sum(1 << (53 - int(r)) for r in regs)  # python int: never overflows
    z = int((regs == 0).sum())
    raw = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 \
        / (float(s) / 9007199254740992.0)
    est = 256.0 * math.log(256.0 / z) if (raw <= 640.0 and z > 0) else raw
    yield pd.DataFrame([{
        "event_type": key[0],
        "hll_est": _round_half_up(est, 6) + 0.0,
        "n_zero_regs": z,
    }])


def hll_distinct_stream(stream: DataFrame) -> DataFrame:
    """Streaming distinct-user counter: the live twin of the batch
    q_hll_union sketch (queries/llm.py) with the SAME md5-derived
    p=8 registers. Per key the state is the 256-register array —
    bounded, and an order-free sufficient statistic (registers are
    MAXes), so the drained readout equals the batch per-type
    ``hll_est`` bit-for-bit under ANY arrival order, the same
    guarantee class as threshold_sweep_stream. This is the streaming
    answer to "how many distinct users has this stream seen" that a
    100 TB deployment can afford: state is 2 KB per key forever,
    versus the unbounded exact-distinct set."""
    s = stream.filter(F.col("user_id").isNotNull()) \
        .select("event_type", "user_id")
    return (s.groupBy("event_type")
            .applyInPandasWithState(
                _hll_update,
                outputStructType=HLL_OUT_SCHEMA,
                stateStructType=HLL_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


# ---------------------------------------------------------------------------
# Streaming per-group reservoir sample: bottom-k content-hash twin (round 12)
# ---------------------------------------------------------------------------

RS_STATE_SCHEMA = T.StructType([
    T.StructField("keys", T.ArrayType(T.StringType())),
    T.StructField("doc_ids", T.ArrayType(T.LongType())),
    T.StructField("n_chars", T.ArrayType(T.LongType())),
])

RS_OUT_SCHEMA = T.StructType([
    T.StructField("lang", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_chars", T.LongType()),
])


def _reservoir_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    import hashlib

    entries = (list(zip(*state.get)) if state.exists else [])
    for pdf in pdfs:
        ok = pdf["text"].notna() & pdf["doc_id"].notna()
        for text, doc_id, n_chars in zip(pdf.loc[ok, "text"],
                                         pdf.loc[ok, "doc_id"],
                                         pdf.loc[ok, "n_chars"]):
            # EXACTLY the batch q_sample_reservoir priority: md5 of the
            # utf-8 text (Spark md5(string) hashes utf-8 bytes), doc_id
            # tiebreak
            h = hashlib.md5(str(text).encode("utf-8")).hexdigest()
            entries.append((h, int(doc_id),
                            None if pd.isna(n_chars) else int(n_chars)))
        # keep only the k smallest after each chunk: state stays O(k)
        entries.sort(key=lambda e: (e[0], e[1]))
        del entries[5:]
    state.update((
        [e[0] for e in entries],
        [e[1] for e in entries],
        [e[2] for e in entries],
    ))
    yield pd.DataFrame(
        [{"lang": key[0], "doc_id": e[1], "n_chars": e[2]}
         for e in entries],
        columns=["lang", "doc_id", "n_chars"])


def reservoir_sample_stream(stream: DataFrame) -> DataFrame:
    """Streaming per-language reservoir sample: the live twin of the
    batch q_sample_reservoir (queries/retrieval.py) — k=5 documents per
    language under the content-derived md5 priority. Bottom-k under a
    content hash is an ORDER-FREE sufficient statistic (the k smallest
    of a union is the k smallest of the per-batch k-smallests), so the
    drained readout equals the batch sample exactly under ANY arrival
    order — the live eval-set / spot-check sample a 100 TB ingest keeps
    current with O(k) state per language and zero re-reads. Rows with
    NULL text carry no content hash and are skipped (the driver corpus
    has none; a production gate rejects them upstream)."""
    s = stream.select("lang", "doc_id", "n_chars", "text")
    return (s.groupBy("lang")
            .applyInPandasWithState(
                _reservoir_update,
                outputStructType=RS_OUT_SCHEMA,
                stateStructType=RS_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


# ---------------------------------------------------------------------------
# Streaming language-mix monitor: Simpson diversity twin (round 12)
# ---------------------------------------------------------------------------

SD_STATE_SCHEMA = T.StructType([
    T.StructField("langs", T.ArrayType(T.StringType())),
    T.StructField("counts", T.ArrayType(T.LongType())),
])

SD_OUT_SCHEMA = T.StructType([
    T.StructField("source", T.StringType()),
    T.StructField("n_docs", T.LongType()),
    T.StructField("n_langs", T.LongType()),
    T.StructField("gini_simpson", T.DoubleType()),
    T.StructField("inv_simpson", T.DoubleType()),
])


def _simpson_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    counts: dict[str, int] = (dict(zip(*state.get)) if state.exists else {})
    for pdf in pdfs:
        ok = pdf["lang"].notna()
        for lang, c in pdf.loc[ok, "lang"].value_counts().items():
            counts[lang] = counts.get(lang, 0) + int(c)
    state.update((list(counts), [counts[k] for k in counts]))
    nn = sum(counts.values())
    pairs = sum(c * (c - 1) for c in counts.values())
    tot = nn * (nn - 1)
    # EXACTLY the batch q_simpson_diversity double tree + rounding
    gini = (None if tot == 0
            else _round_half_up(1.0 - float(pairs) / float(tot), 6) + 0.0)
    inv = (None if tot == 0 or pairs == 0
           else _round_half_up(float(tot) / float(pairs), 6) + 0.0)
    yield pd.DataFrame([{
        "source": key[0],
        "n_docs": nn,
        "n_langs": len(counts),
        "gini_simpson": gini,
        "inv_simpson": inv,
    }])


def simpson_diversity_stream(stream: DataFrame) -> DataFrame:
    """Streaming per-source language-mix monitor: the live twin of the
    batch q_simpson_diversity (queries/monitoring.py). State per source
    is the (lang -> count) map — bounded by the number of languages,
    and a bag of integer counts is an order-free sufficient statistic,
    so the drained readout equals the batch rows bit-for-bit under ANY
    arrival order (the q_hll_union-twin guarantee class). This is the
    ingest-time alarm for a source whose language mix is shifting —
    inv_simpson trending toward 1 means the crawl is collapsing to one
    language — caught live instead of at the next corpus audit."""
    s = stream.select("source", "lang").filter(F.col("lang").isNotNull())
    return (s.groupBy("source")
            .applyInPandasWithState(
                _simpson_update,
                outputStructType=SD_OUT_SCHEMA,
                stateStructType=SD_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


# ---------------------------------------------------------------------------
# Streaming Benford first-digit audit (live twin of the batch q_benford,
# queries/science.py — the forensic integrity screen as an always-on
# ingest monitor: a unit-mangled or fabricated feed bends the digit
# histogram within one micro-batch, long before the next corpus audit).
# ---------------------------------------------------------------------------

BF_STATE_SCHEMA = T.StructType([
    T.StructField("digits", T.ArrayType(T.LongType())),   # 9 counts
])

BF_OUT_SCHEMA = T.StructType([
    T.StructField("digit", T.IntegerType()),
    T.StructField("n_obs", T.LongType()),
    T.StructField("obs_pct", T.DoubleType()),
    T.StructField("exp_pct", T.DoubleType()),
    T.StructField("chi2_total", T.DoubleType()),
])


def _benford_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    import math

    counts = (list(state.get[0]) if state.exists else [0] * 9)
    for pdf in pdfs:
        ok = pdf["value"].notna()
        for v in pdf.loc[ok, "value"]:
            # EXACTLY the batch q_benford digit rule: first decimal digit
            # of the HALF_UP centi-unit integer (never floor(log10));
            # non-positive centi values carry no leading digit
            vc = int(_round_half_up(float(v) * 100))
            if vc >= 1:
                counts[int(str(vc)[0]) - 1] += 1
    state.update((counts,))
    n = sum(counts)
    # the batch report, term for term: nano-quantized chi-square terms
    # summed as exact ints, one double tree per row
    chi2_nano = 0
    for d in range(1, 10):
        p = math.log(1.0 + 1.0 / d) / math.log(10.0)
        if n * p != 0.0:
            t = (counts[d - 1] - n * p) * (counts[d - 1] - n * p) / (n * p)
            chi2_nano += int(_round_half_up(t * 1e9))
    yield pd.DataFrame([{
        "digit": d,
        "n_obs": counts[d - 1],
        "obs_pct": (_round_half_up(counts[d - 1] * 100.0 / n, 4) + 0.0
                    if n else None),
        "exp_pct": _round_half_up(
            math.log(1.0 + 1.0 / d) / math.log(10.0) * 100.0, 4) + 0.0,
        "chi2_total": (_round_half_up(chi2_nano / 1e9, 6) + 0.0
                       if n else None),
    } for d in range(1, 10)])


def benford_stream(stream: DataFrame) -> DataFrame:
    """Streaming Benford's-law audit: the live twin of the batch
    q_benford (queries/science.py). State is the 9-cell first-digit
    histogram — a bounded, ORDER-FREE bag, so the drained 9-row report
    equals the batch rows bit-for-bit under ANY arrival order (the
    q_hll_union-twin guarantee class). The single grouping key is the
    audit scope (the batch query is corpus-global); digit bags are
    mergeable, so a 100 TB deployment shards the key by partition hash
    and merges the 9-vectors at readout — the monitor itself never
    sees more than 9 integers of state per shard."""
    s = (stream.filter(F.col("value").isNotNull())
         .select(F.lit("ALL").alias("scope"), "value"))
    return (s.groupBy("scope")
            .applyInPandasWithState(
                _benford_update,
                outputStructType=BF_OUT_SCHEMA,
                stateStructType=BF_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


# ---------------------------------------------------------------------------
# Streaming Ljung-Box whiteness monitor (live twin of the batch
# q_ljung_box, queries/diagnostics.py — serial dependence appearing in a
# metric stream that used to be white is itself a drift signal, and it
# invalidates the independence assumption every control band rests on).
# ---------------------------------------------------------------------------

LB_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("s", T.StringType()),        # sum x_u   (exact bigint)
    T.StructField("s2", T.StringType()),       # sum x_u^2 (exact bigint)
    T.StructField("c1", T.StringType()),       # sum x_t*x_{t-1}
    T.StructField("c2", T.StringType()),
    T.StructField("c3", T.StringType()),
    T.StructField("head", T.ArrayType(T.LongType())),  # first <=3 values
    T.StructField("tail", T.ArrayType(T.LongType())),  # last  <=3 values
])

LB_OUT_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("n", T.LongType()),
    T.StructField("lb_q1", T.DoubleType()),
    T.StructField("lb_q2", T.DoubleType()),
    T.StructField("lb_q3", T.DoubleType()),
    T.StructField("reject_95", T.BooleanType()),
])


def _ljung_box_update(key, pdfs: Iterator[pd.DataFrame],
                      state: GroupState):
    if state.exists:
        n, s, s2, c1, c2, c3, head, tail = state.get
        s, s2 = int(s), int(s2)
        cks = [int(c1), int(c2), int(c3)]
        head, tail = list(head), list(tail)
    else:
        n, s, s2, cks, head, tail = 0, 0, 0, [0, 0, 0], [], []
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    for v in batch["value"].to_numpy():
        # HALF_UP micro-units, matching the batch F.round(value*1e6)
        x = int(_round_half_up(float(v) * 1e6))
        n += 1
        s += x
        s2 += x * x
        for k in (1, 2, 3):
            if len(tail) >= k:
                cks[k - 1] += x * tail[-k]
        if len(head) < 3:
            head.append(x)
        tail = (tail + [x])[-3:]
    state.update((n, str(s), str(s2),
                  str(cks[0]), str(cks[1]), str(cks[2]), head, tail))

    # the batch deviation algebra, reconstructed from the running
    # sufficient statistics: d_t = n*x_t - S, so
    #   sum(d_t * d_{t-k}) = n^2*C_k - n*S*(2S - head_k - tail_k)
    #                        + (n-k)*S^2
    #   sum(d_t^2)         = n^2*S2 - n*S^2
    # — all exact python ints; then EXACTLY the batch double tree.
    den = n * n * s2 - n * s * s
    rs = []
    for k in (1, 2, 3):
        if n <= k or den == 0:
            rs.append(None)
            continue
        num = (n * n * cks[k - 1]
               - n * s * (2 * s - sum(head[:k]) - sum(tail[-k:]))
               + (n - k) * s * s)
        rs.append(_round_half_up(float(num) / float(den) * 1e12) / 1e12)
    nf = float(n)
    scale = nf * (nf + 2.0)
    ts = [None if r is None else r * r / (nf - k)
          for k, r in zip((1, 2, 3), rs)]
    q1 = None if ts[0] is None else scale * ts[0]
    q2 = None if q1 is None or ts[1] is None else scale * (ts[0] + ts[1])
    q3 = (None if q2 is None or ts[2] is None
          else scale * (ts[0] + ts[1] + ts[2]))
    yield pd.DataFrame([{
        "event_type": key[0],
        "n": n,
        "lb_q1": None if q1 is None else _round_half_up(q1, 6) + 0.0,
        "lb_q2": None if q2 is None else _round_half_up(q2, 6) + 0.0,
        "lb_q3": None if q3 is None else _round_half_up(q3, 6) + 0.0,
        "reject_95": None if q3 is None else bool(q3 > 7.814728),
    }])


def ljung_box_stream(stream: DataFrame) -> DataFrame:
    """Streaming Ljung-Box portmanteau monitor: the live twin of the
    batch q_ljung_box (queries/diagnostics.py). Per-key state is n, the
    exact integer sums S, S2 and the three raw lag products C_k (python
    bigints shipped as strings — micro-unit products overflow int64),
    plus the first/last three values; the deviation-form numerators the
    batch computes windowed are reconstructed in closed form from those
    sufficient statistics, so every readout runs the IDENTICAL double
    tree as the batch query. Exact batch parity when feeds arrive in
    event-time order (micro-batches sorted internally, the EWMA /
    Page-Hinkley guarantee class — lag products are inherently
    order-dependent). O(1) state per stream forever."""
    s = (stream.filter(F.col("value").isNotNull())
         .select("event_type", "ts", "event_id", "value"))
    return (s.groupBy("event_type")
            .applyInPandasWithState(
                _ljung_box_update,
                outputStructType=LB_OUT_SCHEMA,
                stateStructType=LB_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


# ---------------------------------------------------------------------------
# Streaming EMD drift monitor (live twin of the batch q_emd_drift,
# queries/monitoring.py — the transport distance between the pinned
# reference window and the live current window, maintained per
# micro-batch from two bounded bin histograms).
# ---------------------------------------------------------------------------

EMD_STATE_SCHEMA = T.StructType([
    T.StructField("h_ref", T.ArrayType(T.LongType())),   # 20 counts
    T.StructField("h_cur", T.ArrayType(T.LongType())),   # 20 counts
])

EMD_OUT_SCHEMA = T.StructType([
    T.StructField("bin", T.LongType()),
    T.StructField("n_ref", T.LongType()),
    T.StructField("n_cur", T.LongType()),
    T.StructField("emd_term", T.DoubleType()),
    T.StructField("emd_total", T.DoubleType()),
])


def _make_emd_update(mn: float, mx: float, split):
    import math

    width = (mx - mn) / 20.0
    rng = mx - mn

    def _bin(v: float) -> int:
        # EXACTLY the batch rule: LEAST(19, GREATEST(0,
        # COALESCE(FLOOR((v - mn) * 20 / NULLIF(mx - mn, 0)), 0)))
        b = 0 if rng == 0.0 else math.floor((v - mn) * 20.0 / rng)
        return min(19, max(0, int(b)))

    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            h_ref, h_cur = (list(state.get[0]), list(state.get[1]))
        else:
            h_ref, h_cur = [0] * 20, [0] * 20
        for pdf in pdfs:
            ok = pdf["value"].notna()
            for ts, v in zip(pdf.loc[ok, "ts"], pdf.loc[ok, "value"]):
                (h_ref if ts < split else h_cur)[_bin(float(v))] += 1
        state.update((h_ref, h_cur))
        t_ref, t_cur = sum(h_ref), sum(h_cur)
        # the batch readout term for term: integer CDFs, nano-quantized
        # |CDF gap| per bin BEFORE the cross-bin total, width once
        c_ref = c_cur = 0
        d_nanos = []
        for b in range(20):
            c_ref += h_ref[b]
            c_cur += h_cur[b]
            gap = abs((c_ref / t_ref if t_ref else 0.0)
                      - (c_cur / t_cur if t_cur else 0.0))
            d_nanos.append(int(_round_half_up(gap * 1e9)))
        total = sum(d_nanos)
        yield pd.DataFrame([{
            "bin": b,
            "n_ref": h_ref[b],
            "n_cur": h_cur[b],
            "emd_term": _round_half_up(d_nanos[b] * width / 1e9, 6) + 0.0,
            "emd_total": _round_half_up(total * width / 1e9, 6) + 0.0,
        } for b in range(20)])

    return _update


def emd_drift_stream(stream: DataFrame, mn: float, mx: float,
                     split: str = "2024-01-16 00:00:00") -> DataFrame:
    """Streaming EMD (1-D Wasserstein) drift monitor: the live twin of
    the batch q_emd_drift (queries/monitoring.py). State is two 20-bin
    integer histograms — bounded bags, order-free — so the drained
    20-row report equals the batch rows bit-for-bit under ANY arrival
    order (the q_hll_union-twin guarantee class), PROVIDED the bin
    edges (mn, mx) are pinned: the batch derives them from the data,
    a live monitor pins them from the reference window the way every
    production drift monitor does (re-binning a stream retroactively
    would need the raw history). Rows with timestamps before ``split``
    accumulate into the reference histogram, the rest into the current
    one — so the same twin also backfills a late-arriving reference.

    100 TB story: histograms merge across shards (40 integers per
    shard); the readout is O(20) per micro-batch; no raw values are
    retained."""
    import pandas as _pd

    s = (stream.filter(F.col("value").isNotNull())
         .select(F.lit("ALL").alias("scope"), "ts", "value"))
    return (s.groupBy("scope")
            .applyInPandasWithState(
                _make_emd_update(mn, mx, _pd.Timestamp(split)),
                outputStructType=EMD_OUT_SCHEMA,
                stateStructType=EMD_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


# ---------------------------------------------------------------------------
# Streaming Hellinger drift monitor (live twin of the batch
# q_hellinger_drift, queries/assurance.py — same pinned-edge histogram
# state as the EMD twin, different readout: the bounded [0,1] overlap
# distance instead of the transport distance).
# ---------------------------------------------------------------------------

HD_OUT_SCHEMA = T.StructType([
    T.StructField("bin", T.LongType()),
    T.StructField("n_ref", T.LongType()),
    T.StructField("n_cur", T.LongType()),
    T.StructField("bc_term", T.DoubleType()),
    T.StructField("hellinger", T.DoubleType()),
    T.StructField("bhattacharyya", T.DoubleType()),
])


def _make_hellinger_update(mn: float, mx: float, split):
    import math

    rng = mx - mn

    def _bin(v: float) -> int:
        # EXACTLY the batch rule (shared with the EMD twin)
        b = 0 if rng == 0.0 else math.floor((v - mn) * 20.0 / rng)
        return min(19, max(0, int(b)))

    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            h_ref, h_cur = (list(state.get[0]), list(state.get[1]))
        else:
            h_ref, h_cur = [0] * 20, [0] * 20
        for pdf in pdfs:
            ok = pdf["value"].notna()
            for ts, v in zip(pdf.loc[ok, "ts"], pdf.loc[ok, "value"]):
                (h_ref if ts < split else h_cur)[_bin(float(v))] += 1
        state.update((h_ref, h_cur))
        t_ref, t_cur = sum(h_ref), sum(h_cur)
        # the batch readout term for term: pico-quantized sqrt(p*q)
        # BEFORE the cross-bin sum; NULL when a window is empty
        if t_ref and t_cur:
            bc_picos = [int(_round_half_up(
                math.sqrt((h_ref[b] / t_ref) * (h_cur[b] / t_cur)) * 1e12))
                for b in range(20)]
            bc_sum = sum(bc_picos)
            hel = _round_half_up(
                math.sqrt(max(0.0, 1.0 - bc_sum / 1e12)), 6) + 0.0
            bha = _round_half_up(
                -math.log(max(bc_sum, 1) / 1e12), 6) + 0.0
        else:
            bc_picos, hel, bha = [None] * 20, None, None
        yield pd.DataFrame([{
            "bin": b,
            "n_ref": h_ref[b],
            "n_cur": h_cur[b],
            "bc_term": (None if bc_picos[b] is None
                        else _round_half_up(bc_picos[b] / 1e12, 9) + 0.0),
            "hellinger": hel,
            "bhattacharyya": bha,
        } for b in range(20)])

    return _update


def hellinger_drift_stream(stream: DataFrame, mn: float, mx: float,
                           split: str = "2024-01-16 00:00:00"
                           ) -> DataFrame:
    """Streaming Hellinger/Bhattacharyya drift monitor: the live twin
    of the batch q_hellinger_drift (queries/assurance.py). Identical
    state to the EMD twin — two 20-bin integer histograms per key,
    bounded order-free bags with pinned (mn, mx) edges — so the
    drained 20-row report equals the batch rows bit-for-bit under ANY
    arrival order. Run both twins off one feed for the two
    complementary readouts: EMD says HOW FAR mass moved along the
    value axis, Hellinger says how much the densities stopped
    overlapping (bounded [0,1], comparable across metrics)."""
    import pandas as _pd

    s = (stream.filter(F.col("value").isNotNull())
         .select(F.lit("ALL").alias("scope"), "ts", "value"))
    return (s.groupBy("scope")
            .applyInPandasWithState(
                _make_hellinger_update(mn, mx, _pd.Timestamp(split)),
                outputStructType=HD_OUT_SCHEMA,
                stateStructType=EMD_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


# ---------------------------------------------------------------------------
# Streaming temperature-mix monitor (live twin of the batch
# q_mix_temperature, queries/assurance.py — the sampling-policy weights
# kept current as documents arrive; a language's upsample factor
# drifting is the signal to re-cut the training mix).
# ---------------------------------------------------------------------------

MT_STATE_SCHEMA = T.StructType([
    T.StructField("langs", T.ArrayType(T.StringType())),
    T.StructField("toks", T.ArrayType(T.LongType())),
    T.StructField("docs", T.ArrayType(T.LongType())),
])

MT_OUT_SCHEMA = T.StructType([
    T.StructField("lang", T.StringType()),
    T.StructField("n_docs", T.LongType()),
    T.StructField("n_tok", T.LongType()),
    T.StructField("natural_share", T.DoubleType()),
    T.StructField("temp_share", T.DoubleType()),
    T.StructField("upsample", T.DoubleType()),
])


def _mix_temperature_update(key, pdfs: Iterator[pd.DataFrame],
                            state: GroupState):
    import math
    import re

    tok_re = re.compile(r"\s+")
    if state.exists:
        langs, toks, docs = state.get
        agg = {lg: [t, d] for lg, t, d in zip(langs, toks, docs)}
    else:
        agg = {}
    for pdf in pdfs:
        ok = pdf["lang"].notna()
        for lang, text in zip(pdf.loc[ok, "lang"], pdf.loc[ok, "text"]):
            # EXACTLY the batch tokenizer: split on \s+, drop empties
            n = (len([x for x in tok_re.split(text) if x != ""])
                 if text is not None else 0)
            t, d = agg.get(lang, [0, 0])
            agg[lang] = [t + n, d + 1]
    state.update((list(agg), [v[0] for v in agg.values()],
                  [v[1] for v in agg.values()]))
    total = sum(v[0] for v in agg.values())
    # the batch readout term for term: pico-quantized sqrt shares
    # BEFORE the normalization sum (q_mix_temperature's double tree)
    q_pico = {lg: int(_round_half_up(math.sqrt(v[0] / total) * 1e12))
              for lg, v in agg.items()} if total else {}
    qs = sum(q_pico.values())
    rows = []
    for lg, (t, d) in sorted(agg.items()):
        nat = t / total if total else None
        tsh = q_pico[lg] / qs if qs else None
        rows.append({
            "lang": lg, "n_docs": d, "n_tok": t,
            "natural_share": (_round_half_up(nat, 9) + 0.0
                              if nat is not None else None),
            "temp_share": (_round_half_up(tsh, 9) + 0.0
                           if tsh is not None else None),
            "upsample": (_round_half_up(tsh / nat, 6) + 0.0
                         if nat else None),
        })
    yield pd.DataFrame(rows)


def mix_temperature_stream(stream: DataFrame) -> DataFrame:
    """Streaming temperature-mix monitor: the live twin of the batch
    q_mix_temperature (queries/assurance.py). State is the
    (lang -> token count, doc count) bag under the single policy key —
    bounded by the number of languages and ORDER-FREE, so the drained
    per-language rows equal the batch rows bit-for-bit under ANY
    arrival order (the simpson-twin guarantee class). This is the
    ingest-time view of the sampling policy: a low-resource language's
    upsample factor collapsing toward 1 means the crawl caught up; a
    high-resource language's share running away means the next
    training mix needs re-cutting."""
    s = (stream.filter(F.col("lang").isNotNull())
         .select(F.lit("ALL").alias("scope"), "lang", "text"))
    return (s.groupBy("scope")
            .applyInPandasWithState(
                _mix_temperature_update,
                outputStructType=MT_OUT_SCHEMA,
                stateStructType=MT_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


# ---------------------------------------------------------------------------
# Streaming parquet-footer profiler: scan-planning stats that update as
# files land (round 13; the live twin of the batch q_parquet_profile,
# queries/profiling.py)
# ---------------------------------------------------------------------------

PQPROF_STATE_SCHEMA = T.StructType([
    T.StructField("n_chunks", T.LongType()),
    T.StructField("num_values", T.LongType()),
    T.StructField("compressed", T.LongType()),
    T.StructField("uncompressed", T.LongType()),
])

PQPROF_OUT_SCHEMA = T.StructType([
    T.StructField("column_name", T.StringType()),
    T.StructField("n_chunks", T.LongType()),
    T.StructField("num_values", T.LongType()),
    T.StructField("compressed_bytes", T.LongType()),
    T.StructField("uncompressed_bytes", T.LongType()),
    T.StructField("ratio", T.DoubleType()),
])


def _pqprof_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    n, nv, cb, ub = (state.get if state.exists else (0, 0, 0, 0))
    for pdf in pdfs:
        n += len(pdf)
        nv += int(pdf["num_values"].sum())
        cb += int(pdf["compressed_bytes"].sum())
        ub += int(pdf["uncompressed_bytes"].sum())
    state.update((n, nv, cb, ub))
    yield pd.DataFrame([{
        "column_name": key[0],
        "n_chunks": n,
        "num_values": nv,
        "compressed_bytes": cb,
        "uncompressed_bytes": ub,
        "ratio": round(ub / cb, 6) if cb else None,
    }], columns=[f.name for f in PQPROF_OUT_SCHEMA.fields])


def parquet_profile_stream(stream: DataFrame) -> DataFrame:
    """Streaming scan-planning profiler: the live twin of the batch
    q_parquet_profile footer sweep (queries/profiling.py). Input is a
    manifest feed — a stream whose rows carry parquet file ``path``s
    (a file-arrival queue, an ingest ledger). Stage 1 is a STATELESS
    mapInPandas that opens each newly-arrived file's footer
    executor-side (pyarrow, a few KB of metadata per file — the
    payload never moves) and emits one row per column chunk; a path
    that fails to open or parse is dropped whole, because a manifest
    feed outlives any one corrupt file. Stage 2 keeps per-COLUMN
    running totals in applyInPandasWithState: chunk count, value count,
    and compressed/uncompressed byte sums — four integers per column,
    order-free sufficient statistics, so the drained totals equal the
    batch footer sweep over the same file set bit-for-bit under ANY
    arrival order or batching (the hll/simpson twin guarantee class).

    Scale: footer reads distribute across executors with the manifest
    rows; state is O(#columns) forever — the running answer to "is
    this table's layout still scannable" (row-group sizes feeding
    ``files.maxPartitionBytes``, a ratio near 1.0 flagging an
    incompressible column) without re-sweeping 100k files."""

    def footer_kernel(batches: Iterator[pd.DataFrame]) \
            -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.parquet as pq
        cols = ["column_name", "num_values", "compressed_bytes",
                "uncompressed_bytes"]
        for pdf in batches:
            rows: list[tuple] = []
            for p in pdf["path"]:
                try:
                    md = pq.ParquetFile(str(p)).metadata
                    for rg in range(md.num_row_groups):
                        rgm = md.row_group(rg)
                        for ci in range(rgm.num_columns):
                            c = rgm.column(ci)
                            rows.append((c.path_in_schema,
                                         int(c.num_values),
                                         int(c.total_compressed_size),
                                         int(c.total_uncompressed_size)))
                except (OSError, ValueError, pa.ArrowException):
                    continue  # whole-file corrupt drop (triage)
            yield pd.DataFrame(rows, columns=cols)

    chunks = stream.select(F.col("path").cast("string").alias("path")) \
        .mapInPandas(footer_kernel, schema=(
            "column_name string, num_values long, "
            "compressed_bytes long, uncompressed_bytes long"))
    return (chunks.groupBy("column_name")
            .applyInPandasWithState(
                _pqprof_update,
                outputStructType=PQPROF_OUT_SCHEMA,
                stateStructType=PQPROF_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))
