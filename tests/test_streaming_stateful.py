"""applyInPandasWithState: running per-key moments across micro-batches
equal the single-pass batch statistics (merge-order invariance)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from telescope_data_pipeline_spark.sources import load_table
from telescope_data_pipeline_spark.streaming.jobs import read_event_stream
from telescope_data_pipeline_spark.streaming.stateful import running_stats

SF = "/root/testdata/sf0.001"


def test_running_stats_converge_to_batch(spark):
    d = tempfile.mkdtemp(prefix="state_")
    load_table(spark, SF, "events").repartition(8).write.mode("overwrite").parquet(d)
    stream = read_event_stream(spark, d, max_files_per_trigger=2)  # ≥4 batches
    q = (running_stats(stream)
         .writeStream.format("memory").queryName("rs").outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3  # state really crossed batches

    # latest emitted row per key == batch-mode ground truth
    latest = spark.sql("""
        SELECT user_id, count, mean, std FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY count DESC) rn
          FROM rs) WHERE rn = 1
    """).toPandas().set_index("user_id")
    want = (spark.read.parquet(d).groupBy("user_id")
            .agg(F.count("value").alias("count"), F.avg("value").alias("mean"),
                 F.stddev_samp("value").alias("std"))
            ).toPandas().set_index("user_id")
    assert set(latest.index) == set(want.index)
    for uid in want.index:
        assert latest.loc[uid, "count"] == want.loc[uid, "count"]
        assert abs(latest.loc[uid, "mean"] - want.loc[uid, "mean"]) < 1e-9
        assert abs(latest.loc[uid, "std"] - want.loc[uid, "std"]) < 1e-9


def test_sessionize_with_timeout_matches_session_window(spark):
    """Event-time-timeout sessionization == batch session_window, with
    sessions emitted exactly once: run the stream over the real events,
    then restart from the same checkpoint with two far-future sentinel
    events so the watermark passes every real session's expiry and the
    EventTimeTimeout callback flushes still-open state."""
    import glob
    import os

    import pandas as pd

    from telescope_data_pipeline_spark.streaming.stateful import (
        sessionize_with_timeout,
    )

    gap = "12 hours"
    d = tempfile.mkdtemp(prefix="sess_")
    ckpt = tempfile.mkdtemp(prefix="sess_ckpt_")
    events = load_table(spark, SF, "events")
    # Arrival order must roughly follow event time for a watermark to
    # make sense (as in any real log): write six sequential 5-day
    # slices (FileStreamSource processes files in modification-time
    # order), and give the watermark a delay wider than the in-slice
    # disorder.
    for w in range(6):
        (events.filter(
            (F.dayofmonth("ts") > 5 * w) & (F.dayofmonth("ts") <= 5 * (w + 1)))
         .coalesce(1).write.mode("append").parquet(d))

    out = tempfile.mkdtemp(prefix="sess_out_")

    def run(max_files: int) -> None:
        stream = read_event_stream(spark, d, max_files_per_trigger=max_files)
        q = (sessionize_with_timeout(stream, gap=gap)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(180)

    run(2)

    # Flush: two sentinel events far past every session expiry, in two
    # files -> two triggers, so the watermark advance from the first is
    # in force when the second batch's timeout processing runs.
    max_ts = events.agg(F.max("ts")).first()[0]
    for i, days in enumerate((5, 10)):
        (spark.createDataFrame(
            [(10_000_000 + i, max_ts + pd.Timedelta(days=days), 999999, "flush",
              0.0, "{}")],
            schema=events.schema)
         .coalesce(1).write.mode("append").parquet(d))
    run(1)

    got = (spark.read.parquet(out)
           .filter("user_id < 999999").toPandas()
           .sort_values(["user_id", "session_start"]).reset_index(drop=True))

    want = (spark.read.parquet(d).filter("user_id < 999999")
            .groupBy("user_id", F.session_window("ts", gap))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.coalesce("value", F.lit(0.0))).alias("total_value"))
            .select("user_id",
                    F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "n_events", "total_value")
            .toPandas()
            .sort_values(["user_id", "session_start"]).reset_index(drop=True))

    assert len(got) == len(want), (len(got), len(want))
    assert (got["user_id"] == want["user_id"]).all()
    assert (got["session_start"] == want["session_start"]).all()
    assert (got["session_end"] == want["session_end"]).all()
    assert (got["n_events"] == want["n_events"]).all()
    assert (got["total_value"] - want["total_value"]).abs().max() < 1e-6

    # exactly-once: no session emitted twice across the two runs
    dup = got.duplicated(["user_id", "session_start"]).sum()
    assert dup == 0
    # cleanup the sentinel files so reruns from a fresh checkpoint see
    # the same directory contents (tempdirs are per-test anyway)
    for f in glob.glob(f"{d}/*.parquet"):
        os.path.getsize(f)


def test_streaming_heavy_hitters_guarantee(spark):
    """Per-series Misra-Gries state across micro-batches: after the
    stream drains, every item with true frequency > n/k must be present
    in the final summary with count_lower >= freq - n/(k+1), and every
    reported lower bound must be <= the true count — regardless of how
    rows split across batches."""
    import tempfile

    from telescope_data_pipeline_spark.streaming.stateful import (
        heavy_hitters_stream,
    )

    d = tempfile.mkdtemp(prefix="hh_")
    (load_table(spark, SF, "events").repartition(8)
     .write.mode("overwrite").parquet(d))
    stream = read_event_stream(spark, d, max_files_per_trigger=2)
    k = 8
    q = (heavy_hitters_stream(stream, "event_type", "user_id", k=k)
         .writeStream.format("memory").queryName("hh").outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3  # state crossed batches

    latest = spark.sql("""
        SELECT series, item, count_lower, n FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY series, item
                                       ORDER BY n DESC) rn FROM hh)
        WHERE rn = 1
    """).toPandas()
    truth = (spark.read.parquet(d)
             .groupBy(F.col("event_type").cast("string").alias("series"),
                      F.col("user_id").cast("string").alias("item"))
             .agg(F.count(F.lit(1)).alias("c"))).toPandas()
    n_per = truth.groupby("series")["c"].sum().to_dict()
    summary = {(r.series, r.item): r.count_lower
               for r in latest.itertuples()}
    # the summary rows shown are the FINAL state per series: keep only
    # rows from the max-n emission of each series
    for r in truth.itertuples():
        n = n_per[r.series]
        if r.c * k > n:  # true heavy hitter
            assert (r.series, r.item) in summary, (r.series, r.item, r.c, n)
            assert summary[(r.series, r.item)] >= r.c - n / (k + 1)
        if (r.series, r.item) in summary:  # lower bound never overshoots
            assert summary[(r.series, r.item)] <= r.c


def test_enforce_quota_matches_batch_rank(spark):
    """Quota admission across micro-batches == the batch windowed-rank
    reference (first `quota` rows per (source, 6-hour window) in
    (ts, event_id) order) when arrival follows event time — the
    contract the operator documents."""
    import tempfile

    from pyspark.sql import Window as W

    from telescope_data_pipeline_spark.streaming.stateful import enforce_quota

    d = tempfile.mkdtemp(prefix="quota_")
    ev = load_table(spark, SF, "events").orderBy("ts", "event_id")
    rows = ev.count()
    # four sequential event-time slices -> four in-order micro-batches
    quarter = rows // 4 + 1
    ranked = ev.withColumn("_i", F.monotonically_increasing_id())
    collected = ev.collect()
    import pandas as pd
    pdf = pd.DataFrame([r.asDict() for r in collected])
    for c in range(4):
        part = pdf.iloc[c * quarter:(c + 1) * quarter]
        if len(part):
            spark.createDataFrame(part, schema=ev.schema) \
                .coalesce(1).write.mode("append" if c else "overwrite").parquet(d)

    quota = 3
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    q = (enforce_quota(stream, "event_type", quota=quota, window="6 hours")
         .writeStream.format("memory").queryName("quota").outputMode("update")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    got = {r.event_id: r.admitted for r in spark.sql(
        "SELECT event_id, admitted FROM quota").collect()}

    win = (F.unix_micros("ts") - F.unix_micros("ts") % 21_600_000_000)
    rk = F.row_number().over(
        W.partitionBy("event_type", win).orderBy("ts", "event_id"))
    want = {r.event_id: r.rk <= quota for r in
            spark.read.parquet(d).select("event_id", "event_type", "ts",
                                         rk.alias("rk")).collect()}
    assert got == want
    assert sum(got.values()) < len(got)  # the quota actually bit


def test_enforce_quota_rejects_closed_window_stragglers(spark, tmp_path):
    """A late event whose window ALREADY ROLLED OVER must be rejected
    without consuming the current window's budget (round-6 advisor:
    it was being admitted against — and charged to — the wrong
    window)."""
    import pandas as pd

    from telescope_data_pipeline_spark.streaming.stateful import (
        enforce_quota,
    )

    d = tmp_path / "ev"
    d.mkdir()

    def ev(i, minute_offset):
        return {"event_id": i,
                "ts": pd.Timestamp("2025-01-01 10:00:00")
                + pd.Timedelta(minutes=minute_offset),
                "user_id": 1, "event_type": "a", "value": 1.0,
                "props": "{}"}

    # batch 0: two W1 admissions fill quota minus one; one W2 rollover
    pd.DataFrame([ev(1, 0), ev(2, 10), ev(3, 60)]).to_parquet(
        d / "b0.parquet", coerce_timestamps="us",
        allow_truncated_timestamps=True)
    # batch 1: straggler back in W1 (closed) + a live W2 event
    pd.DataFrame([ev(4, 20), ev(5, 65)]).to_parquet(
        d / "b1.parquet", coerce_timestamps="us",
        allow_truncated_timestamps=True)

    stream = read_event_stream(spark, str(d), max_files_per_trigger=1)
    q = (enforce_quota(stream, "event_type", quota=2, window="1 hour")
         .writeStream.format("memory").queryName("quota_late")
         .outputMode("update").trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    rows = {r.event_id: (r.admitted, r.used_after) for r in spark.sql(
        "SELECT event_id, admitted, used_after FROM quota_late").collect()}
    assert rows[1] == (True, 1) and rows[2] == (True, 2)
    assert rows[3] == (True, 1)            # W2 rollover reset the budget
    assert rows[4] == (False, 1)           # closed-window straggler:
    assert rows[5] == (True, 2)            # ...did NOT consume a W2 slot


def test_cusum_drift_alarm_fires_after_shift_only(spark):
    """CUSUM change detection: a planted +2-sigma mean shift must alarm
    shortly AFTER the shift point and never before; an undrifted series
    must stay silent."""
    import tempfile

    import numpy as np
    import pandas as pd

    from telescope_data_pipeline_spark.streaming.stateful import detect_drift

    rng = np.random.default_rng(3)
    t0 = pd.Timestamp("2024-01-01")
    rows = []
    for i in range(400):
        ts = t0 + pd.Timedelta(seconds=i)
        # drifting series: mean 10 -> 14 (2 sigma) at i=250
        drift_val = rng.normal(10 if i < 250 else 14, 2.0)
        rows.append(("drifting", i, ts, float(drift_val)))
        rows.append(("steady", 1000 + i, ts, float(rng.normal(10, 2.0))))
    pdf = pd.DataFrame(rows, columns=["event_type", "event_id", "ts", "value"])

    d = tempfile.mkdtemp(prefix="cusum_")
    # two sequential chunks so the detector state crosses a batch edge
    for c in range(2):
        spark.createDataFrame(pdf.iloc[c * 400:(c + 1) * 400]) \
            .coalesce(1).write.mode("append" if c else "overwrite").parquet(d)

    stream = (spark.readStream
              .schema("event_type string, event_id long, ts timestamp, "
                      "value double")
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (detect_drift(stream, "event_type", baseline_n=100,
                      k_sigmas=0.5, h_sigmas=5.0)
         .writeStream.format("memory").queryName("cusum").outputMode("update")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)

    alarms = spark.sql(
        "SELECT series, ts FROM cusum WHERE alarm").collect()
    by_series = {r.series: r.ts for r in alarms}
    assert "steady" not in by_series, by_series
    assert "drifting" in by_series
    fired_at = (pd.Timestamp(by_series["drifting"]) - t0).total_seconds()
    assert 250 <= fired_at <= 290, fired_at  # after the shift, promptly


def test_running_stats_tws_matches_legacy_and_batch(spark):
    """transformWithStateInPandas twin: converged per-key moments equal
    the batch ground truth (and therefore the applyInPandasWithState
    twin, pinned by test_running_stats_converge_to_batch).

    The transformWithState state server speaks protobuf; environments
    without google.protobuf (like this container) can't run it, so the
    test is gated the same way as the astropy-only tests."""
    pytest.importorskip("google.protobuf")
    from telescope_data_pipeline_spark.streaming.stateful import running_stats_tws

    d = tempfile.mkdtemp(prefix="tws_")
    load_table(spark, SF, "events").repartition(8).write.mode("overwrite").parquet(d)
    stream = read_event_stream(spark, d, max_files_per_trigger=2)
    q = (running_stats_tws(stream)
         .writeStream.format("memory").queryName("rs_tws").outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3  # state really crossed batches

    latest = spark.sql("""
        SELECT user_id, count, mean, std FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY count DESC) rn
          FROM rs_tws) WHERE rn = 1
    """).toPandas().set_index("user_id")
    want = (spark.read.parquet(d).groupBy("user_id")
            .agg(F.count("value").alias("count"), F.avg("value").alias("mean"),
                 F.stddev_samp("value").alias("std"))
            ).toPandas().set_index("user_id")
    assert set(latest.index) == set(want.index)
    for uid in want.index:
        assert latest.loc[uid, "count"] == want.loc[uid, "count"]
        assert abs(latest.loc[uid, "mean"] - want.loc[uid, "mean"]) < 1e-9
        assert abs(latest.loc[uid, "std"] - want.loc[uid, "std"]) < 1e-9


@pytest.mark.full
def test_last_touch_attribution_matches_batch(spark):
    """Streaming last-touch attribution over time-ordered micro-batches
    equals the batch window form (q_attribution), and every purchase is
    attributed exactly once."""
    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.stateful import (
        last_touch_attribution,
    )

    d = tempfile.mkdtemp(prefix="attr_")
    ev = load_table(spark, SF, "events").orderBy("ts", "event_id")
    # four sequential time-slice appends -> files arrive in event-time
    # order, so maxFilesPerTrigger=1 replays history in order (the
    # operator documents the watermark assumption for late touches)
    ts_cut = [r["ts"] for r in ev.select("ts").collect()]
    cuts = [ts_cut[len(ts_cut) // 4], ts_cut[len(ts_cut) // 2],
            ts_cut[3 * len(ts_cut) // 4]]
    lo = None
    for hi in cuts + [None]:
        sl = ev
        if lo is not None:
            sl = sl.filter(F.col("ts") > lo)
        if hi is not None:
            sl = sl.filter(F.col("ts") <= hi)
        sl.coalesce(1).write.mode("append").parquet(f"{d}/events.parquet")
        lo = hi
    stream = read_event_stream(spark, f"{d}/events.parquet",
                               max_files_per_trigger=1)
    q = (last_touch_attribution(stream)
         .writeStream.format("memory").queryName("attr")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3  # state genuinely crossed batches

    got = (spark.sql("SELECT channel, COUNT(*) AS n_purchases FROM attr "
                     "GROUP BY channel").toPandas()
           .set_index("channel")["n_purchases"].to_dict())
    want = {r["channel"]: r["n_purchases"]
            for r in get("q_attribution").fn(spark, d).collect()}
    assert got == want
    n_purch = load_table(spark, d, "events") \
        .filter("event_type = 'purchase'").count()
    assert spark.sql("SELECT COUNT(*) n FROM attr").collect()[0]["n"] \
        == n_purch


def test_cuped_stream_readout_matches_batch(spark):
    """Streaming CUPED (r9 VERDICT item 6): per-user integer state +
    delta-folded pooled statistics across >=3 micro-batches must
    reproduce the batch q_cuped arm readout exactly — the deltas
    telescope, so the accumulated sufficient statistics are
    bit-identical to the single-pass batch sums."""
    import pandas as pd

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.stateful import (
        CupedAccumulator,
        cuped_user_deltas,
    )

    d = tempfile.mkdtemp(prefix="cuped_")
    load_table(spark, SF, "events").repartition(8).write.mode(
        "overwrite").parquet(d)
    stream = read_event_stream(spark, d, max_files_per_trigger=2)

    acc = CupedAccumulator()
    q = (cuped_user_deltas(stream)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: acc.update(df.toPandas()))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3  # state really crossed batches

    got = acc.readout().set_index("arm")
    # q_cuped loads "<sf_dir>/events.parquet": point it at a dir whose
    # events.parquet is the streamed data
    sf_like = tempfile.mkdtemp(prefix="cuped_sf_")
    import shutil

    shutil.copytree(d, f"{sf_like}/events.parquet")
    want = get("q_cuped").fn(spark, sf_like).toPandas().set_index("arm")
    assert set(got.index) == set(want.index)
    for arm in want.index:
        assert got.loc[arm, "n_users"] == want.loc[arm, "n_users"]
        for c in ("mean_y", "mean_y_cuped", "theta"):
            assert abs(got.loc[arm, c] - want.loc[arm, c]) < 1e-6, c
        assert abs(got.loc[arm, "var_reduction_pct"]
                   - want.loc[arm, "var_reduction_pct"]) < 1e-3


def test_sprt_stream_matches_batch_decision(spark):
    """Streaming SPRT: time-ordered micro-batches (globally sorted
    rows chunked into sequential files) must freeze the SAME decision
    at the SAME observation index as the batch q_sprt — the LLR is
    integer counts times constant logs, so the crossing point admits
    no float drift. Later batches keep counting n_obs but the decision
    stays frozen."""
    import os
    import shutil

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.stateful import (
        sprt_decisions,
    )

    d = tempfile.mkdtemp(prefix="sprt_")
    ev = (load_table(spark, SF, "events")
          .orderBy("ts", "event_id").toPandas())
    k = len(ev) // 3
    for i, chunk in enumerate((ev[:k], ev[k:2 * k], ev[2 * k:])):
        p = f"{d}/part-{i}.parquet"
        chunk.to_parquet(p, engine="pyarrow", coerce_timestamps="us",
                         index=False)
        os.utime(p, (1700000000 + i, 1700000000 + i))  # time-ordered
    stream = read_event_stream(spark, d, max_files_per_trigger=1)

    latest: dict = {}
    q = (sprt_decisions(stream)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: latest.update(
             {r["event_type"]: r for _, r in df.toPandas().iterrows()}))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3  # decisions crossed micro-batches

    sf_like = tempfile.mkdtemp(prefix="sprt_sf_")
    shutil.copytree(d, f"{sf_like}/events.parquet")
    want = get("q_sprt").fn(spark, sf_like).toPandas().set_index(
        "event_type")
    assert set(latest) == set(want.index)
    for et, row in latest.items():
        w = want.loc[et]
        assert row["decision"] == w["decision"], et
        assert row["n_obs"] == w["n_obs"], et
        if row["decision"] != "continue":
            assert row["n_at_decision"] == w["n_at_decision"], et
            assert abs(row["llr_at_decision"] - w["llr_at_decision"]) \
                < 1e-9, et


def test_ewma_stream_matches_batch(spark):
    """Streaming EWMA: time-ordered micro-batches must reproduce the
    batch q_ewma value exactly once the stream drains — daily means
    are exact micro-unit integers and the per-closed-day fold is the
    identical IEEE double sequence, so no tolerance is needed beyond
    the shared 6-digit rounding."""
    import os
    import shutil

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.stateful import ewma_daily

    d = tempfile.mkdtemp(prefix="ewma_")
    ev = (load_table(spark, SF, "events")
          .orderBy("ts", "event_id").toPandas())
    k = len(ev) // 3
    for i, chunk in enumerate((ev[:k], ev[k:2 * k], ev[2 * k:])):
        p = f"{d}/part-{i}.parquet"
        chunk.to_parquet(p, engine="pyarrow", coerce_timestamps="us",
                         index=False)
        os.utime(p, (1700000000 + i, 1700000000 + i))
    stream = read_event_stream(spark, d, max_files_per_trigger=1)

    latest: dict = {}
    q = (ewma_daily(stream)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: latest.update(
             {r["event_type"]: r for _, r in df.toPandas().iterrows()}))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3

    sf_like = tempfile.mkdtemp(prefix="ewma_sf_")
    shutil.copytree(d, f"{sf_like}/events.parquet")
    want = get("q_ewma").fn(spark, sf_like).toPandas().set_index(
        "event_type")
    assert set(latest) == set(want.index)
    for et, row in latest.items():
        assert row["n_days"] == want.loc[et, "n_days"], et
        assert row["ewma"] == want.loc[et, "ewma"], et


def _write_events(rows, d, n_files=1):
    """Write synthetic event rows (events-table schema) as one or more
    time-ordered parquet files under ``d``."""
    import os

    import numpy as np
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                      "event_type", "value", "props"])
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pdf["event_id"] = pdf["event_id"].astype(np.int64)
    pdf["user_id"] = pdf["user_id"].astype("Int64")
    k = max(1, -(-len(pdf) // n_files))
    chunks = [pdf.iloc[i:i + k] for i in range(0, len(pdf), k)]
    for i, chunk in enumerate(chunks):
        p = f"{d}/part-{i}.parquet"
        chunk.to_parquet(p, engine="pyarrow", coerce_timestamps="us",
                         index=False)
        os.utime(p, (1700000000 + i, 1700000000 + i))


def test_ewma_half_up_boundary_matches_batch(spark):
    """r10 ADVICE (medium): the streaming EWMA twin must round with
    F.round's HALF_UP semantics, not Python round()/np.rint half-even.
    Three planted boundaries, one per rounding site: (a) a 2-event day
    whose micro-sum is odd (mean 2.5 -> 3, half-even says 2); (b) a raw
    value landing exactly on .5 micro-units; (c) a final EWMA of 4.5
    micro-units whose 6-digit rounding differs between modes."""
    import shutil

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.stateful import ewma_daily

    rows = [
        # (a) day-mean boundary: micro sum 1+4=5 over 2 events -> 2.5
        (1, "2024-01-01 01:00:00", 1, "a", 0.000001, None),
        (2, "2024-01-01 02:00:00", 1, "a", 0.000004, None),
        (3, "2024-01-02 01:00:00", 1, "a", 0.000009, None),
        # (b) micro-quantization boundary: value*1e6 == 2.5 exactly
        (4, "2024-01-01 01:00:00", 1, "b", 0.0000025, None),
        (5, "2024-01-02 01:00:00", 1, "b", 0.000008, None),
        # (c) final-rounding boundary: mus 2 then 7 -> ewma 4.5 micro
        (6, "2024-01-01 01:00:00", 1, "c", 0.000002, None),
        (7, "2024-01-01 02:00:00", 1, "c", 0.000002, None),
        (8, "2024-01-02 01:00:00", 1, "c", 0.000007, None),
    ]
    d = tempfile.mkdtemp(prefix="ewma_hup_")
    _write_events(rows, d, n_files=2)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)

    latest: dict = {}
    q = (ewma_daily(stream)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: latest.update(
             {r["event_type"]: r for _, r in df.toPandas().iterrows()}))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    sf_like = tempfile.mkdtemp(prefix="ewma_hup_sf_")
    shutil.copytree(d, f"{sf_like}/events.parquet")
    want = get("q_ewma").fn(spark, sf_like).toPandas().set_index(
        "event_type")
    assert set(latest) == set(want.index)
    for et in want.index:
        assert latest[et]["n_days"] == want.loc[et, "n_days"], et
        assert latest[et]["ewma"] == want.loc[et, "ewma"], et
    # the planted boundaries actually bite: half-even would emit
    # (2+9)/2=5.5e-6 for 'a' instead of (3+9)/2=6.0e-6, and 4e-6
    # for 'c' instead of 5e-6
    assert want.loc["a", "ewma"] == 6e-06
    assert want.loc["c", "ewma"] == 5e-06


def test_cuped_stream_skips_null_ts_rows(spark):
    """r10 ADVICE (low): a purchase row with NULL ts yields pre=NA;
    the stream must EXCLUDE it from both periods (batch q_cuped's
    one-sided F.when semantics), not crash on the NA boolean mask."""
    import shutil

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.stateful import (
        CupedAccumulator,
        cuped_user_deltas,
    )

    rows = []
    eid = 1
    for uid in range(1, 9):
        rows.append((eid, "2024-01-10 00:00:00", uid, "purchase",
                     10.0 + uid, None)); eid += 1
        rows.append((eid, "2024-01-20 00:00:00", uid, "purchase",
                     20.0 + 2 * uid, None)); eid += 1
    # the poison rows: NULL ts purchases (one per arm)
    rows.append((eid, None, 3, "purchase", 999.0, None)); eid += 1
    rows.append((eid, None, 4, "purchase", 999.0, None)); eid += 1
    d = tempfile.mkdtemp(prefix="cuped_null_")
    _write_events(rows, d, n_files=2)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)

    acc = CupedAccumulator()
    q = (cuped_user_deltas(stream)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: acc.update(df.toPandas()))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = acc.readout().set_index("arm")
    sf_like = tempfile.mkdtemp(prefix="cuped_null_sf_")
    shutil.copytree(d, f"{sf_like}/events.parquet")
    want = get("q_cuped").fn(spark, sf_like).toPandas().set_index("arm")
    assert set(got.index) == set(want.index)
    for arm in want.index:
        assert got.loc[arm, "n_users"] == want.loc[arm, "n_users"]
        for c in ("mean_y", "mean_y_cuped", "theta"):
            assert abs(got.loc[arm, c] - want.loc[arm, c]) < 1e-6, c


def test_page_hinkley_stream_matches_batch(spark):
    """Streaming Page-Hinkley: time-ordered micro-batches must
    reproduce the batch q_page_hinkley statistic and alarm day exactly
    once the stream drains — daily means are HALF_UP micro-unit
    integers and the per-closed-day fold is the identical IEEE double
    sequence (the EWMA twin recipe)."""
    import os
    import shutil

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.stateful import (
        page_hinkley_daily,
    )

    d = tempfile.mkdtemp(prefix="ph_")
    ev = (load_table(spark, SF, "events")
          .orderBy("ts", "event_id").toPandas())
    k = len(ev) // 3
    for i, chunk in enumerate((ev[:k], ev[k:2 * k], ev[2 * k:])):
        p = f"{d}/part-{i}.parquet"
        chunk.to_parquet(p, engine="pyarrow", coerce_timestamps="us",
                         index=False)
        os.utime(p, (1700000000 + i, 1700000000 + i))
    stream = read_event_stream(spark, d, max_files_per_trigger=1)

    latest: dict = {}
    q = (page_hinkley_daily(stream)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: latest.update(
             {r["event_type"]: r for _, r in df.toPandas().iterrows()}))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3

    sf_like = tempfile.mkdtemp(prefix="ph_sf_")
    shutil.copytree(d, f"{sf_like}/events.parquet")
    want = get("q_page_hinkley").fn(spark, sf_like).toPandas() \
        .set_index("event_type")
    assert set(latest) == set(want.index)
    for et, row in latest.items():
        assert row["n_days"] == want.loc[et, "n_days"], et
        assert row["ph_stat"] == want.loc[et, "ph_stat"], et
        w_alarm = want.loc[et, "alarm_day"]
        got_alarm = row["alarm_day"]
        if w_alarm is None or (isinstance(w_alarm, float)
                               and w_alarm != w_alarm):
            assert got_alarm is None or got_alarm != got_alarm, et
        else:
            assert got_alarm == w_alarm, et


def test_threshold_sweep_stream_matches_batch_any_order(spark):
    """Streaming operating-point monitor: the 20-bucket (pos, neg)
    histogram state is an ORDER-FREE integer sufficient statistic, so
    the drained readout must equal the batch q_threshold_sweep row
    bit-for-bit even when rows arrive SHUFFLED across micro-batches
    (stronger than the event-time-ordered daily twins)."""
    import os
    import shutil

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.stateful import (
        threshold_sweep_stream,
    )

    d = tempfile.mkdtemp(prefix="tsweep_")
    ev = (load_table(spark, SF, "events").toPandas()
          .sample(frac=1.0, random_state=5).reset_index(drop=True))
    k = len(ev) // 3
    for i, chunk in enumerate((ev[:k], ev[k:2 * k], ev[2 * k:])):
        p = f"{d}/part-{i}.parquet"
        chunk.to_parquet(p, engine="pyarrow", coerce_timestamps="us",
                         index=False)
        os.utime(p, (1700000000 + i, 1700000000 + i))
    stream = read_event_stream(spark, d, max_files_per_trigger=1)

    latest: dict = {}
    q = (threshold_sweep_stream(stream)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: latest.update(
             {r["event_type"]: r for _, r in df.toPandas().iterrows()}))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3

    sf_like = tempfile.mkdtemp(prefix="tsweep_sf_")
    shutil.copytree(d, f"{sf_like}/events.parquet")
    want = get("q_threshold_sweep").fn(spark, sf_like).toPandas()
    assert len(want) == 1
    got = latest["click"]  # the batch demo's stream
    for c in ("threshold_milli", "cost", "tp", "fp", "fn", "tn"):
        assert int(got[c]) == int(want.iloc[0][c]), c
    for c in ("precision_", "recall_"):
        assert float(got[c]) == float(want.iloc[0][c]), c
    # the monitor is per-key: every stream with non-null values reports
    assert set(latest) >= {"click", "view"}


def test_hll_distinct_stream_matches_batch_any_order(spark):
    """Streaming HLL distinct-count: registers are MAXes — an
    order-free sufficient statistic — so the drained readout must
    equal the batch q_hll_union per-type hll_est bit-for-bit even when
    rows arrive SHUFFLED across micro-batches."""
    import os

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.stateful import (
        hll_distinct_stream,
    )

    d = tempfile.mkdtemp(prefix="hllstream_")
    ev = (load_table(spark, SF, "events").toPandas()
          .sample(frac=1.0, random_state=7).reset_index(drop=True))
    k = len(ev) // 3
    for i, chunk in enumerate((ev[:k], ev[k:2 * k], ev[2 * k:])):
        p = f"{d}/part-{i}.parquet"
        chunk.to_parquet(p, engine="pyarrow", coerce_timestamps="us",
                         index=False)
        os.utime(p, (1700000000 + i, 1700000000 + i))
    stream = read_event_stream(spark, d, max_files_per_trigger=1)

    latest: dict = {}
    q = (hll_distinct_stream(stream)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: latest.update(
             {r["event_type"]: r for _, r in df.toPandas().iterrows()}))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3

    want = get("q_hll_union").fn(spark, SF).toPandas()
    per_type = want[want["scope"] != "ALL"].set_index("scope")
    assert set(latest) == set(per_type.index)
    for scope, row in per_type.iterrows():
        assert float(latest[scope]["hll_est"]) == float(row["hll_est"]), \
            scope


def test_reservoir_sample_stream_matches_batch_any_order(spark):
    """Streaming bottom-k content-hash sample: the k-smallest of a
    union is the k-smallest of per-batch k-smallests (order-free), so
    the drained per-language sample must equal the batch
    q_sample_reservoir rows exactly under shuffled arrival."""
    import os

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.ingest import (
        read_document_stream,
    )
    from telescope_data_pipeline_spark.streaming.stateful import (
        reservoir_sample_stream,
    )

    d = tempfile.mkdtemp(prefix="rsample_")
    docs = (load_table(spark, SF, "documents").toPandas()
            .sample(frac=1.0, random_state=11).reset_index(drop=True))
    k = len(docs) // 3
    for i, chunk in enumerate((docs[:k], docs[k:2 * k], docs[2 * k:])):
        p = f"{d}/part-{i}.parquet"
        chunk.to_parquet(p, engine="pyarrow", index=False)
        os.utime(p, (1700000000 + i, 1700000000 + i))
    stream = read_document_stream(spark, d, max_files_per_trigger=1)

    latest: dict = {}
    q = (reservoir_sample_stream(stream)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: latest.update(
             {lang: g[["doc_id", "n_chars"]].to_records(index=False).tolist()
              for lang, g in df.toPandas().groupby("lang")}))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3

    want = get("q_sample_reservoir").fn(spark, SF).toPandas()
    for lang, g in want.groupby("lang"):
        got = sorted((int(a), int(b)) for a, b in latest[lang])
        exp = sorted((int(r.doc_id), int(r.n_chars))
                     for r in g.itertuples())
        assert got == exp, lang
    assert set(latest) == set(want["lang"].unique())


def test_simpson_diversity_stream_matches_batch_any_order(spark):
    """Streaming Simpson diversity: per-source language counts are an
    order-free bag, so the drained per-source readout must equal the
    batch q_simpson_diversity rows bit-for-bit under shuffled
    arrival."""
    import os

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.ingest import (
        read_document_stream,
    )
    from telescope_data_pipeline_spark.streaming.stateful import (
        simpson_diversity_stream,
    )

    d = tempfile.mkdtemp(prefix="simpstream_")
    docs = (load_table(spark, SF, "documents").toPandas()
            .sample(frac=1.0, random_state=13).reset_index(drop=True))
    k = len(docs) // 3
    for i, chunk in enumerate((docs[:k], docs[k:2 * k], docs[2 * k:])):
        p = f"{d}/part-{i}.parquet"
        chunk.to_parquet(p, engine="pyarrow", index=False)
        os.utime(p, (1700000000 + i, 1700000000 + i))
    stream = read_document_stream(spark, d, max_files_per_trigger=1)

    latest: dict = {}
    q = (simpson_diversity_stream(stream)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: latest.update(
             {r["source"]: r for _, r in df.toPandas().iterrows()}))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3

    want = get("q_simpson_diversity").fn(spark, SF).toPandas()
    assert set(latest) == set(want["source"])
    for r in want.itertuples():
        got = latest[r.source]
        assert int(got["n_docs"]) == int(r.n_docs), r.source
        assert int(got["n_langs"]) == int(r.n_langs), r.source
        assert float(got["gini_simpson"]) == float(r.gini_simpson), r.source
        assert float(got["inv_simpson"]) == float(r.inv_simpson), r.source


def test_benford_stream_matches_batch_any_order(spark):
    """Streaming Benford audit: the 9-cell first-digit histogram is an
    order-free bag, so the drained 9-row report must equal the batch
    q_benford rows bit-for-bit under SHUFFLED arrival."""
    import os

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.stateful import (
        benford_stream,
    )

    d = tempfile.mkdtemp(prefix="benford_")
    ev = (load_table(spark, SF, "events").toPandas()
          .sample(frac=1.0, random_state=3).reset_index(drop=True))
    k = len(ev) // 3
    for i, chunk in enumerate((ev[:k], ev[k:2 * k], ev[2 * k:])):
        p = f"{d}/part-{i}.parquet"
        chunk.to_parquet(p, engine="pyarrow", coerce_timestamps="us",
                         index=False)
        os.utime(p, (1700000000 + i, 1700000000 + i))
    stream = read_event_stream(spark, d, max_files_per_trigger=1)

    latest: dict = {}
    q = (benford_stream(stream)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: latest.update(
             {int(r["digit"]): r for _, r in df.toPandas().iterrows()}))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3

    want = get("q_benford").fn(spark, SF).toPandas().set_index("digit")
    assert set(latest) == set(int(d_) for d_ in want.index)
    for d_, row in want.iterrows():
        got = latest[int(d_)]
        assert int(got["n_obs"]) == int(row["n_obs"]), d_
        assert float(got["obs_pct"]) == float(row["obs_pct"]), d_
        assert float(got["exp_pct"]) == float(row["exp_pct"]), d_
        assert float(got["chi2_total"]) == float(row["chi2_total"]), d_


def test_ljung_box_stream_matches_batch(spark):
    """Streaming Ljung-Box: with event-time-ordered micro-batches the
    closed-form reconstruction from (n, S, S2, C_k, head, tail) must
    reproduce the batch q_ljung_box per-type rows bit-for-bit — the
    sufficient statistics are exact python ints and the readout runs
    the identical double tree."""
    import os
    import shutil

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.stateful import (
        ljung_box_stream,
    )

    d = tempfile.mkdtemp(prefix="ljung_")
    ev = (load_table(spark, SF, "events")
          .orderBy("ts", "event_id").toPandas())
    k = len(ev) // 3
    for i, chunk in enumerate((ev[:k], ev[k:2 * k], ev[2 * k:])):
        p = f"{d}/part-{i}.parquet"
        chunk.to_parquet(p, engine="pyarrow", coerce_timestamps="us",
                         index=False)
        os.utime(p, (1700000000 + i, 1700000000 + i))
    stream = read_event_stream(spark, d, max_files_per_trigger=1)

    latest: dict = {}
    q = (ljung_box_stream(stream)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: latest.update(
             {r["event_type"]: r for _, r in df.toPandas().iterrows()}))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3

    sf_like = tempfile.mkdtemp(prefix="ljung_sf_")
    shutil.copytree(d, f"{sf_like}/events.parquet")
    want = get("q_ljung_box").fn(spark, sf_like).toPandas().set_index(
        "event_type")
    assert set(latest) == set(want.index)
    for et, row in latest.items():
        assert int(row["n"]) == int(want.loc[et, "n"]), et
        for col in ("lb_q1", "lb_q2", "lb_q3"):
            assert float(row[col]) == float(want.loc[et, col]), (et, col)
        assert bool(row["reject_95"]) == bool(want.loc[et, "reject_95"]), et


def test_emd_drift_stream_matches_batch_any_order(spark):
    """Streaming EMD monitor: two 20-bin integer histograms are
    order-free bags, so with the bin edges pinned to the batch's
    data-derived (mn, mx) the drained 20-row report must equal the
    batch q_emd_drift rows bit-for-bit under SHUFFLED arrival."""
    import os

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.stateful import (
        emd_drift_stream,
    )

    d = tempfile.mkdtemp(prefix="emd_")
    ev = (load_table(spark, SF, "events").toPandas()
          .sample(frac=1.0, random_state=5).reset_index(drop=True))
    k = len(ev) // 3
    for i, chunk in enumerate((ev[:k], ev[k:2 * k], ev[2 * k:])):
        p = f"{d}/part-{i}.parquet"
        chunk.to_parquet(p, engine="pyarrow", coerce_timestamps="us",
                         index=False)
        os.utime(p, (1700000000 + i, 1700000000 + i))
    stream = read_event_stream(spark, d, max_files_per_trigger=1)

    vals = ev["value"].dropna()
    mn, mx = float(vals.min()), float(vals.max())

    latest: dict = {}
    q = (emd_drift_stream(stream, mn, mx)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: latest.update(
             {int(r["bin"]): r for _, r in df.toPandas().iterrows()}))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3

    want = get("q_emd_drift").fn(spark, SF).toPandas().set_index("bin")
    assert set(latest) == set(int(b) for b in want.index)
    for b, row in want.iterrows():
        got = latest[int(b)]
        assert int(got["n_ref"]) == int(row["n_ref"]), b
        assert int(got["n_cur"]) == int(row["n_cur"]), b
        assert float(got["emd_term"]) == float(row["emd_term"]), b
        assert float(got["emd_total"]) == float(row["emd_total"]), b


def test_hellinger_drift_stream_matches_batch_any_order(spark):
    """Streaming Hellinger monitor: same order-free histogram state as
    the EMD twin, so with pinned batch edges the drained 20-row report
    must equal the batch q_hellinger_drift rows bit-for-bit under
    SHUFFLED arrival."""
    import os

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.stateful import (
        hellinger_drift_stream,
    )

    d = tempfile.mkdtemp(prefix="hel_")
    ev = (load_table(spark, SF, "events").toPandas()
          .sample(frac=1.0, random_state=7).reset_index(drop=True))
    k = len(ev) // 3
    for i, chunk in enumerate((ev[:k], ev[k:2 * k], ev[2 * k:])):
        p = f"{d}/part-{i}.parquet"
        chunk.to_parquet(p, engine="pyarrow", coerce_timestamps="us",
                         index=False)
        os.utime(p, (1700000000 + i, 1700000000 + i))
    stream = read_event_stream(spark, d, max_files_per_trigger=1)

    vals = ev["value"].dropna()
    mn, mx = float(vals.min()), float(vals.max())

    latest: dict = {}
    q = (hellinger_drift_stream(stream, mn, mx)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: latest.update(
             {int(r["bin"]): r for _, r in df.toPandas().iterrows()}))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3

    want = get("q_hellinger_drift").fn(spark, SF).toPandas().set_index("bin")
    assert set(latest) == set(int(b) for b in want.index)
    for b, row in want.iterrows():
        got = latest[int(b)]
        assert int(got["n_ref"]) == int(row["n_ref"]), b
        assert int(got["n_cur"]) == int(row["n_cur"]), b
        assert float(got["bc_term"]) == float(row["bc_term"]), b
        assert float(got["hellinger"]) == float(row["hellinger"]), b
        assert float(got["bhattacharyya"]) == float(row["bhattacharyya"]), b


def test_mix_temperature_stream_matches_batch_any_order(spark):
    """Streaming temperature-mix monitor: the (lang -> tok/doc counts)
    bag is order-free, so the drained per-language policy rows must
    equal the batch q_mix_temperature rows bit-for-bit under SHUFFLED
    arrival."""
    import os

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.streaming.ingest import (
        read_document_stream,
    )
    from telescope_data_pipeline_spark.streaming.stateful import (
        mix_temperature_stream,
    )

    d = tempfile.mkdtemp(prefix="mixtemp_")
    docs = (load_table(spark, SF, "documents").toPandas()
            .sample(frac=1.0, random_state=17).reset_index(drop=True))
    k = len(docs) // 3
    for i, chunk in enumerate((docs[:k], docs[k:2 * k], docs[2 * k:])):
        p = f"{d}/part-{i}.parquet"
        chunk.to_parquet(p, engine="pyarrow", index=False)
        os.utime(p, (1700000000 + i, 1700000000 + i))
    stream = read_document_stream(spark, d, max_files_per_trigger=1)

    latest: dict = {}
    q = (mix_temperature_stream(stream)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: latest.update(
             {r["lang"]: r for _, r in df.toPandas().iterrows()}))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3

    want = get("q_mix_temperature").fn(spark, SF).toPandas()
    assert set(latest) == set(want["lang"])
    for r in want.itertuples():
        got = latest[r.lang]
        assert int(got["n_docs"]) == int(r.n_docs), r.lang
        assert int(got["n_tok"]) == int(r.n_tok), r.lang
        for col in ("natural_share", "temp_share", "upsample"):
            assert float(got[col]) == float(getattr(r, col)), (r.lang, col)


def test_parquet_profile_stream_matches_footer_sweep_any_order(spark):
    """Streaming footer profiler: per-column running totals are integer
    sums — order-free — so the drained rows must equal an independent
    pyarrow sweep over the same files exactly, with the manifest split
    across micro-batches; a corrupt manifest entry drops whole."""
    import os

    import pyarrow.parquet as pq

    from telescope_data_pipeline_spark.streaming.stateful import (
        parquet_profile_stream,
    )

    d = tempfile.mkdtemp(prefix="pqprof_data_")
    li = (load_table(spark, SF, "lineitem").toPandas()
          .sample(frac=1.0, random_state=5).reset_index(drop=True))
    k = len(li) // 3
    paths = []
    for i, chunk in enumerate((li[:k], li[k:2 * k], li[2 * k:])):
        p = f"{d}/data-{i}.parquet"
        chunk.to_parquet(p, engine="pyarrow", index=False)
        paths.append(p)
    junk = f"{d}/junk.parquet"  # not parquet: must drop, not crash
    with open(junk, "wb") as fh:
        fh.write(b"\x00not a parquet file")

    m = tempfile.mkdtemp(prefix="pqprof_manifest_")
    for i, p in enumerate([paths[0], junk, f"{d}/missing.parquet",
                           paths[1], paths[2]]):
        mp = f"{m}/m-{i}.txt"
        with open(mp, "w") as fh:
            fh.write(p + "\n")
        os.utime(mp, (1700000000 + i, 1700000000 + i))
    stream = (spark.readStream.format("text")
              .option("maxFilesPerTrigger", 1).load(m)
              .select(F.col("value").alias("path")))

    latest: dict = {}
    q = (parquet_profile_stream(stream)
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _bid: latest.update(
             {r["column_name"]: r for _, r in df.toPandas().iterrows()}))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3

    want: dict = {}  # independent ground truth: direct pyarrow sweep
    for p in paths:
        md = pq.ParquetFile(p).metadata
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            for ci in range(rgm.num_columns):
                c = rgm.column(ci)
                e = want.setdefault(c.path_in_schema, [0, 0, 0, 0])
                e[0] += 1
                e[1] += c.num_values
                e[2] += c.total_compressed_size
                e[3] += c.total_uncompressed_size
    assert set(latest) == set(want)
    for col, (n, nv, cb, ub) in want.items():
        r = latest[col]
        assert (int(r["n_chunks"]), int(r["num_values"]),
                int(r["compressed_bytes"]),
                int(r["uncompressed_bytes"])) == (n, nv, cb, ub), col
        assert float(r["ratio"]) == round(ub / cb, 6), col
