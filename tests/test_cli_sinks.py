"""The CLI's sinks: what a pass leaves under ``--out``, the Spark work it
runs, and the pure functions its sinks are built from, with the Python
renderers checked against Spark's."""

from __future__ import annotations

import re
import zlib

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from telescope_data_pipeline_spark.plans.pipeline import CATALOG_FIELDS
from telescope_data_pipeline_spark.sources.fits import (
    fits_headers,
    image_row,
    write_fake_fits,
)
from telescope_data_pipeline_spark.sources.pdf import diagnostics_pdf
from telescope_data_pipeline_spark.sources.sinks import (
    format_csv_row,
    format_stats_line,
    stats_line,
)
from tests.test_cli_pipeline import read_outputs, run_cli, write_night


def test_cli_rerun_replaces_sink_outputs(spark, tmp_path):
    """A 3-epoch run, then a 2-epoch run into the same ``--out``: every
    sink holds the second run's outputs only (no stale epoch 2)."""
    run_cli(*write_night(tmp_path / "three", seed=4, epochs=3, frames=2),
            tmp_path / "out")
    two = write_night(tmp_path / "two", seed=5, epochs=2, frames=2)
    run_cli(*two, tmp_path / "out")
    run_cli(*two, tmp_path / "fresh")
    got = read_outputs(tmp_path / "out")
    assert sorted(got["fits"]) == ["stacked_e0.fits", "stacked_e1.fits"]
    assert got == read_outputs(tmp_path / "fresh")


def _spark_work(spark, images, manifest, out) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of one CLI pass, counted under its own job
    group after the listener bus has delivered every event; stages
    skipped because their shuffle output was reused ran no task and are
    not counted."""
    sc = spark.sparkContext
    group = f"cli-pass-{out.name}"
    sc.setJobGroup(group, "one CLI pass")
    try:
        run_cli(images, manifest, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [info for j in jobs for s in tracker.getJobInfo(j).stageIds
              if (info := tracker.getStageInfo(s)) is not None
              and info.numCompletedTasks + info.numFailedTasks]
    return len(jobs), len(stages), sum(s.numTasks for s in stages)


def _last_sql_execution(spark) -> int:
    """The id of the newest SQL execution in the session's status store
    (-1 if none), once the listener bus has delivered every event. Old
    executions are evicted past ``spark.sql.ui.retainedExecutions``,
    the newest never is."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    if not store.executionsCount():
        return -1
    return store.executionsList().last().executionId()


def test_cli_pass_runs_no_spark_sql(spark, tmp_path):
    """The kernel runs as an RDD job: a pass starts no SQL execution."""
    spark.range(1).collect()  # so the store holds at least one execution
    before = _last_sql_execution(spark)
    run_cli(*write_night(tmp_path, seed=7, epochs=2), tmp_path / "out")
    assert _last_sql_execution(spark) == before
    spark.range(1).collect()
    assert _last_sql_execution(spark) > before  # the probe sees a new one


def test_cli_pass_runs_one_spark_query(spark, tmp_path):
    """A pass is one stage: the kernel over one row per listed epoch,
    which the sinks collect from, in min(epochs, defaultParallelism)
    tasks — no manifest broadcast, file scan or shuffle."""
    cores = spark.sparkContext.defaultParallelism
    three = _spark_work(spark, *write_night(tmp_path / "n3", seed=7), tmp_path / "out3")
    two = _spark_work(spark, *write_night(tmp_path / "n2", seed=7, epochs=2),
                      tmp_path / "out2")
    assert three == (1, 1, min(3, cores))
    assert two == (1, 1, min(2, cores))


def _header_row(**overrides) -> dict:
    return {"avg_airmass": 1.25, "jd_mid": 2460370.5,
            "base_header": {"FILTER": "V", "EXPTIME": "60.0"},
            "crval_ra": 150.1, "crval_dec": 2.0, "pix_scale": 1 / 3600,
            **overrides}


def test_fits_header_of_unsolved_wcs():
    """An epoch whose WCS solve failed gets the base header, AIRMASS and
    BJD, and no WCS cards; a solved one gets CRVAL/CDELT, never the
    solver's HISTORY/COMMENT."""
    unsolved, solved = fits_headers([
        _header_row(crval_ra=None, crval_dec=None, pix_scale=None),
        _header_row()])
    assert not [k for k in unsolved if k.startswith(("CRVAL", "CDELT"))]
    assert unsolved["FILTER"] == "V" and unsolved["AIRMASS"] == "1.25"
    assert abs(float(unsolved["BJD"]) - 2460370.5) < 0.01  # Romer delay < 9 min
    assert solved["CRVAL1"] == "150.1" and solved["CDELT2"] == str(1 / 3600)
    assert "HISTORY" not in solved and "COMMENT" not in solved
    assert solved["BJD"] == unsolved["BJD"]


def test_diagnostics_pdf_caps_pages_in_epoch_order():
    """40 stacked rows, given out of order, render the first 32 epochs,
    one page each, in epoch order."""
    rows = [{"epoch_id": e, "filename": f"stacked_e{e}", "width": 4, "height": 4,
             "pixels": np.arange(16, dtype=np.float32) * e} for e in range(40)]
    pdf, n_pages = diagnostics_pdf(rows[::-1])
    buf = pdf.tobytes()
    assert n_pages == 32 == len(re.findall(rb"/Type /Page[^s]", buf))
    text = b"".join(zlib.decompress(s) for s in
                    re.findall(rb"/FlateDecode >>\nstream\n(.*?)\nendstream", buf, re.S))
    assert [int(e) for e in re.findall(rb"\(epoch (\d+) ", text)] == list(range(32))


def test_summary_reads_null_counts_as_none():
    """A no_frames epoch's counts arrive as None (the Arrow collect keeps
    nulls); the summary counts them as zero rows."""
    from telescope_data_pipeline_spark.__main__ import _summary

    records = [
        {"epoch_id": 0, "outcome": "ok", "n_frames": 2, "n_results": 3,
         "listed": ["a.fits", "b.fits"], "missing": []},
        {"epoch_id": 1, "outcome": "no_frames", "n_frames": 0, "n_results": None,
         "listed": ["c.fits"], "missing": ["c.fits"]},
    ]
    assert _summary(records, {"a.fits", "b.fits"}, 1, 1, "out") == (
        "pipeline done: 1 epochs, 3 photometry rows, 1 FITS files, 1 PDF pages "
        "-> out; epochs without catalog rows: 1 (no_frames); "
        "manifest rows with no file: 1")


def test_image_row_drops_undecodable_files(tmp_path):
    """The one decoder: a good file gives an IMAGE row; corrupt bytes and
    a header value that does not parse give None, not an error."""
    px = np.arange(12, dtype=np.float32).reshape(3, 4)
    header = {"FILTER": "V", "AIRMASS": "1.3", "EXPTIME": "60.0",
              "DATE-OBS": "2024-03-01T00:10:00"}
    write_fake_fits(str(tmp_path / "good.fits"), px, header)
    write_fake_fits(str(tmp_path / "bad.fits"), px, {**header, "AIRMASS": "n/a"})
    row = image_row("good.fits", (tmp_path / "good.fits").read_bytes())
    assert (row["width"], row["height"], row["band"], row["airmass"]) == (4, 3, "V", 1.3)
    assert row["pixels"].tolist() == px.ravel().tolist()
    assert image_row("bad.fits", (tmp_path / "bad.fits").read_bytes()) is None
    assert image_row("junk.fits", b"not a FITS file") is None


#: doubles whose shortest digits JDK 17's Double.toString does not print
#: (it writes 2.82879384806159008E17, 9.999999999999999E22, 4.9E-324);
#: both strings parse to the same double
JDK17_LONG_DOUBLES = [2.82879384806159e17, 1e23, 5e-324]


def _render_doubles() -> list[float | None]:
    special = [None, float("nan"), float("inf"), float("-inf"), 0.0, -0.0,
               1e-3, 0.0009999999999999998, 0.0010000000000000002, 9.999e-4,
               1e7, 9999999.999999998, 10000000.000000002, 9999999.0,
               1.00005, 2.00015, -3.00025, 0.00005, -0.00005, 123.45675,
               1.5e-5, -1.5e-5, 4.5e15, -2.0 ** 52, 2.0 ** 53 + 2, 1e300,
               -1e-300, 1.7976931348623157e308, *JDK17_LONG_DOUBLES]
    rng = np.random.default_rng(20)
    sweep = (rng.choice([-1.0, 1.0], 3000)
             * 10.0 ** rng.uniform(-6, 9, 3000)).tolist()
    ties = [round(float(v), 5) for v in rng.uniform(-100, 100, 300)]
    return special + sweep + ties


def test_python_renderers_match_spark(spark):
    """``format_csv_row`` and ``format_stats_line`` write what
    ``F.to_csv`` and ``stats_line()`` write, on one DataFrame holding
    null, NaN, ±Infinity, -0.0, both sides of 1e-3 and 1e7, HALF_UP ties
    at the 4th decimal, negative values, large longs and a seeded sweep.
    Only the doubles JDK 17 prints with extra digits may differ, and
    then both strings parse to the same double."""
    values = _render_doubles()
    longs = [0, -1, 7, 2 ** 31, -(2 ** 53) - 1, 2 ** 63 - 1, -(2 ** 63), None]
    doubles = [f.name for f in CATALOG_FIELDS if isinstance(f.dataType, T.DoubleType)]
    stats = ["peak_min", "peak_max", "peak_med", "flux_min", "flux_max",
             "flux_med", "mean_fwhm"]
    rows = []
    for i in range(len(values)):
        def at(j: int) -> float | None:
            return values[(i + 37 * j) % len(values)]
        rows.append({
            "epoch_id": i, "n_sources": None if i % 50 == 3 else i % 40,
            "n_psf": None if i % 7 == 1 else i % 5,
            "n_results": None if i % 11 == 2 else i % 9,
            "id": longs[i % len(longs)], "iter_detected": i % 3,
            **{c: at(j) for j, c in enumerate(doubles)},
            **{c: at(j + len(doubles)) for j, c in enumerate(stats)}})
    schema = T.StructType(
        [T.StructField(c, T.IntegerType()) for c in
         ("epoch_id", "n_sources", "n_psf", "n_results")]
        + [T.StructField(f.name, f.dataType) for f in CATALOG_FIELDS]
        + [T.StructField(c, T.DoubleType()) for c in stats])
    df = spark.createDataFrame([[r[f.name] for f in schema] for r in rows], schema)
    got = df.select(
        "epoch_id",
        F.to_csv(F.struct(*[f.name for f in CATALOG_FIELDS])).alias("csv"),
        stats_line().alias("txt")).collect()
    assert len(got) == len(rows)
    by_id = {r["epoch_id"]: r for r in rows}
    long_forms = 0
    for g in got:
        row = by_id[g.epoch_id]
        for want, mine in ((g.csv, format_csv_row(CATALOG_FIELDS, row)),
                           (g.txt, format_stats_line(row))):
            if want == mine:
                continue
            # a JDK 17 long form: the same double, in other digits
            jvm_parts = re.split(r"[,\[\] =]", want)
            py_parts = re.split(r"[,\[\] =]", mine)
            assert len(jvm_parts) == len(py_parts), (want, mine)
            for a, b in zip(jvm_parts, py_parts):
                if a != b:
                    assert float(a) == float(b) in JDK17_LONG_DOUBLES, (want, mine)
                    long_forms += 1
    assert long_forms <= 2 * 7 * len(JDK17_LONG_DOUBLES)


def test_sink_record_renders_nan_as_null():
    """The CLI's rendered rows read a NaN as a null, as the DataFrame
    path does where the record crosses Arrow: an empty field."""
    from telescope_data_pipeline_spark.plans.pipeline import sink_record

    nan = float("nan")
    phot = {f.name: 1.5 for f in CATALOG_FIELDS}
    rec = sink_record({"epoch_id": 2, "outcome": "ok", "n_sources": 1, "n_psf": 1,
                       "n_results": 1, "photometry": [{**phot, "id": 7,
                                                       "iter_detected": 1,
                                                       "flux_unc": nan}],
                       "peak_min": nan, "peak_max": 2.0, "peak_med": 2.0,
                       "mean_fwhm": None})
    assert rec["csv"] == ["7,1.5,1.5,1.5,1.5,1.5,,1,1.5,1.5"]
    assert rec["txt"] == ("epoch 2: sources=1 psf_stars=1 results=1 "
                          "peak[min,max,med]=[,2.0,2.0] flux[min,max,med]=[,,] fwhm=")
    assert rec["pixels"] is None and rec["listed"] is None
