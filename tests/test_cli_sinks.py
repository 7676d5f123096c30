"""The CLI's sinks: what a pass leaves under ``--out``, the Spark work it
runs, and the pure functions its sinks are built from (Spark-free)."""

from __future__ import annotations

import re
import zlib

import numpy as np

from telescope_data_pipeline_spark.sources.fits import (
    fits_headers,
    image_row,
    write_fake_fits,
)
from telescope_data_pipeline_spark.sources.pdf import diagnostics_pdf
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
