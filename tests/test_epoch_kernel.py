"""The per-epoch image kernel and its numpy steps, called directly: no
SparkSession, so the math is checked in milliseconds. The last test
runs the edge case through the Spark adapter too."""

from __future__ import annotations

import numpy as np
import pytest

from telescope_data_pipeline_spark.operators.images import (
    find_stars,
    round_half_up,
    synthetic_frames,
)
from telescope_data_pipeline_spark.plans.pipeline import Frame, process_epoch


def _edge_frame(size: int = 32) -> np.ndarray:
    """Flat noisy frame with one star peaking at (size-2, size-2)."""
    rng = np.random.default_rng(0)
    yy, xx = np.mgrid[0:size, 0:size]
    img = 100.0 + rng.normal(0, 2.0, (size, size))
    return img + 5000.0 * np.exp(-((xx - (size - 2)) ** 2 + (yy - (size - 2)) ** 2)
                                 / (2 * 1.5 ** 2))


def test_process_epoch_recovers_planted_truth():
    rows, truth, shifts = synthetic_frames(n_epochs=1, seed=42)
    frames = [Frame(r[0], r[5], band=r[2], airmass=r[6]) for r in rows]
    rec = process_epoch(0, frames, size=128)

    assert rec["outcome"] == "ok" and rec["n_frames"] == 3
    got = {s["filename"]: (s["dx"], s["dy"]) for s in rec["shifts"]}
    for t in shifts.itertuples():
        if not t.filename.endswith("_i0.fits"):  # the reference frame
            assert got[t.filename] == (-t.dx, -t.dy), t.filename
    assert rec["n_psf"] > 0
    assert rec["n_results"] == len(rec["photometry"]) > 0
    assert rec["avg_airmass"] == pytest.approx(1.21)

    phot = rec["photometry"]
    fx = np.array([p["x_fit"] for p in phot])
    fy = np.array([p["y_fit"] for p in phot])
    ok = total = 0
    for t in truth.itertuples():
        if t.flux > 1e6 or t.x < 16 or t.y < 16:  # saturated or border star
            continue
        total += 1
        d = np.hypot(fx - t.x, fy - t.y)
        k = int(d.argmin())
        ok += d[k] < 1.5 and abs(phot[k]["flux_fit"] - t.flux) < 0.3 * t.flux
    assert total > 0 and ok / total > 0.8, f"{ok}/{total} fluxes recovered"


def test_psf_star_border_uses_the_stack_shape():
    """The PSF-star border rule (reference core.py:309-310) reads the
    image's own width and height; an explicit ``size`` is honoured."""
    rows, _, _ = synthetic_frames(n_epochs=1, size=160, n_stars=30, seed=11)
    frames = [Frame(r[0], r[5], band=r[2], airmass=r[6]) for r in rows]

    def coords(rec):
        return [v for s in rec["psf_stars"] for v in (s["x"], s["y"])]

    own = process_epoch(0, frames)
    assert own["n_psf"] > 0
    assert all(16 < v < 160 - 1 - 16 for v in coords(own))
    assert max(coords(own)) > 128 - 1 - 16  # past a 128-px frame's border
    assert own["psf_stars"] == process_epoch(0, frames, size=160)["psf_stars"]
    assert max(coords(process_epoch(0, frames, size=128))) < 128 - 1 - 16


def test_process_epoch_outcomes():
    assert process_epoch(5, [], listed=["a.fits"])["outcome"] == "no_frames"
    flat = np.full((48, 48), 100.0)
    rec = process_epoch(5, [Frame("a.fits", flat)], size=48, listed=["a.fits", "b.fits"])
    assert rec["outcome"] == "no_detections" and rec["missing"] == ["b.fits"]


def test_round_half_up():
    assert [round_half_up(v) for v in (2.5, -2.5, 0.5, -0.5, 2.49, -2.51, 0.0)] == \
        [3, -3, 1, -1, 2, -3, 0]
    assert round_half_up(0.49999999999999994) == 0


def test_find_stars_edge_peak():
    """A peak in the second-to-last row and column is found; its
    centroid window is clipped at the frame edge."""
    stars = find_stars(_edge_frame())
    assert len(stars) == 1
    assert stars[0]["xcentroid"] == pytest.approx(30.0, abs=0.5)
    assert stars[0]["ycentroid"] == pytest.approx(30.0, abs=0.5)


def test_detect_stars_edge_peak(spark):
    from telescope_data_pipeline_spark.operators.images import detect_stars

    img = _edge_frame()
    images = spark.createDataFrame(
        [("edge.fits", 0, 32, 32, img.astype(np.float32).ravel().tolist())],
        "filename string, epoch_id int, width int, height int, pixels array<float>")
    rows = detect_stars(images).collect()
    assert len(rows) == 1 and rows[0].xcentroid > 29
