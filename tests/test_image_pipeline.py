"""Golden numeric tests for the photometry kernels against planted
ground truth (FIXTURES.md §C) — the property the reference checked
visually via residual PDFs, asserted numerically here."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from telescope_data_pipeline_spark.operators.images import (
    GAUSSIAN_SIGMA_TO_FWHM,
    align_and_stack,
    detect_stars,
    estimate_shifts,
    make_synthetic_images,
    measure_fwhm,
)
from telescope_data_pipeline_spark.operators.photometry import select_psf_stars
from telescope_data_pipeline_spark.operators.timeseries import (
    lomb_scargle_power,
    make_synthetic_lightcurve,
    periodogram,
)
from telescope_data_pipeline_spark.plans.pipeline import run_photometry_pipeline

STAR_SIGMA = 1.8


@pytest.fixture(scope="module")
def fixture(spark):
    images, truth_stars, truth_shifts = make_synthetic_images(spark)
    return images.cache(), truth_stars, truth_shifts


def test_fwhm_recovers_planted_width(spark, fixture):
    images, _, _ = fixture
    rows = measure_fwhm(images).collect()
    assert rows and all(r.fwhm is not None for r in rows)
    expected = STAR_SIGMA * GAUSSIAN_SIGMA_TO_FWHM
    for r in rows:
        assert abs(r.fwhm - expected) / expected < 0.25, (r.filename, r.fwhm)


def test_detection_recovers_planted_stars(spark, fixture):
    """FIXTURES.md §C1: planted stars recovered within 1 px / 15% flux."""
    images, truth, shifts = fixture
    ref = images.filter(F.col("filename").endswith("_i0.fits"))
    det = detect_stars(ref).toPandas()
    for e, grp in truth.groupby("epoch_id"):
        found = det[det.epoch_id == e]
        for _, star in grp.iterrows():
            if star.x < 15 or star.y < 15:   # border star may be cut
                continue
            d = np.hypot(found.xcentroid - star.x, found.ycentroid - star.y)
            assert d.min() < 1.0, f"epoch {e} star at {star.x},{star.y} missed"
            best = found.loc[d.idxmin()]
            if star.flux < 1e6:  # skip the saturated star's flux check
                assert abs(best.flux - star.flux) / star.flux < 0.15


def test_shift_estimation_recovers_planted_offsets(spark, fixture):
    """FIXTURES.md §C2: NN-match on shifted images recovers the planted
    integer offsets exactly."""
    images, _, truth_shifts = fixture
    det = detect_stars(images)
    est = estimate_shifts(det).toPandas().set_index(["epoch_id", "filename"])
    checked = 0
    for _, row in truth_shifts.iterrows():
        if row.filename.endswith("_i0.fits"):
            continue  # reference image: not in the estimate table
        got = est.loc[(row.epoch_id, row.filename)]
        # estimate_shifts returns the shift to apply (reference - observed)
        assert got.dx == -row.dx and got.dy == -row.dy, \
            f"{row.filename}: got ({got.dx},{got.dy}) want ({-row.dx},{-row.dy})"
        checked += 1
    assert checked > 0


def test_stack_reduces_noise(spark, fixture):
    """Median stack of aligned images approximates the reference frame
    with lower noise (FIXTURES.md §C; core.py:215-243 semantics)."""
    images, _, _ = fixture
    det = detect_stars(images)
    stacked = align_and_stack(images, estimate_shifts(det)).collect()
    assert len(stacked) == 4  # one row per epoch
    one = stacked[0]
    img = np.asarray(one.pixels, dtype=np.float64).reshape(one.height, one.width)
    # background region stats: planted level 100, noise 2 / sqrt(3)
    corner = img[100:120, 60:80]
    assert abs(np.median(corner) - 100.0) < 2.0
    assert one.n_images == 3


def test_psf_star_selection_drops_bad_stars(spark, fixture):
    """FIXTURES.md §C3: mask drops the border star and the saturated
    star; survivors sit inside the frame and below saturation."""
    images, truth, _ = fixture
    ref = images.filter(F.col("filename").endswith("_i0.fits"))
    det = detect_stars(ref)
    sel = select_psf_stars(det, width=128, height=128, fwhm=4.24,
                           border=16, trim=2).toPandas()
    assert len(sel) > 0
    assert (sel.peak < 50_000).all()
    assert ((sel.x > 16) & (sel.x < 111) & (sel.y > 16) & (sel.y < 111)).all()
    # the saturated star's position must not appear
    sat = truth[truth.flux > 1e6]
    for _, s in sat.iterrows():
        d = np.hypot(sel.x - s.x, sel.y - s.y)
        assert (d > 2).all() if len(d) else True


@pytest.mark.full
def test_pipeline_photometry_end_to_end(spark, fixture):
    """Full chain: recovered flux_fit correlates with planted flux within
    tolerance for unsaturated interior stars."""
    images, truth, _ = fixture
    out = run_photometry_pipeline(images)
    phot = out["photometry"].toPandas()
    assert len(phot) > 0
    det = out["stacked_detections"].toPandas()
    merged = phot.merge(det[["epoch_id", "id", "xcentroid", "ycentroid"]],
                        on=["epoch_id", "id"])
    ok, total = 0, 0
    for e, grp in truth.groupby("epoch_id"):
        got = merged[merged.epoch_id == e]
        for _, star in grp.iterrows():
            if star.flux > 1e6 or star.x < 16 or star.y < 16:
                continue
            d = np.hypot(got.xcentroid - star.x, got.ycentroid - star.y)
            total += 1
            if len(d) and d.min() < 1.5:
                rec = got.loc[d.idxmin()]
                if abs(rec.flux_fit - star.flux) / star.flux < 0.30:
                    ok += 1
    assert total > 0 and ok / total > 0.8, f"{ok}/{total} fluxes recovered"


def test_blended_pair_simultaneous_fit(spark):
    """Reference core.py:440 DAOGroup semantics: two stars planted at
    1.5*FWHM separation (inside the 2*FWHM critical distance, so one
    group) must BOTH recover their fluxes — the simultaneous compound
    fit the brightest-first-subtract scheme alone gets wrong, because
    each single-source fit absorbs part of its neighbor's flux."""
    from telescope_data_pipeline_spark.operators.photometry import psf_photometry

    h = w = 128
    sigma = STAR_SIGMA
    fwhm = sigma * GAUSSIAN_SIGMA_TO_FWHM
    yy, xx = np.mgrid[0:h, 0:w]

    def gauss(x, y, flux):
        return flux / (2 * np.pi * sigma**2) * np.exp(
            -((xx - x) ** 2 + (yy - y) ** 2) / (2 * sigma**2))

    refs = [(30.0, 30.0, 8000.0), (90.0, 30.0, 6000.0), (30.0, 90.0, 7000.0)]
    sep = 1.5 * fwhm  # ~6.4 px: blended, below the 2*FWHM grouping radius
    pair = [(80.0, 90.0, 9000.0), (80.0 + sep, 90.0, 4000.0)]
    img = np.zeros((h, w))
    for x, y, f in refs + pair:
        img += gauss(x, y, f)

    stacked = spark.createDataFrame(
        [(1, w, h, [float(v) for v in img.ravel()])],
        "epoch_id int, width int, height int, pixels array<double>")
    detections = spark.createDataFrame(
        [(1, i, x, y, f) for i, (x, y, f) in enumerate(refs + pair)],
        "epoch_id int, id long, xcentroid double, ycentroid double, flux double")
    psf_stars = spark.createDataFrame(
        [(1, x, y) for x, y, _ in refs], "epoch_id int, x double, y double")

    phot = (psf_photometry(stacked, detections, psf_stars, fwhm=fwhm)
            .toPandas().set_index("id"))
    for i, (x, y, f) in enumerate(pair, start=len(refs)):
        assert i in phot.index, f"blended star {i} not fit at all"
        rec = phot.loc[i]
        assert abs(rec.flux_fit - f) / f < 0.15, (i, rec.flux_fit, f)
        assert abs(rec.x_fit - x) < 1.0 and abs(rec.y_fit - y) < 1.0
    # the isolated references stay on the singleton path and recover too
    for i, (x, y, f) in enumerate(refs):
        assert abs(phot.loc[i].flux_fit - f) / f < 0.10

    # oversampling=2 (EPSFBuilder fidelity, reference core.py:411):
    # sub-pixel PSF structure tightens the blended-pair recovery from
    # the native path's 15% tolerance to <= 10%
    phot2 = (psf_photometry(stacked, detections, psf_stars, fwhm=fwhm,
                            oversampling=2)
             .toPandas().set_index("id"))
    for i, (x, y, f) in enumerate(pair, start=len(refs)):
        assert i in phot2.index, f"blended star {i} not fit (oversampled)"
        rec = phot2.loc[i]
        assert abs(rec.flux_fit - f) / f < 0.10, (i, rec.flux_fit, f)
        assert abs(rec.x_fit - x) < 1.0 and abs(rec.y_fit - y) < 1.0


def test_local_background_beats_global_on_gradient():
    """Reference core.py:344-382 semantics: on a gradient background the
    per-star annulus median removes the LOCAL level, so aperture flux
    bias shrinks vs a single global median subtraction."""
    from telescope_data_pipeline_spark.operators.photometry import (
        local_background_subtract,
    )

    h = w = 128
    yy, xx = np.mgrid[0:h, 0:w]
    sx, sy, sigma, flux = 96.0, 96.0, 1.8, 5000.0
    star = flux / (2 * np.pi * sigma**2) * np.exp(
        -((xx - sx) ** 2 + (yy - sy) ** 2) / (2 * sigma**2))
    img = 100.0 + 0.8 * xx + star  # strong x-gradient background

    cut = np.s_[int(sy) - 8: int(sy) + 9, int(sx) - 8: int(sx) + 9]
    global_sub = img - np.median(img)
    local_sub, bkgs = local_background_subtract(img, [(sx, sy)], fwhm=4.5)

    bias_global = abs(global_sub[cut].sum() - flux)
    bias_local = abs(local_sub[cut].sum() - flux)
    assert bias_local < 0.2 * bias_global, (bias_local, bias_global)
    # the measured annulus level is the local background at the star
    assert abs(bkgs[0] - (100.0 + 0.8 * sx)) < 3.0


def _full_frame_background_subtract(img, positions, fwhm, r_in=20.0, r_out=30.0):
    """The annulus pass with the ring masked over the whole frame, each
    star's distances computed for every pixel: the reference for the
    bounding-box form in ``local_background_subtract``."""
    from telescope_data_pipeline_spark.operators.photometry import _sigma_clipped_median

    h, w = img.shape
    out = img.astype(np.float64, copy=True)
    yy, xx = np.mgrid[0:h, 0:w]
    half = 5.0 * fwhm / 2.0
    bkgs = []
    for x, y in positions:
        d2 = (xx - x) ** 2 + (yy - y) ** 2
        vals = out[(d2 >= r_in * r_in) & (d2 < r_out * r_out)]
        bkg = _sigma_clipped_median(vals) if vals.size else 0.0
        bkgs.append(bkg)
        ix, iy = int(round(x)), int(round(y))
        r0, r1 = max(0, int(np.floor(iy - half)) + 1), min(h, int(np.ceil(iy + half)))
        c0, c1 = max(0, int(np.floor(ix - half)) + 1), min(w, int(np.ceil(ix + half)))
        out[r0:r1, c0:c1] -= bkg
    return out, bkgs


@pytest.mark.parametrize("shape,n_stars", [((160, 160), 60), ((64, 64), 12),
                                           ((31, 31), 5), ((97, 230), 40)])
def test_local_background_matches_full_frame_mask(shape, n_stars):
    """The bounding-box annulus gives bit-identical backgrounds and
    subtracted pixels to the full-frame mask: on square, tiny and
    non-square frames, with stars on integer and half-integer positions
    and up to 5 px outside every edge, where the ring is clipped or
    empty."""
    from telescope_data_pipeline_spark.operators.photometry import (
        local_background_subtract,
    )

    h, w = shape
    rng = np.random.default_rng(h * w + n_stars)
    img = rng.normal(100.0, 5.0, shape) + 0.3 * np.mgrid[0:h, 0:w][1]
    pos = [(float(x), float(y)) for x, y in
           zip(rng.uniform(-5, w + 5, n_stars), rng.uniform(-5, h + 5, n_stars))]
    pos += [(0.0, 0.0), (w - 0.5, h / 2), (-5.0, h + 5.0), (w / 2, 20.0)]
    for fwhm, r_in, r_out in ((3.2, 20.0, 30.0), (1.7, 4.5, 9.25)):
        got, got_bkg = local_background_subtract(img, pos, fwhm, r_in, r_out)
        ref, ref_bkg = _full_frame_background_subtract(img, pos, fwhm, r_in, r_out)
        assert got_bkg == ref_bkg
        assert got.tobytes() == ref.tobytes()


@pytest.mark.parametrize("pos", [(-20.0, -20.0), (84.0, 84.0), (-20.0, 32.0),
                                 (32.0, -20.0)])
def test_local_background_off_frame_star_changes_nothing(pos):
    """A star whose subtraction box lies wholly off the frame, above or
    left of it as well as below or right, subtracts from no pixel: the
    box bounds clip to the frame instead of counting from its far edge."""
    from telescope_data_pipeline_spark.operators.photometry import (
        local_background_subtract,
    )

    img = np.full((64, 64), 100.0)
    got, _ = local_background_subtract(img, [pos], fwhm=3.0)
    assert np.count_nonzero(got != img) == 0


@pytest.mark.full
def test_residual_diagnostics_bounded(spark, fixture):
    """core.py:454-484: after a good fit the per-star residual RMS is
    small vs the fitted peak, and bkg_local sits at the planted level."""
    images, truth, _ = fixture
    phot = run_photometry_pipeline(images)["photometry"].toPandas()
    assert len(phot) > 0
    assert phot.resid_rms.notna().all()
    peak = phot.flux_fit / (2 * np.pi * STAR_SIGMA**2)
    good = phot[phot.flux_fit < 1e6]
    assert ((good.resid_rms / (peak[good.index] + 1e-9)) < 0.35).mean() > 0.8
    assert (abs(phot.bkg_local - 100.0) < 5.0).mean() > 0.8


def test_lomb_scargle_recovers_planted_period(spark):
    """FIXTURES.md §C5: periodogram peak at the planted period."""
    lc = make_synthetic_lightcurve(spark, period_days=3.7)
    pg = periodogram(lc, "band", "bjd", "mag",
                     min_freq=0.05, max_freq=2.0, n_freqs=4000).toPandas()
    best = pg.loc[pg.power.idxmax()]
    assert abs(1.0 / best.frequency - 3.7) < 0.05


def test_lomb_scargle_numpy_kernel_sanity():
    rng = np.random.default_rng(0)
    t = np.sort(rng.uniform(0, 100, 300))
    y = np.sin(2 * np.pi * t / 7.5) + rng.normal(0, 0.2, t.size)
    freqs = np.linspace(0.01, 1.0, 2000)
    p = lomb_scargle_power(t, y, freqs)
    assert abs(1.0 / freqs[p.argmax()] - 7.5) < 0.1


@pytest.mark.full
def test_cli_pipeline_end_to_end(spark, tmp_path):
    """python -m telescope_data_pipeline_spark equivalent of the
    reference's psf_phot.py run: manifest + FITS dir in, four sinks
    out (CSV per epoch, FITS stacked, PDF diagnostics, TXT stats)."""
    import glob
    import os

    import numpy as np

    from telescope_data_pipeline_spark.__main__ import main
    from telescope_data_pipeline_spark.sources.fits import write_fake_fits

    d = tmp_path / "imgs"
    out = tmp_path / "out"
    d.mkdir()
    rng = np.random.default_rng(5)
    lines = []
    for i in range(6):
        px = rng.normal(100, 2, (64, 64)).astype(np.float32)
        for sx, sy in ((10, 12), (30, 40), (50, 20)):
            y, x = np.mgrid[0:64, 0:64]
            px += (500 * np.exp(-(((x - sx - (i % 3)) ** 2 + (y - sy) ** 2)
                                  / (2 * 2.5 ** 2)))).astype(np.float32)
        write_fake_fits(str(d / f"img{i}.fits"), px,
                        {"FILTER": "V", "AIRMASS": "1.2", "EXPTIME": "60.0",
                         "DATE-OBS": "2024-03-01T00:00:00", "SITEID": "syn"})
        lines.append(f"img{i}.fits,{i // 3}")
    (d / "manifest.csv").write_text("\n".join(lines))

    main(["--images", str(d), "--manifest", str(d / "manifest.csv"),
          "--out", str(out), "--size", "64"])

    assert len(glob.glob(str(out / "csv" / "**" / "*.csv"),
                         recursive=True)) == 2       # one per epoch
    assert len(glob.glob(str(out / "fits" / "*.fits"))) == 2
    pdf = out / "pdf" / "diagnostics.pdf"
    assert pdf.exists() and pdf.read_bytes().startswith(b"%PDF")
    txts = glob.glob(str(out / "txt" / "**" / "*"), recursive=True)
    assert any(os.path.isfile(t) for t in txts)
