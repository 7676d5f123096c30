"""Domain-kernel demos: the photometry pipeline's kernels (detection, PSF
photometry, FITS scan, WCS solve, periodogram, ensemble light curve).
These operate on in-memory deterministic fixtures (the driver tables
carry no image columns), so they register as rows-only checks; their
numeric correctness is pinned by golden tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query


@query("q_pipeline_detect", oracle=None)  # image kernels: rows-only check
def q_pipeline_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star detection UDTF (reference core.py:116-146): synthetic planted-
    Gaussian frames -> one detection row per star. Golden accuracy pinned
    in tests/test_image_pipeline.py (1 px / 15% flux)."""
    from ..operators.images import detect_stars, make_synthetic_images

    images, _, _ = make_synthetic_images(spark, n_epochs=2)
    return detect_stars(images)


@query("q_pipeline_photometry", oracle=None)  # image kernels: rows-only check
def q_pipeline_photometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end photometry chain (reference psf_phot.py:9-98): FWHM ->
    detect -> NN-match shifts -> sigma-clipped median stack -> PSF-star
    mask -> empirical-PSF photometry, one numpy kernel per epoch
    (plans.pipeline.process_epoch), epochs in parallel as tasks; the
    catalog rows are its photometry column. The frames here are an
    in-memory DataFrame, so the kernel runs in one grouped
    ``applyInPandas`` (plans.pipeline.epoch_records) after a shuffle of
    the frames; the CLI, which reads files, runs the same kernel in one
    RDD stage without a shuffle or a DataFrame
    (plans.pipeline.night_records)."""
    from ..operators.images import make_synthetic_images
    from ..plans.pipeline import run_photometry_pipeline

    images, _, _ = make_synthetic_images(spark, n_epochs=2)
    return run_photometry_pipeline(images)["photometry"]


@query("q_pipeline_residuals", oracle=None)  # image kernels: rows-only check
def q_pipeline_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-star residual diagnostics (reference core.py:454-484
    ``get_residuals``: residual cutouts after photometry, condensed here
    to the scalar per-star diagnostics the reference's PDF/TXT sinks
    report): fitted position, flux, LOCAL annulus background
    (core.py:344-382) and residual RMS, brightest-first like the
    reference's flux-sorted results table. Golden bounds in
    tests/test_image_pipeline.py."""
    from ..operators.images import make_synthetic_images
    from ..plans.pipeline import run_photometry_pipeline

    images, _, _ = make_synthetic_images(spark, n_epochs=2)
    phot = run_photometry_pipeline(images)["photometry"]
    return (phot.select("epoch_id", "id",
                        F.round("x_fit", 4).alias("x_fit"),
                        F.round("y_fit", 4).alias("y_fit"),
                        F.round("flux_fit", 4).alias("flux_fit"),
                        F.round("bkg_local", 4).alias("bkg_local"),
                        F.round("resid_rms", 4).alias("resid_rms"))
            .orderBy(F.desc("flux_fit"), "epoch_id", "id"))


@query("q_periodogram", oracle=None)  # iterative numeric kernel: rows-only
def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lomb-Scargle periodogram (walkthrough cells 13-14) as a grouped
    applyInPandas; planted 3.7-day period recovered in golden tests."""
    from ..operators.timeseries import make_synthetic_lightcurve, periodogram

    lc = make_synthetic_lightcurve(spark)
    return periodogram(lc, "band", "bjd", "mag",
                       min_freq=0.05, max_freq=2.0, n_freqs=500)


@query("q_scan_fits", oracle=None)  # binary source: rows-only check
def q_scan_fits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FITS image source (reference core.py:18-50): binaryFile scan ->
    mapInPandas decode (stubbed codec) -> IMAGE rows with promoted typed
    header columns, epoch ids from a broadcast manifest join. Every call
    writes the same six frames into one fixed directory; each frame is
    written under a hidden name and renamed into place, so a scan never
    sees a partly written file."""
    import os
    import tempfile

    import numpy as np

    from ..sources.fits import scan_fits_dir, write_fake_fits

    d = os.path.join(tempfile.gettempdir(), "tdps_scan_fits")
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(5)
    for i in range(6):
        tmp = os.path.join(d, f".img{i}.fits.{os.getpid()}")
        write_fake_fits(tmp, rng.normal(100, 2, (32, 32)).astype(np.float32),
                        {"FILTER": "V", "AIRMASS": "1.2", "EXPTIME": "60.0",
                         "DATE-OBS": "2024-03-01T00:00:00", "SITEID": "syn"})
        os.replace(tmp, os.path.join(d, f"img{i}.fits"))
    manifest = spark.createDataFrame(
        [(f"img{i}.fits", i // 3) for i in range(6)],
        "filename string, epoch_id int")
    img = scan_fits_dir(spark, d, manifest)
    # Scalar-only projection for the driver canonicalizer: the raw pixel
    # array is summarized (count + rounded mean), the header map becomes
    # sorted JSON. The full IMAGE rows remain available from the source.
    return img.select(
        "filename", "epoch_id", "band", "width", "height",
        "airmass", F.col("date_obs").cast("string").alias("date_obs"),
        "exptime", "site_id",
        F.size("pixels").alias("n_pixels"),
        F.round(F.aggregate("pixels", F.lit(0.0),
                            lambda a, x: a + x.cast("double")) / F.size("pixels"),
                4).alias("mean_pixel"),
        F.to_json(F.map_from_entries(F.array_sort(F.map_entries("header"))))
         .alias("header_json"))


@query("q_wcs_solve", oracle=None)  # external-service UDF: rows-only check
def q_wcs_solve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Astrometric solve (reference core.py:486-529): one grouped kernel
    per epoch takes its top-30 brightest detections and calls the
    external service with bounded retry/backoff -> solved/failed status
    rows (failure never kills the job). Deterministic fake transport in
    this container."""
    from pyspark.sql import functions as F

    from ..operators.external import pixel_to_sky, solve_wcs
    from ..operators.images import detect_stars, make_synthetic_images

    images, _, _ = make_synthetic_images(spark, n_epochs=2)
    det = detect_stars(images.filter(F.col("filename").endswith("_i0.fits")))
    return pixel_to_sky(det, solve_wcs(det))


@query("q_ensemble_lightcurve", oracle=None)  # composed kernels: rows-only
def q_ensemble_lightcurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The walkthrough's downstream analysis chain (SURVEY.md §3.3) as ONE
    lazy plan: per-epoch result union (cell 5) -> cone match to the
    target position via the 2-D grid NN join (ens_match, cell 7) ->
    per-band head/tail outlier trim by window rank (ens_lc, cell 10) ->
    Lomb-Scargle periodogram per band (cells 13-14). The reference runs
    this as four scripts with pickle files between them; here the stages
    compose lazily and Catalyst plans the whole chain."""
    from pyspark.sql import Window as W

    from ..operators.nn_join import nn_join
    from ..operators.timeseries import make_synthetic_lightcurve, periodogram

    # per-epoch "CSV" rows with jittered sky positions around the target
    lc = make_synthetic_lightcurve(spark, n_epochs=200, period_days=2.9)
    rows = lc.withColumn("ra", F.lit(150.0) + (F.col("bjd") % 1) * 1e-4) \
             .withColumn("dec", F.lit(2.0) - (F.col("bjd") % 1) * 1e-4) \
             .withColumn("obs_id", F.monotonically_increasing_id())
    target = spark.createDataFrame([("StHa34", 150.00005, 1.99995)],
                                   "target string, t_ra double, t_dec double")
    # cone match: observations within ~1.5e-4 deg of the target
    matched = nn_join(rows.select("obs_id", "ra", "dec"), target,
                      ["obs_id"], [("ra", "t_ra"), ("dec", "t_dec")],
                      max_dist=1.5e-4, right_cols=["target"]) \
        .filter(F.col("target").isNotNull())
    ens = rows.join(matched.select("obs_id"), "obs_id")
    # outlier trim: drop the 3 brightest and 3 faintest epochs per band
    part = W.partitionBy("band")
    ranked = ens.select(
        "band", "bjd", "mag",
        F.row_number().over(part.orderBy(F.asc("mag"), F.asc("bjd"))).alias("rn"),
        F.count(F.lit(1)).over(part).alias("cnt"))
    trimmed = ranked.filter((F.col("rn") > 3) & (F.col("rn") <= F.col("cnt") - 3))
    return periodogram(trimmed, "band", "bjd", "mag",
                       min_freq=0.05, max_freq=2.0, n_freqs=400)
