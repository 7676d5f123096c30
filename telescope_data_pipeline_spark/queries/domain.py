"""Domain-kernel demos: the media-column queries (``q_media_*``) and the
photometry pipeline's kernels (detection, PSF photometry, FITS scan, WCS
solve, periodogram, ensemble light curve). These operate on in-memory
deterministic fixtures (the driver tables carry no binary/image
columns), so they register as rows-only checks; their numeric
correctness is pinned by golden tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query


@query("q_media_features", oracle=None)  # binary fixture: rows-only check
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal image pipeline: binary payload column → mapInPandas
    decode (stubbed codec) → per-image feature vector. Demonstrates the
    opaque-binary + typed-metadata column convention (schemas.MEDIA) and
    the Arrow-batched decode stage.

    The registered output is scalar-only (the 8-bin feature vector is
    promoted to per-bin columns) because the driver canonicalizer hashes
    with a pandas sort, which cannot order array cells. The array form
    stays available from the operator for internal composition."""
    from ..operators.multimodal import extract_image_features, make_fake_media

    feats = extract_image_features(make_fake_media(spark))
    bins = [F.round(F.element_at("feature", i + 1).cast("double"), 6).alias(f"f{i}")
            for i in range(8)]
    return feats.select("media_id", "width", "height", "n_bytes",
                        F.round("mean_intensity", 6).alias("mean_intensity"),
                        *bins)


@query("q_media_frames", oracle=None)  # binary fixture: rows-only check
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling as a UDTF-shaped mapInPandas: one input video
    row → N frame rows, exploded inside the Arrow batch (no shuffle)."""
    from ..operators.multimodal import make_fake_media, sample_frames

    return sample_frames(make_fake_media(spark), every_s=1.0)


@query("q_media_phash", oracle=None)  # hash-seeded pairs: rows-only check
def q_media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup over the media fixture: 64-bit aHash
    per decoded image (one Arrow pass), then the SimHash pigeonhole
    Hamming band join (operators/dedup.py::hamming_near_duplicates) —
    the dedup family's multimodal member. Rows-only: fingerprints hash
    decoded pixels, not SQL-visible values; the planted-copy goldens in
    tests/test_multimodal.py pin recall and precision instead. Output
    is the per-image fingerprint table plus its near-dup partner count
    at radius 6 (scalar columns for the driver canonicalizer)."""
    from ..operators.multimodal import (
        image_near_duplicates,
        make_fake_media,
        perceptual_hashes,
    )

    media = make_fake_media(spark, n=96)
    fps = perceptual_hashes(media)
    pairs = image_near_duplicates(media, max_hamming=6)
    partners = (pairs.select(F.col("media_id_a").alias("media_id"))
                .unionAll(pairs.select(F.col("media_id_b").alias("media_id")))
                .groupBy("media_id")
                .agg(F.count(F.lit(1)).alias("n_near_dups")))
    return (fps.join(partners, "media_id", "left")
            .select("media_id", "fp",
                    F.coalesce("n_near_dups", F.lit(0)).alias("n_near_dups")))


@query("q_media_resize", oracle=None)  # binary fixture: rows-only check
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize/normalization: decode + nearest-neighbor resample
    every image to a fixed 16x16 raster inside the Arrow batch — the
    fixed-shape normalization in front of a vision encoder. Scalar
    summary output (driver canonicalizer cannot sort array cells):
    per-image dims + mean/min/max of the resized raster, which pins the
    resample math while the array form stays available from the
    operator."""
    from ..operators.multimodal import make_fake_media, resize_images

    r = resize_images(make_fake_media(spark), width=16, height=16)
    px = F.transform("pixels", lambda x: x.cast("double"))
    return r.select(
        "media_id", "src_width", "src_height", "width", "height",
        F.round(F.aggregate(px, F.lit(0.0), lambda a, v: a + v)
                / F.size("pixels"), 6).alias("mean_px"),
        F.round(F.array_min(px), 6).alias("min_px"),
        F.round(F.array_max(px), 6).alias("max_px"))


@query("q_media_audio", oracle=None)  # binary fixture: rows-only check
def q_media_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature pipeline: binary payload -> mapInPandas decode
    (stubbed codec) -> windowed RMS energy + zero-crossing rate rows —
    the silence/VAD primitives, completing the image/video/audio
    multimodal triple (schemas.MEDIA convention)."""
    from ..operators.multimodal import extract_audio_features, make_fake_media

    feats = extract_audio_features(make_fake_media(spark), window_s=0.5)
    return feats.select("media_id", "window_idx",
                        F.round("t_start_s", 3).alias("t_start_s"),
                        F.round("rms", 6).alias("rms"),
                        F.round("zcr", 6).alias("zcr"))


@query("q_media_probe", oracle=None)  # binary containers: rows-only check
def q_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-structure probe (r10): parse MP4 box trees and
    Matroska EBML trees executor-side — duration, track count, codec
    four-cc/ID, and frame dimensions WITHOUT decoding a sample. The
    triage pass a 100 TB media-curation pipeline runs before deciding
    which payloads earn the expensive decode fan-out; the fixture
    plants REAL minimal MP4 and WebM/Matroska containers alongside
    synthetic payloads so both parsers and the unknown-magic
    passthrough run in every demo (map-only Arrow, zero shuffle;
    goldens in tests/test_multimodal.py pin exact parsed values)."""
    from ..operators.multimodal import make_fake_media, probe_media

    return probe_media(make_fake_media(spark))


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


@query("q_media_exif", oracle=None)  # binary metadata walk: rows-only
def q_media_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF metadata extraction (r12 s4): JPEG APP1 / TIFF IFD walks
    executor-side — orientation, camera, capture time, exposure
    triangle, declared dims, GPS-presence (the PII routing flag). The
    fixture plants the golden EXIF JPEG alongside the regular rotation
    so the extractor and the all-NULL passthrough both run in every
    demo. Goldens in tests/test_multimodal.py pin exact field values;
    adversarial fuzz pins the never-fatal contract."""
    from ..operators.multimodal import exif_metadata, make_fake_media

    return exif_metadata(make_fake_media(spark, include_exif=True))
