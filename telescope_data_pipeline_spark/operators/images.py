"""Image-pipeline kernels: synthetic frames, FWHM, detection, align+stack.

Re-expression of the reference's per-image NumPy kernels (SURVEY.md
§2.10). Design rules:

- Every step is a pure numpy function over one frame or one epoch's
  frames (:func:`fwhm_sigma`, :func:`find_stars`, :func:`match_shifts`,
  :func:`stack_frames`). An image set never needs to be split across
  executors (SURVEY.md §1 D1), so the whole chain for an epoch is ONE
  kernel call (``plans.pipeline.process_epoch``), which the CLI runs in
  the tasks of one RDD job.
- The public step operators (:func:`measure_fwhm`, :func:`detect_stars`,
  :func:`estimate_shifts`, :func:`align_and_stack`) are thin Arrow
  adapters over the same functions for DataFrame callers:
  ``mapInPandas`` per image, ``applyInPandas`` per epoch. Only they
  import pandas, so the numpy kernels load without it.
- numpy-only: the reference leans on scipy/photutils/astropy
  (curve_fit, DAOStarFinder, EPSFBuilder); the same measurements are
  made here with moment analysis and local-maxima detection, which are
  textbook methods and accurate on the planted-Gaussian fixtures.
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence
from datetime import datetime, timedelta
from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import IMAGE

if TYPE_CHECKING:
    import pandas as pd

GAUSSIAN_SIGMA_TO_FWHM = 2.3548200450309493  # 2*sqrt(2*ln 2)
SATURATION = 50_000.0  # reference core.py:79 skip threshold


def frame_of(row) -> np.ndarray:
    """A row's flat ``pixels`` as a 2-D float64 image."""
    return np.asarray(row["pixels"], dtype=np.float64).reshape(
        int(row["height"]), int(row["width"]))


# ---------------------------------------------------------------------------
# Synthetic fixture (FIXTURES.md §B2): planted 2-D Gaussians, known truth.
# ---------------------------------------------------------------------------

def synthetic_frames(
    n_epochs: int = 4,
    imgs_per_epoch: int = 3,
    size: int = 128,
    n_stars: int = 12,
    bkg_level: float = 100.0,
    noise_sigma: float = 2.0,
    star_sigma: float = 1.8,
    seed: int = 42,
) -> tuple[list[tuple], pd.DataFrame, pd.DataFrame]:
    """The numpy half of :func:`make_synthetic_images`: schemas.IMAGE
    tuples (pixels as a float32 2-D array), truth stars, truth shifts."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    rows, truth, shifts = [], [], []
    min_sep = 14.0  # isolate planted stars: aperture tests need clean
    # sources (blends are PSF-photometry territory); 14 px still sits
    # inside the 5·fwhm≈21 px crowding radius, so the mask is exercised.
    for e in range(n_epochs):
        xs, ys = np.empty(n_stars), np.empty(n_stars)
        placed = 0
        while placed < n_stars:
            x, y = rng.uniform(20, size - 20, 2)
            if placed == 0 or np.hypot(xs[:placed] - x, ys[:placed] - y).min() >= min_sep:
                xs[placed], ys[placed] = x, y
                placed += 1
        # amplitudes = flux/(2πσ²) ∈ [1.5k, 7.4k]: above the 1000-count
        # faint floor (core.py:107-113), below the 50k saturation.
        fluxes = rng.uniform(30_000, 150_000, n_stars)
        fluxes[0] = 3.0e6          # saturated peak ≫ 50k (core.py:79)
        xs[1], ys[1] = 4.0, 4.0    # border star (core.py:309-310)
        for k in range(n_stars):
            truth.append({"epoch_id": e, "star": k, "x": xs[k], "y": ys[k],
                          "flux": fluxes[k]})
        yy, xx = np.mgrid[0:size, 0:size]
        base = np.zeros((size, size), dtype=np.float64)
        for k in range(n_stars):
            a = fluxes[k] / (2 * np.pi * star_sigma**2)
            base += a * np.exp(-(((xx - xs[k]) ** 2 + (yy - ys[k]) ** 2)
                                 / (2 * star_sigma**2)))
        for i in range(imgs_per_epoch):
            dx, dy = (0, 0) if i == 0 else tuple(rng.integers(-8, 9, 2))
            img = np.roll(np.roll(base, dy, axis=0), dx, axis=1)
            img += bkg_level + rng.normal(0, noise_sigma, (size, size))
            fname = f"e{e:02d}_i{i}.fits"
            shifts.append({"epoch_id": e, "filename": fname, "dx": int(dx),
                           "dy": int(dy)})
            rows.append((
                fname, e, "V", size, size, img.astype(np.float32),
                1.2 + 0.01 * i,
                datetime(2024, 3, 1) + timedelta(hours=6 * e, minutes=5 * i),
                60.0, "syn", {"ORIGIN": "synthetic"},
            ))
    return rows, pd.DataFrame(truth), pd.DataFrame(shifts)


def make_synthetic_images(
    spark: SparkSession,
    n_epochs: int = 4,
    imgs_per_epoch: int = 3,
    size: int = 128,
    n_stars: int = 12,
    bkg_level: float = 100.0,
    noise_sigma: float = 2.0,
    star_sigma: float = 1.8,
    seed: int = 42,
) -> tuple[DataFrame, pd.DataFrame, pd.DataFrame]:
    """Deterministic image set with planted stars.

    Returns (images_df, truth_stars, truth_shifts):
    - images_df: schemas.IMAGE rows; images within an epoch are shifted
      by known integer offsets ≤ 8 px (reference match cutoff is 20 px,
      core.py:172).
    - truth_stars: per-epoch star list (x, y, flux) in REFERENCE-image
      coordinates, including one saturated and one border star
      (exercised by the masking predicates, core.py:79 / core.py:309).
    - truth_shifts: (epoch_id, filename, dx, dy).
    """
    rows, truth, shifts = synthetic_frames(
        n_epochs, imgs_per_epoch, size, n_stars, bkg_level, noise_sigma,
        star_sigma, seed)
    rows = [r[:5] + (r[5].ravel().tolist(),) + r[6:] for r in rows]
    images = spark.createDataFrame(rows, schema=IMAGE)
    return images, truth, shifts


# ---------------------------------------------------------------------------
# FWHM estimation (reference core.py:52-114 find_fwhm).
# ---------------------------------------------------------------------------

FWHM_SCHEMA = T.StructType([
    T.StructField("filename", T.StringType(), False),
    T.StructField("epoch_id", T.IntegerType(), False),
    T.StructField("fwhm", T.DoubleType(), True),
    T.StructField("sigma", T.DoubleType(), True),
])


def fwhm_sigma(img: np.ndarray, cut_half: int = 8) -> float | None:
    """Gaussian sigma of the brightest unsaturated star, or None.

    Mirrors the reference loop (core.py:72-105): take the highest peak,
    skip if saturated (>= 50k) or too faint (< 1000 above background),
    measure the width, iterate over candidates (cap 100, core.py:106).
    Failure → None (the reference's 0-sentinel, core.py:95, becomes a
    proper NULL per SURVEY.md §1)."""
    img = img.copy()
    bkg = float(np.median(img))
    for _ in range(100):
        iy, ix = np.unravel_index(np.argmax(img), img.shape)
        peak = img[iy, ix] - bkg
        if peak < 1000:            # core.py:107-113 abort
            return None
        y0, y1 = max(iy - cut_half, 0), iy + cut_half + 1
        x0, x1 = max(ix - cut_half, 0), ix + cut_half + 1
        cut = img[y0:y1, x0:x1] - bkg
        img[y0:y1, x0:x1] = bkg    # mask region (core.py:99-103)
        if img[iy, ix] >= SATURATION or peak + bkg >= SATURATION:
            continue               # skip saturated (core.py:79)
        # FWHM from the half-max area: a Gaussian's region above A/2
        # has area π(FWHM/2)² — exact, and immune to neighbors fainter
        # than half this star's peak (the blending that biases second
        # moments).
        n_half = int((cut >= peak / 2).sum())
        s = 2.0 * np.sqrt(n_half / np.pi) / GAUSSIAN_SIGMA_TO_FWHM
        if 0.3 < s < 10:
            return s
    return None


def measure_fwhm(images: DataFrame, cut_half: int = 8) -> DataFrame:
    """Per-image FWHM (:func:`fwhm_sigma`), one row per image."""
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                sigma = fwhm_sigma(frame_of(row), cut_half)
                out.append({
                    "filename": row["filename"], "epoch_id": row["epoch_id"],
                    "fwhm": None if sigma is None else sigma * GAUSSIAN_SIGMA_TO_FWHM,
                    "sigma": sigma,
                })
            yield pd.DataFrame(out, columns=FWHM_SCHEMA.names)

    return images.mapInPandas(kernel, schema=FWHM_SCHEMA)


# ---------------------------------------------------------------------------
# Star detection (reference core.py:116-146 find_stars — UDTF shape).
# ---------------------------------------------------------------------------

DETECT_SCHEMA = T.StructType([
    T.StructField("filename", T.StringType(), False),
    T.StructField("epoch_id", T.IntegerType(), False),
    T.StructField("id", T.LongType(), False),
    T.StructField("xcentroid", T.DoubleType(), False),
    T.StructField("ycentroid", T.DoubleType(), False),
    T.StructField("npix", T.IntegerType(), True),
    T.StructField("sky", T.DoubleType(), True),
    T.StructField("peak", T.DoubleType(), True),
    T.StructField("flux", T.DoubleType(), True),
    T.StructField("mag", T.DoubleType(), True),
])


def find_stars(img: np.ndarray, threshold_sigma: float = 10.0,
               box: int = 5, ap_radius: int = 6) -> list[dict]:
    """Local-maxima star finder: one image → detections in raster order.

    Threshold = sky + threshold_sigma * clipped_std (reference
    core.py:141-143 uses bkg + 10·σ with σ from sigma_clipped_stats).
    Centroid from intensity-weighted moments in a ``box`` window, both
    clipped at the frame edge; aperture flux within ``ap_radius``.
    mag = -2.5 log10(flux) (p_io.py:111). Returns dicts keyed by the
    DETECT_SCHEMA fields after filename and epoch_id, ``id`` counting
    from 0."""
    # Robust background stats via MAD — a plain std is star-inflated,
    # which would push the threshold above every real source
    # (sigma_clipped_stats analog).
    sky = float(np.median(img))
    std = float(1.4826 * np.median(np.abs(img - sky)))
    thr = sky + threshold_sigma * std
    h = box // 2
    height, width = img.shape
    # 3x3 local maximum above threshold, excluding borders.
    core = img[1:-1, 1:-1]
    neigh = np.stack([img[1 + dy:height - 1 + dy, 1 + dx:width - 1 + dx]
                      for dy in (-1, 0, 1) for dx in (-1, 0, 1)
                      if (dy, dx) != (0, 0)])
    is_peak = (core > thr) & (core >= neigh.max(axis=0))
    ys, xs = np.nonzero(is_peak)
    recs = []
    for py, px in zip(ys + 1, xs + 1):
        y0, y1 = max(py - h, 0), min(py + h + 1, height)
        x0, x1 = max(px - h, 0), min(px + h + 1, width)
        cut = np.clip(img[y0:y1, x0:x1] - sky, 0, None)
        tot = cut.sum()
        if tot <= 0:
            continue
        cyy, cxx = np.mgrid[y0:y1, x0:x1]
        cx = float((cxx * cut).sum() / tot)
        cy = float((cyy * cut).sum() / tot)
        ay0, ay1 = max(py - ap_radius, 0), py + ap_radius + 1
        ax0, ax1 = max(px - ap_radius, 0), px + ap_radius + 1
        flux = float(np.clip(img[ay0:ay1, ax0:ax1] - sky, 0, None).sum())
        recs.append({
            "id": len(recs), "xcentroid": cx, "ycentroid": cy,
            "npix": int((cut > 0).sum()), "sky": sky,
            "peak": float(img[py, px]), "flux": flux,
            "mag": float(-2.5 * np.log10(flux)) if flux > 0 else None,
        })
    return recs


def detect_stars(images: DataFrame, threshold_sigma: float = 10.0,
                 box: int = 5, ap_radius: int = 6) -> DataFrame:
    """One image row → N detection rows (:func:`find_stars`)."""
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for _, row in pdf.iterrows():
                keys = {"filename": row["filename"], "epoch_id": row["epoch_id"]}
                recs += [{**keys, **s} for s in find_stars(
                    frame_of(row), threshold_sigma, box, ap_radius)]
            yield pd.DataFrame(recs, columns=DETECT_SCHEMA.names)

    return images.mapInPandas(kernel, schema=DETECT_SCHEMA)


# ---------------------------------------------------------------------------
# Alignment (reference core.py:148-213).
# ---------------------------------------------------------------------------

SHIFT_SCHEMA = T.StructType([
    T.StructField("epoch_id", T.IntegerType(), False),
    T.StructField("filename", T.StringType(), False),
    T.StructField("dx", T.IntegerType(), True),
    T.StructField("dy", T.IntegerType(), True),
    T.StructField("n_matched", T.LongType(), False),
])


def round_half_up(x: float) -> int:
    """Nearest integer, halves away from zero (SQL ``ROUND``; Python's
    and numpy's ``round`` send halves to the even neighbour)."""
    a = abs(x)
    r = math.floor(a)
    r += a - r >= 0.5
    return int(math.copysign(r, x))


def match_shifts(stars: Sequence[tuple[str, np.ndarray, np.ndarray]],
                 max_dist: float = 20.0) -> list[dict]:
    """Integer shift of each image onto the epoch's reference image.

    ``stars``: (filename, x, y) of every image of one epoch that has
    detections. The reference is the first filename; each star of
    another image is matched to its nearest reference star closer than
    ``max_dist`` (ties: smaller x, then y), and the shift to apply is
    the median (reference - observed) offset rounded half-up
    (core.py:203-208). Images with no match get no entry; the stack then
    leaves them unshifted. Returns dicts (filename, dx, dy, n_matched).
    """
    if not stars:
        return []
    ref_name, rx, ry = min(stars, key=lambda s: s[0])
    out = []
    for name, x, y in sorted(stars, key=lambda s: s[0]):
        if name == ref_name:
            continue
        ddx = np.subtract.outer(x, rx)
        ddy = np.subtract.outer(y, ry)
        dist = np.sqrt(ddx * ddx + ddy * ddy)
        best_dx, best_dy = [], []
        for k in range(len(x)):
            near = np.flatnonzero(dist[k] < max_dist)
            if near.size == 0:
                continue
            j = near[np.lexsort((ry[near], rx[near], dist[k, near]))[0]]
            best_dx.append(rx[j] - x[k])
            best_dy.append(ry[j] - y[k])
        if best_dx:
            out.append({"filename": name,
                        "dx": round_half_up(float(np.median(best_dx))),
                        "dy": round_half_up(float(np.median(best_dy))),
                        "n_matched": len(best_dx)})
    return out


def estimate_shifts(detections: DataFrame, max_dist: float = 20.0) -> DataFrame:
    """Per-image integer shift vs the epoch's reference image
    (:func:`match_shifts`), one grouped kernel per epoch."""
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        stars = [(name, g["xcentroid"].to_numpy(np.float64),
                  g["ycentroid"].to_numpy(np.float64))
                 for name, g in pdf.groupby("filename")]
        out = pd.DataFrame(match_shifts(stars, max_dist),
                           columns=SHIFT_SCHEMA.names[1:])
        out.insert(0, "epoch_id", int(pdf["epoch_id"].iloc[0]))
        return out

    return (detections.select("epoch_id", "filename", "xcentroid", "ycentroid")
            .groupBy("epoch_id").applyInPandas(kernel, schema=SHIFT_SCHEMA))


STACK_SCHEMA = T.StructType([
    T.StructField("epoch_id", T.IntegerType(), False),
    T.StructField("band", T.StringType(), True),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("pixels", T.ArrayType(T.FloatType()), False),
    T.StructField("n_images", T.IntegerType(), False),
])


def stack_frames(planes: Sequence[np.ndarray], shifts: Sequence[tuple[int, int]],
                 clip_sigma: float = 2.0) -> np.ndarray:
    """Shift each image onto the reference (np.roll semantics,
    core.py:209) and sigma-clipped median-combine (core.py:215-243).
    ``shifts`` holds (dx, dy) per plane. A single image passes through
    (psf_phot.py:57-67 edge case). Returns float32 pixels."""
    cube = np.stack([np.roll(np.roll(p, dy, axis=0), dx, axis=1)
                     for p, (dx, dy) in zip(planes, shifts)])
    if len(cube) == 1:
        return cube[0].astype(np.float32)
    med = np.median(cube, axis=0)
    std = cube.std(axis=0)
    mask = np.abs(cube - med) > clip_sigma * std
    clipped = np.ma.masked_array(cube, mask=mask)
    return np.ma.median(clipped, axis=0).filled(med).astype(np.float32)


def align_and_stack(images: DataFrame, shifts: DataFrame,
                    clip_sigma: float = 2.0) -> DataFrame:
    """Per-epoch stack (:func:`stack_frames`): N image rows → 1 stacked
    row; the shuffle key is epoch_id, matching the reference's
    per-image-set independence."""
    import pandas as pd

    joined = images.join(shifts.select("epoch_id", "filename", "dx", "dy"),
                         on=["epoch_id", "filename"], how="left") \
                   .fillna({"dx": 0, "dy": 0})

    def stack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("filename")
        first = pdf.iloc[0]
        stacked = stack_frames([frame_of(r) for _, r in pdf.iterrows()],
                               list(zip(pdf["dx"].astype(int),
                                        pdf["dy"].astype(int))), clip_sigma)
        return pd.DataFrame([{
            "epoch_id": int(first["epoch_id"]), "band": first["band"],
            "width": int(first["width"]), "height": int(first["height"]),
            "pixels": stacked.ravel(), "n_images": len(pdf),
        }])

    return joined.groupBy("epoch_id").applyInPandas(stack, schema=STACK_SCHEMA)
