"""The end-to-end photometry pipeline: one numpy kernel per epoch.

Reference lifecycle (psf_phot.py:9-98, traced in SURVEY.md §3.1):
manifest scan → per-epoch loop → decode → FWHM → align+stack → detect →
mask → photometry → WCS → sinks. An image set never needs to be split
across executors (SURVEY.md §1 D1) and holds a few frames and a few
dozen stars, so the whole chain for one epoch is ONE numpy function,
:func:`process_epoch`. The reference's sequential per-epoch loop
becomes task parallelism across epochs, without the fixed cost of a
Spark stage per step. Each epoch yields one record (EPOCH_SCHEMA): the
stacked pixels, the rows of every step, the TXT statistics, the FITS
header inputs, the WCS solution and a named outcome. Two adapters run
it:

- :func:`night_records` (the CLI): the manifest and the file listing
  are read on the driver, and ONE RDD job over the epoch indices runs
  as one stage with no shuffle and no Spark SQL; each task opens and
  decodes its own epochs' frames and returns, pickled, the part of each
  record the sinks read (:func:`sink_record`), its CSV rows and TXT
  line already rendered. The CLI's plan has no relational operator, so
  a DataFrame query would only add Catalyst's fixed cost. The modules
  the kernel loads import pandas only inside their Arrow adapters, so
  these workers import neither pandas nor pyarrow.
- :func:`epoch_records` (frames already decoded into a DataFrame, e.g.
  ``sources.fits.scan_fits_dir``): one ``groupBy("epoch_id")
  .applyInPandas``, one shuffle of the frames. :func:`pipeline_stages`
  (the per-step DataFrames) are projections of its records, which
  :func:`run_photometry_pipeline` caches once for the seven step
  DataFrames.

Failure-path semantics: the reference's branchy per-set fallbacks
(psf_phot.py:53-98) become the record's outcome — ``ok``, ``no_frames``
(listed in the manifest, no decodable frame), ``mixed_shapes`` (frames
of different shapes, so no stack), ``no_detections`` (no star found in
the stack) or ``no_psf_star`` (stars found, none usable as a PSF star,
so nothing is fit) — so one bad epoch never kills the job and never
goes missing silently.
"""

from __future__ import annotations

import calendar
import math
import os
from collections.abc import Collection, Iterable, Iterator, Mapping, Sequence
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

import numpy as np
from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.external import WCS_SCHEMA, solve_top_stars
from ..operators.images import (
    DETECT_SCHEMA,
    FWHM_SCHEMA,
    GAUSSIAN_SIGMA_TO_FWHM,
    SHIFT_SCHEMA,
    STACK_SCHEMA,
    find_stars,
    frame_of,
    fwhm_sigma,
    match_shifts,
    stack_frames,
)
from ..operators.photometry import (
    PHOT_SCHEMA,
    PSF_STAR_SCHEMA,
    fit_psf_photometry,
    psf_star_mask,
)
from ..sources.fits import image_row, mid_exposure_jd
from ..sources.sinks import format_csv_row, format_stats_line

if TYPE_CHECKING:
    import pandas as pd

#: the outcomes of an epoch with no stack
UNSTACKED = ("no_frames", "mixed_shapes")

MEAN_FWHM = 4.5   # fallback FWHM for epochs with no measurement; photometry's grouping width
PSF_BORDER = 16   # PSF stars sit at least this far inside the frame
PSF_TRIM = 2      # brightest and faintest PSF candidates dropped per epoch


@dataclass
class Frame:
    """One decoded image of an epoch, as the kernel needs it."""

    filename: str
    pixels: np.ndarray  # 2-D
    band: str | None = None
    airmass: float | None = None
    jd_mid: float | None = None  # mid-exposure Julian date
    header: dict[str, str] = field(default_factory=dict)


def _rows(schema: T.StructType, *keys: str) -> T.ArrayType:
    """A step's rows inside the record: its schema less the ``keys``
    the record already holds."""
    return T.ArrayType(T.StructType([f for f in schema.fields
                                     if f.name not in keys]))


EPOCH_SCHEMA = T.StructType([
    T.StructField("epoch_id", T.IntegerType(), False),
    T.StructField("outcome", T.StringType(), False),
    T.StructField("n_frames", T.IntegerType(), False),
    T.StructField("listed", T.ArrayType(T.StringType()), False),
    T.StructField("missing", T.ArrayType(T.StringType()), False),
    # the stack (STACK_SCHEMA)
    T.StructField("band", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("pixels", T.ArrayType(T.FloatType()), True),
    T.StructField("n_images", T.IntegerType(), True),
    # the rows of every step, without the epoch key
    T.StructField("fwhm", _rows(FWHM_SCHEMA, "epoch_id"), True),
    T.StructField("detections", _rows(DETECT_SCHEMA, "epoch_id"), True),
    T.StructField("shifts", _rows(SHIFT_SCHEMA, "epoch_id"), True),
    T.StructField("stacked_detections",
                  _rows(DETECT_SCHEMA, "epoch_id", "filename"), True),
    T.StructField("psf_stars", _rows(PSF_STAR_SCHEMA, "epoch_id", "filename"), True),
    T.StructField("photometry", _rows(PHOT_SCHEMA, "epoch_id"), True),
    # TXT statistics (sources.sinks.stats_line renders them)
    T.StructField("n_sources", T.IntegerType(), True),
    T.StructField("n_psf", T.IntegerType(), True),
    T.StructField("n_results", T.IntegerType(), True),
    T.StructField("peak_min", T.DoubleType(), True),
    T.StructField("peak_max", T.DoubleType(), True),
    T.StructField("peak_med", T.DoubleType(), True),
    T.StructField("flux_min", T.DoubleType(), True),
    T.StructField("flux_max", T.DoubleType(), True),
    T.StructField("flux_med", T.DoubleType(), True),
    T.StructField("mean_fwhm", T.DoubleType(), True),
    # FITS header inputs
    T.StructField("avg_airmass", T.DoubleType(), True),
    T.StructField("jd_mid", T.DoubleType(), True),
    T.StructField("base_header", T.MapType(T.StringType(), T.StringType()), True),
    # WCS solution (WCS_SCHEMA)
    *[T.StructField(f.name, f.dataType, True) for f in WCS_SCHEMA.fields[1:]],
])


def _mean(values: Sequence[float | None]) -> float | None:
    """Mean of the values that are not None, summed in order (as SQL AVG
    sums one partition's rows), or None."""
    present = [v for v in values if v is not None]
    total = 0.0
    for v in present:
        total += v
    return total / len(present) if present else None


def process_epoch(
    epoch_id: int,
    frames: Sequence[Frame],
    size: int | None = None,
    listed: Sequence[str] = (),
) -> dict:
    """The whole image chain for one epoch; returns its EPOCH_SCHEMA
    record as a dict.

    FWHM per frame → detect per frame → shifts onto the first frame →
    sigma-clipped stack → detect on the stack → PSF-star mask (per-epoch
    mean FWHM, border from the stack's own width and height, or from a
    ``size``-px square frame when ``size`` is given) → PSF photometry →
    top-30 WCS solve.
    ``listed``: the epoch's filenames in the manifest; those with no
    frame are reported as ``missing``. Frames are taken in filename
    order, so the first is the reference frame; frames of different
    shapes give the outcome ``mixed_shapes`` and no stack.
    """
    frames = sorted(frames, key=lambda f: f.filename)
    planes = [np.asarray(f.pixels, dtype=np.float64) for f in frames]
    rec: dict = {"epoch_id": epoch_id, "n_frames": len(frames),
                 "listed": sorted(listed),
                 "missing": sorted(set(listed) - {f.filename for f in frames})}
    if not frames:
        return {**rec, "outcome": "no_frames"}
    if len({img.shape for img in planes}) > 1:  # no stack of unlike frames
        return {**rec, "outcome": "mixed_shapes"}

    fwhm = []
    for f, img in zip(frames, planes):
        sigma = fwhm_sigma(img)
        fwhm.append({"filename": f.filename, "sigma": sigma,
                     "fwhm": None if sigma is None else sigma * GAUSSIAN_SIGMA_TO_FWHM})
    detections = [(f.filename, find_stars(img)) for f, img in zip(frames, planes)]
    shifts = match_shifts([
        (name, np.array([s["xcentroid"] for s in stars]),
         np.array([s["ycentroid"] for s in stars]))
        for name, stars in detections if stars])
    by_name = {s["filename"]: (s["dx"], s["dy"]) for s in shifts}
    stacked = stack_frames(planes,
                           [by_name.get(f.filename, (0, 0)) for f in frames])
    stack = stacked.astype(np.float64)
    found = find_stars(stack)
    mean_fwhm = _mean([r["fwhm"] for r in fwhm])
    rec.update({
        "band": frames[0].band, "height": stack.shape[0], "width": stack.shape[1],
        "pixels": stacked.ravel(), "n_images": len(frames),
        "fwhm": fwhm,
        "detections": [{"filename": name, **s} for name, stars in detections
                       for s in stars],
        "shifts": shifts,
        "stacked_detections": found,
        "n_sources": len(found), "n_psf": 0, "n_results": 0,
        "mean_fwhm": mean_fwhm,
        "avg_airmass": _mean([f.airmass for f in frames]),
        "jd_mid": _mean([f.jd_mid for f in frames]),
        "base_header": frames[0].header,
    })
    if not found:
        return {**rec, "outcome": "no_detections", "psf_stars": [],
                "photometry": []}

    x, y, peak, flux, ids = (np.array([s[k] for s in found])
                             for k in ("xcentroid", "ycentroid", "peak", "flux", "id"))
    height, width = stack.shape if size is None else (size, size)
    keep = psf_star_mask(x, y, peak, flux, ids, width, height,
                         MEAN_FWHM if mean_fwhm is None else mean_fwhm,
                         border=PSF_BORDER, trim=PSF_TRIM)
    psf_stars = [{"x": x[i], "y": y[i], "flux": flux[i], "id": ids[i],
                  "peak": peak[i]} for i in keep]
    phot = fit_psf_photometry(stack, found, [(x[i], y[i]) for i in keep],
                              fwhm=MEAN_FWHM)
    fitted = [p["flux_fit"] for p in phot]
    rec.update({
        "outcome": "ok" if phot else "no_psf_star",
        "psf_stars": psf_stars, "photometry": phot,
        "n_psf": len(psf_stars), "n_results": len(phot),
        "peak_min": float(peak.min()), "peak_max": float(peak.max()),
        "peak_med": float(np.median(peak)),
        **solve_top_stars(x, y, flux, ids),
    })
    if fitted:
        rec.update({"flux_min": min(fitted), "flux_max": max(fitted),
                    "flux_med": float(np.median(fitted))})
    return rec


def _null(v) -> bool:
    """Whether a row value is absent: None, NaN or NaT (the only values
    not equal to themselves)."""
    return v is None or v != v


def _frame(row: Mapping) -> Frame:
    """A schemas.IMAGE row (a dict or a pandas row) as a :class:`Frame`.
    ``date_obs`` may be a ``datetime`` or a ``pd.Timestamp``; naive is
    UTC, and its whole seconds since the unix epoch give the JD."""
    date_obs, exptime = row["date_obs"], row["exptime"]
    jd_mid = (None if _null(date_obs) or _null(exptime)
              else mid_exposure_jd(calendar.timegm(date_obs.utctimetuple()),
                                   float(exptime)))
    return Frame(row["filename"], frame_of(row), row["band"],
                 None if _null(row["airmass"]) else float(row["airmass"]),
                 jd_mid, dict(row["header"] or {}))


def _record_frame(rec: dict) -> pd.DataFrame:
    """A :func:`process_epoch` record as a one-row EPOCH_SCHEMA frame."""
    import pandas as pd

    return pd.DataFrame([[rec.get(c) for c in EPOCH_SCHEMA.names]],
                        columns=EPOCH_SCHEMA.names)


def epoch_records(images: DataFrame, size: int | None = None) -> DataFrame:
    """Decoded frames (schemas.IMAGE rows, e.g. from
    ``sources.fits.scan_fits_dir``) → one EPOCH_SCHEMA record per epoch,
    from :func:`process_epoch` in one grouped kernel. Frames with no
    epoch (no manifest row) are left out. The result is lazy; cache it
    when more than one output reads it."""
    frames = (images.filter(F.col("epoch_id").isNotNull())
              .select("epoch_id", "filename", "band", "width", "height",
                      "pixels", "airmass", "date_obs", "exptime", "header"))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _record_frame(process_epoch(
            int(pdf["epoch_id"].iloc[0]),
            [_frame(r) for r in pdf.to_dict("records")], size))

    return frames.groupBy("epoch_id").applyInPandas(kernel, schema=EPOCH_SCHEMA)


#: The catalog CSV's columns: a photometry row less its epoch key.
CATALOG_FIELDS = [f for f in PHOT_SCHEMA.fields if f.name != "epoch_id"]

#: What the CLI's sinks and summary read of a :func:`process_epoch` record.
SINK_KEYS = ("epoch_id", "outcome", "n_frames", "n_results", "listed", "missing",
             "width", "height", "pixels", "avg_airmass", "jd_mid", "base_header",
             "crval_ra", "crval_dec", "pix_scale")


def _null_nan(row: Mapping) -> dict:
    """``row`` with NaN as None: what is rendered of a record reads a NaN
    as a null, as Arrow does where a record crosses into a DataFrame."""
    return {k: None if isinstance(v, float) and math.isnan(v) else v
            for k, v in row.items()}


def sink_record(rec: dict) -> dict:
    """The part of a :func:`process_epoch` record that the CLI's sinks
    and summary read (SINK_KEYS, absent keys as None), with its catalog
    rows rendered as CSV lines (``csv``; None when the epoch has no
    photometry column) and its TXT line (``txt``; None when no star was
    detected), as ``F.to_csv`` and ``sources.sinks.stats_line`` render
    them."""
    out = {k: rec.get(k) for k in SINK_KEYS}
    phot = rec.get("photometry")
    out["csv"] = (None if phot is None else
                  [format_csv_row(CATALOG_FIELDS, _null_nan(p)) for p in phot])
    out["txt"] = (format_stats_line(_null_nan(rec))
                  if rec.get("n_sources") else None)
    return out


def night_records(sc: SparkContext, images: str,
                  manifest: Sequence[tuple[str, int]],
                  on_disk: Collection[str],
                  size: int | None = None) -> list[dict]:
    """One :func:`sink_record` per epoch of ``manifest``, the
    (filename, epoch_id) pairs of ``sources.fits.read_manifest``, in
    epoch order, from :func:`process_epoch` in ONE RDD job: one stage of
    ``min(epochs, defaultParallelism)`` tasks over the epoch indices, no
    shuffle and no Spark SQL. The records come back pickled.

    Each task opens its epochs' files in the directory ``images`` and
    decodes them with ``sources.fits.image_row``. Only names in
    ``on_disk`` (``sources.fits.fits_names``) are opened, so no path
    outside ``images`` is. Every manifest row is in its epoch's
    ``listed``, and a name listed under two epochs feeds both; a listed
    name that is not on disk or does not decode is ``missing``, and an
    epoch with no frame left has outcome ``no_frames``."""
    by_epoch: dict[int, list[str]] = {}
    for name, epoch in manifest:
        by_epoch.setdefault(epoch, []).append(name)
    epochs = sorted(by_epoch)

    def frames(names: list[str]) -> Iterator[Frame]:
        for name in names:
            if name in on_disk:
                with open(os.path.join(images, name), "rb") as fh:
                    row = image_row(name, fh.read())
                if row is not None:
                    yield _frame(row)

    def kernel(ids: Iterable[int]) -> Iterator[dict]:
        for i in ids:
            names = by_epoch[epochs[i]]
            yield sink_record(process_epoch(epochs[i], list(frames(names)),
                                            size, listed=names))

    tasks = max(1, min(len(epochs), sc.defaultParallelism))
    return sc.parallelize(range(len(epochs)), tasks).mapPartitions(kernel).collect()


def pipeline_stages(records: DataFrame) -> dict[str, DataFrame]:
    """The per-step DataFrames of :func:`epoch_records`' output, each a
    projection of it: {fwhm, detections, shifts, stacked,
    stacked_detections, psf_stars, photometry} with the schemas of the
    step operators (FWHM_SCHEMA, DETECT_SCHEMA, ...)."""

    def rows(column: str, names: list[str], *keys) -> DataFrame:
        return (records.select("epoch_id", *keys, F.inline(column))
                .select(*names))

    stacked_name = F.lit("stacked").alias("filename")
    return {
        "fwhm": rows("fwhm", FWHM_SCHEMA.names),
        "detections": rows("detections", DETECT_SCHEMA.names),
        "shifts": rows("shifts", SHIFT_SCHEMA.names),
        "stacked": (records.filter(F.col("pixels").isNotNull())
                    .select(*STACK_SCHEMA.names)),
        "stacked_detections": rows("stacked_detections", DETECT_SCHEMA.names,
                                   stacked_name),
        "psf_stars": rows("psf_stars", PSF_STAR_SCHEMA.names, stacked_name),
        "photometry": rows("photometry", PHOT_SCHEMA.names),
    }


def run_photometry_pipeline(images: DataFrame,
                            size: int | None = None) -> dict[str, DataFrame]:
    """images (schemas.IMAGE) → {fwhm, detections, shifts, stacked,
    stacked_detections, psf_stars, photometry} DataFrames.

    All seven are projections of ONE cached :func:`epoch_records`
    result, so materializing any number of them runs the per-epoch
    kernel once. The cache lives until the session's
    ``catalog.clearCache()``; to scope it, call :func:`epoch_records`
    and :func:`pipeline_stages` directly and unpersist the records. The
    CLI (``__main__.main``) reads no DataFrame: it collects what every
    sink needs from :func:`night_records`."""
    return pipeline_stages(epoch_records(images, size=size).cache())
