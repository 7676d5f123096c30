"""FITS image source and sink.

Reference: ``import_images`` (core.py:18-50) opens each FITS file with
astropy and pulls HDU-1 pixels + header. Here one pure function,
:func:`image_row`, decodes one file's bytes into a schemas.IMAGE row;
every path that decodes calls it: :func:`scan_fits_dir` (a
``binaryFile`` scan, then a ``mapInPandas`` decode into IMAGE rows), the
CLI's per-epoch kernel (``plans.pipeline.night_records``, an RDD job
whose tasks open and decode their own epochs' files).

The CLI's inputs are read on the driver, as the reference reads its
manifest (psf_phot.py:41-45): :func:`read_manifest` gives the
(filename, epoch_id) pairs of the manifest CSV and :func:`fits_names`
the ``*.fits`` files directly in the image directory.

``_decode_fits`` dispatches to astropy when installed (real FITS
files), falling back to the minimal header-card + big-endian float
container written by ``write_fake_fits`` below — astropy is absent in
the dev container, so tests exercise the fake path; the scan→decode→
IMAGE plumbing is identical either way.

The sink side writes one stacked file per epoch with a WCS-merged
header (:func:`fits_headers`, :func:`write_fits_files`), from driver
rows or, through :func:`write_fits_rows`, from a DataFrame.
"""

from __future__ import annotations

import csv
import io
import math
import os
import struct
from collections.abc import Iterator, Mapping, Sequence
from datetime import datetime

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import IMAGE

_MAGIC = b"TDPS-FAKE-FITS-1"

try:  # pragma: no cover - exercised only where astropy is installed
    from astropy.io import fits as _astropy_fits
except ImportError:
    _astropy_fits = None


def write_fake_fits(path: str, pixels: np.ndarray, header: dict[str, str]) -> None:
    """Minimal deterministic stand-in container: magic, header cards
    (key=value lines), then big-endian float32 pixels."""
    with open(path, "wb") as f:
        f.write(_MAGIC + b"\n")
        f.write(struct.pack(">II", *pixels.shape))
        cards = "\n".join(f"{k}={v}" for k, v in sorted(header.items()))
        card_bytes = cards.encode()
        f.write(struct.pack(">I", len(card_bytes)))
        f.write(card_bytes)
        f.write(pixels.astype(">f4").tobytes())


def _decode_fits(content: bytes) -> tuple[np.ndarray, dict[str, str]]:
    """Decode FITS bytes to ``(2-D pixels, header dict)``.

    Real standard-conformant files ("SIMPLE  =" magic, reference
    core.py:18-50 reads them with astropy) go through astropy when it
    is installed; the fake container written by :func:`write_fake_fits`
    always parses via the byte-level stub. A real FITS file in an
    environment without astropy raises, and the scan's failure-path
    rule drops (production: quarantines) the file.
    """
    if _astropy_fits is not None and content[:6] == b"SIMPLE":
        with _astropy_fits.open(io.BytesIO(content)) as hdul:
            hdu = next((h for h in hdul
                        if h.data is not None and h.data.ndim == 2), None)
            if hdu is None:
                raise ValueError("no 2-D image HDU")
            header = {k: str(v) for k, v in hdu.header.items()
                      if k not in ("HISTORY", "COMMENT", "")}
            return np.asarray(hdu.data, dtype=np.float32), header
    if _astropy_fits is None and content[:6] == b"SIMPLE":
        raise ValueError("real FITS file but astropy is not installed")
    buf = io.BytesIO(content)
    if buf.readline().strip() != _MAGIC:
        raise ValueError("not a TDPS fake FITS file")
    h, w = struct.unpack(">II", buf.read(8))
    (card_len,) = struct.unpack(">I", buf.read(4))
    header = dict(line.split("=", 1)
                  for line in buf.read(card_len).decode().splitlines())
    pixels = np.frombuffer(buf.read(h * w * 4), dtype=">f4").reshape(h, w)
    return pixels, header


def parse_date_obs(value: str | None) -> datetime | None:
    """A DATE-OBS card as a datetime: the ISO 8601 form FITS requires
    (``2024-03-01``, ``2024-03-01T00:10:00.5``, ``...Z``, ``...+02:00``),
    naive when the card has no offset (read as UTC). None for a missing
    or blank card; any other value, such as the old FITS ``DD/MM/YY``,
    raises ValueError rather than being guessed at."""
    value = (value or "").strip()
    return datetime.fromisoformat(value) if value else None


def image_row(filename: str, content: bytes) -> dict | None:
    """One FITS file's bytes → a schemas.IMAGE row as a dict (epoch_id
    -1: the manifest assigns it), or None when the file does not decode.

    Failure-path rule (SURVEY.md §7 #6): an undecodable file, one with
    no pixels (a 0×0 image), or one whose AIRMASS/EXPTIME/DATE-OBS value
    does not parse (DATE-OBS: :func:`parse_date_obs`), is dropped, never
    fatal — at 100 TB one corrupt object must not kill the job.
    (Production: route it to a quarantine sink instead of dropping.)
    """
    try:
        px, hdr = _decode_fits(bytes(content))
        if not px.size:
            return None
        return {
            "filename": filename, "epoch_id": -1,
            "band": hdr.get("FILTER"),
            "width": px.shape[1], "height": px.shape[0],
            "pixels": px.astype(np.float32).ravel(),
            "airmass": float(hdr["AIRMASS"]) if "AIRMASS" in hdr else None,
            "date_obs": parse_date_obs(hdr.get("DATE-OBS")),
            "exptime": float(hdr["EXPTIME"]) if "EXPTIME" in hdr else None,
            "site_id": hdr.get("SITEID"),
            "header": hdr,
        }
    except (ValueError, TypeError, struct.error):
        return None


def mid_exposure_jd(unix_s, exptime):
    """Mid-exposure Julian date: unix epoch -> JD offset, + exptime/2 in
    days (reference p_io.py:48-56). Takes floats or Columns, so the
    Spark expression and the kernels' Python share one formula."""
    return unix_s / 86400.0 + 2440587.5 + exptime / 2.0 / 86400.0


FITS_SINK_SCHEMA = (
    "epoch_id int, path string, n_bytes long, n_cards int, "
    "avg_airmass double, bjd double"
)


def write_stacked_fits(
    images: DataFrame,
    stacked: DataFrame,
    wcs: DataFrame,
    out_dir: str,
    target_ra: float = 150.0,
    target_dec: float = 2.0,
) -> DataFrame:
    """FITS sink with WCS-merged header (reference p_io.py:19-62
    ``write_fits``): one file per epoch holding the stacked pixels and a
    header merged as :func:`fits_headers` describes.

    The per-epoch header inputs (mean airmass, mean mid-exposure JD,
    first header) are a relational aggregation joined to the stack and
    the WCS table; the files are written by :func:`write_fits_rows`.
    Returns the lazy manifest of written files; materialize to execute
    the writes.
    """
    hdr = images.groupBy("epoch_id").agg(
        F.avg("airmass").alias("avg_airmass"),
        F.avg(mid_exposure_jd(F.unix_timestamp("date_obs"), F.col("exptime")))
        .alias("jd_mid"),
        F.min_by("header", "filename").alias("base_header"),
    )
    rows = (stacked.select("epoch_id", "width", "height", "pixels")
            .join(hdr, "epoch_id")
            .join(F.broadcast(wcs.filter(F.col("solved"))
                              .select("epoch_id", "crval_ra", "crval_dec",
                                      "pix_scale")),
                  "epoch_id", "left"))
    return write_fits_rows(rows, out_dir, target_ra, target_dec)


def _float(v) -> float:
    """A nullable number as a float, None and NaN as NaN."""
    return float("nan") if v is None else float(v)


def fits_headers(rows: Sequence[Mapping], target_ra: float = 150.0,
                 target_dec: float = 2.0) -> list[dict[str, str]]:
    """The merged FITS header of each row of (avg_airmass, jd_mid,
    base_header, crval_ra, crval_dec, pix_scale):

    - base: the header of the epoch's first image (reference
      ``im_headers[0]``);
    - overlay: every WCS key EXCEPT HISTORY/COMMENT (p_io.py:40-42), none
      where ``crval_ra`` is null (the solve failed);
    - AIRMASS: mean over the epoch's images (p_io.py:43-47);
    - BJD: barycentric correction of the mean mid-exposure JD
      (p_io.py:48-56, via :func:`..operators.external._approx_bjd`).
    """
    from ..operators.external import _approx_bjd

    bjd = _approx_bjd(np.array([_float(r["jd_mid"]) for r in rows], np.float64),
                      np.full(len(rows), target_ra), np.full(len(rows), target_dec))
    headers = []
    for r, r_bjd in zip(rows, bjd):
        wcs_cards = {}
        if not math.isnan(_float(r["crval_ra"])):
            # a real solver returns a full header; HISTORY/COMMENT are
            # dropped here exactly as p_io.py:40-42 does
            wcs_cards = {"CRVAL1": r["crval_ra"], "CRVAL2": r["crval_dec"],
                         "CDELT1": r["pix_scale"], "CDELT2": r["pix_scale"],
                         "HISTORY": "solved", "COMMENT": "solved"}
        merged = dict(r["base_header"] or {})
        merged.update({k: str(v) for k, v in wcs_cards.items()
                       if k not in ("HISTORY", "COMMENT")})
        merged["AIRMASS"] = str(_float(r["avg_airmass"]))
        merged["BJD"] = str(r_bjd)
        headers.append(merged)
    return headers


def write_fits_files(rows: Sequence[Mapping], out_dir: str,
                     target_ra: float = 150.0, target_dec: float = 2.0) -> list[dict]:
    """Write ``stacked_e<epoch_id>.fits`` under ``out_dir`` for each row
    of (epoch_id, width, height, pixels) plus the :func:`fits_headers`
    inputs; returns one FITS_SINK_SCHEMA dict per file."""
    out = []
    for r, header in zip(rows, fits_headers(rows, target_ra, target_dec)):
        px = np.asarray(r["pixels"], dtype=np.float32).reshape(
            int(r["height"]), int(r["width"]))
        path = os.path.join(out_dir, f"stacked_e{int(r['epoch_id'])}.fits")
        write_fake_fits(path, px, header)
        out.append({"epoch_id": int(r["epoch_id"]), "path": path,
                    "n_bytes": os.path.getsize(path), "n_cards": len(header),
                    "avg_airmass": float(header["AIRMASS"]),
                    "bjd": float(header["BJD"])})
    return out


def write_fits_rows(rows: DataFrame, out_dir: str, target_ra: float = 150.0,
                    target_dec: float = 2.0) -> DataFrame:
    """:func:`write_fits_files` as an Arrow kernel over a DataFrame of
    (epoch_id, width, height, pixels, avg_airmass, jd_mid, base_header,
    crval_ra, crval_dec, pix_scale) rows, so the sink parallelizes across
    epochs. Returns the lazy manifest of written files
    (FITS_SINK_SCHEMA)."""
    import pandas as pd

    def write_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                write_fits_files(pdf.to_dict("records"), out_dir, target_ra,
                                 target_dec),
                columns=["epoch_id", "path", "n_bytes", "n_cards",
                         "avg_airmass", "bjd"])

    return rows.select("epoch_id", "width", "height", "pixels", "avg_airmass",
                       "jd_mid", "base_header", "crval_ra", "crval_dec",
                       "pix_scale").mapInPandas(write_kernel, schema=FITS_SINK_SCHEMA)


def _int32(text: str) -> int | None:
    """``text`` as Spark's CSV reader parses an int column (Java's
    ``Integer.parseInt``: a sign and digits, no blanks), or None."""
    if text != text.strip() or "_" in text:
        return None
    try:
        value = int(text)
    except ValueError:
        return None
    return value if -2**31 <= value < 2**31 else None


def read_manifest(path: str) -> list[tuple[str, int]]:
    """The (filename, epoch_id) rows of the manifest CSV at ``path``, in
    file order, as ``spark.read.schema("filename string, epoch_id
    int").csv(path)`` reads them, less the rows whose epoch_id is null:
    blank lines are skipped, columns past the second are ignored, and an
    epoch that is not a plain 32-bit integer (`` 3``, ``3.0``, ``x``, a
    header row) is null. Spark reads an empty filename as null; here it
    is ``""``, a listed name that no file has. A missing ``path`` raises
    FileNotFoundError naming it."""
    with open(path, newline="", encoding="utf-8", errors="replace") as fh:
        rows = [(row[0], _int32(row[1])) for row in csv.reader(fh)
                if len(row) > 1]
    return [(name, epoch) for name, epoch in rows if epoch is not None]


def fits_names(path: str) -> set[str]:
    """The names of the ``*.fits`` files directly in the directory
    ``path``, as a binaryFile scan with ``pathGlobFilter="*.fits"``
    lists them: regular files, none whose name starts with ``.`` or
    ``_``. A missing ``path`` raises FileNotFoundError naming it."""
    with os.scandir(path) as entries:
        return {e.name for e in entries
                if e.is_file() and e.name.endswith(".fits")
                and not e.name.startswith((".", "_"))}


def scan_fits_dir(spark: SparkSession, path: str,
                  manifest: DataFrame | None = None) -> DataFrame:
    """binaryFile scan of the ``*.fits`` files under ``path`` →
    :func:`image_row` decode → schemas.IMAGE rows, ``filename`` the
    basename.

    ``manifest`` (schemas.MANIFEST: filename → epoch_id, the reference's
    CSV at psf_phot.py:41) assigns grouping keys via a broadcast join on
    the basename; without it epoch_id = -1. Files that do not decode are
    dropped.
    """
    import pandas as pd

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [image_row(name, content)
                    for name, content in zip(pdf["filename"], pdf["content"])]
            yield pd.DataFrame([r for r in rows if r is not None],
                               columns=[f.name for f in IMAGE.fields])

    decoded = (spark.read.format("binaryFile")
               .option("pathGlobFilter", "*.fits")
               .load(path)
               .select(F.element_at(F.split("path", "/"), -1).alias("filename"),
                       "content")
               .mapInPandas(decode, schema=IMAGE))
    if manifest is not None:
        decoded = (decoded.drop("epoch_id")
                   .join(F.broadcast(manifest), on="filename", how="left")
                   .select(*[f.name for f in IMAGE.fields]))
    return decoded
