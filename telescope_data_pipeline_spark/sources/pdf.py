"""PDF diagnostics sink (reference p_io.py:64-101 ``write_pdf``).

The reference renders, per image set: one page per science image
(ZScale-interval + sqrt-stretch heatmap with a colorbar), one page for
the empirical PSF model, and a grid of star/residual cutout pairs
captioned with fitted fluxes. It does this driver-side with matplotlib's
``PdfPages``; the images are bounded (one set ≈ a handful of 4096²
frames) so collecting them to the driver is the reference's own design,
not a scale bug.

This module re-creates that surface with a **minimal pure-Python PDF
1.4 writer** — the PDF format is an open ISO standard (ISO 32000-1) and
the only codec needed, Flate, is stdlib ``zlib``:

- images embed as 8-bit DeviceGray XObjects (``/FlateDecode``);
- text uses the built-in Helvetica base-14 font (no font embedding);
- the colorbar is a 1×256 gradient XObject stretched to a strip.

The pages are rendered by a pure function over rows,
:func:`diagnostics_pdf`; :func:`write_diagnostics_pdf` is its DataFrame
adapter, which collects at most ``max_pages`` image rows (and
``max_pages * cutouts_per_page`` cutout rows) to the driver. The CLI
hands :func:`diagnostics_pdf` the stacked rows it has already collected
for every sink, so there the cap bounds the pages, not driver memory.
With the CSV, FITS and TXT sinks it completes the reference's four-sink
pattern (psf_phot.py:91-94).
"""

from __future__ import annotations

import zlib
from collections.abc import Mapping, Sequence

import numpy as np
from pyspark.sql import DataFrame

__all__ = ["MiniPdf", "zscale_stretch", "diagnostics_pdf", "write_diagnostics_pdf"]


# --------------------------------------------------------------------------
# Minimal PDF writer (public format: ISO 32000-1 / PDF 1.4 subset)
# --------------------------------------------------------------------------

_PAGE_W, _PAGE_H = 612, 792  # US Letter, points


class MiniPdf:
    """A tiny PDF 1.4 serializer: pages of text, rectangles, and 8-bit
    grayscale images. Enough for diagnostics plots; nothing more."""

    def __init__(self) -> None:
        self._objs: list[bytes] = []  # 1-indexed bodies, object i = i+1
        self._pages: list[tuple[int, list[int]]] = []  # (content, [xobjs])
        self._content: list[str] = []
        self._images: list[int] = []  # XObject ids used by current page

    # -- low-level ---------------------------------------------------------

    def _add(self, body: bytes) -> int:
        self._objs.append(body)
        return len(self._objs)  # object number

    # -- page lifecycle ----------------------------------------------------

    def new_page(self) -> None:
        self._flush_page()
        self._content = []
        self._images = []

    def _flush_page(self) -> None:
        if not self._content and not self._images:
            return
        stream = "\n".join(self._content).encode("latin-1")
        comp = zlib.compress(stream)
        cid = self._add(
            b"<< /Length " + str(len(comp)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + comp + b"\nendstream"
        )
        self._pages.append((cid, list(self._images)))
        self._content, self._images = [], []

    # -- drawing -----------------------------------------------------------

    def text(self, x: float, y: float, s: str, size: float = 12.0) -> None:
        safe = s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
        self._content.append(
            f"BT /F1 {size:g} Tf {x:g} {y:g} Td ({safe}) Tj ET"
        )

    def rect(self, x: float, y: float, w: float, h: float,
             gray: float = 0.0, fill: bool = False) -> None:
        op = "f" if fill else "S"
        pre = f"{gray:g} g" if fill else f"{gray:g} G"
        self._content.append(f"{pre} {x:g} {y:g} {w:g} {h:g} re {op}")

    def image(self, pixels: np.ndarray, x: float, y: float,
              w: float, h: float) -> None:
        """Place an 8-bit grayscale image (2-D uint8 array), bottom-left
        at (x, y) in points, scaled to w×h."""
        if pixels.dtype != np.uint8 or pixels.ndim != 2:
            raise ValueError("image() wants a 2-D uint8 array")
        ih, iw = pixels.shape
        data = zlib.compress(pixels.tobytes())
        oid = self._add(
            b"<< /Type /XObject /Subtype /Image"
            + f" /Width {iw} /Height {ih}".encode()
            + b" /ColorSpace /DeviceGray /BitsPerComponent 8"
            + b" /Filter /FlateDecode /Length " + str(len(data)).encode()
            + b" >>\nstream\n" + data + b"\nendstream"
        )
        self._images.append(oid)
        self._content.append(
            f"q {w:g} 0 0 {h:g} {x:g} {y:g} cm /Im{oid} Do Q"
        )

    def colorbar(self, x: float, y: float, w: float, h: float,
                 vmin: float, vmax: float) -> None:
        """Vertical gradient strip with min/max tick labels."""
        grad = np.arange(255, -1, -1, dtype=np.uint8).reshape(256, 1)
        self.image(grad, x, y, w, h)
        self.rect(x, y, w, h)
        self.text(x + w + 4, y + h - 8, f"{vmax:.4g}", size=8)
        self.text(x + w + 4, y, f"{vmin:.4g}", size=8)

    # -- serialization -----------------------------------------------------

    def tobytes(self) -> bytes:
        self._flush_page()
        font = self._add(
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        )
        page_ids: list[int] = []
        pages_id = len(self._objs) + 1 + len(self._pages)  # after page objs
        for cid, xobjs in self._pages:
            xo = b""
            if xobjs:
                xo = (b" /XObject << "
                      + b" ".join(f"/Im{i} {i} 0 R".encode() for i in xobjs)
                      + b" >>")
            page_ids.append(self._add(
                b"<< /Type /Page /Parent " + str(pages_id).encode()
                + b" 0 R /MediaBox [0 0 "
                + f"{_PAGE_W} {_PAGE_H}".encode()
                + b"] /Contents " + str(cid).encode() + b" 0 R"
                + b" /Resources << /Font << /F1 " + str(font).encode()
                + b" 0 R >>" + xo + b" >> >>"
            ))
        kids = b" ".join(f"{i} 0 R".encode() for i in page_ids)
        real_pages = self._add(
            b"<< /Type /Pages /Kids [" + kids + b"] /Count "
            + str(len(page_ids)).encode() + b" >>"
        )
        assert real_pages == pages_id, "object numbering drifted"
        catalog = self._add(
            b"<< /Type /Catalog /Pages " + str(pages_id).encode() + b" 0 R >>"
        )
        out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
        offsets = [0]
        for i, body in enumerate(self._objs, start=1):
            offsets.append(len(out))
            out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
        xref = len(out)
        out += f"xref\n0 {len(self._objs) + 1}\n".encode()
        out += b"0000000000 65535 f \n"
        for off in offsets[1:]:
            out += f"{off:010d} 00000 n \n".encode()
        out += (b"trailer\n<< /Size " + str(len(self._objs) + 1).encode()
                + b" /Root " + str(catalog).encode() + b" 0 R >>\n"
                + b"startxref\n" + str(xref).encode() + b"\n%%EOF\n")
        return bytes(out)

    def write(self, path: str) -> None:
        with open(path, "wb") as fh:
            fh.write(self.tobytes())


# --------------------------------------------------------------------------
# Normalization (reference: ZScaleInterval + SqrtStretch, p_io.py:67)
# --------------------------------------------------------------------------

def zscale_stretch(img: np.ndarray,
                   lo_pct: float = 2.5,
                   hi_pct: float = 97.5) -> tuple[np.ndarray, float, float]:
    """Percentile-interval contrast cut + sqrt stretch → uint8.

    A faithful stand-in for the reference's ``ZScaleInterval()`` +
    ``SqrtStretch()`` display normalization: clip to the central
    percentile interval, sqrt-map to [0, 255]. Returns (u8, vmin, vmax).
    """
    finite = img[np.isfinite(img)]
    if finite.size == 0:
        return np.zeros_like(img, dtype=np.uint8), 0.0, 0.0
    vmin = float(np.percentile(finite, lo_pct))
    vmax = float(np.percentile(finite, hi_pct))
    if vmax <= vmin:
        vmax = vmin + 1.0
    unit = np.clip((img - vmin) / (vmax - vmin), 0.0, 1.0)
    return (np.sqrt(unit) * 255.0).astype(np.uint8), vmin, vmax


# --------------------------------------------------------------------------
# The sink
# --------------------------------------------------------------------------

def _to_2d(row) -> np.ndarray:
    return np.asarray(row["pixels"], dtype=np.float64).reshape(
        int(row["height"]), int(row["width"]))


def diagnostics_pdf(
    images: Sequence[Mapping] = (),
    model: np.ndarray | None = None,
    stars: Sequence[Mapping] = (),
    max_pages: int = 32,
    cutouts_per_page: int = 8,
) -> tuple[MiniPdf, int]:
    """Render the reference's diagnostics PDF from rows; returns the
    document and its number of pages.

    - ``images``: rows of (epoch_id, filename, width, height, pixels) —
      one heatmap page each for the first ``max_pages`` in (epoch_id,
      filename) order, ZScale+sqrt normalized with a labeled colorbar
      (p_io.py:65-72).
    - ``model``: the empirical PSF as a 2-D array → one page
      (p_io.py:73-79).
    - ``stars``: rows with ``star_cutout``, ``residual_cutout`` (flat
      float arrays), ``cut_w``, ``cut_h``, ``flux`` — the first
      ``max_pages * cutouts_per_page`` rendered as star/residual pairs,
      in the order given (brightest first, p_io.py:80-99).
    """
    pdf = MiniPdf()
    n_pages = 0
    margin = 54.0

    rows = sorted(images, key=lambda r: (r["epoch_id"], r["filename"]))
    for row in rows[:max_pages]:
        pdf.new_page()
        img = _to_2d(row)
        u8, vmin, vmax = zscale_stretch(img)
        side = min(_PAGE_W - 2 * margin - 60, _PAGE_H - 2 * margin - 40)
        x0, y0 = margin, _PAGE_H - margin - 24 - side
        pdf.text(margin, _PAGE_H - margin,
                 f"epoch {row['epoch_id']}  {row['filename']}  "
                 f"{img.shape[1]}x{img.shape[0]}", size=12)
        pdf.image(u8, x0, y0, side, side)
        pdf.rect(x0, y0, side, side)
        pdf.colorbar(x0 + side + 12, y0, 14, side, vmin, vmax)
        n_pages += 1

    if model is not None:
        pdf.new_page()
        u8, vmin, vmax = zscale_stretch(np.asarray(model, dtype=np.float64))
        side = 300.0
        x0, y0 = margin, _PAGE_H - margin - 24 - side
        pdf.text(margin, _PAGE_H - margin, "PSF Model", size=14)
        pdf.image(u8, x0, y0, side, side)
        pdf.rect(x0, y0, side, side)
        pdf.colorbar(x0 + side + 12, y0, 14, side, vmin, vmax)
        n_pages += 1

    cell_h = (_PAGE_H - 2 * margin) / cutouts_per_page
    cut = cell_h - 22
    for i, row in enumerate(stars[:max_pages * cutouts_per_page]):
        slot = i % cutouts_per_page
        if slot == 0:
            pdf.new_page()
            pdf.text(margin, _PAGE_H - margin + 18,
                     "star / residual cutouts (brightest first)",
                     size=11)
            n_pages += 1
        w, h = int(row["cut_w"]), int(row["cut_h"])
        star = np.asarray(row["star_cutout"],
                          dtype=np.float64).reshape(h, w)
        resid = np.asarray(row["residual_cutout"],
                           dtype=np.float64).reshape(h, w)
        y = _PAGE_H - margin - (slot + 1) * cell_h
        for j, arr in enumerate((star, resid)):
            u8, _, _ = zscale_stretch(arr)
            x = margin + j * (cut + 30)
            pdf.image(u8, x, y, cut, cut)
            pdf.rect(x, y, cut, cut)
        pdf.text(margin + 2 * (cut + 30) + 8, y + cut / 2,
                 f"flux={float(row['flux']):.2f}", size=9)

    return pdf, n_pages


def write_diagnostics_pdf(
    path: str,
    images: DataFrame | None = None,
    model: np.ndarray | None = None,
    stars: DataFrame | None = None,
    max_pages: int = 32,
    cutouts_per_page: int = 8,
) -> int:
    """Write :func:`diagnostics_pdf` of DataFrame rows to ``path``:
    ``images`` with schemas.IMAGE columns (epoch_id, filename, width,
    height, pixels), ``stars`` with the cutout columns. Only the rows
    that get a page are collected — this sink, like the reference's, is
    a per-image-set diagnostic, not a table export; exports of unbounded
    data go through the parquet/CSV sinks. Returns the number of pages
    written.
    """
    image_rows = star_rows = ()
    if images is not None:
        image_rows = (images.select("epoch_id", "filename", "width", "height",
                                    "pixels")
                      .orderBy("epoch_id", "filename")
                      .limit(max_pages).collect())
    if stars is not None:
        star_rows = (stars.select("star_cutout", "residual_cutout",
                                  "cut_w", "cut_h", "flux")
                     .limit(max_pages * cutouts_per_page).collect())
    pdf, n_pages = diagnostics_pdf(image_rows, model, star_rows, max_pages,
                                   cutouts_per_page)
    pdf.write(path)
    return n_pages
