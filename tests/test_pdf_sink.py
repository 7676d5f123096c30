"""PDF diagnostics sink: structural validation of the pure-Python writer.

The reference's write_pdf (p_io.py:64-101) is a matplotlib PdfPages dump;
ours is a minimal ISO 32000-1 serializer. These tests parse the output
back: xref offsets must land on their objects, the page tree must count
the pages we asked for, and every image stream must Flate-decode to
exactly width*height bytes.
"""

from __future__ import annotations

import re
import zlib

import numpy as np
import pytest

from telescope_data_pipeline_spark.sources.pdf import (
    MiniPdf,
    write_diagnostics_pdf,
    zscale_stretch,
)


def _parse_objects(buf: bytes) -> dict[int, bytes]:
    objs = {}
    for m in re.finditer(rb"(\d+) 0 obj\n(.*?)\nendobj\n", buf, re.S):
        objs[int(m.group(1))] = m.group(2)
    return objs


def _check_xref(buf: bytes) -> None:
    xref_at = int(buf.rsplit(b"startxref\n", 1)[1].split(b"\n", 1)[0])
    assert buf[xref_at:xref_at + 4] == b"xref"
    table = buf[xref_at:].split(b"trailer")[0]
    offsets = [int(line[:10]) for line in table.splitlines()[2:]
               if line.endswith(b"n ")]
    for i, off in enumerate(offsets, start=1):
        assert buf[off:].startswith(f"{i} 0 obj".encode()), \
            f"xref offset for object {i} does not land on it"


def test_minipdf_structure_and_image_roundtrip():
    pdf = MiniPdf()
    pdf.new_page()
    pdf.text(72, 720, "hello (with) parens \\ and backslash")
    img = (np.arange(64 * 48) % 256).astype(np.uint8).reshape(48, 64)
    pdf.image(img, 72, 400, 200, 150)
    pdf.new_page()
    pdf.rect(100, 100, 50, 50, fill=True, gray=0.5)
    buf = pdf.tobytes()

    assert buf.startswith(b"%PDF-1.4")
    assert buf.rstrip().endswith(b"%%EOF")
    _check_xref(buf)
    objs = _parse_objects(buf)
    pages = [b for b in objs.values() if b.startswith(b"<< /Type /Page ")]
    assert len(pages) == 2
    tree = [b for b in objs.values() if b.startswith(b"<< /Type /Pages")]
    assert len(tree) == 1 and b"/Count 2" in tree[0]
    imgs = [b for b in objs.values() if b"/Subtype /Image" in b]
    assert len(imgs) == 1
    stream = imgs[0].split(b"stream\n", 1)[1].rsplit(b"\nendstream", 1)[0]
    assert zlib.decompress(stream) == img.tobytes()


def test_zscale_stretch_contract():
    rng = np.random.default_rng(7)
    img = rng.normal(100.0, 5.0, size=(32, 32))
    img[0, 0] = 1e9  # outlier must not wash out the stretch
    u8, vmin, vmax = zscale_stretch(img)
    assert u8.dtype == np.uint8 and u8.shape == img.shape
    assert u8[0, 0] == 255  # clipped to the top of the interval
    assert vmax < 1e9  # percentile interval ignored the outlier
    assert 0 < u8.mean() < 255  # mid-tones survive
    # all-NaN image: defined, all-zero output
    blank, lo, hi = zscale_stretch(np.full((4, 4), np.nan))
    assert blank.sum() == 0 and lo == hi == 0.0


def test_write_diagnostics_pdf_from_dataframes(spark, tmp_path):
    from telescope_data_pipeline_spark.operators.images import (
        make_synthetic_images,
    )

    images, _, _ = make_synthetic_images(spark, n_epochs=2)
    n_images = images.count()

    cut = 9
    rng = np.random.default_rng(3)
    star_rows = []
    for i in range(3):
        star = rng.normal(10.0, 1.0, size=(cut, cut))
        star[cut // 2, cut // 2] = 500.0 - 100.0 * i
        resid = rng.normal(0.0, 1.0, size=(cut, cut))
        star_rows.append({
            "star_cutout": [float(v) for v in star.ravel()],
            "residual_cutout": [float(v) for v in resid.ravel()],
            "cut_w": cut, "cut_h": cut, "flux": 500.0 - 100.0 * i,
        })
    stars = spark.createDataFrame(star_rows)

    model = np.exp(-((np.indices((17, 17)) - 8) ** 2).sum(0) / 8.0)
    out = str(tmp_path / "diag.pdf")
    n_pages = write_diagnostics_pdf(
        out, images=images, model=model, stars=stars)

    # image pages + 1 model page + 1 cutout page (3 pairs fit one page)
    assert n_pages == n_images + 1 + 1
    buf = open(out, "rb").read()
    _check_xref(buf)
    objs = _parse_objects(buf)
    tree = [b for b in objs.values() if b.startswith(b"<< /Type /Pages")]
    assert f"/Count {n_pages}".encode() in tree[0]
    # every image XObject stream decodes to width*height bytes
    for body in objs.values():
        if b"/Subtype /Image" not in body:
            continue
        w = int(re.search(rb"/Width (\d+)", body).group(1))
        h = int(re.search(rb"/Height (\d+)", body).group(1))
        stream = body.split(b"stream\n", 1)[1].rsplit(b"\nendstream", 1)[0]
        assert len(zlib.decompress(stream)) == w * h


def test_write_diagnostics_pdf_bounds_collect(spark, tmp_path):
    """max_pages caps the driver-side collect (the sink's scale contract)."""
    from telescope_data_pipeline_spark.operators.images import (
        make_synthetic_images,
    )

    images, _, _ = make_synthetic_images(spark, n_epochs=2)
    out = str(tmp_path / "capped.pdf")
    n_pages = write_diagnostics_pdf(out, images=images, max_pages=1)
    assert n_pages == 1
