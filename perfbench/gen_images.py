"""Seeded image-set generator for the image workloads.

Writes, under one directory:

- ``frames/*.fits``: fake-FITS frames (``sources.fits.write_fake_fits``),
  ``frames_per_epoch`` per epoch, each a noisy copy of the epoch's star
  field rolled by an integer shift (frame 0 is the unshifted reference);
- ``manifest.csv``: ``filename,epoch_id`` rows, no header (the CLI's
  ``--manifest`` format);
- the planted truth, returned as a list of dicts (epoch, x, y, flux,
  saturated) in reference-frame coordinates.

Every planted star sits at least ``EDGE_MARGIN`` px from every edge
after the largest shift. ``detect_stars`` raises ``ValueError`` for a
peak in the second-to-last row or column (operators/images.py: the
centroid window slice is clipped at the frame edge, the ``np.mgrid``
window is not), so inputs here never put a star near an edge.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass

import numpy as np

MAX_SHIFT = 8      # |dx|, |dy| of non-reference frames, px
EDGE_MARGIN = 20   # min distance of any planted star to an edge, px
MIN_SEP = 24.0     # min distance between two planted stars, px
STAR_SIGMA = 1.8   # Gaussian PSF width, px
BKG_LEVEL = 100.0
NOISE_SIGMA = 2.0
SATURATED_FLUX = 3.0e6


@dataclass(frozen=True)
class ImageSpec:
    epochs: int
    frames_per_epoch: int
    size: int
    stars: int


def _render(size: int, xs: np.ndarray, ys: np.ndarray,
            fluxes: np.ndarray) -> np.ndarray:
    """Sum of Gaussian stamps (radius 6 sigma) on a zero frame."""
    img = np.zeros((size, size), dtype=np.float64)
    r = int(np.ceil(6 * STAR_SIGMA))
    for x, y, f in zip(xs, ys, fluxes):
        x0, y0 = int(x) - r, int(y) - r
        yy, xx = np.mgrid[y0:y0 + 2 * r + 1, x0:x0 + 2 * r + 1]
        a = f / (2 * np.pi * STAR_SIGMA ** 2)
        img[y0:y0 + 2 * r + 1, x0:x0 + 2 * r + 1] += a * np.exp(
            -((xx - x) ** 2 + (yy - y) ** 2) / (2 * STAR_SIGMA ** 2))
    return img


def _place(rng: np.random.Generator, spec: ImageSpec) -> tuple[np.ndarray, np.ndarray]:
    lo, hi = EDGE_MARGIN + MAX_SHIFT, spec.size - EDGE_MARGIN - MAX_SHIFT
    xs, ys = np.empty(spec.stars), np.empty(spec.stars)
    placed = 0
    while placed < spec.stars:
        x, y = rng.uniform(lo, hi, 2)
        if placed == 0 or np.hypot(xs[:placed] - x, ys[:placed] - y).min() >= MIN_SEP:
            xs[placed], ys[placed] = x, y
            placed += 1
    return xs, ys


def generate(out_dir: str, spec: ImageSpec, seed: int) -> list[dict]:
    """Write frames + manifest under ``out_dir``; return the planted truth."""
    from telescope_data_pipeline_spark.sources.fits import write_fake_fits

    rng = np.random.default_rng(seed)
    frames_dir = os.path.join(out_dir, "frames")
    os.makedirs(frames_dir, exist_ok=True)
    truth, manifest = [], []
    for e in range(spec.epochs):
        xs, ys = _place(rng, spec)
        # amplitude flux/(2*pi*sigma^2) in [1.5k, 7.4k]: above the
        # detector's faint floor, below the 50k saturation level.
        fluxes = rng.uniform(30_000, 150_000, spec.stars)
        fluxes[0] = SATURATED_FLUX
        for k in range(spec.stars):
            truth.append({"epoch_id": e, "x": float(xs[k]), "y": float(ys[k]),
                          "flux": float(fluxes[k]), "saturated": k == 0})
        base = _render(spec.size, xs, ys, fluxes)
        for i in range(spec.frames_per_epoch):
            dx, dy = ((0, 0) if i == 0 else
                      (int(v) for v in rng.integers(-MAX_SHIFT, MAX_SHIFT + 1, 2)))
            img = np.roll(np.roll(base, dy, axis=0), dx, axis=1)
            img = img + BKG_LEVEL + rng.normal(0, NOISE_SIGMA, img.shape)
            fname = f"e{e:03d}_f{i}.fits"
            hour, minute = divmod(10 * (e * spec.frames_per_epoch + i), 60)
            write_fake_fits(os.path.join(frames_dir, fname),
                            img.astype(np.float32),
                            {"FILTER": "V", "AIRMASS": f"{1.1 + 0.01 * i:.2f}",
                             "EXPTIME": "60.0", "SITEID": "bench",
                             "DATE-OBS": f"2024-03-{1 + hour // 24:02d}T"
                                         f"{hour % 24:02d}:{minute:02d}:00"})
            manifest.append((fname, e))
    with open(os.path.join(out_dir, "manifest.csv"), "w", newline="") as fh:
        csv.writer(fh).writerows(manifest)
    return truth
