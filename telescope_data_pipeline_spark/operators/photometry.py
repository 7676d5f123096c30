"""PSF-star selection and PSF photometry (reference core.py:281-484).

Both steps are pure numpy functions over one epoch's stacked image and
its detections, called by the per-epoch kernel
``plans.pipeline.process_epoch`` (in the CLI's RDD tasks, and in the
grouped ``epoch_records`` for DataFrame callers):

- :func:`psf_star_mask` is the selection mask (core.py:281-342
  ``image_mask``): border and saturation predicates, a crowding test
  over all pairs of the epoch's few dozen detections, and a brightness
  trim;
- :func:`fit_psf_photometry` builds the empirical PSF (core.py:384-414)
  and runs the iterative photometry (core.py:416-452): cutouts →
  normalized median PSF → per-star linear least-squares flux with
  iterative neighbor subtraction (the curve_fit/LevMar-free
  formulation; exact for the planted-Gaussian fixtures).

:func:`select_psf_stars` and :func:`psf_photometry` are thin Arrow
adapters over them for DataFrame callers (``applyInPandas`` per image /
per epoch); only they import pandas.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .images import SATURATION

PSF_STAR_SCHEMA = T.StructType([
    T.StructField("epoch_id", T.IntegerType(), False),
    T.StructField("filename", T.StringType(), False),
    T.StructField("x", T.DoubleType(), False),
    T.StructField("y", T.DoubleType(), False),
    T.StructField("flux", T.DoubleType(), True),
    T.StructField("id", T.LongType(), False),
    T.StructField("peak", T.DoubleType(), True),
])


def psf_star_mask(
    x: np.ndarray,
    y: np.ndarray,
    peak: np.ndarray,
    flux: np.ndarray,
    ids: np.ndarray,
    width: int,
    height: int,
    fwhm: float,
    border: int = 16,
    crowd_mult: float = 5.0,
    trim: int = 5,
) -> np.ndarray:
    """The reference's masking rules over one image's detections:

    1. border predicate (core.py:309-310): ≥ ``border`` px from edges;
    2. saturation predicate (core.py:79): peak < 50k;
    3. crowding rejection (core.py:317-330): no other star that passes
       1-2 within ``crowd_mult * fwhm``;
    4. brightness trim (core.py:338-340): drop the ``trim`` brightest
       and faintest when more than 2*trim remain.

    Returns the indices of the selected stars, brightest first (ties by
    id).
    """
    ok = np.flatnonzero((x > border) & (x < width - 1 - border)
                        & (y > border) & (y < height - 1 - border)
                        & (peak < SATURATION))
    dx = np.subtract.outer(x[ok], x[ok])
    dy = np.subtract.outer(y[ok], y[ok])
    close = np.sqrt(dx * dx + dy * dy) <= fwhm * crowd_mult
    np.fill_diagonal(close, False)
    isolated = ok[~close.any(axis=1)]
    ranked = isolated[np.lexsort((ids[isolated], -flux[isolated]))]
    if len(ranked) <= 2 * trim:
        return ranked
    return ranked[trim:len(ranked) - trim]


def select_psf_stars(
    detections: DataFrame,
    width: int,
    height: int,
    fwhm: float,
    border: int = 16,
    crowd_mult: float = 5.0,
    trim: int = 5,
    fwhm_table: DataFrame | None = None,
) -> DataFrame:
    """PSF stars per (epoch, image) by :func:`psf_star_mask`.

    ``fwhm_table`` (epoch_id, fwhm rows, e.g. from measure_fwhm) makes
    the crowding radius PER-EPOCH, the mean of the epoch's measured
    FWHMs — the reference recomputes fwhm per image set (psf_phot.py:49);
    the scalar ``fwhm`` is the fallback for epochs with no measurement.
    """
    import pandas as pd

    if fwhm_table is not None:
        per_epoch = (fwhm_table.filter(F.col("fwhm").isNotNull())
                     .groupBy("epoch_id")
                     .agg(F.avg("fwhm").alias("__fwhm")))
        d = detections.join(F.broadcast(per_epoch), "epoch_id", "left")
    else:
        d = detections.withColumn("__fwhm", F.lit(None).cast("double"))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        measured = pdf["__fwhm"].iloc[0]
        keep = psf_star_mask(
            pdf["xcentroid"].to_numpy(np.float64),
            pdf["ycentroid"].to_numpy(np.float64),
            pdf["peak"].to_numpy(np.float64), pdf["flux"].to_numpy(np.float64),
            pdf["id"].to_numpy(), width, height,
            fwhm if pd.isna(measured) else float(measured),
            border, crowd_mult, trim)
        return (pdf.iloc[keep]
                .rename(columns={"xcentroid": "x", "ycentroid": "y"})
                [PSF_STAR_SCHEMA.names])

    return (d.select("epoch_id", "filename", "id", "xcentroid", "ycentroid",
                     "flux", "peak", "__fwhm")
            .groupBy("epoch_id", "filename")
            .applyInPandas(kernel, schema=PSF_STAR_SCHEMA))


def _sigma_clipped_median(data: np.ndarray, sigma: float = 3.0,
                          maxiters: int = 5) -> float:
    """Median after iterative sigma clipping around the median (the
    sigma_clipped_stats(annulus_data) step of reference core.py:371-372)."""
    d = np.asarray(data, dtype=np.float64).ravel()
    d = d[np.isfinite(d)]
    for _ in range(maxiters):
        if d.size == 0:
            return 0.0
        med, std = np.median(d), np.std(d)
        keep = np.abs(d - med) <= sigma * std
        if keep.all():
            break
        d = d[keep]
    return float(np.median(d)) if d.size else 0.0


def local_background_subtract(
    img: np.ndarray,
    positions: list[tuple[float, float]],
    fwhm: float,
    r_in: float = 20.0,
    r_out: float = 30.0,
) -> tuple[np.ndarray, list[float]]:
    """Local annulus background subtraction (reference core.py:344-382
    ``bkg_sub``): for each star, the sigma-clipped median of the pixels
    whose centers fall in the ring ``r_in <= d < r_out`` is subtracted
    from a square box of side ``5 * fwhm`` centered on the star.

    Matches the reference's sequential semantics: stars are processed in
    order on ONE mutating work image, so a later star's annulus sees the
    earlier subtractions. Returns (subtracted image copy, per-star
    background list aligned with ``positions``); an empty annulus (star
    at the frame corner) contributes background 0 — the caller may fall
    back to a global median.
    """
    h, w = img.shape
    out = img.astype(np.float64, copy=True)
    half = 5.0 * fwhm / 2.0
    bkgs: list[float] = []
    for x, y in positions:
        # The ring lies inside its bounding box (clipped to the frame),
        # and the box's row-major pixel order is the frame's, so the
        # ring's values, and their median, are those of a full-frame mask.
        y0, y1 = np.clip([np.floor(y - r_out), np.ceil(y + r_out) + 1], 0, h).astype(int)
        x0, x1 = np.clip([np.floor(x - r_out), np.ceil(x + r_out) + 1], 0, w).astype(int)
        yy, xx = np.mgrid[y0:y1, x0:x1]
        d2 = (xx - x) ** 2 + (yy - y) ** 2
        ring = (d2 >= r_in * r_in) & (d2 < r_out * r_out)
        vals = out[y0:y1, x0:x1][ring]
        bkg = _sigma_clipped_median(vals) if vals.size else 0.0
        bkgs.append(bkg)
        # Both box bounds clip to the frame: an unclipped negative end
        # would count from the far edge for a star above or left of it.
        ix, iy = int(round(x)), int(round(y))
        r0, r1 = np.clip([np.floor(iy - half) + 1, np.ceil(iy + half)], 0, h).astype(int)
        c0, c1 = np.clip([np.floor(ix - half) + 1, np.ceil(ix + half)], 0, w).astype(int)
        out[r0:r1, c0:c1] -= bkg
    return out, bkgs


PHOT_SCHEMA = T.StructType([
    T.StructField("epoch_id", T.IntegerType(), False),
    T.StructField("id", T.LongType(), False),
    T.StructField("x_0", T.DoubleType(), True),
    T.StructField("x_fit", T.DoubleType(), True),
    T.StructField("y_0", T.DoubleType(), True),
    T.StructField("y_fit", T.DoubleType(), True),
    T.StructField("flux_fit", T.DoubleType(), True),
    T.StructField("flux_unc", T.DoubleType(), True),
    T.StructField("iter_detected", T.IntegerType(), False),
    T.StructField("bkg_local", T.DoubleType(), True),
    T.StructField("resid_rms", T.DoubleType(), True),
])


def _epsf_fine_grid(refs: list[tuple[np.ndarray, float, float]],
                    ch: int, oversampling: int) -> np.ndarray:
    """Accumulate max-normalized reference cutouts on an oversampled
    grid, each placed at its SUB-PIXEL center (the EPSFBuilder essence
    at oversampling=2, reference core.py:411): coarse pixel (r, c) of a
    star centered at (ch+dx, ch+dy) scatters to the fine cell nearest
    offset (c-ch-dx, r-ch-dy). Cells covered by no reference fall back
    to the native-resolution median expanded — sub-pixel structure is
    refined where data exists, never invented."""
    P = 2 * ch + 1
    Pf = oversampling * P
    half = (Pf - 1) / 2.0
    stack = np.full((len(refs), Pf, Pf), np.nan)
    for k, (cut, dx, dy) in enumerate(refs):
        fr = np.rint((np.arange(P) - ch - dy) * oversampling + half)
        fc = np.rint((np.arange(P) - ch - dx) * oversampling + half)
        ok_r = (fr >= 0) & (fr < Pf)
        ok_c = (fc >= 0) & (fc < Pf)
        stack[k][np.ix_(fr[ok_r].astype(int), fc[ok_c].astype(int))] = \
            cut[np.ix_(ok_r, ok_c)]
    with np.errstate(all="ignore"):
        fine = np.nanmedian(stack, axis=0)
    coarse = np.median(np.stack([c for c, _, _ in refs]), axis=0)
    fallback = np.repeat(np.repeat(coarse, oversampling, axis=0),
                         oversampling, axis=1)
    fine = np.where(np.isnan(fine), fallback, fine)
    return np.clip(fine, 0, None)


def _sample_epsf(fine: np.ndarray, ch: int, oversampling: int,
                 dx: float, dy: float) -> np.ndarray:
    """Evaluate the oversampled PSF model at a star's sub-pixel offset:
    coarse pixel (r, c) reads the fine cell nearest (c-ch-dx, r-ch-dy).
    Returns a sum-normalized P x P basis for the linear flux fit."""
    P = 2 * ch + 1
    Pf = fine.shape[0]
    half = (Pf - 1) / 2.0
    fr = np.clip(np.rint((np.arange(P) - ch - dy) * oversampling + half),
                 0, Pf - 1).astype(int)
    fc = np.clip(np.rint((np.arange(P) - ch - dx) * oversampling + half),
                 0, Pf - 1).astype(int)
    psf = fine[np.ix_(fr, fc)].astype(np.float64)
    s = psf.sum()
    return psf / s if s > 0 else psf




def fit_psf_photometry(
    img: np.ndarray,
    stars: list[dict],
    psf_refs: list[tuple[float, float]],
    cut_half: int = 8,
    n_iters: int = 5,
    fwhm: float = 4.5,
    oversampling: int = 1,
) -> list[dict]:
    """Empirical-PSF photometry of one epoch's stacked image.

    ``stars``: the detections to fit, dicts with ``id``, ``xcentroid``,
    ``ycentroid`` and ``flux`` (the detection's aperture flux, which
    orders the fits), in detection order. ``psf_refs``: (x, y) of the
    PSF stars. Returns one dict per fitted star, keyed by the
    PHOT_SCHEMA fields other than ``epoch_id``; no PSF reference with a
    usable cutout → no rows.

    Background: per-star LOCAL annulus subtraction (core.py:344-382) on
    the work image before PSF build and fitting, with a global-median
    fallback for the frame at large (stars whose annulus is empty keep
    the global level). PSF model: median of background-subtracted,
    peak-normalized cutouts of the selected PSF stars (the EPSFBuilder
    essence, core.py:384-414); ``oversampling=2`` accumulates the
    cutouts on a sub-pixel-aligned 2x grid and evaluates the model at
    each fitted star's own sub-pixel offset (the reference's
    ``EPSFBuilder(oversampling=2)`` fidelity, core.py:411 — the
    blended-pair golden tightens from 15% to 10% under it), while the
    default 1 keeps the native-resolution path.

    Fitting follows the reference's IterativelySubtractedPSFPhotometry
    configuration (core.py:440-449): ``niters=5`` rounds, with stars
    first grouped DAOGroup-style (core.py:440, ``DAOGroup(2*fwhm)``) —
    connected components under pairwise separation <= 2*fwhm. Isolated
    stars get the closed-form single-source fit flux = argmin
    ||cut - f·PSF||²; blended groups get ONE simultaneous linear
    least-squares solve over the union of their cutout footprints (the
    design matrix has one shifted-PSF column per member), with a
    deterministic active-set retreat on non-positive fluxes — the
    LevMar-free equivalent of fitting the compound model. Each round
    subtracts fitted models from the work image so later (fainter)
    rounds fit on neighbor-cleaned pixels (core.py:447's iterative
    subtraction). x_fit/y_fit come from a moment recentroid of the
    neighbor-subtracted cutout; bkg_local/resid_rms are the per-star
    diagnostics the reference's residual sink consumes
    (core.py:454-484)."""
    h, w = img.shape
    # Global median levels the frame; the per-star annulus pass then
    # removes the LOCAL deviation (gradients, nebulosity) around each
    # star, composing to the reference's local annulus level.
    sky = float(np.median(img))
    positions = [(s["xcentroid"], s["ycentroid"]) for s in stars]
    sub, bkg_delta = local_background_subtract(img - sky, positions, fwhm=fwhm)
    bkg_by_id = {s["id"]: sky + b for s, b in zip(stars, bkg_delta)}
    ch = cut_half

    def cutout(arr, x, y):
        ix, iy = int(round(x)), int(round(y))
        if ix - ch < 0 or iy - ch < 0 or ix + ch + 1 > w or iy + ch + 1 > h:
            return None, ix, iy
        return arr[iy - ch: iy + ch + 1, ix - ch: ix + ch + 1], ix, iy

    # Empirical PSF: median of normalized reference-star cutouts — at
    # native resolution (oversampling=1, the default) or on a
    # sub-pixel-aligned oversampled grid (oversampling=2 mirrors the
    # reference's EPSFBuilder(oversampling=2), core.py:411).
    refs = []
    for px, py in psf_refs:
        cut, ix, iy = cutout(sub, px, py)
        if cut is not None and cut.max() > 0:
            refs.append((cut / cut.max(), float(px) - ix, float(py) - iy))
    if not refs:
        return []
    psf = np.median(np.stack([c for c, _, _ in refs]), axis=0)
    psf = np.clip(psf, 0, None)
    psf /= psf.sum()
    fine = (_epsf_fine_grid(refs, ch, oversampling)
            if oversampling > 1 else None)
    denom = float((psf * psf).sum())
    P = 2 * ch + 1

    def psf_of(s, ix, iy):
        """Per-star PSF basis (sum-normalized) + its self-overlap: the
        shared native model, or the oversampled model sampled at the
        star's sub-pixel offset."""
        if fine is None:
            return psf, denom
        pj = _sample_epsf(fine, ch, oversampling,
                          float(s["xcentroid"]) - ix, float(s["ycentroid"]) - iy)
        return pj, float((pj * pj).sum())

    def recentroid(cut, ix, iy, s):
        cc = np.clip(cut, 0, None)
        tot = cc.sum()
        yy, xx = np.mgrid[iy - ch: iy + ch + 1, ix - ch: ix + ch + 1]
        xfit = float((xx * cc).sum() / tot) if tot > 0 else s["xcentroid"]
        yfit = float((yy * cc).sum() / tot) if tot > 0 else s["ycentroid"]
        return xfit, yfit

    def emit(s, xfit, yfit, fhat, resid, it, dnm):
        return {"id": s["id"], "x_0": s["xcentroid"], "x_fit": xfit,
                "y_0": s["ycentroid"], "y_fit": yfit,
                "flux_fit": fhat,
                "flux_unc": float(np.sqrt(
                    np.clip((resid ** 2).sum(), 0, None) / dnm)),
                "iter_detected": it,
                "bkg_local": bkg_by_id.get(s["id"], sky),
                "resid_rms": float(np.sqrt((resid ** 2).mean()))}

    def components(members):
        """DAOGroup(2*fwhm) semantics (core.py:440): connected
        components under pairwise separation <= 2*fwhm."""
        crit = 2.0 * fwhm
        parent = list(range(len(members)))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for i in range(len(members)):
            xi, yi = members[i][0]["xcentroid"], members[i][0]["ycentroid"]
            for j in range(i + 1, len(members)):
                xj, yj = members[j][0]["xcentroid"], members[j][0]["ycentroid"]
                if (xi - xj) ** 2 + (yi - yj) ** 2 <= crit * crit:
                    parent[find(i)] = find(j)
        groups: dict[int, list] = {}
        for i, m in enumerate(members):
            groups.setdefault(find(i), []).append(m)
        return list(groups.values())

    def fit_group(work, grp, it, out):
        """Simultaneous linear LSQ over the union of the group's cutout
        footprints: one shifted-PSF design column per member (the
        DAOGroup compound-model fit, core.py:440). Non-positive fluxes
        retreat from the active set deterministically and stay unfit
        this round (a later round retries them on the
        neighbor-subtracted image)."""
        y0 = min(iy for _, _, iy in grp) - ch
        y1 = max(iy for _, _, iy in grp) + ch + 1
        x0 = min(ix for _, ix, _ in grp) - ch
        x1 = max(ix for _, ix, _ in grp) + ch + 1
        cols = np.zeros((len(grp), y1 - y0, x1 - x0))
        mask = np.zeros((y1 - y0, x1 - x0), dtype=bool)
        dnms = []
        for j, (s, ix, iy) in enumerate(grp):
            pj, dj = psf_of(s, ix, iy)
            dnms.append(dj)
            sy, sx = iy - ch - y0, ix - ch - x0
            cols[j, sy:sy + P, sx:sx + P] = pj
            mask[sy:sy + P, sx:sx + P] = True
        box = work[y0:y1, x0:x1]
        b = box[mask]
        A = cols[:, mask].T  # (n_pix, k)
        active = list(range(len(grp)))
        flux = np.zeros(len(grp))
        while active:
            f, *_ = np.linalg.lstsq(A[:, active], b, rcond=None)
            if (f > 0).all():
                for i, v in zip(active, f):
                    flux[i] = float(v)
                break
            active = [i for i, v in zip(active, f) if v > 0]
        if not active:
            return
        model = np.tensordot(flux, cols, axes=1)
        resid_box = box - model
        work[y0:y1, x0:x1][mask] = resid_box[mask]
        for j in active:
            s, ix, iy = grp[j]
            sy, sx = iy - ch - y0, ix - ch - x0
            resid = resid_box[sy:sy + P, sx:sx + P]
            # recentroid on the star's OWN model + local residual — i.e.
            # the cutout with the other members subtracted
            own = resid + cols[j, sy:sy + P, sx:sx + P] * flux[j]
            xfit, yfit = recentroid(own, ix, iy, s)
            out.append(emit(s, xfit, yfit, float(flux[j]), resid, it, dnms[j]))

    by_flux = sorted(stars, key=lambda s: -(s["flux"] or 0))
    work = sub.copy()
    out: list[dict] = []
    for it in range(n_iters):
        done = {o["id"] for o in out}
        todo = []
        for s in by_flux:
            if s["id"] in done:
                continue
            cut, ix, iy = cutout(work, s["xcentroid"], s["ycentroid"])
            if cut is not None:
                todo.append((s, ix, iy))
        # brightest-first over groups (group brightness = brightest member)
        groups = sorted(components(todo),
                        key=lambda g: -max((m[0]["flux"] or 0) for m in g))
        for grp in groups:
            if len(grp) > 1:
                fit_group(work, grp, it, out)
                continue
            s, ix, iy = grp[0]
            cut = work[iy - ch: iy + ch + 1, ix - ch: ix + ch + 1]
            pj, dj = psf_of(s, ix, iy)
            fhat = float((cut * pj).sum() / dj)
            if fhat <= 0:
                continue
            # recentroid on the neighbor-subtracted cutout
            xfit, yfit = recentroid(cut, ix, iy, s)
            resid = cut - fhat * pj
            work[iy - ch: iy + ch + 1, ix - ch: ix + ch + 1] = resid
            out.append(emit(s, xfit, yfit, fhat, resid, it, dj))
    return out


def psf_photometry(
    stacked: DataFrame,
    detections: DataFrame,
    psf_stars: DataFrame,
    cut_half: int = 8,
    n_iters: int = 5,
    fwhm: float = 4.5,
    oversampling: int = 1,
) -> DataFrame:
    """Per-epoch :func:`fit_psf_photometry` (grouped applyInPandas over
    the stacked image, its detections and its PSF stars); PHOT_SCHEMA
    rows."""
    import pandas as pd

    stk = stacked.select("epoch_id", "width", "height", "pixels")
    dets = detections.groupBy("epoch_id").agg(F.collect_list(
        F.struct("id", "xcentroid", "ycentroid", "flux")).alias("stars"))
    refs = psf_stars.groupBy("epoch_id").agg(
        F.collect_list(F.struct("x", "y")).alias("psf_refs"))
    merged = stk.join(dets, "epoch_id").join(refs, "epoch_id")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        row = pdf.iloc[0]
        img = np.asarray(row["pixels"], dtype=np.float64).reshape(
            int(row["height"]), int(row["width"]))
        stars = [{k: s[k] for k in ("id", "xcentroid", "ycentroid", "flux")}
                 for s in row["stars"]]
        out = pd.DataFrame(
            fit_psf_photometry(img, stars,
                               [(r["x"], r["y"]) for r in row["psf_refs"]],
                               cut_half, n_iters, fwhm, oversampling),
            columns=PHOT_SCHEMA.names[1:])
        out.insert(0, "epoch_id", int(row["epoch_id"]))
        return out

    return merged.groupBy("epoch_id").applyInPandas(kernel, schema=PHOT_SCHEMA)
