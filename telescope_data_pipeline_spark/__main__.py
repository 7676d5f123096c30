"""Runnable pipeline entry point — the reference's ``psf_phot.py`` as a
Spark job.

    python -m telescope_data_pipeline_spark \
        --images  DIR            # directory of *.fits files
        --manifest CSV           # (filename, epoch_id) rows, no header
        --out     DIR            # sink root (csv/ fits/ pdf/ txt/)
        [--size N]               # square frame side for the PSF-star border
                                 # (default: each stack's own width/height)

Mirrors the reference lifecycle (psf_phot.py:9-98): manifest scan →
FITS decode → FWHM → align+stack → detect → PSF-star mask → photometry
→ WCS solve → four sinks (CSV results, FITS stacked+WCS header, PDF
diagnostics, TXT run statistics). As the reference does
(psf_phot.py:41-45), the driver reads the manifest into (filename,
epoch_id) pairs and lists the ``*.fits`` files directly in ``--images``;
a missing input fails there, naming its path, before Spark starts and
before any sink is touched. The reference then loops epochs
sequentially in one process; here a pass is ONE RDD job of one stage
(``plans.pipeline.night_records``), with no DataFrame and no Spark SQL,
on a bare SparkContext (``session.get_context``; no SparkSession is
made): its tasks open and decode their own epochs' frames, run each
epoch's whole chain in numpy (the workers import neither pandas nor
pyarrow) and render the epoch's CSV rows and TXT line, and one collect
brings back, pickled, what the four sinks need. The driver
then replaces ``csv/``, ``fits/``, ``pdf/`` and ``txt/`` under
``--out`` and writes them, as the reference writes its four sinks per
image set from one process (psf_phot.py:91-94). A corrupt FITS file, or
one with no pixels, is dropped by the decode's failure path instead of
killing the run, and an epoch whose frames differ in shape gets the
outcome ``mixed_shapes`` (no stack, no rows) while the other epochs are
written; a manifest name that is not a ``*.fits`` file directly in
``--images`` (``sub/x.fits``, ``../x.fits``) is never opened and counts
as a manifest row with no file. The summary line names every epoch
without catalog rows (with its outcome), the frames the run could not
use, and a PDF cut at its page cap.
"""

from __future__ import annotations

import argparse
import os
import shutil


def _summary(records: list, on_disk: set[str], n_fits: int, n_pages: int,
             out: str) -> str:
    from .plans.pipeline import UNSTACKED

    stacked = [r for r in records if r["outcome"] not in UNSTACKED]
    n_phot = sum(r["n_results"] or 0 for r in records)
    parts = [f"pipeline done: {len(stacked)} epochs, {n_phot} photometry rows, "
             f"{n_fits} FITS files, {n_pages} PDF pages -> {out}"]
    empty = sorted((r["epoch_id"], r["outcome"]) for r in records
                   if not r["n_results"])
    if empty:
        parts.append("epochs without catalog rows: "
                     + ", ".join(f"{e} ({why})" for e, why in empty))
    listed = {f for r in records for f in r["listed"]}
    missing = {f for r in records for f in r["missing"]}
    for what, n in (("frames dropped by decode", len(missing & on_disk)),
                    ("frames with no manifest row", len(on_disk - listed)),
                    ("manifest rows with no file", len(missing - on_disk))):
        if n:
            parts.append(f"{what}: {n}")
    if n_pages < len(stacked):
        parts.append(f"PDF capped at {n_pages} of {len(stacked)} epochs")
    return "; ".join(parts)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="telescope_data_pipeline_spark",
                                description=__doc__)
    p.add_argument("--images", required=True, help="directory of FITS files")
    p.add_argument("--manifest", required=True,
                   help="CSV of filename,epoch_id (reference psf_phot.py:41)")
    p.add_argument("--out", required=True, help="output directory root")
    p.add_argument("--size", type=int, default=None,
                   help="frame side for the PSF-star border "
                        "(default: each stack's own width and height)")
    args = p.parse_args(argv)

    from .plans.pipeline import CATALOG_FIELDS, night_records
    from .session import get_context
    from .sources.fits import fits_names, read_manifest, write_fits_files
    from .sources.pdf import diagnostics_pdf
    from .sources.sinks import write_text_part

    manifest = read_manifest(args.manifest)
    on_disk = fits_names(args.images)
    records = night_records(get_context("telescope-pipeline"), args.images,
                            manifest, on_disk, size=args.size)
    stacked = [r for r in records if r["pixels"] is not None]

    # replace, not add to, a previous run's sinks: no stale epoch survives
    for d in ("csv", "fits", "pdf", "txt"):
        shutil.rmtree(os.path.join(args.out, d), ignore_errors=True)
        os.makedirs(os.path.join(args.out, d))
    # 1. CSV results, one directory per epoch with rows (p_io.py:103-119)
    header = ",".join(f.name for f in CATALOG_FIELDS)
    for r in records:
        if r["csv"]:
            write_text_part(os.path.join(args.out, "csv", f"epoch_id={r['epoch_id']}"),
                            [header, *r["csv"]], ".csv")
    # 2. FITS stacked image + WCS-merged header (p_io.py:19-62)
    n_fits = len(write_fits_files(stacked, os.path.join(args.out, "fits")))
    # 3. PDF diagnostics (p_io.py:63-101) — one heatmap per stacked epoch
    pdf, n_pages = diagnostics_pdf(
        [{**r, "filename": f"stacked_e{r['epoch_id']}"} for r in stacked])
    pdf.write(os.path.join(args.out, "pdf", "diagnostics.pdf"))
    # 4. TXT run statistics (p_io.py:121-154), epochs with detections
    write_text_part(os.path.join(args.out, "txt", "stats.txt"),
                    [r["txt"] for r in records if r["txt"] is not None], ".txt")

    print(_summary(records, on_disk, n_fits, n_pages, args.out))


if __name__ == "__main__":
    main()
