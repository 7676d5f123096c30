"""Runnable pipeline entry point — the reference's ``psf_phot.py`` as a
Spark job.

    python -m telescope_data_pipeline_spark \
        --images  DIR            # directory of *.fits files
        --manifest CSV           # (filename, epoch_id) rows, no header
        --out     DIR            # sink root (csv/ fits/ pdf/ txt/)
        [--size 128]             # image side used for PSF-star framing

Mirrors the reference lifecycle (psf_phot.py:9-98): manifest scan →
FITS decode → FWHM → align+stack → detect → PSF-star mask → photometry
→ WCS solve → four sinks (CSV results, FITS stacked+WCS header, PDF
diagnostics, TXT run statistics). The reference loops epochs
sequentially in one process; here the whole chain of one epoch is one
numpy kernel (``plans.pipeline.process_epoch``), run for all epochs in
one grouped Spark job whose per-epoch records are cached once and feed
all four sinks with no further shuffle or join. A corrupt FITS file is
dropped by the scan's failure path instead of killing the run; the
summary line names every epoch without catalog rows (with its outcome),
the frames the run could not use, and a PDF cut at its page cap.
"""

from __future__ import annotations

import argparse
import os


def _summary(records: list, on_disk: set[str], n_fits: int, n_pages: int,
             out: str) -> str:
    stacked = [r for r in records if r["n_frames"]]
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
    p.add_argument("--size", type=int, default=128)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from .plans.pipeline import epoch_records, pipeline_stages
    from .session import get_spark
    from .sources.fits import fits_files, scan_fits_dir, write_fits_rows
    from .sources.pdf import write_diagnostics_pdf
    from .sources.sinks import write_stats_txt
    from .sources.tables import ensure_read_confs

    spark = get_spark("telescope-pipeline")
    ensure_read_confs(spark)

    manifest = (spark.read.schema("filename string, epoch_id int")
                .csv(args.manifest))
    images = scan_fits_dir(spark, args.images, manifest)
    # One cached record per epoch feeds every sink; unpersisting it at the
    # end keeps a later run in this session from reading these frames.
    records = epoch_records(images, size=args.size, manifest=manifest).cache()
    try:
        for d in ("csv", "fits", "pdf", "txt"):
            os.makedirs(os.path.join(args.out, d), exist_ok=True)
        stacked = records.filter(F.col("pixels").isNotNull())

        # 1. CSV results, one directory per epoch (reference
        # p_io.py:103-119); an epoch's rows sit in one partition, so each
        # directory gets one file.
        (pipeline_stages(records)["photometry"].write.mode("overwrite")
         .option("header", True)
         .partitionBy("epoch_id").csv(os.path.join(args.out, "csv")))
        # 2. FITS stacked image + WCS-merged header (p_io.py:19-62)
        n_fits = write_fits_rows(stacked, os.path.join(args.out, "fits")).count()
        # 3. PDF diagnostics (p_io.py:63-101) — one heatmap per stacked epoch
        n_pages = write_diagnostics_pdf(
            os.path.join(args.out, "pdf", "diagnostics.pdf"),
            images=stacked.withColumn(
                "filename", F.concat(F.lit("stacked_e"),
                                     F.col("epoch_id").cast("string"))))
        # 4. TXT run statistics (p_io.py:121-154), epochs with detections
        write_stats_txt(records.filter(F.col("n_sources") > 0),
                        os.path.join(args.out, "txt", "stats.txt"))

        summary = records.select("epoch_id", "outcome", "n_frames",
                                 "n_results", "listed", "missing").collect()
    finally:
        records.unpersist()
    on_disk = {f.rsplit("/", 1)[-1]
               for f in fits_files(spark, args.images).inputFiles()}
    print(_summary(summary, on_disk, n_fits, n_pages, args.out))


if __name__ == "__main__":
    main()
