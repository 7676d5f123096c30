"""Image workload: the CLI (``__main__.main``) over a seeded image set.

Untraced passes are one CLI call each. The traced pass calls the same
public functions the CLI calls, in dependency order, and persists and
counts every stage so each span holds that layer's own work.
"""

from __future__ import annotations

import glob
import os
import re

import numpy as np
import pandas as pd

from gen_images import ImageSpec, generate

PDF_MAX_PAGES = 32  # write_diagnostics_pdf's default page cap
MATCH_DIST_PX = 1.5  # a fitted source this close to a planted star is its match
FLUX_TOL = 0.10      # relative flux error of a recovered star


class ImageInput:
    def __init__(self, root: str, spec: ImageSpec, seed: int) -> None:
        self.spec = spec
        self.root = root
        self.frames = os.path.join(root, "frames")
        self.manifest = os.path.join(root, "manifest.csv")
        self.truth = pd.DataFrame(generate(root, spec, seed))

    @property
    def n_frames(self) -> int:
        return self.spec.epochs * self.spec.frames_per_epoch

    def bytes_read(self) -> int:
        return sum(os.path.getsize(p) for p in glob.glob(f"{self.frames}/*.fits"))


def run_cli(inp: ImageInput, out: str) -> None:
    from telescope_data_pipeline_spark.__main__ import main

    main(["--images", inp.frames, "--manifest", inp.manifest, "--out", out,
          "--size", str(inp.spec.size)])


def check_outputs(inp: ImageInput, out: str) -> list[str | None]:
    """The four sink checks, each None or what is wrong: one CSV
    directory, FITS file and TXT line per epoch, and min(epochs, 32) PDF
    pages (the PDF sink caps its pages)."""
    epochs = inp.spec.epochs

    def want(what: str, got: int, expected: int) -> str | None:
        return None if got == expected else f"{what}: {got}, want {expected}"

    n_csv = len([d for d in glob.glob(f"{out}/csv/epoch_id=*")
                 if glob.glob(f"{d}/part-*.csv")])
    n_fits = len(glob.glob(f"{out}/fits/stacked_e*.fits"))
    lines = 0
    for part in glob.glob(f"{out}/txt/stats.txt/part-*"):
        with open(part) as fh:
            lines += sum(1 for ln in fh if ln.startswith("epoch "))
    pdf_path = f"{out}/pdf/diagnostics.pdf"
    pages = 0
    if os.path.exists(pdf_path):
        with open(pdf_path, "rb") as fh:
            pages = len(re.findall(rb"/Type /Page[^s]", fh.read()))
    return [want("csv epoch directories", n_csv, epochs),
            want("fits files", n_fits, epochs),
            want("txt lines", lines, epochs),
            want("pdf pages", pages, min(epochs, PDF_MAX_PAGES))]


def read_catalog(out: str) -> pd.DataFrame:
    frames = []
    for d in glob.glob(f"{out}/csv/epoch_id=*"):
        epoch = int(d.rsplit("=", 1)[1])
        for part in glob.glob(f"{d}/part-*.csv"):
            frames.append(pd.read_csv(part).assign(epoch_id=epoch))
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
        columns=["epoch_id", "x_fit", "y_fit", "flux_fit"])


def recovered_frac(inp: ImageInput, catalog: pd.DataFrame) -> float:
    """Share of planted unsaturated stars whose nearest fitted source
    (within ``MATCH_DIST_PX``) has ``flux_fit`` within ``FLUX_TOL`` of the
    planted flux. Every planted star is interior by construction."""
    stars = inp.truth[~inp.truth["saturated"]]
    hits = 0
    by_epoch = {e: g for e, g in catalog.groupby("epoch_id")}
    for epoch, group in stars.groupby("epoch_id"):
        found = by_epoch.get(epoch)
        if found is None or found.empty:
            continue
        fx, fy = found["x_fit"].to_numpy(), found["y_fit"].to_numpy()
        flux = found["flux_fit"].to_numpy()
        for x, y, f in zip(group["x"], group["y"], group["flux"]):
            d = np.hypot(fx - x, fy - y)
            k = int(np.nanargmin(d))
            if d[k] <= MATCH_DIST_PX and abs(flux[k] - f) <= FLUX_TOL * f:
                hits += 1
    return hits / len(stars)


def _files_written(out: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(out):
        for f in files:
            if f.startswith(".") or f == "_SUCCESS":
                continue
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def traced_pass(spark, tracer, inp: ImageInput, out: str) -> dict:
    """One pass with a span per layer call; returns per-layer metrics."""
    from pyspark.sql import functions as F

    from telescope_data_pipeline_spark.operators.external import solve_wcs
    from telescope_data_pipeline_spark.plans.pipeline import run_photometry_pipeline
    from telescope_data_pipeline_spark.sources.fits import (
        scan_fits_dir,
        write_stacked_fits,
    )
    from telescope_data_pipeline_spark.sources.pdf import write_diagnostics_pdf
    from telescope_data_pipeline_spark.sources.sinks import write_diagnostics_txt
    from telescope_data_pipeline_spark.sources.tables import ensure_read_confs

    ensure_read_confs(spark)
    n: dict[str, int] = {}
    with tracer.span("traced_pass"):
        manifest = (spark.read.schema("filename string, epoch_id int")
                    .csv(inp.manifest))
        with tracer.span("sources.scan_fits_dir"):
            images = scan_fits_dir(spark, inp.frames, manifest).persist()
            n["frames"] = images.count()
        with tracer.span("plans.pipeline"):
            stages = run_photometry_pipeline(images, size=inp.spec.size)
        for key, name in (("fwhm", "images.measure_fwhm"),
                          ("detections", "images.detect_stars"),
                          ("shifts", "images.estimate_shifts"),
                          ("stacked", "images.align_and_stack"),
                          ("stacked_detections", "images.detect_stacked"),
                          ("psf_stars", "photometry.select_psf_stars"),
                          ("photometry", "photometry.psf_photometry")):
            with tracer.span(name):
                n[key] = stages[key].persist().count()
        with tracer.span("external.solve_wcs"):
            wcs = solve_wcs(stages["stacked_detections"]).persist()
            n["wcs"] = wcs.count()
        stacked, photometry = stages["stacked"], stages["photometry"]
        # the four sinks, written exactly as __main__.main writes them
        with tracer.span("sinks.csv"):
            (photometry.repartition("epoch_id").write.mode("overwrite")
             .option("header", True)
             .partitionBy("epoch_id").csv(os.path.join(out, "csv")))
        with tracer.span("sinks.fits"):
            os.makedirs(os.path.join(out, "fits"), exist_ok=True)
            write_stacked_fits(images, stacked, wcs,
                               os.path.join(out, "fits")).count()
        with tracer.span("sinks.pdf"):
            os.makedirs(os.path.join(out, "pdf"), exist_ok=True)
            write_diagnostics_pdf(
                os.path.join(out, "pdf", "diagnostics.pdf"),
                images=stacked.withColumn(
                    "filename", F.concat(F.lit("stacked_e"),
                                         F.col("epoch_id").cast("string"))))
        with tracer.span("sinks.txt"):
            write_diagnostics_txt(stages["stacked_detections"], stages["psf_stars"],
                                  photometry, stages["fwhm"],
                                  os.path.join(out, "txt", "stats.txt"))

    det = stages["detections"]
    ref = det.groupBy("epoch_id").agg(F.min("filename").alias("ref"))
    non_ref = det.join(ref, "epoch_id").filter(F.col("filename") != F.col("ref")).count()
    matched = stages["shifts"].agg(F.sum("n_matched")).first()[0] or 0
    wcs_row = wcs.agg(F.sum("attempts"), F.sum(F.col("solved").cast("int"))).first()
    files, written = _files_written(out)
    d = tracer.duration
    return {
        "sources.scan_fits_dir_s": d("sources.scan_fits_dir"),
        "sources.frames": n["frames"],
        "sources.bytes_read_mb": inp.bytes_read() / 1e6,
        "plans.pipeline_s": d("plans.pipeline"),
        "images.measure_fwhm_s": d("images.measure_fwhm"),
        "images.detect_stars_s": d("images.detect_stars"),
        "images.detect_stacked_s": d("images.detect_stacked"),
        "images.detections": n["detections"],
        "images.estimate_shifts_s": d("images.estimate_shifts"),
        "images.match_ratio": matched / non_ref if non_ref else 0.0,
        "images.align_and_stack_s": d("images.align_and_stack"),
        "photometry.select_psf_stars_s": d("photometry.select_psf_stars"),
        "photometry.psf_stars": n["psf_stars"],
        "photometry.psf_photometry_s": d("photometry.psf_photometry"),
        "photometry.rows": n["photometry"],
        "photometry.fit_ratio": (n["photometry"] / n["stacked_detections"]
                                 if n["stacked_detections"] else 0.0),
        "external.solve_wcs_s": d("external.solve_wcs"),
        "external.attempts": int(wcs_row[0] or 0),
        "external.solved_ratio": (wcs_row[1] or 0) / n["wcs"] if n["wcs"] else 0.0,
        "sinks.csv_s": d("sinks.csv"),
        "sinks.fits_s": d("sinks.fits"),
        "sinks.pdf_s": d("sinks.pdf"),
        "sinks.txt_s": d("sinks.txt"),
        "sinks.files": files,
        "sinks.bytes_written_mb": written / 1e6,
    }
