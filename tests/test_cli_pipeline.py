"""The CLI (``__main__.main``) end to end over small seeded nights.

- The sink outputs of a 3-epoch night are pinned in
  ``tests/data/cli_night_golden.json``: CSV rows per epoch, TXT lines,
  FITS pixels and header cards. They were captured from the
  step-per-operator pipeline, before the image chain became one numpy
  kernel per epoch, so they pin that the rewrite changed no output.
- Two runs in one session over rewritten frames must not share a cache.
- Epochs without catalog rows and unusable frames are named in the
  summary line.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from pathlib import Path

import numpy as np
import pytest

from telescope_data_pipeline_spark.sources.fits import _decode_fits, write_fake_fits

GOLDEN = Path(__file__).parent / "data" / "cli_night_golden.json"
SIZE = 96
STAR_SIGMA = 1.8
#: planted star positions: a 3x3 grid 26 px apart (> 5 FWHM, so every
#: star is isolated) and >= 18 px from every edge after the largest shift
GRID = [(x, y) for y in (22.0, 48.0, 74.0) for x in (22.0, 48.0, 74.0)]
#: a crowded field: every star within 5 FWHM (~21 px) of a neighbour
CLUSTER = [(40.0, 40.0), (52.0, 40.0), (46.0, 50.0), (58.0, 50.0)]


def _frame(rng, stars, flux, dx, dy):
    yy, xx = np.mgrid[0:SIZE, 0:SIZE]
    img = np.full((SIZE, SIZE), 100.0)
    for (x, y), f in zip(stars, flux):
        img += f / (2 * np.pi * STAR_SIGMA ** 2) * np.exp(
            -((xx - x - dx) ** 2 + (yy - y - dy) ** 2) / (2 * STAR_SIGMA ** 2))
    return (img + rng.normal(0, 2.0, img.shape)).astype(np.float32)


def write_night(root: Path, seed: int, epochs: int = 3, frames: int = 3,
                crowded: tuple[int, ...] = ()) -> tuple[Path, Path]:
    """Fake-FITS frames under ``root/frames`` and a manifest
    ``root/manifest.csv``: ``frames`` frames per epoch, each shifted by
    up to 4 px, on the grid field with one saturated star, or on the
    crowded field for the epochs in ``crowded``."""
    rng = np.random.default_rng(seed)
    d = root / "frames"
    d.mkdir(parents=True, exist_ok=True)
    lines = []
    for e in range(epochs):
        base = CLUSTER if e in crowded else GRID
        stars = [(x + j, y + k) for (x, y), (j, k)
                 in zip(base, rng.uniform(-1, 1, (len(base), 2)))]
        flux = rng.uniform(30_000, 150_000, len(stars))
        flux[0] = 3.0e6
        for i in range(frames):
            dx, dy = (0, 0) if i == 0 else (int(v) for v in rng.integers(-4, 5, 2))
            name = f"e{e}_f{i}.fits"
            write_fake_fits(str(d / name), _frame(rng, stars, flux, dx, dy),
                            {"FILTER": "V", "EXPTIME": "60.0", "SITEID": "test",
                             "AIRMASS": f"{1.1 + 0.01 * i + 0.1 * e:.2f}",
                             "DATE-OBS": f"2024-03-01T{e:02d}:{10 * i:02d}:00"})
            lines.append(f"{name},{e}")
    manifest = root / "manifest.csv"
    manifest.write_text("\n".join(lines) + "\n")
    return d, manifest


def run_cli(images: Path, manifest: Path, out: Path) -> None:
    from telescope_data_pipeline_spark.__main__ import main

    main(["--images", str(images), "--manifest", str(manifest),
          "--out", str(out), "--size", str(SIZE)])


def read_outputs(out: Path) -> dict:
    """CSV text per epoch, sorted TXT lines, FITS pixel digest and header
    per epoch."""
    csv = {}
    for d in sorted(glob.glob(str(out / "csv" / "epoch_id=*"))):
        parts = glob.glob(os.path.join(d, "part-*.csv"))
        assert len(parts) == 1, d
        csv[d.rsplit("=", 1)[1]] = Path(parts[0]).read_text().splitlines()
    txt = sorted(line for p in glob.glob(str(out / "txt" / "stats.txt" / "part-*"))
                 for line in Path(p).read_text().splitlines())
    fits = {}
    for p in sorted(glob.glob(str(out / "fits" / "*.fits"))):
        px, header = _decode_fits(Path(p).read_bytes())
        fits[os.path.basename(p)] = {
            "shape": list(px.shape),
            "sha256": hashlib.sha256(np.ascontiguousarray(px, ">f4").tobytes()).hexdigest(),
            "header": header}
    return {"csv": csv, "txt": txt, "fits": fits}


def test_cli_output_matches_golden(spark, tmp_path):
    images, manifest = write_night(tmp_path, seed=7)
    run_cli(images, manifest, tmp_path / "out")
    got = read_outputs(tmp_path / "out")
    want = json.loads(GOLDEN.read_text())
    assert got["csv"] == want["csv"]
    assert got["txt"] == want["txt"]
    assert got["fits"].keys() == want["fits"].keys()
    for name, w in want["fits"].items():
        g = got["fits"][name]
        assert (g["shape"], g["sha256"]) == (w["shape"], w["sha256"]), name
        assert g["header"].keys() == w["header"].keys(), name
        for key, value in w["header"].items():
            if key in ("AIRMASS", "BJD"):  # means: only summation order may differ
                assert float(g["header"][key]) == pytest.approx(float(value), rel=1e-9)
            else:
                assert g["header"][key] == value, (name, key)


def test_cli_rerun_reads_rewritten_frames(spark, tmp_path):
    """A second run in the same session, over the same paths but with
    new frames, must catalog the new frames."""
    images, manifest = write_night(tmp_path, seed=1, epochs=2, frames=2)
    run_cli(images, manifest, tmp_path / "out1")
    write_night(tmp_path, seed=2, epochs=2, frames=2)
    run_cli(images, manifest, tmp_path / "out2")
    first = read_outputs(tmp_path / "out1")["csv"]
    second = read_outputs(tmp_path / "out2")["csv"]
    assert first.keys() == second.keys() == {"0", "1"}
    for epoch in first:
        assert first[epoch][1:] != second[epoch][1:], epoch


def test_cli_names_missing_outputs(spark, tmp_path, capsys):
    """Epoch 1 is crowded (no PSF star), one frame of epoch 2 is corrupt,
    a stray frame has no manifest row, and the manifest lists a frame of
    epoch 4 that does not exist: the summary names each, and every
    other epoch still reaches the sinks."""
    images, manifest = write_night(tmp_path, seed=3, epochs=4, frames=2,
                                   crowded=(1,))
    (images / "e2_f1.fits").write_bytes(b"not a FITS file")
    write_fake_fits(str(images / "stray.fits"),
                    np.full((SIZE, SIZE), 100.0, np.float32), {"FILTER": "V"})
    manifest.write_text(manifest.read_text() + "e4_f0.fits,4\n")
    run_cli(images, manifest, tmp_path / "out")
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert line.startswith("pipeline done: 4 epochs, ")
    assert "epochs without catalog rows: 1 (no_psf_star), 4 (no_frames)" in line
    assert "frames dropped by decode: 1" in line
    assert "frames with no manifest row: 1" in line
    assert "manifest rows with no file: 1" in line
    assert "PDF capped" not in line
    out = read_outputs(tmp_path / "out")
    assert sorted(out["csv"]) == ["0", "2", "3"]
    assert sorted(out["fits"]) == [f"stacked_e{e}.fits" for e in range(4)]
    assert [t.split(":")[0] for t in out["txt"]] == [f"epoch {e}" for e in range(4)]


def test_summary_reports_pdf_cap():
    from telescope_data_pipeline_spark.__main__ import _summary

    records = [{"epoch_id": e, "outcome": "ok", "n_frames": 1, "n_results": 2,
                "listed": [f"f{e}.fits"], "missing": []} for e in range(40)]
    line = _summary(records, {f"f{e}.fits" for e in range(40)}, 40, 32, "out")
    assert line == ("pipeline done: 40 epochs, 80 photometry rows, 40 FITS files, "
                    "32 PDF pages -> out; PDF capped at 32 of 40 epochs")


def _rewrite_frame(path: Path, side: int) -> None:
    """Rewrite the fake-FITS frame at ``path`` as a flat ``side``² frame
    with the same header."""
    _, header = _decode_fits(path.read_bytes())
    write_fake_fits(str(path), np.full((side, side), 100.0, np.float32), header)


def test_cli_epoch_with_mixed_frame_shapes(spark, tmp_path, capsys):
    """One frame of epoch 0 is 128² among 96² frames: that epoch gets the
    named outcome ``mixed_shapes`` with no stack and no rows, and every
    other epoch's sinks are those of a night without the odd frame."""
    clean = write_night(tmp_path / "clean", seed=8)
    run_cli(*clean, tmp_path / "clean_out")
    images, manifest = write_night(tmp_path / "odd", seed=8)
    _rewrite_frame(images / "e0_f0.fits", 128)
    run_cli(images, manifest, tmp_path / "out")
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert line.startswith("pipeline done: 2 epochs, ")
    assert "epochs without catalog rows: 0 (mixed_shapes)" in line
    assert "frames dropped by decode" not in line
    got, want = read_outputs(tmp_path / "out"), read_outputs(tmp_path / "clean_out")
    assert got["csv"] == {e: rows for e, rows in want["csv"].items() if e != "0"}
    assert got["fits"] == {n: f for n, f in want["fits"].items()
                           if n != "stacked_e0.fits"}
    assert got["txt"] == [t for t in want["txt"] if not t.startswith("epoch 0:")]


def test_cli_drops_an_empty_frame(spark, tmp_path, capsys):
    """A 0×0 frame does not decode to an image: it counts as a frame
    dropped by decode, and its epoch is stacked from its other frames."""
    images, manifest = write_night(tmp_path, seed=9)
    _rewrite_frame(images / "e1_f1.fits", 0)
    run_cli(images, manifest, tmp_path / "out")
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert line.startswith("pipeline done: 3 epochs, ")
    assert "frames dropped by decode: 1" in line
    out = read_outputs(tmp_path / "out")
    assert sorted(out["fits"]) == [f"stacked_e{e}.fits" for e in range(3)]
    assert [t.split(":")[0] for t in out["txt"]] == [f"epoch {e}" for e in range(3)]
