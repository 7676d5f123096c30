"""The CLI's inputs: how the manifest is read, which files in
``--images`` count as on disk, and how a missing input fails."""

from __future__ import annotations

import re
from pathlib import Path

import numpy as np
import pytest

from telescope_data_pipeline_spark.sources.fits import read_manifest, write_fake_fits
from tests.test_cli_pipeline import SIZE, read_outputs, run_cli, write_night

#: one manifest line per case Spark's CSV reader treats in its own way
MANIFEST_LINES = [
    "a.fits,1",
    "",                      # blank line: skipped
    "filename,epoch_id",     # header-like row: epoch null
    "b.fits, 3",             # leading blank: epoch null
    "c.fits,3.0",            # not an integer: null
    "d.fits,x",              # null
    "e.fits",                # one column: epoch null
    "f.fits,2,extra,cols",   # extra columns: ignored
    "a.fits,2",              # a.fits under two epochs
    "g.fits,4 ",             # trailing blank: null
    "h.fits,+4",             # signed: 4
    "i.fits,05",             # leading zero: 5
    "j.fits,2147483648",     # past int32: null
    "k.fits,-1",
    '"l,m.fits","6"',        # quoted fields
    " n.fits,7",             # blanks in a name are kept
    "o.fits,1_0",            # Python's int() takes it, Spark's does not
    "p.fits,8\r",            # a CRLF line ending
]


def test_read_manifest_matches_spark_csv(spark, tmp_path):
    path = tmp_path / "manifest.csv"
    path.write_text("\n".join(MANIFEST_LINES) + "\n")
    want = [(r.filename, r.epoch_id) for r in
            spark.read.schema("filename string, epoch_id int").csv(str(path)).collect()
            if r.epoch_id is not None]
    assert read_manifest(str(path)) == want == [
        ("a.fits", 1), ("f.fits", 2), ("a.fits", 2), ("h.fits", 4), ("i.fits", 5),
        ("k.fits", -1), ("l,m.fits", 6), (" n.fits", 7), ("p.fits", 8)]


def test_read_manifest_reads_an_empty_name_as_empty(spark, tmp_path):
    """Spark reads an empty filename as null; here it is "", a listed
    name that no file has."""
    path = tmp_path / "manifest.csv"
    path.write_text(',1\n"",2\n')
    spark_rows = spark.read.schema("filename string, epoch_id int").csv(str(path))
    assert [tuple(r) for r in spark_rows.collect()] == [(None, 1), (None, 2)]
    assert read_manifest(str(path)) == [("", 1), ("", 2)]


def _frame(path: Path, level: float = 100.0) -> None:
    write_fake_fits(str(path), np.full((SIZE, SIZE), level, np.float32),
                    {"FILTER": "V", "AIRMASS": "1.5"})


def _last_line(capsys) -> str:
    return capsys.readouterr().out.strip().splitlines()[-1]


def test_manifest_names_outside_images_have_no_file(spark, tmp_path, capsys):
    """Manifest names that are not a plain ``*.fits`` file directly in
    ``--images`` are rows with no file, and nothing outside ``--images``
    is opened: ``../x.fits`` is a directory, which opening would fail
    on. Hidden, ``_``-prefixed and non-``*.fits`` files in ``--images``
    are not on disk, as in a binaryFile listing."""
    images, manifest = write_night(tmp_path / "night", seed=8, epochs=2, frames=2)
    run_cli(images, manifest, tmp_path / "plain")
    plain_line = _last_line(capsys)

    (images / "sub").mkdir()
    _frame(images / "sub" / "x.fits", 900.0)
    (images.parent / "x.fits").mkdir()
    _frame(images.parent / "y.fits", 900.0)
    for name in (".hidden.fits", "_under.fits", "notes.txt", "upper.FITS"):
        _frame(images / name, 900.0)
    manifest.write_text(manifest.read_text() + "sub/x.fits,1\n../x.fits,1\n"
                        "../y.fits,0\n.hidden.fits,1\n")
    run_cli(images, manifest, tmp_path / "out")
    line = _last_line(capsys)
    assert line == plain_line.replace(str(tmp_path / "plain"), str(tmp_path / "out")) \
        + "; manifest rows with no file: 4"
    assert read_outputs(tmp_path / "out") == read_outputs(tmp_path / "plain")


def _files(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes()
            for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.mark.parametrize("missing", ["images", "manifest"])
def test_missing_input_fails_by_path_before_spark(spark, tmp_path, missing):
    """A missing ``--images`` directory or ``--manifest`` file fails with
    an error naming it, before any Spark job runs and before the sinks
    of an earlier run under ``--out`` are touched."""
    images, manifest = write_night(tmp_path, seed=9, epochs=1, frames=2)
    out = tmp_path / "out"
    run_cli(images, manifest, out)
    before = _files(out)
    gone = tmp_path / "gone"
    args = (gone, manifest) if missing == "images" else (images, gone)

    sc = spark.sparkContext
    group = f"missing-{missing}"
    sc.setJobGroup(group, "a CLI pass with a missing input")
    try:
        with pytest.raises(FileNotFoundError, match=re.escape(str(gone))):
            run_cli(*args, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert _files(out) == before
