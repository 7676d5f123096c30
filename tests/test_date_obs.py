"""DATE-OBS, the FITS card a frame's mid-exposure JD comes from.

FITS writes DATE-OBS in ISO 8601 (``2024-03-01T00:10:00``), and the
decode reads it as such. A value in another form, such as the old FITS
``DD/MM/YY`` (day first: ``01/03/24`` is 1 March), does not parse: its
frame is dropped by decode, as a malformed AIRMASS is, instead of being
read month-first into a silently wrong JD. A missing or blank card keeps
the frame, with no JD.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from telescope_data_pipeline_spark.plans.pipeline import _frame
from telescope_data_pipeline_spark.sources.fits import (
    _decode_fits,
    fits_headers,
    image_row,
    mid_exposure_jd,
    write_fake_fits,
)
from tests.test_cli_pipeline import read_outputs, run_cli, write_night

EXPTIME = 60.0

#: ISO 8601 forms a FITS writer may use, each read as pandas reads it
ISO_FORMS = [
    "2024-03-01",                       # date only: midnight
    "2024-03-01T12:34",                 # no seconds
    "2024-03-01T12:34:56.123",
    "2024-03-01T12:34:56.123456",
    "2024-03-01T12:34:56.123456789",    # past microseconds
    "2024-03-01T12:34:56Z",
    "2024-03-01T12:34:56+02:00",
    "2024-03-01 12:34:56",              # a space for the T
    "  2024-03-01T12:34:56  ",          # card padding
    "1969-12-31T23:59:59.5",            # before the unix epoch: floor
]


def _row(tmp_path: Path, header: dict[str, str]) -> dict | None:
    path = tmp_path / "f.fits"
    write_fake_fits(str(path), np.full((4, 5), 100.0, np.float32),
                    {"FILTER": "V", "EXPTIME": str(EXPTIME), **header})
    return image_row("f.fits", path.read_bytes())


@pytest.mark.parametrize("date_obs", ISO_FORMS)
def test_jd_of_iso_date_obs_matches_pandas(tmp_path, date_obs):
    row = _row(tmp_path, {"DATE-OBS": date_obs})
    want = mid_exposure_jd(pd.to_datetime(date_obs).value // 10**9, EXPTIME)
    assert _frame(row).jd_mid == want


def test_parse_date_obs_reads_iso_8601_only():
    """``image_row`` parses the card as ISO 8601: 2024-03-01, not the
    2024-01-03 a month-first guess makes of ``01/03/24``."""
    from telescope_data_pipeline_spark.sources.fits import parse_date_obs

    assert parse_date_obs("2024-03-01") == datetime(2024, 3, 1)
    assert parse_date_obs(" 2024-03-01T00:10:00Z ") == datetime(
        2024, 3, 1, 0, 10, tzinfo=timezone.utc)
    assert parse_date_obs("2024-03-01T02:00:00+02:00").utcoffset() == timedelta(hours=2)
    with pytest.raises(ValueError):
        parse_date_obs("01/03/24")


@pytest.mark.parametrize("date_obs", ["01/03/24", "2024/03/01", "03/01/2024",
                                      "2024-03-01T12:34:56 UTC", "nan", "now"])
def test_non_iso_date_obs_fails_decode(tmp_path, date_obs):
    assert _row(tmp_path, {"DATE-OBS": date_obs}) is None


@pytest.mark.parametrize("header", [{}, {"DATE-OBS": ""}, {"DATE-OBS": "   "}],
                         ids=["missing", "empty", "blank"])
def test_frame_without_date_obs_has_no_jd(tmp_path, header):
    row = _row(tmp_path, header)
    assert row is not None and row["date_obs"] is None
    assert _frame(row).jd_mid is None


def _bjd(*times: str) -> str:
    """The FITS sink's BJD card of an epoch whose frames were taken at
    ``times`` (HH:MM) on 2024-03-01: the BJD of their mean mid-exposure
    JD, summed in frame order."""
    total = 0.0
    for t in times:
        total += mid_exposure_jd(pd.Timestamp(f"2024-03-01T{t}").value // 10**9, EXPTIME)
    return fits_headers([{"jd_mid": total / len(times), "avg_airmass": None,
                          "base_header": {}, "crval_ra": None}])[0]["BJD"]


def _set_date_obs(path: Path, value: str) -> None:
    px, header = _decode_fits(path.read_bytes())
    write_fake_fits(str(path), px, {**header, "DATE-OBS": value})


def test_cli_drops_a_frame_with_a_day_first_date(spark, tmp_path, capsys):
    """Through ``main()``: a frame dated ``01/03/24`` is dropped by decode
    and its epoch is stacked from its other frames; every other epoch's
    sinks are those of a night without the odd date, so no FITS header
    carries a JD from a misread date."""
    clean = write_night(tmp_path / "clean", seed=10)
    run_cli(*clean, tmp_path / "clean_out")
    images, manifest = write_night(tmp_path / "odd", seed=10)
    _set_date_obs(images / "e1_f2.fits", "01/03/24")
    run_cli(images, manifest, tmp_path / "out")
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert line.startswith("pipeline done: 3 epochs, ")
    assert "frames dropped by decode: 1" in line
    got, want = read_outputs(tmp_path / "out"), read_outputs(tmp_path / "clean_out")
    assert sorted(got["fits"]) == sorted(want["fits"])
    for name in ("stacked_e0.fits", "stacked_e2.fits"):
        assert got["fits"][name] == want["fits"][name]
    # epoch 1's JD is the mean of its two ISO-dated frames' (01:00, 01:10)
    assert got["fits"]["stacked_e1.fits"]["header"]["BJD"] == _bjd("01:00", "01:10")


def test_cli_keeps_a_frame_with_a_blank_date(spark, tmp_path, capsys):
    """Through ``main()``: a frame whose DATE-OBS is blank is kept (its
    epoch is stacked from all three frames), and only the others carry a
    JD into the epoch's mean."""
    images, manifest = write_night(tmp_path, seed=11)
    _set_date_obs(images / "e2_f0.fits", "   ")
    run_cli(images, manifest, tmp_path / "out")
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert line.startswith("pipeline done: 3 epochs, ")
    assert "frames dropped by decode" not in line
    header = read_outputs(tmp_path / "out")["fits"]["stacked_e2.fits"]["header"]
    assert header["BJD"] == _bjd("02:10", "02:20")
