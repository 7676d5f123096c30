"""FITS as a first-class Spark data source (Python DataSource API).

``scan_fits_dir`` (fits.py) is the binaryFile+mapInPandas form; this
module exposes the same decode as a REGISTERED source — Spark 4's
``pyspark.sql.datasource`` API — so a user writes

    register_fits_datasource(spark)
    spark.read.format("fits").load("/data/epochs")          # batch
    spark.readStream.format("fits").load("/data/epochs")    # stream

and gets schemas.IMAGE rows with one input partition per file (the
reference's parallelism unit: an image never splits across executors,
core.py:18-50 iterates whole files). The streaming reader turns the
reference's watch-the-directory-for-new-epochs loop into a real
Structured Streaming source with replayable offsets.

Offset contract (streaming): files are discovered by SORTED FILENAME;
the offset is the highest name read so far, and a micro-batch reads
every file sorting strictly after it. That makes offsets O(1) and
replay (``readBetweenOffsets``) exact, at the cost of requiring new
files to sort after old ones — the sequence-numbered upload layout
(part-000001.fits, ...) every ingestion pipeline uses anyway. A file
that ARRIVES late with a name sorting at or before the offset can
never be read by this contract; the reader detects such arrivals
(against the listing it saw at the previous micro-batch) and warns
loudly. The detection is best-effort within one driver lifetime —
after a restart the first listing is the baseline, so a file that
arrived out-of-order while the stream was down is skipped silently
(round-11 ADVICE item 1: the old docstring overpromised here).

Failure-path rule (SURVEY.md §7 #6): an undecodable file is dropped
(production: quarantined), never fatal — matching scan_fits_dir.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..schemas import IMAGE

__all__ = ["FitsDataSource", "register_fits_datasource"]


def _list_fits(path: str) -> list[str]:
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(n for n in names if n.endswith(".fits"))


def _decode_file(path: str, filename: str):
    """One schemas.IMAGE row tuple, decoded by ``fits.image_row``, or
    None for an unreadable or undecodable file."""
    from .fits import image_row

    try:
        with open(os.path.join(path, filename), "rb") as f:
            row = image_row(filename, f.read())
    except OSError:
        return None
    if row is None:
        return None
    row.update(width=int(row["width"]), height=int(row["height"]),
               pixels=[float(v) for v in row["pixels"]])
    return tuple(row[f] for f in IMAGE.names)


class _FitsBatchReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("fits source requires a path: "
                             ".format('fits').load('/dir')")

    def partitions(self) -> Sequence[InputPartition]:
        # one partition per FILE: the image is the parallelism unit
        return [InputPartition(n) for n in _list_fits(self.path)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        row = _decode_file(self.path, partition.value)
        if row is not None:
            yield row


class _FitsStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("fits source requires a path: "
                             ".format('fits').load('/dir')")
        # listing seen at the previous read(); None until the first
        # micro-batch of this driver lifetime (late-arrival detection
        # baseline — see module docstring's offset contract)
        self._seen: set[str] | None = None

    def initialOffset(self) -> dict:
        return {"upto": ""}

    def read(self, start: dict) -> tuple[list[tuple], dict]:
        listing = _list_fits(self.path)
        if self._seen is not None:
            late = [n for n in listing
                    if n <= start["upto"] and n not in self._seen]
            if late:  # behind the offset — unreachable by the sorted-
                # name contract; warn loudly instead of losing it mutely
                import warnings
                warnings.warn(
                    "fits stream: %d file(s) arrived with names at or "
                    "before the current offset %r and will NOT be read "
                    "(sorted-name contract): %s"
                    % (len(late), start["upto"], ", ".join(late[:5])),
                    stacklevel=2)
        self._seen = set(listing)
        names = [n for n in listing if n > start["upto"]]
        end = {"upto": names[-1]} if names else dict(start)
        # a LIST, not a generator: the harness pickles the prefetched
        # rows for replay, and generators don't pickle
        return self._rows(names), end

    def readBetweenOffsets(self, start: dict, end: dict) -> list[tuple]:
        # exact replay: the same name range re-reads the same files
        names = [n for n in _list_fits(self.path)
                 if start["upto"] < n <= end["upto"]]
        return self._rows(names)

    def _rows(self, names: list[str]) -> list[tuple]:
        out = []
        for n in names:
            row = _decode_file(self.path, n)
            if row is not None:
                out.append(row)
        return out


class FitsDataSource(DataSource):
    """``spark.read.format("fits")`` — batch and streaming."""

    @classmethod
    def name(cls) -> str:
        return "fits"

    def schema(self):
        return IMAGE

    def reader(self, schema) -> _FitsBatchReader:
        return _FitsBatchReader(self.options)

    def simpleStreamReader(self, schema) -> _FitsStreamReader:
        return _FitsStreamReader(self.options)


def register_fits_datasource(spark) -> None:
    spark.dataSource.register(FitsDataSource)
