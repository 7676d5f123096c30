"""Batch sinks (reference p_io.py: CSV / FITS / TXT per image set).

- Light-curve CSV sink: the reference's 13-column results file
  (header at p_io.py:105, rows at p_io.py:107-118) — a header'd CSV
  write with the positive-flux predicate applied declaratively.
- Partitioned parquet: the at-rest format for catalog/light-curve data
  at scale — partitioned by (band) so band-filtered reads prune whole
  directories (partition pruning shows as PartitionFilters in the scan).
- Diagnostics TXT: the stats block (p_io.py:121-154), one line per
  epoch over per-epoch statistics. A DataFrame of them (an aggregation
  of the step DataFrames, :func:`write_diagnostics_txt`) is rendered by
  ONE Spark expression, :func:`stats_line`.
- Python twins of Spark's renderers, for the CLI's per-epoch kernel,
  which runs no Spark SQL: :func:`format_stats_line` is
  :func:`stats_line` and :func:`format_csv_row` is ``F.to_csv`` of a
  struct of numbers, both over :func:`java_double`, Java's
  ``Double.toString`` layout.
- :func:`write_text_part`: the driver-side form of a one-partition
  Spark text or CSV write, for the lines the CLI's tasks render.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterable, Mapping, Sequence
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import LIGHTCURVE

LIGHTCURVE_COLUMNS = [f.name for f in LIGHTCURVE.fields]


def write_lightcurve_csv(lightcurve: DataFrame, path: str) -> None:
    """Reference CSV sink semantics: fixed column order, header row,
    only positive-flux rows (p_io.py:107)."""
    (lightcurve
     .filter(F.col("flux") > 0)
     .select(*LIGHTCURVE_COLUMNS)
     .write.mode("overwrite").option("header", True).csv(path))


def read_lightcurve_csv(spark: SparkSession, path: str) -> DataFrame:
    """Round-trip scan with the declared schema (glob scan ≡ UNION ALL of
    per-epoch files, walkthrough cell 5)."""
    return spark.read.option("header", True).schema(LIGHTCURVE).csv(path)


def write_partitioned(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Partitioned parquet at-rest layout; reads filtered on the
    partition columns prune directories instead of scanning."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def stats_line() -> Column:
    """The TXT line of a row of per-epoch raw statistics (epoch_id,
    n_sources, n_psf, n_results, peak_min/max/med, flux_min/max/med,
    mean_fwhm): numbers rounded to 4 places and rendered by Spark's
    double-to-string cast (e.g. ``1.2E7``), absent values empty."""
    def num(c: str) -> Column:
        return F.round(F.col(c), 4).cast("string")

    return F.concat_ws(
        "", F.lit("epoch "), F.col("epoch_id").cast("string"),
        F.lit(": sources="), F.col("n_sources").cast("string"),
        F.lit(" psf_stars="), F.coalesce(F.col("n_psf"), F.lit(0)).cast("string"),
        F.lit(" results="), F.coalesce(F.col("n_results"), F.lit(0)).cast("string"),
        F.lit(" peak[min,max,med]=["), num("peak_min"),
        F.lit(","), num("peak_max"), F.lit(","), num("peak_med"),
        F.lit("] flux[min,max,med]=["), num("flux_min"),
        F.lit(","), num("flux_max"), F.lit(","), num("flux_med"),
        F.lit("] fwhm="), num("mean_fwhm"))


def java_double(x: float) -> str:
    """``x`` as Java's ``Double.toString`` lays it out, over Python's
    shortest round-trip digits: plain for 1e-3 <= |x| < 1e7 (``100.0``,
    ``0.001``), ``d.dddE<n>`` otherwise (``1.0E7``, ``9.999E-4``), and
    ``NaN``, ``Infinity``, ``-Infinity``, ``-0.0``.

    JDK 17's ``Double.toString`` is not always shortest: it writes
    2.82879384806159E17 as ``2.82879384806159008E17``, 1e23 as
    ``9.999999999999999E22`` and 5e-324 as ``4.9E-324``. Both strings
    parse to the same double; no double in 1e-6..1e9 was seen to differ
    (JDK 19 and later print shortest digits)."""
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    if x == 0:
        return "-0.0" if math.copysign(1.0, x) < 0 else "0.0"
    _, digits, exp = Decimal(repr(abs(x))).as_tuple()
    text = "".join(map(str, digits)).rstrip("0")
    n = len(digits) + exp - 1  # the decimal exponent of the first digit
    sign = "-" if x < 0 else ""
    if -3 <= n < 7:
        if n < 0:
            return f"{sign}0.{'0' * (-n - 1)}{text}"
        return f"{sign}{text[:n + 1].ljust(n + 1, '0')}.{text[n + 1:] or '0'}"
    return f"{sign}{text[0]}.{text[1:] or '0'}E{n}"


def _round4(x: float) -> float:
    """Spark's ``round(x, 4)`` of a double: HALF_UP on the digits of
    ``Double.toString``, zero without a sign; NaN, infinities and
    doubles of 2^52 and more (all integers) as they are."""
    if not math.isfinite(x) or abs(x) >= 2.0 ** 52:
        return x
    return float(Decimal(repr(x)).quantize(Decimal("1E-4"), ROUND_HALF_UP)) + 0.0


def format_stats_line(row: Mapping) -> str:
    """:func:`stats_line` in Python: the TXT line of a mapping of
    per-epoch raw statistics, numbers rounded to 4 places (as Spark's
    ``round``) and laid out by :func:`java_double`, absent values
    empty."""
    def num(k: str) -> str:
        v = row.get(k)
        return "" if v is None else java_double(_round4(float(v)))

    def count(k: str) -> str:
        v = row.get(k)
        return "" if v is None else str(int(v))

    return (f"epoch {count('epoch_id')}: sources={count('n_sources')}"
            f" psf_stars={int(row.get('n_psf') or 0)}"
            f" results={int(row.get('n_results') or 0)}"
            f" peak[min,max,med]=[{num('peak_min')},{num('peak_max')},{num('peak_med')}]"
            f" flux[min,max,med]=[{num('flux_min')},{num('flux_max')},{num('flux_med')}]"
            f" fwhm={num('mean_fwhm')}")


def format_csv_row(fields: Sequence[T.StructField], row: Mapping) -> str:
    """``F.to_csv`` of a struct of numeric ``fields`` in Python: the
    values of ``row`` in field order, doubles laid out by
    :func:`java_double`, integers as digits, nulls empty."""
    def text(f: T.StructField) -> str:
        v = row.get(f.name)
        if v is None:
            return ""
        return java_double(float(v)) if isinstance(f.dataType, T.DoubleType) else str(int(v))

    return ",".join(text(f) for f in fields)


def write_stats_txt(stats: DataFrame, path: str) -> None:
    """One :func:`stats_line` per row of per-epoch raw statistics,
    written as a text dataset at ``path``."""
    stats.select(stats_line().alias("value")).write.mode("overwrite").text(path)


def write_text_part(path: str, lines: Iterable[str], ext: str) -> None:
    """Write ``lines`` as the one part file (``part-00000<ext>``) of a
    text dataset directory at ``path``, as a one-partition Spark write
    would; Spark reads it back the same way."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, f"part-00000{ext}"), "w") as fh:
        fh.writelines(f"{line}\n" for line in lines)


def write_diagnostics_txt(
    detections: DataFrame,
    psf_stars: DataFrame,
    photometry: DataFrame,
    fwhm_table: DataFrame,
    path: str,
) -> None:
    """Per-epoch diagnostics TXT (reference p_io.py:121-154 ``write_txt``:
    star counts, min/max/median of peaks and fitted fluxes, FWHM), one
    line per epoch with detections. The stats are ONE relational
    aggregation over the stages joined on epoch_id — partial aggs
    map-side, one small shuffle — rendered by :func:`write_stats_txt`."""
    det = detections.groupBy("epoch_id").agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.min("peak").alias("peak_min"),
        F.max("peak").alias("peak_max"),
        F.median("peak").alias("peak_med"))
    psf = psf_stars.groupBy("epoch_id").agg(F.count(F.lit(1)).alias("n_psf"))
    phot = photometry.groupBy("epoch_id").agg(
        F.count(F.lit(1)).alias("n_results"),
        F.min("flux_fit").alias("flux_min"),
        F.max("flux_fit").alias("flux_max"),
        F.median("flux_fit").alias("flux_med"))
    fw = fwhm_table.groupBy("epoch_id").agg(F.avg("fwhm").alias("mean_fwhm"))
    write_stats_txt(det.join(psf, "epoch_id", "left")
                    .join(phot, "epoch_id", "left")
                    .join(fw, "epoch_id", "left"), path)


def compact_parquet(spark: SparkSession, path: str,
                    target_file_mb: int = 128) -> int:
    """Small-files compaction (table maintenance): rewrite a parquet
    dataset into size-targeted files and atomically swap directories.
    The small-files problem is a first-order cost at 100 TB — a scan of
    100k tiny files pays listing + open overhead per file and starves
    the scheduler; nightly compaction keeps file count ~ bytes/target.

    Returns the new file count. The rewrite is a repartition to
    ceil(bytes/target) — a full shuffle, so run it per-partition-dir in
    production (partition-scoped compaction) rather than table-wide.
    """
    import math
    import shutil
    from urllib.parse import unquote, urlparse

    df = spark.read.parquet(path)
    # inputFiles() returns URIs (file:/..., %xx-escaped) — decode before
    # touching the local filesystem; naive 'file:' stripping breaks on
    # spaces and percent-encoded characters.
    files = [unquote(urlparse(f).path) for f in df.inputFiles()]
    total = sum(os.path.getsize(f) for f in files)
    n_target = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    tmp = path.rstrip("/") + ".compact.tmp"
    df.repartition(n_target).write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".compact.old"
    # Crash-safe swap order: the .old backup is deleted only after the
    # new directory is verified readable at the live path, so every
    # intermediate state leaves a recoverable copy of the data (either
    # the live path or .old exists with full contents).
    shutil.move(path, old)
    try:
        shutil.move(tmp, path)
        spark.read.parquet(path).schema  # verify readable before dropping backup
    except Exception:
        # Roll back: restore the original directory at the live path.
        if not os.path.exists(path):
            shutil.move(old, path)
        raise
    shutil.rmtree(old)
    return n_target


def write_avro(df: DataFrame, path: str) -> None:
    """Avro sink — environment-gated: Avro has been an EXTERNAL Spark
    module since 2.4 (org.apache.spark:spark-avro), and this sandbox
    ships pyspark without it (and without network to fetch it), so the
    call raises the module's own clean AnalysisException here. The
    code path is the production one: on any cluster with spark-avro on
    the classpath it round-trips (tests/test_sources_sinks.py runs the
    round-trip when the module resolves, else pins the clean error)."""
    df.write.mode("overwrite").format("avro").save(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro scan (see :func:`write_avro` for the environment gate)."""
    return spark.read.format("avro").load(path)
