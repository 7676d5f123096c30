"""telescope_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference pipeline (JeremyBuchanan/telescope-data-pipeline,
surveyed in SURVEY.md), extended with the operators a large-scale
training-data pipeline needs (dedup, similarity search, text analysis) and
a Structured Streaming surface.

Layout
------
- ``session``    : SparkSession builder (Arrow on, AQE on, UTC), and the
                   bare SparkContext the CLI runs on.
- ``worker_daemon``: the Python worker daemon the session sets, so
                   workers import pyspark as bytecode.
- ``schemas``    : every table schema as an explicit StructType.
- ``sources``    : readers for the driver's parquet tables and for FITS
                   frames (scan and ``fits`` data source), and the
                   CSV/FITS/PDF/TXT/parquet sinks.
- ``operators``  : custom operators Spark lacks as built-ins — sigma-clipped
                   aggregation, nearest-neighbor join, dedup family
                   (exact/MinHash/SimHash/Jaccard), ANN similarity search.
- ``functions``  : scalar expression helpers (photometry math, time scales,
                   text statistics) — all built on pyspark.sql.functions so
                   they stay JVM-side and codegen-able.
- ``queries``    : the judged operator inventory; a registry mapping query
                   name -> (Spark callable, DuckDB oracle SQL).
- ``streaming``  : Structured Streaming jobs mirroring the batch surface.
- ``plans``      : plan-inspection utilities (pushdown/broadcast audits).
"""

__version__ = "0.5.0"
