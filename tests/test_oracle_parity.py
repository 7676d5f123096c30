"""Every registered query with an oracle hash-matches DuckDB on the same
parquet — the local replica of the driver's correctness gate."""

from __future__ import annotations

import pytest

from telescope_data_pipeline_spark.queries import all_queries

from .oracle_utils import compare, run_oracle

QUERIES = all_queries()
WITH_ORACLE = sorted(n for n, q in QUERIES.items() if q.oracle is not None)
ROWS_ONLY = sorted(n for n, q in QUERIES.items() if q.oracle is None)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, sf_dir, name):
    q = QUERIES[name]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    oracle_pdf = run_oracle(q.oracle, sf_dir)
    problems = compare(spark_pdf, oracle_pdf)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, sf_dir, name):
    q = QUERIES[name]
    df = q.fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_contract_shapes():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert all(callable(f) for f in qs.values())


def test_scalar_only_outputs(spark, sf_dir):
    """The driver canonicalizer hashes query output with a pandas sort,
    which cannot order array/map/struct cells — every registered query
    (oracle-checked OR rows-only) must emit scalar columns only.

    Construction is threaded (r14): the plan builds, one per registered
    query, are driver-side py4j round-trips that release the GIL on
    socket I/O, so 8 threads overlap them (~110 s -> ~35 s measured)
    without touching what is checked — every query's schema is still
    inspected."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import types as T

    def complex_cols(item):
        name, q = item
        schema = q.fn(spark, sf_dir).schema
        bad = [f.name for f in schema.fields
               if isinstance(f.dataType,
                             (T.ArrayType, T.MapType, T.StructType))]
        return name, bad

    offenders = {}
    with ThreadPoolExecutor(max_workers=8) as pool:
        for name, bad in pool.map(complex_cols, QUERIES.items()):
            if bad:
                offenders[name] = bad
    assert not offenders, f"complex-typed output columns: {offenders}"
