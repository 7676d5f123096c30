"""Query registry: name -> (Spark callable, DuckDB oracle SQL).

Contract (read by ``__spark_entry__.py`` and the test suite):
- the callable takes ``(spark, sf_dir)`` and returns a DataFrame;
- the oracle SQL must be ANSI SQL DuckDB can run over the same parquet
  tables, producing the SAME column names (the comparison sorts columns
  by name, then hashes order-insensitive values);
- queries whose semantics are not SQL-expressible (iterative kernels,
  external services) register ``oracle=None`` and get a rows-only
  check;
- :func:`all_queries` lists the queries in registration order.

Determinism rules every query here follows:
- every float output column is explicitly ROUNDed (same digits both
  sides) so partial-aggregation order cannot flip a hash bit;
- every LIMIT / row_number sits on a total order (unique tiebreaker
  column included) so top-k picks are unique;
- every rounded float column whose value can reach zero from below is
  normalized with ``+ 0.0`` on BOTH sides: Spark's round() never emits
  IEEE -0.0 but DuckDB's ROUND preserves it, and the comparison hashes
  bit-level (a q_scalar_math mismatch);
- integer-returning functions must agree in output type with DuckDB's
  signature: Spark CEIL/FLOOR return BIGINT where DuckDB returns
  DOUBLE — CAST the oracle side (a q_scalar_round mismatch).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None for rows-only checks
    doc: str


_REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query. Use as ``@query("q_x", oracle="SELECT ...")``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle,
                                doc=(fn.__doc__ or "").strip())
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    """Every registered query, in registration order: ``load_all``'s
    module order, then decorator order within a module."""
    from . import load_all

    load_all()
    return dict(_REGISTRY)


def get(name: str) -> Query:
    return all_queries()[name]
