"""The query registry's order and its ``__spark_entry__`` projection,
checked without a SparkSession."""

from __future__ import annotations

import ast
import inspect

import __spark_entry__
from telescope_data_pipeline_spark import queries
from telescope_data_pipeline_spark.queries import all_queries


def _load_all_modules() -> list[str]:
    """The query modules ``load_all`` imports, in its order."""
    tree = ast.parse(inspect.getsource(queries.load_all))
    return [a.name for node in ast.walk(tree) if isinstance(node, ast.ImportFrom)
            for a in node.names]


def test_all_queries_in_registration_order():
    qs = all_queries()
    assert len(qs) == len(set(qs)) == 382
    assert sum(q.oracle is not None for q in qs.values()) == 365
    modules = _load_all_modules()
    key = [(modules.index(q.fn.__module__.rsplit(".", 1)[1]),
            q.fn.__code__.co_firstlineno) for q in qs.values()]
    assert key == sorted(key)
    assert next(iter(qs)) == "q_agg_count"  # first decorator of `aggregates`


def test_spark_entry_projects_the_registry():
    qs = all_queries()
    assert list(__spark_entry__.queries()) == list(qs)
    assert all(__spark_entry__.queries()[n] is q.fn for n, q in qs.items())
    assert __spark_entry__.oracle_sql() == {
        n: q.oracle for n, q in qs.items() if q.oracle is not None}
