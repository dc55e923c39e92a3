"""Registry contract for the operator engine (PySpark target).

``entry(spark)`` is a smoke query; ``queries()[name]`` builds each
registered operator's DataFrame for a fixture directory, and
``oracle_sql()[name]`` is its DuckDB oracle where the operator is
SQL-expressible. Tier-1 ``tests/test_oracle_parity.py`` compares every
entry against its oracle (row count + schema + order-insensitive value
hash); ``scripts/oracle_sweep.py`` does the same at any scale.

Implementation lives in ``gomysql2pg_spark``; this module only
aggregates the per-module registries.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# registry modules under gomysql2pg_spark, in merge order
_MODULES = [
    *(f"operators.{name}" for name in (
        "relational", "analytic", "clustering", "dedup", "similarity",
        "text", "multimodal", "events", "pipeline", "ranking", "scalar",
        "subqueries", "timeseries", "tpch", "validation", "asof",
        "custom", "sampling", "quality", "linkage", "frequency", "layout",
    )),
    "streaming.stream",
    "sources.copytext",
]


def _registries():
    """Collect (QUERIES, ORACLES) from every registry module."""
    queries: dict[str, Callable] = {}
    oracles: dict[str, str] = {}
    for name in _MODULES:
        mod = importlib.import_module(f"gomysql2pg_spark.{name}")
        queries.update(mod.QUERIES)
        oracles.update(mod.ORACLES)
    return queries, oracles


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from gomysql2pg_spark.operators.relational import q_group_agg

    return q_group_agg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _registries()[0]


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (where SQL-expressible)."""
    return _registries()[1]
