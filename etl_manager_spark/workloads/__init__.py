"""Workload catalog: every implemented query/operator from SURVEY §2,
as (Spark callable, DuckDB oracle SQL) pairs.

The registry is what ``__spark_entry__.py`` exposes to the driver. Each
entry's Spark side is idiomatic DataFrame code over the engine's operators;
the oracle side is ANSI SQL for DuckDB over the same parquet views. Column
names/aliases match exactly (the driver sorts columns by name and
value-hashes). Float outputs follow the decimal-exact discipline of
:mod:`etl_manager_spark.functions.exact` so both engines produce bitwise-
identical doubles.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Workload:
    """One catalog entry: a Spark query + optional DuckDB oracle SQL.

    ``oracle_spec`` is either the SQL string itself or a zero-arg factory
    producing it. Factories exist for oracles that embed data-derived
    literals (e.g. the IVF centroids, trained from the oracle-scale
    parquet) — building those at import time would add I/O to every
    import, so they run on first ``.oracle`` access and memoize."""

    fn: Callable[[SparkSession, str], DataFrame]
    # None → non-SQL-expressible, rows-only check
    oracle_spec: Optional[str | Callable[[], str]]
    category: str

    @property
    def oracle(self) -> Optional[str]:
        return self.oracle_spec() if callable(self.oracle_spec) else self.oracle_spec


REGISTRY: dict[str, Workload] = {}


def workload(name: str, oracle: Optional[str | Callable[[], str]], category: str):
    """Decorator registering a (spark, sf_dir) -> DataFrame query."""

    def deco(fn):
        import functools

        spec = functools.lru_cache(maxsize=1)(oracle) if callable(oracle) else oracle
        REGISTRY[name] = Workload(fn=fn, oracle_spec=spec, category=category)
        return fn

    return deco


def load_registry() -> dict[str, Workload]:
    """Import all workload modules (side-effect: fills REGISTRY) and return
    the catalog in import order. Consumers that need an order sort it
    themselves (by name; ``__spark_entry__`` by verification staleness)."""
    from etl_manager_spark.workloads import (  # noqa: F401
        analytics,
        audit,
        curation,
        graphs,
        hygiene,
        metrics,
        pipeline,
        relational,
        streams,
        tpch_extra,
    )

    return dict(REGISTRY)
