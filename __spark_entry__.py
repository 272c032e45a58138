"""Driver contract for the spark-graft builder (PySpark target).

Everything is delegated to the workload catalog
(``etl_manager_spark.workloads``): one registry entry per implemented
operator from SURVEY.md §2, each with a Spark callable and (where
SQL-expressible) a DuckDB oracle with matching column aliases.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_manager_spark.workloads import load_registry  # noqa: E402

# driver_green.json / driver_sampled.json live next to the catalog
_LEDGER_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "etl_manager_spark", "workloads"
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q3-shaped
    customer×orders×lineitem join + group + top-k."""
    registry = load_registry()
    return registry["q3_shipping_priority"].fn(spark, "/root/testdata/sf0.001")


def _staleness_order(names) -> list[str]:
    """Least-trusted queries first, so a driver that samples a PREFIX of
    the catalog always verifies where the evidence is weakest:

    1. sampled-but-never-green (a driver row exists and it wasn't green —
       fixed oracles awaiting confirmation),
    2. never-sampled (parity-green only),
    3. green, stalest confirming round first,
    ties by name. Both ledgers (driver_green.json / driver_sampled.json)
    are regenerated from the CORRECTNESS_r*.json files by
    tools/regen_driver_green.py — never hand-kept."""
    import json
    import warnings

    def _load(fname) -> dict[str, int]:
        try:
            with open(os.path.join(_LEDGER_DIR, fname)) as fh:
                return {str(k): int(v) for k, v in json.load(fh).items()}
        except (OSError, ValueError, TypeError, AttributeError) as exc:
            # A broken ledger must not break the driver contract, but a
            # silent fallback would scramble the verification order.
            warnings.warn(
                f"{fname} unusable ({exc!r}); ordering as if empty — "
                "regenerate with tools/regen_driver_green.py",
                stacklevel=2,
            )
            return {}

    green = _load("driver_green.json")
    sampled = _load("driver_sampled.json")

    def key(n):
        if n in green:
            return (2, green[n], n)
        return (0 if n in sampled else 1, 0, n)

    return sorted(names, key=key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (iteration
    order: least-recently-driver-verified first)."""
    registry = load_registry()
    return {name: registry[name].fn for name in _staleness_order(registry)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query (same column
    aliases as the Spark side; value-exact — see functions/exact.py)."""
    registry = load_registry()
    return {
        name: registry[name].oracle
        for name in _staleness_order(registry)
        if registry[name].oracle is not None
    }
