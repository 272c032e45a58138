#!/usr/bin/env python
"""Probe named catalog queries: one session, one registry, one loop.

Usage::

    python tools/probe.py MODE OUT query [query ...]

Modes:

- ``time``: the bench protocol (``bench.run_queries``: one untimed pass,
  median of $SPARK_GRAFT_BENCH_RUNS runs, between-query hygiene) in a
  fresh session, for close-in-time A/B pairs between two checkouts.
  OUT gets ``timings``, ``failures``, ``protocol`` and ``repo``.
- ``jobs``: Spark jobs, stages and tasks of one run under a job group of
  its own, after one untimed pass, counted by the benchmark's own
  ``spans.resolve_spark_counts`` (a stage counts when one of its tasks
  ran, so skipped stages are left out). Counts are properties of the
  plan, not of the box; wall time rides along.
- ``scans``: parquet scan nodes per table, checkpoint (ExistingRDD) scans,
  exchanges and reused exchanges in the formatted physical plan.
- ``plan``: the formatted physical plan. OUT is a path template such as
  ``plans/r12/{name}_before.txt``; streaming queries are skipped, their
  physical plan only exists per micro-batch.

A query that raises is recorded as ``{"error": ...}`` and the loop goes
on. Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_RUNS and
SPARK_GRAFT_BENCH_CONF (extra confs, as for ``bench.py --experiment``).
"""

from __future__ import annotations

import json
import os
import re
import sys
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the benchmark's span recorder, imported the way perfbench/run.py does
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench", "landjob", "py_resources")]

import spans  # noqa: E402
from bench import build_session, run_queries, warm_batch, warm_streaming  # noqa: E402

from etl_manager_spark.plans import explain_formatted  # noqa: E402

MODES = ("time", "jobs", "scans", "plan")


def _run(spark, entry, sf_dir) -> None:
    entry.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()


def scan_counts(plan: str) -> dict:
    """Scan and exchange counts of a formatted physical plan."""
    # Each scan node's detail block carries one "Location:" line naming
    # the file (the tree header line does not repeat it), so counting
    # Locations counts scan nodes per table.
    tables: dict[str, int] = {}
    for m in re.finditer(r"Location:[^\n]*?([\w.-]+)\.parquet", plan):
        tables[m.group(1)] = tables.get(m.group(1), 0) + 1
    return {
        "parquet_scans": tables,
        "existing_rdd_scans": plan.count("Scan ExistingRDD"),
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "reused_exchanges": plan.count("ReusedExchange"),
    }


def probe(spark, registry, sf_dir: str, mode: str, names, out: str) -> dict:
    """Run ``mode`` over ``names`` and write the result to ``out`` (in
    ``plan`` mode, one file per query at ``out.format(name=name)``).
    Returns the per-query records; in ``time`` mode, what OUT holds."""
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}, not {mode!r}")
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # one fresh job-group prefix per call, so no two runs share a group
    tracer = spans.Tracer(spark, f"probe-{uuid.uuid4().hex}", enabled=True)
    if mode in ("time", "jobs"):
        warm_batch(spark, sf_dir)
    if mode == "time" and any(
        n in registry and registry[n].category == "streaming" for n in names
    ):
        warm_streaming(spark)

    def measure(name: str, entry) -> dict:
        if mode == "time":
            timings: dict[str, float] = {}
            failures: dict[str, str] = {}
            run_queries(spark, [name], registry, sf_dir, n_runs, timings, failures)
            return {"s": timings[name]} if name in timings else {"error": failures[name]}
        if mode == "jobs":
            _run(spark, entry, sf_dir)  # untimed: scratch stores, codegen
            spark.catalog.clearCache()
            with tracer.span(name):
                _run(spark, entry, sf_dir)
            spark.catalog.clearCache()
            span = tracer.spans[-1]
            spans.resolve_spark_counts(spark, [span])
            return {
                "jobs": span["jobs"],
                "stages": span["stages"],
                "tasks": span["tasks"],
                "wall": round(span["end"] - span["start"], 3),
            }
        if entry.category == "streaming":
            return {"skipped": "streaming"}
        plan = explain_formatted(entry.fn(spark, sf_dir))
        if mode == "scans":
            return scan_counts(plan)
        path = out.format(name=name)
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as fh:
            fh.write(plan)
        return {"path": path, "bytes": len(plan)}

    records: dict[str, dict] = {}
    for name in names:
        try:
            records[name] = measure(name, registry[name])
        except Exception as exc:  # noqa: BLE001 - record and go on
            records[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
    if mode == "plan":
        return records
    if mode == "time":
        records = {
            "timings": {n: r["s"] for n, r in records.items() if "s" in r},
            "failures": {n: r["error"] for n, r in records.items() if "error" in r},
            "protocol": f"fresh_session_median_of_{n_runs}_after_warmup",
            "repo": REPO,
        }
    with open(out, "w") as fh:
        json.dump(records, fh, indent=1, sort_keys=True)
    return records


def main() -> None:
    if len(sys.argv) < 4 or sys.argv[1] not in MODES:
        sys.exit(__doc__)
    mode, out, names = sys.argv[1], sys.argv[2], sys.argv[3:]

    from etl_manager_spark.workloads import load_registry

    registry = load_registry()
    # the Python workers import the package from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [REPO, os.environ.get("PYTHONPATH")])
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(cpus, f"etl_manager_spark-probe-{mode}", experiment=True)
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        records = probe(spark, registry, sf_dir, mode, names, out)
    finally:
        spark.stop()
    print(json.dumps(records, sort_keys=True))


if __name__ == "__main__":
    main()
