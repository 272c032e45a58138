#!/usr/bin/env python3
"""Land-to-query benchmark of etl_manager_spark.

    python3 perfbench/run.py --workload etl_land --seed 1 --seconds 10 --trace 0

Run from the repository root. One run is one process: it makes its inputs
from the seed (DuckDB, untimed), sets up a local Spark session several
times and reports the median set-up, runs the workload in a closed loop
(one client) for ``--seconds``, checks every answer against DuckDB, and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
records spans, writes them to ``perfbench/.work/traces/`` and reports the
per-layer metrics. Workloads and metrics are described in README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
JOB_DIR = os.path.join(HERE, "landjob")
WORKLOADS = ("etl_land", "catalog_mix")
SETUP_ROUNDS = 3
DRIVER_MEMORY = "4g"
# One task thread, a single-threaded collector and the fewest JIT compiler
# threads: the JVM's demand stays well under the box's cores, so a busy
# neighbour on a shared host slows a run less (see README.md, Steadiness).
SPARK_CORES = 1
JVM_OPTIONS = "-XX:+UseSerialGC -XX:CICompilerCount=2"


class Ops:
    """Attempted / failed operation counts; every timed call and every
    correctness check is one operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            sys.stderr.write(f"FAILED CHECK: {what}\n")
        return ok

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        sys.stderr.write(f"FAILED CALL: {what}\n{traceback.format_exc()}\n")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def build_session(work: str, app: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{SPARK_CORES}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(SPARK_CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # job/stage records for the per-span counts must outlive the run
        .config("spark.ui.retainedJobs", "1000000")
        .config("spark.ui.retainedStages", "1000000")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .getOrCreate()
    )


def stop_jvm() -> None:
    """Stop the Spark context and the gateway JVM it runs in, and wait for
    the JVM to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:  # noqa: SLF001
        SparkContext._active_spark_context.stop()  # noqa: SLF001
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def set_up(work: str, workload: str) -> tuple[object, list[float]]:
    """Start the session ``SETUP_ROUNDS`` times: the first round launches the
    JVM, later rounds stop the context and start a new one in it. Each
    round ends with one Spark job. Returns the last session and each
    round's seconds."""
    rounds = []
    spark = None
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = build_session(work, f"perfbench-{workload}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).collect()
        rounds.append(time.perf_counter() - t0)
    return spark, rounds


def make_workload(name: str, ctx: dict):
    if name == "catalog_mix":
        from mix import CatalogMix

        return CatalogMix(ctx)
    from etl import EtlWorkload

    return EtlWorkload(ctx)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument(
        "--tiny", action="store_true", help="smoke-test size (perfbench/test_smoke.py)"
    )
    args = ap.parse_args(argv)

    missing = [
        p
        for p in ("etl_manager_spark/__init__.py", "bench.py", "tools/parity_lib.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        sys.stderr.write(
            f"perfbench: run from a repository checkout; missing {missing} under {ROOT}\n"
        )
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    traces = os.path.join(HERE, ".work", "traces")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    # Everything the run or the package writes stays under the run's work
    # dir; the Python workers need the package on their path too.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData {JVM_OPTIONS}"
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")])
    )
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = DATA
    sys.path[:0] = [ROOT, os.path.join(JOB_DIR, "py_resources")]

    import spans
    from procstat import steal_s

    ops = Ops()
    ctx = {
        "workload": args.workload,
        "seed": args.seed,
        "tiny": args.tiny,
        "work": work,
        "data": DATA,
        "job_dir": JOB_DIR,
        "ops": ops,
    }
    phases: dict[str, float] = {}  # wall seconds of each phase, for sizing runs
    t_last = time.perf_counter()

    def phase_done(name: str) -> None:
        nonlocal t_last
        now = time.perf_counter()
        phases[name], t_last = now - t_last, now

    try:
        wl = make_workload(args.workload, ctx)
        wl.prepare()  # inputs and expected answers: untimed
        phase_done("prepare")

        spark, rounds = set_up(work, args.workload)
        warm_s = wl.warm_up(spark)
        setup_s = spans.median(rounds) + warm_s
        phase_done("setup")

        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = spans.Tracer(spark, run_id, enabled=bool(args.trace))
        off = spans.Tracer(spark, run_id, enabled=False)
        unit_walls: dict[bool, list[float]] = {True: [], False: []}
        t_end = time.perf_counter() + args.seconds
        i = 0
        # traced runs interleave untraced and traced units (u t t u u t t u
        # ...), so warm-up drift cancels out of the difference of their
        # medians: that difference is the tracing overhead
        min_units = max(wl.min_units, 4) if args.trace else wl.min_units
        unit_steal = []
        while i < min_units or time.perf_counter() < t_end:
            traced = bool(args.trace) and i % 4 in (1, 2)
            st0 = steal_s()
            unit_walls[traced].append(
                wl.run_unit(spark, tracer if traced else off, i, traced)
            )
            unit_steal.append(steal_s() - st0)
            i += 1
            gc.collect()
        phase_done("timed")

        wl.gates(spark, tracer)
        phase_done("gates")
        import bench

        record = {
            "workload": args.workload,
            "seed": args.seed,
            "units": i,
            "setup_rounds_s": rounds,
            "warm_up_s": warm_s,
            "unit_walls_s": unit_walls,
            # machine-wide hypervisor steal during each unit
            "unit_steal_s": unit_steal,
            **wl.summary(),
            "jvm.peak_rss_mb": jvm_peak_rss_mb(spark),
            # ambient-drift control, after the timed region and never gated
            "calibration": bench.calibration_probe(spark, str(cpu_count()), k=1),
            "phases_s": phases,
        }

        if args.trace:
            spans.resolve_spark_counts(spark, tracer.spans)
            metrics = wl.layer_metrics(tracer.spans)
            per_unit = [
                spans.subtree(tracer.spans, u["id"])
                for u in tracer.spans
                if u["name"] == "unit"
            ]
            for key in ("jobs", "stages", "tasks"):
                metrics[f"spark.{key}"] = spans.median(
                    sum(s[key] for s in sub) for sub in per_unit
                )
            metrics["jvm.peak_rss_mb"] = record["jvm.peak_rss_mb"]
            metrics["trace.overhead_ms"] = 1000.0 * (
                spans.median(unit_walls[True]) - spans.median(unit_walls[False])
            )
            # a layer the workload does not exercise reads 0
            units = per_layer_units()
            metrics = {k: metrics.get(k, 0.0) for k in units}
            spans.write_trace(
                os.path.join(traces, f"{run_id}.json"),
                tracer.spans,
                {"record": record, "metrics": metrics},
            )
        else:
            metrics = wl.end_to_end_metrics()
            metrics["setup_s"] = setup_s
            # wall-clock pass and latency figures are recorded, not gated:
            # see README.md, Steadiness
            record["end_to_end"] = metrics
            units = END_TO_END
    except Exception:  # noqa: BLE001 - report and fail the run; the work dir stays
        traceback.print_exc()
        return 1
    finally:
        stop_jvm()
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"record": record}, default=str))
    print(
        json.dumps(
            {
                "correct": ops.failed == 0,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": {
                    k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()
                },
            }
        ),
        flush=True,
    )
    return 0


END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "query_cpu_ms": "ms"}
LAYERS = {
    "meta.load_ms": "ms",
    "sources.read_plan_ms": "ms",
    "validation.validate_s": "s",
    "sources.write_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "sources.stored_bytes_per_input_byte": "ratio",
    "engine.register_s": "s",
    "engine.partitions_registered": "count",
    "engine.first_sql_s": "s",
    "engine.lookup_ms": "ms",
    "engine.lookup_p90_ms": "ms",
    "engine.scan_s": "s",
    "jobs.run_overhead_ms": "ms",
    "workloads.build_ms": "ms",
    "workloads.plan_ms": "ms",
    "workloads.exec_ms": "ms",
    "workloads.query_p90_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_ms": "ms",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric, whichever workload runs: the fixed layers
    plus plan-build and execution ms for each sampled catalog category."""
    from etl_manager_spark.workloads import load_registry
    from mix import categories

    per_cat = {
        f"workloads.{c}.{k}": "ms"
        for c in categories(load_registry())
        for k in ("build_ms", "exec_ms")
    }
    return LAYERS | per_cat


if __name__ == "__main__":
    sys.exit(main())
