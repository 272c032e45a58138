"""``etl_land``: land raw files, then query them.

One unit is one land-to-queryable iteration run through
``Engine.run_job`` on the landing job folder (``landjob/``), followed by
``LOOKUPS_PER_UNIT`` partition-pruned point lookups with seeded keys.
After the timed loop a full-table aggregate of every conformed table is
the correctness gate. Every answer is compared with DuckDB's (computed by
``fixtures.py`` before the session starts).
"""

from __future__ import annotations

import json
import math
import os
import time
from statistics import quantiles

import fixtures
from procstat import tree_cpu_s
from spans import median, subtree

LOOKUPS_PER_UNIT = 50
MIN_LOOKUPS = 100


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9)
    return a == b


def _same_row(a, b) -> bool:
    return len(a) == len(b) and all(map(_same, a, b))


class EtlWorkload:
    def __init__(self, ctx: dict):
        self.ctx = ctx
        self.ops = ctx["ops"]
        self.min_units = 1 if ctx["tiny"] else -(-MIN_LOOKUPS // LOOKUPS_PER_UNIT)
        self.pass_s: list[float] = []
        self.pass_cpu_s: list[float] = []
        self.lookup_ms: list[float] = []
        self.lookup_cpu_ms: list[float] = []  # per unit: CPU ms per lookup
        self.layout: dict[int, dict[str, float]] = {}
        self._next_lookup = 0

    def prepare(self) -> None:
        self.fx = fixtures.build_etl(
            self.ctx["data"],
            self.ctx["work"],
            self.ctx["seed"],
            self.ctx["tiny"],
        )

    # ------------------------------------------------------------------ #

    def _run_job(self, spark, tracer, unit: int) -> tuple[float, float]:
        """One iteration; returns its wall and CPU seconds."""
        from etl_manager_spark.engine import Engine

        fx = self.fx
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        with tracer.span("jobs.run_job", unit=unit):
            result = Engine(spark).run_job(
                self.ctx["job_dir"],
                shared_resources=fx.job_shared,
                job_arguments={
                    "--unit": str(unit),
                    "--run_id": tracer.run_id,
                    "--trace": "1" if tracer.enabled else "0",
                    "--parent_span": tracer.current or "",
                    "--partition_exprs": json.dumps(fx.partition_exprs),
                },
            )
        elapsed = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - cpu0
        tracer.adopt(result["tracer"].spans)
        for table, gate in fx.gates.items():
            report = result["reports"][table]
            self.ops.check(report["ok"], f"validate({table}).ok")
            self.ops.check(
                report["rows"] == gate["expected"]["n"], f"{table} raw row count"
            )
            self.ops.check(
                result["first_counts"][table] == gate["expected"]["n"],
                f"{table} first SQL row count",
            )
        return elapsed, cpu

    def _scan(self, spark, tracer) -> None:
        for table, gate in self.fx.gates.items():
            with tracer.span("engine.scan", table=table):
                row = spark.sql(gate["sql"]).collect()[0].asDict()
            bad = {
                k: (row.get(k), v)
                for k, v in gate["expected"].items()
                if not _same(row.get(k), v)
            }
            self.ops.check(not bad, f"{table} full-table aggregate {bad}")

    def _lookups(self, spark, tracer, unit: int, n: int) -> None:
        cpu0 = tree_cpu_s(os.getpid())
        for _ in range(n):
            lk = self.fx.lookups[self._next_lookup % len(self.fx.lookups)]
            self._next_lookup += 1
            t0 = time.perf_counter()
            with tracer.span("engine.lookup", unit=unit):
                rows = spark.sql(lk["sql"]).collect()
            self.lookup_ms.append(1000.0 * (time.perf_counter() - t0))
            got = sorted(tuple(r) for r in rows)
            self.ops.check(
                len(got) == len(lk["rows"])
                and all(map(_same_row, got, lk["rows"])),
                f"lookup {lk['sql']}: {got} != {lk['rows']}",
            )
        self.lookup_cpu_ms.append(1000.0 * (tree_cpu_s(os.getpid()) - cpu0) / n)

    def _layout(self, spark) -> dict[str, float]:
        files = size = 0
        for dirpath, _, names in os.walk(self.fx.conformed_base):
            for f in names:
                if not f.startswith(("_", ".")):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
        parts = sum(
            spark.sql(f"SHOW PARTITIONS {self.fx.database}.{t}").count()
            for t in self.fx.gates
        )
        return {
            "sources.files_written": files,
            "sources.bytes_written": size,
            "sources.stored_bytes_per_input_byte": size / self.fx.input_bytes,
            "engine.partitions_registered": parts,
        }

    # ------------------------------------------------------------------ #

    def warm_up(self, spark) -> float:
        from spans import Tracer

        off = Tracer(spark, "warm-up", enabled=False)
        t0 = time.perf_counter()
        self._run_job(spark, off, -1)
        self._lookups(spark, off, -1, 1)
        self.lookup_ms.clear()
        self.lookup_cpu_ms.clear()
        return time.perf_counter() - t0

    def run_unit(self, spark, tracer, unit: int, traced: bool) -> float:
        t0 = time.perf_counter()
        with tracer.span("unit", unit=unit):
            try:
                wall, cpu = self._run_job(spark, tracer, unit)
            except Exception:  # noqa: BLE001 - a failed iteration is counted
                self.ops.error(f"land-to-queryable iteration {unit}")
                return time.perf_counter() - t0
            self.pass_s.append(wall)
            self.pass_cpu_s.append(cpu)
            self.ops.attempted += 1
            self._lookups(spark, tracer, unit, LOOKUPS_PER_UNIT)
        wall = time.perf_counter() - t0
        if traced:
            self.layout[unit] = self._layout(spark)
        return wall

    def summary(self) -> dict:
        return {"pass_s": self.pass_s, "pass_cpu_s": self.pass_cpu_s}

    def gates(self, spark, tracer) -> None:
        """Outside the timed loop, on the last iteration's tables: every
        full-table aggregate matches DuckDB's, and the partition count
        equals the number of distinct keys. (Validation, row counts and
        lookups were checked with every iteration.)"""
        self._scan(spark, tracer)
        for table, gate in self.fx.gates.items():
            parts = spark.sql(f"SHOW PARTITIONS {self.fx.database}.{table}").count()
            self.ops.check(
                parts == gate["partitions"],
                f"{table}: {parts} partitions registered, {gate['partitions']} distinct keys",
            )

    # ------------------------------------------------------------------ #

    def end_to_end_metrics(self) -> dict[str, float]:
        return {
            "pass_s": median(self.pass_s),
            "pass_cpu_s": median(self.pass_cpu_s),
            "query_cpu_ms": median(self.lookup_cpu_ms),
            "query_p50_ms": median(self.lookup_ms),
            "query_p90_ms": quantiles(self.lookup_ms, n=10)[-1],
        }

    def layer_metrics(self, spans: list[dict]) -> dict[str, float]:
        units = [s for s in spans if s["name"] == "unit"]
        per_unit: list[dict[str, float]] = []
        for u in units:
            sub = subtree(spans, u["id"])
            dur: dict[str, float] = {}
            for s in sub:
                dur[s["name"]] = dur.get(s["name"], 0.0) + s["end"] - s["start"]
            per_unit.append(dur)
        lookups = [
            1000.0 * (s["end"] - s["start"]) for s in spans if s["name"] == "engine.lookup"
        ]

        def med(name: str, scale: float = 1.0) -> float:
            return scale * median(d.get(name, 0.0) for d in per_unit)

        out = {
            "meta.load_ms": med("meta.load", 1000.0),
            "sources.read_plan_ms": med("sources.read_plan", 1000.0),
            "validation.validate_s": med("validation.validate"),
            "sources.write_s": med("sources.write"),
            "engine.register_s": med("engine.register"),
            "engine.first_sql_s": med("engine.first_sql"),
            "engine.lookup_ms": median(lookups),
            "engine.lookup_p90_ms": quantiles(lookups, n=10)[-1],
            "engine.scan_s": sum(
                s["end"] - s["start"] for s in spans if s["name"] == "engine.scan"
            ),
            "jobs.run_overhead_ms": 1000.0
            * median(d["jobs.run_job"] - d["job"] for d in per_unit),
        }
        for key in next(iter(self.layout.values())):
            out[key] = median(lay[key] for lay in self.layout.values())
        return out
