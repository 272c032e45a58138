"""``catalog_mix``: a fixed stratified sample of the workload registry.

Each query is built with ``fn(spark, data_dir)`` and run to the ``noop``
sink; one unit is one pass over the sample in a seeded order. The ETL
layers do no work here: the per-query floor (Python plan build, Catalyst,
scheduling, driver barriers) does.

The sample is fixed (``SAMPLE_SEED``), so every run times the same
queries; the run's seed only sets the order of each pass. Left out: the
streaming category (bench.py runs it in a session of its own) and the 18
readers of maintained stores that OPTIMIZATION_r11.md exempts (their rows
time reading state built in an earlier run, not the query).
"""

from __future__ import annotations

import gc
import os
import random
import time
from statistics import quantiles

import duckdb

from procstat import tree_cpu_s
from spans import median

SAMPLE_SEED = 11
SAMPLE_CATEGORIES = 11  # one query from each of this many categories
TINY_CATEGORIES = 3
# Every run makes at least this many passes. They take longer than the
# run's 10 s on a 4-core VM, so a run makes exactly this many, and its
# per-query medians come from the same passes at the same point of the
# JVM's warm-up.
MIN_PASSES = 2
MAINTAINED_STORE_READERS = frozenset(
    """
    dedup_cluster_assignment dedup_cluster_assignment_star dedup_cluster_survivors
    cluster_size_distribution_neardup kcore_neardup_graph label_spreading_neardup
    leakage_safe_split_documents triangle_support_neardup pagerank_neardup_graph
    clustering_coefficient_neardup assortativity_neardup_graph bfs_distance_neardup
    mrr_bm25_documents precision_recall_at_5_bm25 average_precision_bm25
    incremental_minhash_dedup_documents similarity_topk_pq_adc incremental_rollup_events
    """.split()
)


def sample(registry, n_categories: int = SAMPLE_CATEGORIES) -> list[str]:
    """One query from each of ``n_categories`` categories, drawn with
    ``SAMPLE_SEED``; sorted by name."""
    by_cat: dict[str, list[str]] = {}
    for name in sorted(registry):
        cat = registry[name].category
        if cat != "streaming" and name not in MAINTAINED_STORE_READERS:
            by_cat.setdefault(cat, []).append(name)
    rng = random.Random(SAMPLE_SEED)
    cats = sorted(by_cat)
    rng.shuffle(cats)
    return sorted(rng.choice(by_cat[c]) for c in cats[:n_categories])


def categories(registry) -> list[str]:
    return sorted({registry[n].category for n in sample(registry)})


class CatalogMix:
    def __init__(self, ctx: dict):
        self.ctx = ctx
        self.ops = ctx["ops"]
        self.min_units = 1 if ctx["tiny"] else MIN_PASSES
        self.rng = random.Random(ctx["seed"])
        self.pass_s: list[float] = []
        self.pass_cpu_s: list[float] = []
        self.query_ms: dict[str, list[float]] = {}
        self.query_cpu_ms: dict[str, list[float]] = {}

    def prepare(self) -> None:
        from etl_manager_spark.workloads import load_registry
        from etl_manager_spark.workloads.tables import TABLE_NAMES

        self.registry = load_registry()
        self.names = sample(
            self.registry, TINY_CATEGORIES if self.ctx["tiny"] else SAMPLE_CATEGORIES
        )
        self.duck = duckdb.connect()
        for t in TABLE_NAMES:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.ctx['data']}/{t}.parquet')"
            )

    def warm_up(self, spark) -> float:
        """One pass that collects every query and compares it with its
        DuckDB oracle. Returns the Spark side's seconds (oracle excluded)."""
        from tools.parity_lib import compare_results

        spark_s = 0.0
        for name in self.names:
            wl = self.registry[name]
            t0 = time.perf_counter()
            try:
                df = wl.fn(spark, self.ctx["data"])
                rows = [tuple(r) for r in df.collect()]
            except Exception:  # noqa: BLE001 - a failed query is counted
                self.ops.error(f"{name} (warm-up collect)")
                continue
            finally:
                spark_s += time.perf_counter() - t0
            if wl.oracle is None:
                self.ops.check(True, name)
                continue
            res = self.duck.execute(wl.oracle)
            rel = self.duck.sql(wl.oracle)
            problems = compare_results(
                name,
                df.columns,
                rows,
                df.dtypes,
                [d[0] for d in res.description],
                res.fetchall(),
                rel.types,
            )
            self.ops.check(not problems, f"{name} vs DuckDB oracle: {problems}")
        self.duck.close()
        return spark_s

    def run_unit(self, spark, tracer, unit: int, traced: bool) -> float:
        order = list(self.names)
        self.rng.shuffle(order)
        cpu0 = tree_cpu_s(os.getpid())
        t_pass = time.perf_counter()
        with tracer.span("unit", unit=unit):
            for name in order:
                wl = self.registry[name]
                q_cpu0 = tree_cpu_s(os.getpid())
                t0 = time.perf_counter()
                try:
                    with tracer.span("workloads.query", query=name, category=wl.category):
                        with tracer.span("workloads.build", query=name, category=wl.category):
                            df = wl.fn(spark, self.ctx["data"])
                        if traced:
                            with tracer.span("workloads.plan", query=name, category=wl.category):
                                df._jdf.queryExecution().executedPlan()  # noqa: SLF001
                        with tracer.span("workloads.exec", query=name, category=wl.category):
                            df.write.mode("overwrite").format("noop").save()
                except Exception:  # noqa: BLE001 - a failed query is counted
                    self.ops.error(f"{name} (pass {unit})")
                    continue
                self.ops.attempted += 1
                self.query_ms.setdefault(name, []).append(
                    1000.0 * (time.perf_counter() - t0)
                )
                self.query_cpu_ms.setdefault(name, []).append(
                    1000.0 * (tree_cpu_s(os.getpid()) - q_cpu0)
                )
        wall = time.perf_counter() - t_pass
        self.pass_cpu_s.append(tree_cpu_s(os.getpid()) - cpu0)
        self.pass_s.append(wall)
        # drop the last plan so the collection below frees its JVM objects
        df = None
        spark.catalog.clearCache()
        gc.collect()
        return wall

    def summary(self) -> dict:
        return {
            "pass_s": self.pass_s,
            "pass_cpu_s": self.pass_cpu_s,
            "query_median_ms": {q: median(v) for q, v in sorted(self.query_ms.items())},
        }

    def gates(self, spark, tracer) -> None:
        """The oracle comparison runs in the warm-up pass."""

    def end_to_end_metrics(self) -> dict[str, float]:
        """Latency percentiles are taken across the sampled queries, each at
        its median over the run's passes: pooling every execution would put
        the percentile on the edge between two queries' latencies, where
        single slow or fast executions move it. ``pass_s`` is the sum of the
        same medians, a pass at each query's typical latency, so a host
        stall during one pass does not move it."""
        per_query = [median(v) for v in self.query_ms.values()]
        return {
            "pass_s": sum(per_query) / 1000.0,
            "pass_cpu_s": median(self.pass_cpu_s),
            "query_cpu_ms": median(median(v) for v in self.query_cpu_ms.values()),
            "query_p50_ms": median(per_query),
            "query_p90_ms": quantiles(per_query, n=10)[-1],
        }

    def layer_metrics(self, spans: list[dict]) -> dict[str, float]:
        def ms(name: str, category: str | None = None) -> float:
            return 1000.0 * median(
                s["end"] - s["start"]
                for s in spans
                if s["name"] == name
                and (category is None or s["attrs"]["category"] == category)
            )

        out = {
            "workloads.build_ms": ms("workloads.build"),
            "workloads.plan_ms": ms("workloads.plan"),
            "workloads.exec_ms": ms("workloads.exec"),
            "workloads.query_p90_ms": quantiles(
                [
                    1000.0 * median(
                        s["end"] - s["start"]
                        for s in spans
                        if s["name"] == "workloads.query" and s["attrs"]["query"] == q
                    )
                    for q in self.names
                ],
                n=10,
            )[-1],
        }
        for cat in categories(self.registry):
            out[f"workloads.{cat}.build_ms"] = ms("workloads.build", cat)
            out[f"workloads.{cat}.exec_ms"] = ms("workloads.exec", cat)
        return out
