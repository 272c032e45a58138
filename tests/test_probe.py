"""tools/probe.py: the per-query loop, called in-process on the test
session at sf0.001 with a registry that also holds a fake entry that
raises and a fake streaming entry."""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import probe  # noqa: E402

from etl_manager_spark.workloads import Workload  # noqa: E402

_GROUP = "spark.jobGroup.id"


def _boom(spark, sf_dir):
    raise RuntimeError("boom")


def _plain(spark, sf_dir):
    return spark.range(100)


def _side_job_outside_group(spark, sf_dir):
    """The same query as ``_plain``, after running one extra job with the
    caller's job group cleared."""
    sc = spark.sparkContext
    group = sc.getLocalProperty(_GROUP)
    sc.setLocalProperty(_GROUP, None)
    try:
        spark.range(10).count()
    finally:
        sc.setLocalProperty(_GROUP, group)
    return spark.range(100)


@pytest.fixture(scope="module")
def registry():
    from etl_manager_spark.workloads import load_registry

    reg = {"q1_pricing_summary": load_registry()["q1_pricing_summary"]}
    reg["boom"] = Workload(fn=_boom, oracle_spec=None, category="scalar")
    reg["plain"] = Workload(fn=_plain, oracle_spec=None, category="scalar")
    reg["side_job"] = Workload(
        fn=_side_job_outside_group, oracle_spec=None, category="scalar"
    )
    reg["fake_stream"] = Workload(fn=_plain, oracle_spec=None, category="streaming")
    return reg


def test_jobs_counts_repeat_and_ignore_jobs_outside_the_group(
    spark, sf_dir, registry, tmp_path
):
    names = ["q1_pricing_summary", "plain", "side_job"]
    first = probe.probe(spark, registry, sf_dir, "jobs", names, str(tmp_path / "a.json"))
    second = probe.probe(spark, registry, sf_dir, "jobs", names, str(tmp_path / "b.json"))
    keys = ("jobs", "stages", "tasks")
    for name in names:
        assert first[name]["jobs"] >= 1, first[name]
        assert [first[name][k] for k in keys] == [second[name][k] for k in keys]
    # a range to the noop sink is one job: the untimed pass is not counted
    assert (first["plain"]["jobs"], first["plain"]["stages"]) == (1, 1)
    assert [first["side_job"][k] for k in keys] == [first["plain"][k] for k in keys]
    with open(tmp_path / "a.json") as fh:
        assert json.load(fh) == first


def test_scans_counts_one_lineitem_scan_for_q1(spark, sf_dir, registry, tmp_path):
    out = str(tmp_path / "scans.json")
    res = probe.probe(spark, registry, sf_dir, "scans", ["q1_pricing_summary"], out)
    assert res["q1_pricing_summary"]["parquet_scans"] == {"lineitem": 1}


def test_plan_writes_templated_path_and_skips_streaming(
    spark, sf_dir, registry, tmp_path
):
    template = str(tmp_path / "plans" / "{name}_before.txt")
    res = probe.probe(
        spark, registry, sf_dir, "plan", ["q1_pricing_summary", "fake_stream"], template
    )
    path = template.format(name="q1_pricing_summary")
    assert res["q1_pricing_summary"]["path"] == path
    with open(path) as fh:
        assert fh.readline().startswith("== Physical Plan ==")
    assert res["fake_stream"] == {"skipped": "streaming"}
    assert not os.path.exists(template.format(name="fake_stream"))


@pytest.mark.parametrize("mode", probe.MODES)
def test_a_raising_query_is_recorded_not_raised(
    mode, spark, sf_dir, registry, tmp_path, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "1")
    out = str(tmp_path / ("{name}.txt" if mode == "plan" else "out.json"))
    names = ["boom", "no_such_query", "plain"]
    res = probe.probe(spark, registry, sf_dir, mode, names, out)
    if mode == "time":
        assert set(res) == {"timings", "failures", "protocol", "repo"}
        assert set(res["timings"]) == {"plain"}
        errors = res["failures"]
    else:
        assert "error" not in res["plain"]
        errors = {n: res[n]["error"] for n in names[:2]}
    assert errors["boom"] == "RuntimeError: boom"
    assert errors["no_such_query"].startswith("KeyError")
