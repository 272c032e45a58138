"""Constraint-enforcement report (the reference declares but never enforces;
we make enforcement optional and observable)."""

from etl_manager_spark import TableMeta
from etl_manager_spark.validation import validate


def test_validate_reports_all_violation_kinds(spark):
    t = TableMeta(
        name="people",
        location="people",
        columns=[
            {"name": "pid", "type": "int", "nullable": False},
            {"name": "grade", "type": "int", "enum": [1, 2, 3]},
            {"name": "code", "type": "character", "pattern": r"[a-z]{3}"},
        ],
        primary_key=["pid"],
    )
    df = spark.createDataFrame(
        [
            (1, 1, "abc"),
            (1, 2, "abc"),   # duplicate pk
            (None, 9, "ABC"),  # null pk + bad enum + bad pattern
            (3, None, None),   # nulls in nullable cols are fine
        ],
        "pid int, grade int, code string",
    )
    report = validate(df, t)
    assert not report.ok
    assert report.row_count == 4
    assert report.violations["pid.nullable"] == 1
    assert report.violations["grade.enum"] == 1
    assert report.violations["code.pattern"] == 1
    assert report.violations["primary_key"] == 1


def test_validate_clean_data_ok(spark):
    t = TableMeta(
        name="clean",
        location="clean",
        columns=[{"name": "pid", "type": "int", "nullable": False}],
        primary_key=["pid"],
    )
    df = spark.createDataFrame([(1,), (2,)], "pid int")
    report = validate(df, t)
    assert report.ok and report.row_count == 2


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_validate_is_one_aggregation_pass(spark):
    """The row count rides in the violations aggregate: a table without a
    primary key costs exactly one aggregation's jobs, where a separate
    ``df.count()`` scanned the input once more."""
    from pyspark.sql import functions as F

    t = TableMeta(
        name="nopk",
        location="nopk",
        columns=[
            {"name": "pid", "type": "int", "nullable": False},
            {"name": "grade", "type": "int", "enum": [1, 2, 3]},
            {"name": "code", "type": "character", "pattern": r"[a-z]{3}"},
        ],
    )
    df = spark.createDataFrame(
        [(1, 1, "abc"), (None, 9, "ABC"), (3, None, None), (4, 2, "xyz")],
        "pid int, grade int, code string",
    )
    n_validate, report = _jobs_in_group(spark, "validate-one-pass", lambda: validate(df, t))
    assert report.row_count == 4
    assert report.violations == {"pid.nullable": 1, "grade.enum": 1, "code.pattern": 1}

    n_agg, _ = _jobs_in_group(
        spark, "validate-agg", lambda: df.agg(F.count(F.lit(1))).collect()
    )
    n_count, _ = _jobs_in_group(spark, "validate-count", df.count)
    assert n_validate == n_agg
    # the former shape: a df.count() plus the same aggregate
    assert n_validate <= n_count + n_agg - 1

    # no declared constraint: the report is the row count alone
    bare = TableMeta(name="bare", location="bare", columns=[{"name": "pid", "type": "int"}])
    report = validate(df, bare)
    assert report.ok and report.row_count == 4 and report.violations == {}


def test_profile_numeric_columns_one_pass(spark):
    from pyspark.sql import Row

    from etl_manager_spark.validation import profile_numeric_columns

    df = spark.createDataFrame(
        [Row(a=1, b=None), Row(a=2, b=2.5), Row(a=2, b=7.5)],
        "a int, b double",
    )
    prof = profile_numeric_columns(df, ["a", "b"])
    rows = {r.column: (r.n, r.n_null, r.n_distinct, r.min_value, r.max_value)
            for r in prof.collect()}
    assert rows == {"a": (3, 0, 2, 1.0, 2.0), "b": (3, 1, 2, 2.5, 7.5)}
    # one scan, one aggregation: no more than the agg's single exchange pair
    # (AQE's string repeats the tree as Final + Initial — inspect Final only)
    plan = prof._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan ") <= 1, final


def test_profile_approx_quantiles_dirty_group_keys_and_fallback(spark):
    """The quantile profiler must survive the data profilers get pointed
    at: a NULL group key is profiled as its own group (not dropped, not
    a crash), and a group cardinality above max_groups falls back to the
    built-in aggregate with identical values."""
    from pyspark.sql import functions as F

    from etl_manager_spark.validation import profile_approx_quantiles

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), (None, 10.0), (None, 30.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["g"]: r.asDict()
        for r in profile_approx_quantiles(df, "g", "v").collect()
    }
    assert got["a"]["p0_5_exact"] == 2.0 and got["a"]["p0_5_within_tol"]
    assert got[None]["p0_5_exact"] == 20.0  # NULL group profiled, kept

    # cardinality above the ceiling → builtin fallback, same answer
    big = spark.range(300).selectExpr("id as g", "cast(id as double) as v")
    out = profile_approx_quantiles(big, "g", "v", max_groups=50)
    exp = big.groupBy("g").agg(
        F.expr("percentile(v, 0.5)").alias("p0_5_exact")
    )
    assert out.count() == 300
    got_med = {r["g"]: r["p0_5_exact"] for r in out.collect()}
    exp_med = {r["g"]: r["p0_5_exact"] for r in exp.collect()}
    assert got_med == exp_med


def test_profile_approx_quantiles_n_groups_hint(spark):
    """Round-11 contract: ``n_groups_hint`` skips the per-call
    cardinality-probe job (a full input pass at scale) but changes
    nothing else — identical rows to the probing path, and a WRONG
    "few" hint still fails loudly at execution via the CDF machinery's
    in-plan assert_true few-groups contract."""
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    from etl_manager_spark.validation import profile_approx_quantiles

    rows = [("a", 1.0), ("a", 2.0), ("b", 3.0), (None, 10.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    probed = {
        tuple(r) for r in profile_approx_quantiles(df, "g", "v").collect()
    }
    hinted = {
        tuple(r)
        for r in profile_approx_quantiles(
            df, "g", "v", n_groups_hint=3
        ).collect()
    }
    assert probed == hinted and len(probed) == 3

    tracker = spark.sparkContext.statusTracker()

    def max_job_id() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    # plan construction still pays the CDF machinery's checkpoint jobs,
    # but the hint must shave the probe's own job(s): construction with
    # the hint runs strictly fewer jobs than construction with the probe
    before = max_job_id()
    profile_approx_quantiles(df, "g", "v", n_groups_hint=3)
    hinted_jobs = max_job_id() - before
    before = max_job_id()
    profile_approx_quantiles(df, "g", "v")
    probed_jobs = max_job_id() - before
    assert hinted_jobs < probed_jobs, (hinted_jobs, probed_jobs)

    # a hint above max_groups picks the builtin fallback (same values)
    big = spark.range(120).selectExpr("id as g", "cast(id as double) as v")
    out = profile_approx_quantiles(
        big, "g", "v", max_groups=50, n_groups_hint=120
    )
    assert out.count() == 120

    # a WRONG few-hint fails loudly at execution (in-plan contract)
    import pytest as _pytest

    wrong = profile_approx_quantiles(
        big, "g", "v", max_groups=50, n_groups_hint=5
    )
    with _pytest.raises(Exception, match="grouped percentiles"):
        wrong.collect()
