"""Data-quality expectation suite (operators/dq.py): semantics of the
bound/NULL logic on a crafted frame, the one-scan plan contract, and
the failing-check path the synthetic lineitem genuinely exercises
(duplicate (l_orderkey, l_linenumber) pairs → uniqueness 0.7665)."""

import pytest
from pyspark.sql import functions as F

from flink_kafka_spark.operators.dq import (
    Expectation,
    accepted_values,
    approx_uniqueness,
    completeness,
    max_value,
    min_value,
    run_expectations,
    uniqueness,
)


def _crafted(spark):
    return spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "B"), (2, None, "A"), (4, 40.0, "Z")],
        "id int, v double, tag string",
    )


def test_expectation_semantics_bounds_and_nulls(spark):
    df = _crafted(spark)
    out = {
        r["check_name"]: r
        for r in run_expectations(
            df,
            [
                completeness("v"),                      # 3/4 -> fail
                completeness("id"),                     # 1.0 -> pass
                uniqueness(F.col("id"), "id"),          # 3/4 -> fail
                min_value("v", 5.0),                    # 10 >= 5 -> pass
                max_value("v", 25.0),                   # 40 > 25 -> fail
                accepted_values("tag", ("A", "B")),     # 3/4 -> fail
                # NULL metric (min over no rows) -> passed must be 0
                Expectation(
                    "null_metric",
                    F.min(F.when(F.lit(False), F.col("v"))).cast("double"),
                    0.0,
                    None,
                ),
                # unbounded both sides with non-null metric -> pass
                Expectation("unbounded", F.count(F.lit(1)).cast("double")),
            ],
        ).collect()
    }
    assert out["completeness:v"]["metric"] == 0.75
    assert out["completeness:v"]["passed"] == 0
    assert out["completeness:id"]["passed"] == 1
    assert out["uniqueness:id"]["metric"] == 0.75
    assert out["uniqueness:id"]["passed"] == 0
    assert out["min:v"]["passed"] == 1
    assert out["min:v"]["lo"] == 5.0 and out["min:v"]["hi"] is None
    assert out["max:v"]["metric"] == 40.0
    assert out["max:v"]["passed"] == 0
    # accepted_values denominates on non-NULL values: 3 of 4 in-set
    assert out["accepted:tag"]["metric"] == 0.75
    assert out["null_metric"]["metric"] is None
    assert out["null_metric"]["passed"] == 0
    assert out["unbounded"]["passed"] == 1


def test_approx_uniqueness_tracks_exact_within_rsd(spark):
    df = spark.range(0, 5000).select(
        (F.col("id") % 4000).alias("k")  # 4000 distinct of 5000 rows
    )
    (row,) = run_expectations(df, [approx_uniqueness(F.col("k"), "k", 0.02)]).collect()
    assert abs(row["metric"] - 0.8) <= 0.8 * 3 * 0.02
    # default bound is the key-check band lo = 1 - 3*rsd: a 0.8-unique
    # column must FAIL it (an unbounded default would be a silent
    # always-pass gate)
    assert row["lo"] == 0.94
    assert row["passed"] == 0
    (key_row,) = run_expectations(
        df.select(F.col("k") + F.lit(0)).distinct().select(F.col("(k + 0)").alias("k")),
        [approx_uniqueness(F.col("k"), "k", 0.02)],
    ).collect()
    assert key_row["passed"] == 1  # a true key lands inside the band
    # explicit bounds still win over the default
    (loose,) = run_expectations(
        df, [approx_uniqueness(F.col("k"), "k", 0.02, lo=0.5)]
    ).collect()
    assert loose["lo"] == 0.5 and loose["passed"] == 1


def test_run_expectations_single_scan_plan(spark, sf_dir):
    """Adding expectations must not add passes: the audit is ONE scan
    (stack pivots the 1-row aggregate). The exact-distinct behind
    uniqueness is the only multi-exchange cost."""
    from flink_kafka_spark.queries.analytics import dq_expectations

    plan = (
        dq_expectations(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1, plan


def test_duplicate_check_names_rejected(spark):
    df = _crafted(spark)
    with pytest.raises(ValueError, match="duplicate"):
        run_expectations(df, [completeness("v"), completeness("v")])
    with pytest.raises(ValueError, match="empty"):
        run_expectations(df, [])


def test_lineitem_audit_flags_the_planted_key_duplicates(spark, sf_dir):
    """The synthetic lineitem genuinely violates (l_orderkey,
    l_linenumber) uniqueness — the audit's failing-row path runs on
    real data, not just the crafted frame above."""
    from flink_kafka_spark.queries.analytics import dq_expectations

    rows = {r["check_name"]: r for r in dq_expectations(spark, sf_dir).collect()}
    assert rows["uniqueness:l_orderkey*8+l_linenumber"]["passed"] == 0
    assert rows["uniqueness:l_orderkey*8+l_linenumber"]["metric"] < 1.0
    for name, r in rows.items():
        if not name.startswith("uniqueness"):
            assert r["passed"] == 1, (name, r)


def test_grouped_expectations_per_group_rows(spark):
    """group_cols runs the SAME audit per group in one aggregation
    pass: per-group metrics/passed match independently filtered
    whole-frame audits, and the plan still scans once."""
    df = _crafted(spark).withColumn("src", F.col("tag"))
    checks = [completeness("v"), min_value("v", 0.0)]
    out = run_expectations(df, checks, group_cols=["src"])
    assert out.columns == ["src", "check_name", "metric", "lo", "hi", "passed"]
    rows = {(r["src"], r["check_name"]): r for r in out.collect()}
    # reference: per-group audits of the filtered frame
    for src in ("A", "B", "Z"):
        ref = {
            r["check_name"]: r
            for r in run_expectations(
                df.filter(F.col("src") == src), checks
            ).collect()
        }
        for name, rr in ref.items():
            got = rows[(src, name)]
            assert (got["metric"], got["passed"]) == (rr["metric"], rr["passed"]), (
                src, name, got, rr,
            )
    # one source read per section: the AQE plan string prints the scan
    # once in the Final and once in the Initial section — a per-group
    # fanout would print once per group (3+ per section)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") <= 2, plan


def test_pattern_and_quantile_expectations(spark):
    df = spark.createDataFrame(
        [("a-1", 1.0), ("b-2", 2.0), ("bad", 3.0), (None, 100.0)],
        "code string, v double",
    )
    from flink_kafka_spark.operators.dq import pattern_fraction, quantile_between

    out = {
        r["check_name"]: r
        for r in run_expectations(
            df,
            [
                pattern_fraction("code", r"^[ab]-\d$"),          # 2/3 -> fail
                pattern_fraction("code", r"^[a-z]", lo=0.5, hi=None),  # 3/3 pass
                quantile_between("v", 0.5, lo=1.0, hi=3.0),      # median 2.0
                quantile_between("v", 0.99, lo=None, hi=50.0),   # p99 100 -> fail
            ],
        ).collect()
    }
    assert out[r"pattern:code:^[ab]-\d$"]["metric"] == 0.666667
    assert out[r"pattern:code:^[ab]-\d$"]["passed"] == 0
    assert out["pattern:code:^[a-z]"]["passed"] == 1
    assert out["quantile0.5:v"]["metric"] == 2.0
    assert out["quantile0.5:v"]["passed"] == 1
    assert out["quantile0.99:v"]["passed"] == 0

    with pytest.raises(ValueError, match="quantile"):
        quantile_between("v", 1.5)


def test_run_expectations_zero_denominator_reports_failed_not_crash(spark):
    """Under Spark's default ANSI mode a bare division would throw
    DIVIDE_BY_ZERO exactly when a gate should REPORT: accepted_values
    over an all-NULL column (count(col)=0) and any ratio over an
    empty frame must come back as metric NULL / passed 0 rows, and in
    grouped mode one empty group must not kill the other groups'
    audit."""
    from flink_kafka_spark.operators.dq import (
        accepted_values,
        completeness,
        run_expectations,
    )

    df = spark.createDataFrame(
        [("a", None), ("b", None)], "tag string, v string"
    )
    rows = {r["check_name"]: r for r in run_expectations(
        df, [accepted_values("v", ("x", "y")), completeness("v")]
    ).collect()}
    assert rows["accepted:v"]["metric"] is None and rows["accepted:v"]["passed"] == 0
    assert rows["completeness:v"]["metric"] == 0.0 and rows["completeness:v"]["passed"] == 0

    empty = df.filter("tag = 'nope'")
    rows = {r["check_name"]: r for r in run_expectations(
        empty, [completeness("v"), accepted_values("tag", ("a",))]
    ).collect()}
    assert all(r["metric"] is None and r["passed"] == 0 for r in rows.values())

    grouped = spark.createDataFrame(
        [("g1", "x"), ("g1", "x"), ("g2", None)], "g string, v string"
    )
    by_g = {(r["g"], r["check_name"]): r for r in run_expectations(
        grouped, [accepted_values("v", ("x",))], group_cols=["g"]
    ).collect()}
    assert by_g[("g1", "accepted:v")]["passed"] == 1
    assert by_g[("g2", "accepted:v")]["metric"] is None
    assert by_g[("g2", "accepted:v")]["passed"] == 0
