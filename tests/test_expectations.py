"""Data-quality gate (profile.expectations) and PSI drift
(profile.psi_drift): verdict correctness, null handling, drift
sensitivity, and the one-scan plan shapes the docstrings promise."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lbf_spark.operators.profile import expectations, psi_drift


@pytest.fixture(scope="module")
def quality_df(spark):
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3, 4, 5, 6, 7, 8],
            "name": ["aa", "bb", None, "dd", "ee", "ff", "gg", "hh"],
            "cat": ["x", "x", "y", "y", "x", "z", "x", "x"],
            "score": [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0],
        }
    )
    return spark.createDataFrame(pdf)


def _rows(df):
    return {r["check_id"]: r.asDict() for r in df.collect()}


def test_expectations_metrics_and_verdicts(spark, quality_df):
    got = _rows(
        expectations(
            quality_df,
            [
                {"kind": "completeness", "column": "name", "lo": 0.9},
                {"kind": "completeness", "column": "id", "lo": 1.0},
                {"kind": "uniqueness", "column": "id", "lo": 1.0},
                {"kind": "uniqueness", "column": "cat", "lo": 0.5},
                {"kind": "min_value", "column": "score", "lo": 0},
                {"kind": "max_value", "column": "score", "hi": 75},
                {"kind": "mean_between", "column": "score", "lo": 40, "hi": 50},
                {"kind": "values_in", "column": "cat", "allowed": ["x", "y"], "lo": 0.9},
                {"kind": "matches", "column": "name", "pattern": "^[a-h]{2}$", "lo": 1.0},
            ],
        )
    )
    assert len(got) == 9
    # completeness(name) = 7/8, below 0.9 -> fail
    assert got[1]["metric"] == 0.875 and not got[1]["passed"]
    assert got[2]["metric"] == 1.0 and got[2]["passed"]
    assert got[3]["metric"] == 1.0 and got[3]["passed"]
    # uniqueness(cat) = 3/8
    assert got[4]["metric"] == 0.375 and not got[4]["passed"]
    assert got[5]["metric"] == 10.0 and got[5]["passed"]
    # max(score)=80 > 75 -> fail
    assert got[6]["metric"] == 80.0 and not got[6]["passed"]
    assert got[7]["metric"] == 45.0 and got[7]["passed"]
    # 7/8 of rows in {x,y} (the z row fails membership)
    assert got[8]["metric"] == 0.875 and not got[8]["passed"]
    # matches: null row excluded from the denominator -> 7/7
    assert got[9]["metric"] == 1.0 and got[9]["passed"]


def test_expectations_empty_input_fails_closed(spark, quality_df):
    """A gate that saw zero rows must FAIL every thresholded check
    (NULL metric -> passed false), never divide-by-zero or pass."""
    empty = quality_df.filter(F.lit(False))
    got = _rows(
        expectations(
            empty,
            [
                {"kind": "completeness", "column": "name", "lo": 0.5},
                {"kind": "uniqueness", "column": "id", "lo": 0.5},
                {"kind": "mean_between", "column": "score", "lo": 0, "hi": 1},
                {"kind": "min_value", "column": "score", "lo": 0},
            ],
        )
    )
    assert len(got) == 4
    for r in got.values():
        assert r["metric"] is None and r["passed"] is False


def test_psi_empty_slice_is_max_drift(spark):
    # every row is reference: the current side is empty -> all current
    # proportions floor to epsilon -> large positive PSI, no crash
    pdf = pd.DataFrame(
        {"x": [float(i % 10) for i in range(100)], "is_ref": [True] * 100}
    )
    got = {
        r["feature"]: r["psi"]
        for r in psi_drift(spark.createDataFrame(pdf), ["x"], "is_ref").collect()
    }
    assert got["x"] > 1.0


def test_expectations_unknown_kind_raises(spark, quality_df):
    with pytest.raises(ValueError, match="unknown expectation kind"):
        expectations(quality_df, [{"kind": "nope", "column": "id"}])


def test_expectations_single_pass_plan(spark, quality_df):
    """All checks fold into ONE aggregation job: the physical plan
    scans the source exactly once (count_distinct adds an Expand, not
    a second scan), and the |checks| output rows are projections of
    that single agg row."""
    out = expectations(
        quality_df,
        [
            {"kind": "completeness", "column": "name", "lo": 0.9},
            {"kind": "min_value", "column": "score", "lo": 0},
            {"kind": "uniqueness", "column": "id", "lo": 1.0},
            {"kind": "mean_between", "column": "score", "lo": 0, "hi": 100},
        ],
    )
    tree = out._jdf.queryExecution().executedPlan().toString()
    assert tree.count("LocalTableScan") + tree.count("Scan ExistingRDD") <= 1


def test_psi_identical_halves_is_zero(spark):
    # both halves see the same residue distribution -> every bucket
    # proportion identical -> PSI exactly 0
    pdf2 = pd.DataFrame(
        {"x": [float(i % 50) for i in range(400)], "is_ref": [i < 200 for i in range(400)]}
    )
    df2 = spark.createDataFrame(pdf2)
    got = {r["feature"]: r["psi"] for r in psi_drift(df2, ["x"], "is_ref").collect()}
    assert got["x"] == 0.0


def test_psi_shifted_distribution_flags_drift(spark):
    # reference uniform on [0, 100); current uniform on [50, 150):
    # half the mass moved out of the shared support -> large PSI
    pdf = pd.DataFrame(
        {
            "x": [float(i % 100) for i in range(500)]
            + [50.0 + (i % 100) for i in range(500)],
            "is_ref": [True] * 500 + [False] * 500,
        }
    )
    got = {
        r["feature"]: r["psi"]
        for r in psi_drift(spark.createDataFrame(pdf), ["x"], "is_ref").collect()
    }
    assert got["x"] > 0.25  # far past the 0.2 "investigate" bar


def test_psi_nulls_and_constant_column(spark):
    half = ([1.0, 2.0, None, 4.0] * 13)[:50]
    pdf = pd.DataFrame(
        {
            "x": half + half,
            "c": [7.0] * 100,
            "is_ref": [i < 50 for i in range(100)],
        }
    )
    got = {
        r["feature"]: r["psi"]
        for r in psi_drift(spark.createDataFrame(pdf), ["x", "c"], "is_ref").collect()
    }
    # nulls drop from x's histogram; both halves still identical
    assert got["x"] == 0.0
    # constant column: one degenerate bucket on both sides, zero drift
    assert got["c"] == 0.0


def test_psi_single_scan_melt(spark):
    """The melt computes every feature's histogram from ONE pass over
    the data (plus the one-row min/max agg): the counts plan contains
    at most 2 scans of the source, never one per feature."""
    pdf = pd.DataFrame(
        {
            "a": [float(i) for i in range(100)],
            "b": [float(i * 2) for i in range(100)],
            "d": [float(i % 7) for i in range(100)],
            "is_ref": [i < 50 for i in range(100)],
        }
    )
    out = psi_drift(spark.createDataFrame(pdf), ["a", "b", "d"], "is_ref")
    tree = out._jdf.queryExecution().executedPlan().toString()
    n_scans = tree.count("LocalTableScan") + tree.count("Scan ExistingRDD")
    assert n_scans <= 2
