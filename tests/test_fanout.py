"""Plan-shape regression tests for util.fan_out's dispatch branches.

fan_out inspects the non-adaptive sparkPlan string; these tests pin the
behavior per plan shape so a Catalyst node rename (or an edit to the
marker list) fails loudly instead of silently changing routing:

- narrow single-split scan        -> repartitioned to defaultParallelism
- hash-exchange (groupBy) plan    -> returned untouched
- broadcast-only join plan        -> inputFiles fallback -> repartitioned
- SinglePartition (scalar agg)    -> repartitioned (was: untouched, which
                                     left row-heavy downstream stages
                                     serialized on one task)
- plan probe fails (API moved)    -> raises; no shape is guessed
"""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from lbf_spark.util import fan_out


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString().lower()


@pytest.fixture(scope="module")
def one_file_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("fanout") / "t.parquet")
    pd.DataFrame(
        {"k": [i % 7 for i in range(500)], "v": range(500)}
    ).to_parquet(p, index=False)
    return p


def test_narrow_single_split_scan_is_repartitioned(spark, one_file_parquet):
    df = spark.read.parquet(one_file_parquet).select("k", "v")
    out = fan_out(df)
    assert "roundrobinpartitioning" in _plan(out)
    assert out.count() == 500


def test_hash_exchange_plan_untouched(spark):
    df = (
        spark.range(0, 1000, 1, 16)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.sum("id").alias("s"))
    )
    assert "hashpartitioning" in _plan(df)
    out = fan_out(df)
    assert out is df


def test_broadcast_only_plan_uses_file_fallback(spark, one_file_parquet):
    dim = spark.createDataFrame(
        pd.DataFrame({"k": list(range(7)), "name": [f"n{i}" for i in range(7)]})
    )
    df = spark.read.parquet(one_file_parquet).join(F.broadcast(dim), "k")
    p = _plan(df)
    assert "broadcast" in p
    assert not any(
        m in p
        for m in (
            "hashpartitioning",
            "rangepartitioning",
            "roundrobinpartitioning",
            "singlepartition",
        )
    )
    out = fan_out(df)
    # one parquet file < defaultParallelism -> repartition via the
    # inputFiles fallback (no execution happened to decide this)
    assert "roundrobinpartitioning" in _plan(out)
    assert out.count() == 500


def test_single_partition_plan_is_repartitioned(spark):
    df = spark.range(0, 1000, 1, 16).agg(F.sum("id").alias("s"))
    assert "singlepartition" in _plan(df)
    out = fan_out(df)
    assert "roundrobinpartitioning" in _plan(out)
    assert out.collect()[0]["s"] == sum(range(1000))


def test_many_partition_narrow_plan_untouched(spark):
    df = spark.range(0, 1000, 1, 16).select(F.col("id"))
    out = fan_out(df)
    assert out is df


class _SurfaceMoved(Exception):
    pass


class _MovedJdf:
    """A frame's Java handle after the private plan surface moved: the
    probe raises, and every other call a fallback could make answers
    quietly."""

    def queryExecution(self):
        raise _SurfaceMoved("queryExecution moved")

    def inputFiles(self):
        return []


def test_plan_probe_failure_raises(spark):
    df = spark.range(0, 10, 1, 1)
    df._jdf = _MovedJdf()
    with pytest.raises(_SurfaceMoved):
        fan_out(df)
