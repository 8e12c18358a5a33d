"""Deterministic salted joins for skewed keys."""

import pandas as pd
import numpy as np
import pytest
from pyspark.sql import functions as F

from lbf_spark import fixtures
from lbf_spark.operators import joins as J


def test_salted_join_equals_plain_join(spark, tiny_events):
    """Salting must not change results — inner and left, including
    unmatched left rows, on a Zipf-skewed key."""
    ev = fixtures.events_to_spark(spark, tiny_events).select(
        "entity", "ts", "phash"
    )
    dim = (
        ev.groupBy("entity").agg(F.avg("phash").alias("dim_v"))
        .filter(F.col("entity") != "e0000")  # leave one entity unmatched
    )
    for how in ("inner", "left"):
        plain = (
            ev.join(dim, "entity", how)
            .toPandas().sort_values(["entity", "ts"], ignore_index=True)
        )
        salted = (
            J.salted_equi_join(ev, dim, "entity", salt=4, how=how)
            .select(*plain.columns)
            .toPandas().sort_values(["entity", "ts"], ignore_index=True)
        )
        assert len(salted) == len(plain), how
        g = salted["dim_v"].astype(float).to_numpy()
        e = plain["dim_v"].astype(float).to_numpy()
        assert np.all((g == e) | (np.isnan(g) & np.isnan(e))), how


def test_salted_join_spreads_hot_key(spark, tiny_events):
    """The hot entity's rows must land on >1 salt value (the whole
    point), and right/full joins are refused."""
    ev = fixtures.events_to_spark(spark, tiny_events).select("entity", "ts", "phash")
    hot = ev.groupBy("entity").count().orderBy(F.desc("count")).first()["entity"]
    big_salt = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("", *[F.col(c).cast("string") for c in ev.columns])),
                1, 8,
            ), 16, 10,
        ).cast("long"),
        F.lit(4),
    )
    n_salts = (
        ev.filter(F.col("entity") == hot)
        .select(big_salt.alias("s")).distinct().count()
    )
    assert n_salts > 1
    dim = ev.groupBy("entity").agg(F.count(F.lit(1)).alias("n"))
    with pytest.raises(ValueError, match="inner/left"):
        J.salted_equi_join(ev, dim, "entity", how="full")


def test_row_salt_null_heavy_and_anagram_rows_spread(spark):
    """NULL-skipping concat collapsed ('h','x',NULL) / ('h',NULL,'x')
    (and null-heavy variants) onto one salt — the sentinel + field
    separator must spread them."""
    pdf = pd.DataFrame(
        {
            "k": ["h"] * 64,
            "a": [None if i % 2 else f"v{i}" for i in range(64)],
            "b": [f"v{i}" if i % 2 else None for i in range(64)],
        }
    )
    df = spark.createDataFrame(pdf)
    n = df.select(J.row_salt(df.columns, 8).alias("s")).distinct().count()
    assert n > 4  # 64 distinct rows over 8 salts: near-all salts hit
    # concat-anagram pair must not share a salt derivation input
    pair = spark.createDataFrame(
        pd.DataFrame({"k": ["h", "h"], "a": ["x", None], "b": [None, "x"]})
    )
    salts = [
        r["s"]
        for r in pair.select(J.row_salt(pair.columns, 1 << 30).alias("s")).collect()
    ]
    assert salts[0] != salts[1]
