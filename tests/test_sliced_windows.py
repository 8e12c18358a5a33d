"""Halo-sliced window ops must equal the unsliced operators exactly,
while splitting a hot (Zipf) entity's work across many tasks."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lbf_spark import fixtures
from lbf_spark.operators import sliced_windows as SW, windows as W


WINDOW = 16
GAP = 1000
SLICE_W = 5_000  # fixture ts span ~100k → ~20 slices


@pytest.fixture(scope="module")
def events(spark):
    # Zipf fixture: hottest entity holds ≥20% of rows (the skew model)
    ev_pd = (
        fixtures.generate_events(n_rows=4000, n_entities=6)
        .drop_duplicates(subset=["entity", "ts"])
        [["entity", "ts", "duration", "phash"]]
    )
    df = spark.createDataFrame(ev_pd).repartition(8)
    df = df.withColumn("v", (F.col("phash") % 1000).cast("double"))
    return df


def _sorted(pdf, extra=()):
    return pdf.sort_values(["entity", "ts", *extra], ignore_index=True)


def test_sessionize_sliced_equals_unsliced(spark, events):
    """Slices narrower than the session gap: most sessions span several
    slices, so the ids rest on the per-slice offsets, not local cumsums."""
    exp = _sorted(W.sessionize(events, GAP, out="s").toPandas())
    got = _sorted(
        SW.fused_bounded_sliced(events, "v", WINDOW, GAP, slice_width=GAP // 4)
        .toPandas()
    )
    assert len(got) == len(exp)
    assert np.array_equal(
        got["session_id"].astype("int64").to_numpy(),
        exp["s"].astype("int64").to_numpy(),
    )


def test_sessionize_sliced_auto_width(spark, events):
    exp = _sorted(W.sessionize(events, GAP, out="s").toPandas())
    got = _sorted(SW.fused_bounded_sliced(events, "v", WINDOW, GAP).toPandas())
    assert np.array_equal(
        got["session_id"].astype("int64").to_numpy(),
        exp["s"].astype("int64").to_numpy(),
    )


def test_hot_entity_work_is_split(spark, events):
    """The Zipf-hot entity must span ≥4 slices — i.e. its window work
    lands in ≥4 independent tasks instead of one."""
    hot = (
        events.groupBy("entity").count().orderBy(F.desc("count")).first()["entity"]
    )
    n_slices = (
        SW._with_slice(events.filter(F.col("entity") == hot), "ts", SLICE_W)
        .select("_slice").distinct().count()
    )
    assert n_slices >= 4, n_slices


def test_halo_rows_are_bounded(spark, events):
    """Halo duplication is ≤ (window-1) per (entity, slice) — the
    duplicate-then-trim cost is O(parallelism), not O(data)."""
    sliced = SW._with_slice(events, "ts", SLICE_W)
    halos = SW._halo_rows(sliced, WINDOW, ["entity"], ["ts"])
    per_slice = halos.groupBy("entity", "_slice").count().toPandas()
    assert (per_slice["count"] <= WINDOW - 1).all()
    n_halo = int(per_slice["count"].sum())
    n_rows = events.count()
    n_groups = sliced.select("entity", "_slice").distinct().count()
    assert n_halo <= (WINDOW - 1) * n_groups
    assert n_halo < n_rows  # sanity: duplication stays a small fraction


def test_sparse_slices_halo_correct(spark):
    """Near-empty intermediate slices: the halo for slice s must reach
    back across multiple prior slices when s-1 has < window-1 rows."""
    rows = (
        [("a", t, float(t)) for t in range(0, 20)]       # slice 0 dense
        + [("a", 105, 105.0)]                            # slice 1: one row
        + [("a", t, float(t)) for t in range(200, 215)]  # slice 2 dense
    )
    df = spark.createDataFrame(rows, "entity string, ts long, v double")
    exp = _sorted(W.rolling_mean(df, "v", "r", 8).toPandas())
    got = _sorted(
        SW.fused_bounded_sliced(
            df.withColumn("phash", F.lit(0)), "v", 8, GAP, slice_width=100
        ).toPandas()
    )
    assert np.allclose(got["roll_mean"], exp["r"], rtol=0, atol=0)


def test_fused_bounded_sliced_equals_unsliced(spark, events):
    """The one-exchange fused kernel (rolling mean + phash drift +
    sessionize) must equal the three unsliced operators exactly."""
    exp = W.sessionize(
        W.hamming_to_prev(
            W.rolling_mean(events, "v", "roll_mean", WINDOW),
            "phash", "phash_drift",
        ),
        GAP, out="session_id",
    )
    got = SW.fused_bounded_sliced(
        events, "v", WINDOW, GAP, slice_width=SLICE_W
    )
    e = _sorted(exp.toPandas())
    g = _sorted(got.select(*e.columns).toPandas())
    assert len(g) == len(e)
    assert np.allclose(g["roll_mean"], e["roll_mean"], rtol=0, atol=0)
    assert np.allclose(
        g["phash_drift"].astype(float), e["phash_drift"].astype(float),
        equal_nan=True,
    )
    assert np.array_equal(
        g["session_id"].astype("int64").to_numpy(),
        e["session_id"].astype("int64").to_numpy(),
    )


def test_fused_bounded_sliced_sparse_slices(spark):
    """Near-empty intermediate slices: drift/session must reach back
    across multiple prior slices through the halo."""
    rows = (
        [("a", t, float(t), t * 7 + 3) for t in range(0, 20)]
        + [("a", 105, 105.0, 11)]
        + [("a", t, float(t), t * 13 + 1) for t in range(200, 215)]
    )
    df = spark.createDataFrame(rows, "entity string, ts long, v double, phash long")
    exp = W.sessionize(
        W.hamming_to_prev(W.rolling_mean(df, "v", "roll_mean", 8), "phash", "phash_drift"),
        50, out="session_id",
    )
    got = SW.fused_bounded_sliced(df, "v", 8, 50, slice_width=100)
    e = _sorted(exp.toPandas())
    g = _sorted(got.select(*e.columns).toPandas())
    assert np.allclose(g["roll_mean"], e["roll_mean"], rtol=0, atol=0)
    assert np.allclose(
        g["phash_drift"].astype(float), e["phash_drift"].astype(float), equal_nan=True
    )
    assert np.array_equal(
        g["session_id"].astype("int64").to_numpy(),
        e["session_id"].astype("int64").to_numpy(),
    )


def test_halo_assembly_many_slices_linear(spark):
    """One hot entity spread over ≥10³ slices: assembly must stay
    O(n_slices·window) — the old per-slice rescan of all prior tails
    was O(n_slices²) inside a single pandas task — and stay exact."""
    import time

    n = 3000  # ts 0..2999, slice_width=2 → 1500 slices
    df = spark.createDataFrame(
        [("hot", t, float(t % 97)) for t in range(n)],
        "entity string, ts long, v double",
    ).repartition(8)
    t0 = time.time()
    got = _sorted(
        SW.fused_bounded_sliced(
            df.withColumn("phash", F.lit(0)), "v", 8, GAP, slice_width=2
        ).toPandas()
    )
    elapsed = time.time() - t0
    exp = _sorted(W.rolling_mean(df, "v", "r", 8).toPandas())
    assert len(got) == n
    assert np.allclose(got["roll_mean"], exp["r"], rtol=0, atol=0)
    assert elapsed < 120, f"halo assembly over 1500 slices took {elapsed:.0f}s"


def test_hamming_and_range_count_sliced_equal_unsliced(spark, events):
    exp = _sorted(
        W.rolling_count_range(
            W.hamming_to_prev(events, "phash", "drift"), "rc", 3000
        ).toPandas()
    )
    got = _sorted(
        SW.rolling_count_range_sliced(
            SW.fused_bounded_sliced(
                events, "v", WINDOW, GAP, drift_out="drift", slice_width=SLICE_W
            ),
            "rc", 3000, slice_width=SLICE_W,
        ).toPandas()
    )
    assert len(got) == len(exp)
    assert np.array_equal(got["rc"].to_numpy(), exp["rc"].to_numpy())
    assert np.allclose(
        got["drift"].astype(float), exp["drift"].astype(float), equal_nan=True
    )


def test_flagship_pipeline_hot_slice_width_equals_golden(spark):
    """The full flagship with hot_slice_width set must reproduce the
    numpy oracle exactly — the 100-TB skew path is not a different
    semantics, just a different physical plan."""
    from lbf_spark import fixtures, oracle
    from lbf_spark.plans import pipeline as P

    ev_pd = fixtures.generate_events(n_rows=1500, n_entities=4)
    an_pd = fixtures.generate_anchors(ev_pd, n_per_entity=6)
    ev = fixtures.events_to_spark(spark, ev_pd)
    an = fixtures.anchors_to_spark(spark, an_pd)
    cfg = P.FeatureConfig(hot_slice_width=4000)
    golden_cfg = P.FeatureConfig()  # oracle ignores physical knobs
    got = P.extract_features(ev, an, cfg)
    exp = oracle.extract_features_oracle(ev_pd, an_pd, golden_cfg)
    g = got["event_features"].toPandas().sort_values(
        ["entity", "ts", "image_id"], ignore_index=True
    )
    e = exp["event_features"].sort_values(
        ["entity", "ts", "image_id"], ignore_index=True
    )
    assert len(g) == len(e)
    for col in ["roll_mean"]:
        assert np.allclose(g[col], e[col], rtol=1e-9, atol=1e-12), col
    assert np.array_equal(g["roll_count"].to_numpy(), e["roll_count"].to_numpy())
    assert np.array_equal(g["session_id"].to_numpy(), e["session_id"].to_numpy())
    assert np.allclose(
        g["phash_drift"].astype(float), e["phash_drift"], equal_nan=True
    )
    gv = got["vectors"].toPandas().sort_values(["entity", "name"], ignore_index=True)
    ev_ = exp["vectors"].sort_values(["entity", "name"], ignore_index=True)
    for a, b in zip(gv["vector"], ev_["vector"]):
        assert np.allclose(np.asarray(a, dtype=float), b, rtol=1e-9, atol=1e-12)
