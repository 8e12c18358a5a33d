"""Incremental feature maintenance (operators/incremental.py) —
stitched refresh must be bit-identical to a full recompute, for both
granularities, including the late-data and new-entity edges."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window, functions as F

from lbf_spark.operators.incremental import (
    incremental_range_refresh,
    refresh_lower_bound,
)

LOOKBACK = 500


def _feat_range(df):
    w = Window.partitionBy("entity").orderBy("ts").rangeBetween(-LOOKBACK, 0)
    return df.select(
        "entity",
        "ts",
        F.round(
            F.sum(F.col("duration").cast("decimal(18,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            6,
        ).alias("f_mean"),
        F.count(F.lit(1)).over(w).alias("f_cnt"),
    )


def _df(spark, tiny_events):
    pdf = tiny_events[["entity", "ts", "duration"]].copy()
    return spark.createDataFrame(pdf)


def _split(df, mod, k=0):
    # deterministic split: rows whose (ts % mod) == k form the delta
    batch = df.filter(F.col("ts") % mod == k)
    base = df.filter(F.col("ts") % mod != k)
    return base, batch


def _collect(df):
    return (
        df.toPandas()
        .sort_values(list(df.columns), ignore_index=True)
        .reset_index(drop=True)
    )


def test_refresh_equals_full_recompute(spark, tiny_events):
    df = _df(spark, tiny_events)
    base, batch = _split(df, 7)
    assert batch.count() > 0 and base.count() > 0
    full = _collect(_feat_range(df))
    got = incremental_range_refresh(
        base, batch, _feat_range, lookback=LOOKBACK, by="entity", order="ts"
    )
    pd.testing.assert_frame_equal(_collect(got), full)


def test_range_refresh_late_data_and_new_entity(spark, tiny_events):
    df = _df(spark, tiny_events)
    # delta = an EARLY slice of entity e0000 (late-arriving data that
    # invalidates a long suffix) + a brand-new entity never seen in base
    cut = df.filter(F.col("entity") == "e0000").agg(
        F.expr("percentile(ts, 0.2)").alias("c")
    ).first()["c"]
    late = df.filter((F.col("entity") == "e0000") & (F.col("ts") <= cut))
    new_entity = spark.createDataFrame(
        pd.DataFrame({"entity": ["zzz", "zzz"], "ts": [50, 600], "duration": [10, 20]})
    )
    batch = late.unionByName(new_entity)
    base = df.subtract(late)
    full = _collect(_feat_range(df.unionByName(new_entity)))
    got = incremental_range_refresh(
        base, batch, _feat_range, lookback=LOOKBACK, by="entity", order="ts"
    )
    pd.testing.assert_frame_equal(_collect(got), full)


def test_range_refresh_empty_batch_is_identity(spark, tiny_events):
    df = _df(spark, tiny_events)
    batch = df.filter(F.lit(False))
    got = incremental_range_refresh(
        df, batch, _feat_range, lookback=LOOKBACK, by="entity", order="ts"
    )
    pd.testing.assert_frame_equal(_collect(got), _collect(_feat_range(df)))
    assert refresh_lower_bound(batch, lookback=LOOKBACK, order="ts") is None


def test_refresh_lower_bound_prunes(spark, tiny_events):
    df = _df(spark, tiny_events)
    _, batch = _split(df, 7)
    lo = refresh_lower_bound(batch, lookback=LOOKBACK, order="ts")
    assert lo == batch.agg(F.min("ts")).first()[0] - LOOKBACK
    # the bound is safe: every row the range refresh touches is ≥ lo
    starts = batch.groupBy("entity").agg(F.min("ts").alias("s"))
    region_min = (
        df.join(starts, "entity")
        .filter(F.col("ts") >= F.col("s") - LOOKBACK)
        .agg(F.min("ts"))
        .first()[0]
    )
    assert region_min >= lo


def test_refresh_reuses_materialized_old_features(spark, tiny_events):
    # production shape: old features come from the feature table, not
    # a recompute — pass them in and the stitch must still be exact
    df = _df(spark, tiny_events)
    base, batch = _split(df, 7)
    old = spark.createDataFrame(_collect(_feat_range(base)))
    got = incremental_range_refresh(
        base,
        batch,
        _feat_range,
        lookback=LOOKBACK,
        by="entity",
        order="ts",
        old_features=old,
    )
    pd.testing.assert_frame_equal(_collect(got), _collect(_feat_range(df)))


def test_range_refresh_plan_broadcasts_starts(spark, tiny_events):
    df = _df(spark, tiny_events)
    base, batch = _split(df, 7)
    got = incremental_range_refresh(
        base, batch, _feat_range, lookback=LOOKBACK, by="entity", order="ts"
    )
    tree = got._jdf.queryExecution().executedPlan().toString()
    # the per-entity start frame rides as a broadcast — the big side is
    # never shuffled for the stitch itself
    assert "BroadcastHashJoin" in tree or "BroadcastExchange" in tree


# ---------------------------------------------------------------------
# streaming maintenance: incremental_feature_batch keeps a materialized
# feature TABLE bit-identical to a from-scratch recompute, exactly-once
# ---------------------------------------------------------------------


def _feat_cols(feat_df):
    return feat_df.select("entity", "ts", "f_mean", "f_cnt")


def test_feature_table_maintenance_equals_full_recompute(spark, tiny_events, tmp_path):
    from lbf_spark.sources import table as TBL
    from lbf_spark.streaming.stream_features import incremental_feature_batch

    df = _df(spark, tiny_events)
    raw, feat = str(tmp_path / "raw"), str(tmp_path / "feat")
    # ts%3 slices interleave: every later batch carries data EARLIER
    # than the previous batch's max ts (standing late-data test)
    for i in range(3):
        snap = incremental_feature_batch(
            df.filter(F.col("ts") % 3 == i), i, raw, feat, _feat_range,
            lookback=LOOKBACK,
        )
        assert snap is not None
    got = _collect(_feat_cols(TBL.scan(spark, feat)))
    pd.testing.assert_frame_equal(got, _collect(_feat_range(df)))
    # raw table accumulated the full history
    assert TBL.scan(spark, raw).count() == df.count()


def test_feature_table_replay_is_noop(spark, tiny_events, tmp_path):
    from lbf_spark import fsio
    from lbf_spark.sources import table as TBL
    from lbf_spark.streaming.stream_features import incremental_feature_batch

    df = _df(spark, tiny_events)
    raw, feat = str(tmp_path / "raw"), str(tmp_path / "feat")
    for i in range(2):
        incremental_feature_batch(
            df.filter(F.col("ts") % 2 == i), i, raw, feat, _feat_range,
            lookback=LOOKBACK,
        )
    before = _collect(_feat_cols(TBL.scan(spark, feat)))
    n_raw_snaps = len(fsio.list_names(spark, fsio.join(raw, "metadata")))
    n_feat_snaps = len(fsio.list_names(spark, fsio.join(feat, "metadata")))
    # foreachBatch redelivery of an already-committed batch
    assert (
        incremental_feature_batch(
            df.filter(F.col("ts") % 2 == 1), 1, raw, feat, _feat_range,
            lookback=LOOKBACK,
        )
        is None
    )
    assert len(fsio.list_names(spark, fsio.join(raw, "metadata"))) == n_raw_snaps
    assert len(fsio.list_names(spark, fsio.join(feat, "metadata"))) == n_feat_snaps
    pd.testing.assert_frame_equal(_collect(_feat_cols(TBL.scan(spark, feat))), before)


def test_feature_table_crash_between_merge_and_raw_append(
    spark, tiny_events, tmp_path, monkeypatch
):
    # crash window: feature merge durable, raw append lost — the replay
    # must re-land the raw batch WITHOUT double-merging, and the final
    # state must equal the full recompute
    from lbf_spark import fsio
    from lbf_spark.sources import table as TBL
    from lbf_spark.streaming import stream_features as SF

    df = _df(spark, tiny_events)
    raw, feat = str(tmp_path / "raw"), str(tmp_path / "feat")
    b0, b1 = df.filter(F.col("ts") % 2 == 0), df.filter(F.col("ts") % 2 == 1)
    SF.incremental_feature_batch(b0, 0, raw, feat, _feat_range, lookback=LOOKBACK)

    real_commit = SF.table_batch_commit
    calls = {"n": 0}

    def crash_commit(*a, **k):
        calls["n"] += 1
        raise RuntimeError("simulated crash before raw append")

    monkeypatch.setattr(SF, "table_batch_commit", crash_commit)
    with pytest.raises(RuntimeError):
        SF.incremental_feature_batch(b1, 1, raw, feat, _feat_range, lookback=LOOKBACK)
    assert calls["n"] == 1
    monkeypatch.setattr(SF, "table_batch_commit", real_commit)

    n_feat_snaps = len(fsio.list_names(spark, fsio.join(feat, "metadata")))
    snap = SF.incremental_feature_batch(
        b1, 1, raw, feat, _feat_range, lookback=LOOKBACK
    )
    assert snap is not None  # raw append re-done
    # merge was NOT repeated: its batch_hwm already covered batch 1
    assert (
        len(fsio.list_names(spark, fsio.join(feat, "metadata"))) == n_feat_snaps
    )
    got = _collect(_feat_cols(TBL.scan(spark, feat)))
    pd.testing.assert_frame_equal(got, _collect(_feat_range(df)))
    assert TBL.scan(spark, raw).count() == df.count()


def test_feature_table_duplicate_instant_fails_batch(spark, tiny_events, tmp_path):
    from lbf_spark.streaming.stream_features import incremental_feature_batch

    df = _df(spark, tiny_events)
    raw, feat = str(tmp_path / "raw"), str(tmp_path / "feat")
    incremental_feature_batch(df, 0, raw, feat, _feat_range, lookback=LOOKBACK)
    redelivered = df.limit(1)  # same (entity, ts) as history, new batch id
    with pytest.raises(ValueError, match="duplicate"):
        incremental_feature_batch(
            redelivered, 1, raw, feat, _feat_range, lookback=LOOKBACK
        )


def test_feature_table_refresh_prunes_history_files(spark, tmp_path):
    # the delta's lower bound must let manifest [ts_min, ts_max] stats
    # skip history files that predate the refresh region entirely
    from lbf_spark.sources import table as TBL
    from lbf_spark.streaming.stream_features import incremental_feature_batch

    raw, feat = str(tmp_path / "raw"), str(tmp_path / "feat")
    old = spark.createDataFrame(
        pd.DataFrame(
            {"entity": ["a"] * 5, "ts": list(range(0, 50, 10)), "duration": [1.0] * 5}
        )
    )
    late = spark.createDataFrame(
        pd.DataFrame(
            {"entity": ["a"] * 3, "ts": [10_000, 10_010, 10_020], "duration": [2.0] * 3}
        )
    )
    incremental_feature_batch(old, 0, raw, feat, _feat_range, lookback=LOOKBACK)
    incremental_feature_batch(late, 1, raw, feat, _feat_range, lookback=LOOKBACK)
    lb = 10_000 - LOOKBACK
    pruned = TBL.scan_files(spark, raw, ts_min=lb)
    assert 0 < len(pruned) < len(TBL.scan_files(spark, raw))
    got = _collect(_feat_cols(TBL.scan(spark, feat)))
    full = _collect(_feat_range(old.unionByName(late)))
    pd.testing.assert_frame_equal(got, full)


def test_stream_incremental_features_e2e(spark, tiny_events, tmp_path):
    """Real writeStream run (availableNow, 1 file per micro-batch,
    parity-split files so batch 2 carries data older than batch 1's
    max ts): the maintained feature table must equal the from-scratch
    recompute over everything the stream delivered."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lbf_spark.sources import table as TBL
    from lbf_spark.streaming.stream_features import incremental_feature_batch
    from tests.conftest import foreach_batch

    pdf = tiny_events[["entity", "ts", "duration"]]
    src = tmp_path / "inc_src"
    src.mkdir()
    pq.write_table(
        pa.Table.from_pandas(pdf[pdf.ts % 2 == 0], preserve_index=False),
        str(src / "a.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(pdf[pdf.ts % 2 == 1], preserve_index=False),
        str(src / "b.parquet"),
    )
    raw, feat = str(tmp_path / "inc_raw"), str(tmp_path / "inc_feat")
    stream = (
        spark.readStream.schema("entity string, ts long, duration long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    foreach_batch(
        stream,
        lambda b, i: incremental_feature_batch(
            b, i, raw, feat, _feat_range, lookback=LOOKBACK,
        ),
        str(tmp_path / "inc_ckpt"),
    )
    got = _collect(_feat_cols(TBL.scan(spark, feat)))
    pd.testing.assert_frame_equal(got, _collect(_feat_range(_df(spark, tiny_events))))
