"""Streaming = batch parity (the Structured Streaming unification) +
late-data watermark behavior."""

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lbf_spark.streaming.stream_features import (
    dedup_ingest_batch,
    read_ingest_hwm,
    read_ingest_store,
    run_stream_to_memory,
    stream_session_stats,
    stream_tumbling_counts,
)
from tests.conftest import build_jobs, foreach_batch

GAP = 1000
WIN = 500


@pytest.fixture(scope="module")
def stream_input(tmp_path_factory, tiny_events):
    d = tmp_path_factory.mktemp("stream_src")
    pdf = tiny_events.drop(columns=["bytes"])
    # two files = two micro-batch splits
    pq.write_table(pa.Table.from_pandas(pdf.iloc[:500], preserve_index=False),
                   str(d / "part1.parquet"))
    pq.write_table(pa.Table.from_pandas(pdf.iloc[500:], preserve_index=False),
                   str(d / "part2.parquet"))
    return str(d)


def _keys(df: pd.DataFrame, cols):
    return sorted(map(tuple, df[cols].itertuples(index=False)))


def test_stream_sessions_match_batch(spark, stream_input):
    static = spark.read.parquet(stream_input)
    batch = stream_session_stats(static, GAP).toPandas()
    run_stream_to_memory(
        spark, stream_input, lambda df: stream_session_stats(df, GAP), "sess_tbl"
    )
    streamed = spark.sql("select * from sess_tbl").toPandas()
    cols = ["entity", "session_start", "session_end", "n_events", "session_span"]
    assert _keys(streamed, cols) == _keys(batch, cols)
    assert len(batch) > 2  # fixture really has session gaps


def test_stream_tumbling_match_batch(spark, stream_input):
    static = spark.read.parquet(stream_input)
    batch = stream_tumbling_counts(static, WIN, value_col="duration").toPandas()
    run_stream_to_memory(
        spark,
        stream_input,
        lambda df: stream_tumbling_counts(df, WIN, value_col="duration"),
        "tumb_tbl",
    )
    streamed = spark.sql("select * from tumb_tbl").toPandas()
    cols = ["entity", "bucket_start", "n_events"]
    assert _keys(streamed, cols) == _keys(batch, cols)


def test_watermark_drops_very_late_events(spark, tmp_path):
    """Events older than the watermark behind the stream's max event
    time must not extend closed sessions (append-mode semantics)."""
    d = tmp_path / "late_src"
    d.mkdir()
    on_time = pd.DataFrame(
        {"entity": ["e1"] * 3, "ts": [1_000_000, 1_000_010, 2_000_000]}
    )
    pq.write_table(pa.Table.from_pandas(on_time, preserve_index=False),
                   str(d / "a.parquet"))
    src = spark.readStream.schema("entity string, ts long").parquet(str(d))
    q = (
        stream_session_stats(src, GAP, watermark="60 seconds")
        .writeStream.format("memory")
        .queryName("late_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from late_tbl").toPandas()
    # watermark = max_event - 60s = 2_000_000 - 60; the first session
    # (ends 1_000_010 + gap) is final and emitted; the newest is still open
    assert (got["session_start"] == 1_000_000).any()
    assert not (got["session_start"] == 2_000_000).any()


    # state really crossed batches: rows in later thirds have windows
    # spanning the file boundary — the exact equality above proves it


def test_stream_table_sink_exactly_once(spark, tmp_path, tiny_events):
    """Stream → snapshot table: availableNow run lands every row
    exactly once (one snapshot per micro-batch, batch lineage in the
    manifests); a REPLAYED micro-batch (foreachBatch is at-least-once)
    is skipped idempotently; the table then time-travels normally."""
    import json as _json

    from lbf_spark.sources import table as TBL
    from lbf_spark.streaming.stream_features import table_batch_commit

    src_dir = tmp_path / "sink_src"
    src_dir.mkdir()
    pdf = tiny_events[["entity", "ts", "image_id", "phash"]]
    pq.write_table(pa.Table.from_pandas(pdf.iloc[:400], preserve_index=False),
                   str(src_dir / "a.parquet"))
    pq.write_table(pa.Table.from_pandas(pdf.iloc[400:], preserve_index=False),
                   str(src_dir / "b.parquet"))
    tbl = str(tmp_path / "sink_tbl")
    stream = spark.readStream.schema(
        "entity string, ts long, image_id string, phash long"
    ).option("maxFilesPerTrigger", "1").parquet(str(src_dir))
    foreach_batch(
        stream,
        lambda b, i: table_batch_commit(b, i, tbl, ts_unit_day=10_000),
        str(tmp_path / "sink_ckpt"),
    )
    assert TBL.scan(spark, tbl).count() == len(pdf)
    snap = TBL.current_snapshot(tbl, spark)
    assert snap["batch_id"] is not None and snap["snapshot_id"] >= 2

    # the at-least-once replay contract, invoked directly: re-commit
    # the LAST batch id with its data — must be an idempotent no-op
    names = sorted(p.name for p in (tmp_path / "sink_tbl" / "metadata").iterdir())
    last = _json.loads((tmp_path / "sink_tbl" / "metadata" / names[-1]).read_text())
    replay_df = spark.createDataFrame(pdf.iloc[400:])
    assert table_batch_commit(
        replay_df, last["batch_id"], tbl, ts_unit_day=10_000
    ) is None
    assert TBL.scan(spark, tbl).count() == len(pdf)  # nothing duplicated
    assert TBL.current_snapshot(tbl, spark)["snapshot_id"] == last["snapshot_id"]
    # a genuinely NEW batch id still commits
    new_df = spark.createDataFrame(
        pdf.iloc[:5].assign(image_id=lambda d: "nb_" + d.image_id)
    )
    snap = table_batch_commit(new_df, last["batch_id"] + 1, tbl, ts_unit_day=10_000)
    assert snap is not None
    assert TBL.scan(spark, tbl).count() == len(pdf) + 5


def test_stream_image_decode_matches_batch(spark, tmp_path, tiny_events):
    """The flagship's decode stage runs unchanged under Structured
    Streaming (mapInPandas is streaming-compatible): per-image pixel
    stats from a 2-micro-batch stream == the batch run."""
    from lbf_spark.operators.images import decode_stats

    src_dir = tmp_path / "img_src"
    src_dir.mkdir()
    pdf = tiny_events[["image_id", "bytes", "fmt"]].iloc[:300]
    pq.write_table(pa.Table.from_pandas(pdf.iloc[:150], preserve_index=False),
                   str(src_dir / "a.parquet"))
    pq.write_table(pa.Table.from_pandas(pdf.iloc[150:], preserve_index=False),
                   str(src_dir / "b.parquet"))
    batch = (
        decode_stats(spark.read.parquet(str(src_dir)))
        .select("image_id", "pixel_mean", "pixel_std")
        .toPandas().sort_values("image_id", ignore_index=True)
    )
    stream = spark.readStream.schema(
        "image_id string, bytes binary, fmt string"
    ).option("maxFilesPerTrigger", "1").parquet(str(src_dir))
    q = (
        decode_stats(stream)
        .select("image_id", "pixel_mean", "pixel_std")
        .writeStream.format("memory").queryName("img_stats_tbl")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("img_stats_tbl")
        .toPandas().sort_values("image_id", ignore_index=True)
    )
    assert len(got) == len(batch) == 300
    assert (got["image_id"] == batch["image_id"]).all()
    import numpy as np
    np.testing.assert_allclose(got["pixel_mean"], batch["pixel_mean"], rtol=0, atol=0)
    np.testing.assert_allclose(got["pixel_std"], batch["pixel_std"], rtol=0, atol=0)


def test_stream_cdc_apply_latest_state(spark, tmp_path, tiny_events):
    """Changelog stream → continuously-merged table: two micro-batches
    of updates/inserts/deletes end in exactly the pandas-computed
    latest-per-key state; a replayed batch is an idempotent no-op."""
    import pandas as pd

    from lbf_spark.sources import table as TBL
    from lbf_spark.streaming.stream_features import cdc_batch_apply

    base = tiny_events[["image_id", "ts", "entity", "phash"]].iloc[:60].copy()
    base["__del"] = False
    # batch 2: update 10 keys (newer ts), delete 5, insert 5 new keys,
    # plus an OLDER duplicate change for one key (must lose the reduce)
    upd = base.iloc[:10].copy()
    upd["ts"] = upd["ts"] + 1_000_000
    upd["phash"] = 777
    stale = base.iloc[[0]].copy()
    stale["ts"] = stale["ts"] - 5  # older than batch-1 row: reduce keeps newer
    stale["phash"] = -1
    dele = base.iloc[10:15].copy()
    dele["ts"] = dele["ts"] + 1_000_000
    dele["__del"] = True
    ins = base.iloc[15:20].copy()
    ins["image_id"] = "new_" + ins["image_id"]
    batch2 = pd.concat([upd, dele, ins, stale], ignore_index=True)

    src_dir = tmp_path / "cdc_src"
    src_dir.mkdir()
    pq.write_table(pa.Table.from_pandas(base, preserve_index=False),
                   str(src_dir / "a.parquet"))
    pq.write_table(pa.Table.from_pandas(batch2, preserve_index=False),
                   str(src_dir / "b.parquet"))
    tbl = str(tmp_path / "cdc_tbl")
    stream = spark.readStream.schema(
        "image_id string, ts long, entity string, phash long, __del boolean"
    ).option("maxFilesPerTrigger", "1").parquet(str(src_dir))
    foreach_batch(
        stream,
        lambda b, i: cdc_batch_apply(
            b, i, tbl, keys=["image_id"], delete_col="__del",
            ts_unit_day=10_000,
        ),
        str(tmp_path / "cdc_ckpt"),
    )

    got = (
        TBL.scan(spark, tbl)
        .select("image_id", "phash")
        .toPandas()
        .sort_values("image_id", ignore_index=True)
    )
    # pandas twin: latest per key, deletes applied
    # NOTE: file-source batch order is a.parquet then b.parquet
    exp = base.drop(columns="__del").set_index("image_id")
    for _i, r in upd.iterrows():
        exp.loc[r.image_id, "phash"] = r.phash
    exp = exp.drop(index=dele.image_id)
    for _i, r in ins.iterrows():
        exp.loc[r.image_id] = [r.ts, r.entity, r.phash]
    exp = exp.reset_index()[["image_id", "phash"]].sort_values(
        "image_id", ignore_index=True
    )
    pd.testing.assert_frame_equal(got.astype({"phash": "int64"}),
                                  exp.astype({"phash": "int64"}))

    # replay of the last committed batch id: idempotent no-op
    last = TBL.current_snapshot(tbl, spark)
    assert last["mode"] == "merge" and last["batch_id"] is not None
    assert cdc_batch_apply(
        spark.createDataFrame(batch2), last["batch_id"], tbl,
        keys=["image_id"], delete_col="__del", ts_unit_day=10_000,
    ) is None
    assert TBL.current_snapshot(tbl, spark)["snapshot_id"] == last["snapshot_id"]
    # time travel across the CDC boundary: pre-merge state = full batch 1
    assert TBL.scan(spark, tbl, snapshot_id=1).count() == len(base)


def test_cdc_replay_check_is_o1_in_snapshots(spark, tmp_path, tiny_events,
                                             monkeypatch):
    """The replay check reads ONE manifest regardless of snapshot count
    (batch_hwm high-water mark in the latest manifest)."""
    from lbf_spark import fsio
    from lbf_spark.sources import table as TBL
    from lbf_spark.streaming.stream_features import cdc_batch_apply

    base = tiny_events[["image_id", "ts", "entity", "phash"]].iloc[:40].copy()
    tbl = str(tmp_path / "o1_tbl")
    n_batches = 8
    for b in range(n_batches):
        chunk = base.iloc[b * 5:(b + 1) * 5]
        assert cdc_batch_apply(
            spark.createDataFrame(chunk), b, tbl,
            keys=["image_id"], ts_unit_day=10_000,
        ) is not None
    assert TBL.current_snapshot(tbl, spark)["batch_hwm"] == n_batches - 1

    calls = {"n": 0}
    real_read = fsio.read_text

    def counting_read(spark_, path):
        calls["n"] += 1
        return real_read(spark_, path)

    monkeypatch.setattr(fsio, "read_text", counting_read)
    # replayed batch: exactly ONE manifest read (current_snapshot), a
    # no-op, with 8 snapshots on disk
    for replay_id in (0, 3, n_batches - 1):
        calls["n"] = 0
        assert cdc_batch_apply(
            spark.createDataFrame(base.iloc[:5]), replay_id, tbl,
            keys=["image_id"], ts_unit_day=10_000,
        ) is None
        assert calls["n"] == 1
    monkeypatch.undo()


def test_batch_replay_stays_noop_after_maintenance_commits(
    spark, tmp_path, tiny_events
):
    """Commits that are not sink batches (compaction, spec evolution,
    rollback, a plain append) carry the head's ``batch_hwm`` forward:
    replaying an already durable batch afterwards is still a no-op and
    the table's rows are unchanged."""
    from lbf_spark.sources import table as TBL
    from lbf_spark.streaming.stream_features import table_batch_commit

    pdf = tiny_events[["entity", "ts", "image_id", "phash"]].iloc[:200]
    tbl = str(tmp_path / "maint_tbl")
    # interleaved halves land in the same partition dirs, so compaction
    # has two files per dir to rewrite
    batches = [spark.createDataFrame(pdf.iloc[0::2]),
               spark.createDataFrame(pdf.iloc[1::2])]
    for i, b in enumerate(batches):
        assert table_batch_commit(b, i, tbl, ts_unit_day=10_000) is not None

    def replay_is_noop():
        n = TBL.scan(spark, tbl).count()
        head = TBL.current_snapshot(tbl, spark)
        assert head["batch_hwm"] == 1
        assert table_batch_commit(batches[0], 0, tbl, ts_unit_day=10_000) is None
        assert TBL.current_snapshot(tbl, spark)["snapshot_id"] == head["snapshot_id"]
        assert TBL.scan(spark, tbl).count() == n

    assert TBL.compact_table(spark, tbl)["n_rewritten_files"] > 0     # snap 3
    replay_is_noop()
    TBL.evolve_partition_spec(spark, tbl, n_buckets=8)                # snap 4
    replay_is_noop()
    TBL.rollback(spark, tbl, to_id=3)                                 # snap 5
    replay_is_noop()
    TBL.write_table(spark.createDataFrame(pdf.iloc[:10]), tbl)        # snap 6
    replay_is_noop()


def test_cdc_duplicate_newest_ts_enforced(spark, tmp_path, tiny_events):
    """Total-order rule is enforced at execution time: a changelog
    batch holding two changes for one key at the SAME newest timestamp
    fails loudly without tiebreak_cols, and resolves deterministically
    (desc tiebreak) with them."""
    from lbf_spark.sources import table as TBL
    from lbf_spark.streaming.stream_features import cdc_batch_apply

    rows = tiny_events[["image_id", "ts", "entity", "phash"]].iloc[:6].copy()
    dup = rows.iloc[[0]].copy()
    dup["phash"] = 999  # same (image_id, ts), different payload
    batch = pd.concat([rows, dup], ignore_index=True)

    tbl = str(tmp_path / "dup_tbl")
    with pytest.raises(Exception, match="duplicate \\(keys, ts\\)"):
        cdc_batch_apply(
            spark.createDataFrame(batch), 0, tbl,
            keys=["image_id"], ts_unit_day=10_000,
        )

    # with a tiebreak the SAME batch applies, keeping the max-phash row
    tbl2 = str(tmp_path / "dup_tbl2")
    assert cdc_batch_apply(
        spark.createDataFrame(batch), 0, tbl2,
        keys=["image_id"], tiebreak_cols=["phash"], ts_unit_day=10_000,
    ) is not None
    got = (
        TBL.scan(spark, tbl2)
        .filter(F.col("image_id") == rows.iloc[0]["image_id"])
        .select("phash").collect()
    )
    winner = max(int(rows.iloc[0]["phash"]), 999)  # desc tiebreak
    assert [r["phash"] for r in got] == [winner]

    # a batch with ties only BELOW the newest ts per key passes the
    # guard (the reduce's outcome is already deterministic there)
    older = rows.iloc[[1]].copy()
    older["ts"] = older["ts"] - 7
    older2 = older.copy()
    older2["phash"] = -5
    ok_batch = pd.concat([rows.iloc[[1]], older, older2], ignore_index=True)
    assert cdc_batch_apply(
        spark.createDataFrame(ok_batch), 1, tbl2,
        keys=["image_id"], ts_unit_day=10_000,
    ) is not None


def test_stream_attribution_join_matches_batch(spark, tmp_path):
    """Two genuine streams through the watermarked interval join
    (availableNow) must equal the batch run of the same plan — and the
    last-touch reduce must pick the latest touch with the id tiebreak."""
    from lbf_spark.streaming.stream_features import (
        last_touch_attribution,
        stream_attribution_pairs,
    )

    touches = [("u1", 1, 100), ("u1", 2, 150), ("u1", 3, 150),
               ("u1", 4, 400), ("u2", 5, 90), ("u3", 6, 50)]
    convs = [("u1", 101, 160), ("u1", 102, 420), ("u2", 103, 100),
             ("u2", 104, 500), ("u4", 105, 10)]
    t_pd = pd.DataFrame(touches, columns=["entity", "touch_id", "touch_ts"])
    c_pd = pd.DataFrame(convs, columns=["entity", "conv_id", "conv_ts"])
    (tmp_path / "touch").mkdir()
    (tmp_path / "conv").mkdir()
    td, cd = str(tmp_path / "touch"), str(tmp_path / "conv")
    pq.write_table(pa.Table.from_pandas(t_pd, preserve_index=False),
                   td + "/p.parquet")  # single file each is fine
    pq.write_table(pa.Table.from_pandas(c_pd, preserve_index=False),
                   cd + "/p.parquet")
    t_static = spark.read.parquet(td)
    c_static = spark.read.parquet(cd)
    TOL = 100
    batch = stream_attribution_pairs(t_static, c_static, TOL).toPandas()

    t_s = spark.readStream.schema(t_static.schema).parquet(td)
    c_s = spark.readStream.schema(c_static.schema).parquet(cd)
    q = (
        stream_attribution_pairs(t_s, c_s, TOL, watermark="10 seconds")
        .writeStream.format("memory").queryName("attr_tbl")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    streamed = spark.sql("select * from attr_tbl").toPandas()
    cols = ["entity", "touch_id", "conv_id"]
    assert _keys(streamed, cols) == _keys(batch, cols)
    # hand-checked pair set: u1 conv@160 sees touches 1,2,3; conv@420
    # sees touch 4; u2 conv@100 sees 5; conv@500 sees none; u4 none
    assert _keys(batch, ["conv_id", "touch_id"]) == [
        (101, 1), (101, 2), (101, 3), (102, 4), (103, 5)
    ]
    last = last_touch_attribution(batch_df := stream_attribution_pairs(
        t_static, c_static, TOL)).toPandas()
    # conv 101: touches 2 and 3 tie at ts=150 -> larger id (3) wins
    got = {r.conv_id: r.touch_id for r in last.itertuples()}
    assert got == {101: 3, 102: 4, 103: 5}
    # disjoint-columns contract enforced
    with pytest.raises(ValueError, match="disjoint"):
        stream_attribution_pairs(
            t_static.withColumnRenamed("touch_ts", "conv_ts"), c_static, TOL
        )


def test_ingest_replay_after_crash_reads_only_committed_batches(
    spark, tmp_path, monkeypatch
):
    """A batch that crashes after its parquet writes but before its
    ``state.json`` commit stays invisible: its replay sees only the
    committed corpus and returns the clean run's stats and rows.
    Building the store frames runs no Spark job (the commit record
    carries the schemas)."""
    from lbf_spark import fsio

    def text(tag, i):
        return " ".join(f"{tag}{i}w{k}" for k in range(12))

    schema = "doc_id long, text string"
    b0 = [(i, text("d", i)) for i in range(40)]
    # 30 copies of corpus docs, then 4 internal clusters of 3/3/2/2
    # (copies have Jaccard 1, so LSH finds every pair)
    b1 = [(100 + i, text("d", i)) for i in range(30)]
    doc_id = 130
    for c, size in enumerate((3, 3, 2, 2)):
        for _ in range(size):
            b1.append((doc_id, text("c", c)))
            doc_id += 1

    def ingest(store, rows, batch_id):
        return dedup_ingest_batch(
            spark.createDataFrame(rows, schema), batch_id, store, threshold=0.5
        )

    def corpus_rows(store):
        corpus, _ = read_ingest_store(spark, store)
        return sorted(tuple(r) for r in corpus.collect())

    clean = str(tmp_path / "clean")
    ingest(clean, b0, 0)
    clean_stats = ingest(clean, b1, 1)
    assert clean_stats == {"batch_id": 1, "n_in": 40, "n_kept": 4,
                           "n_dropped_corpus": 30, "n_dropped_internal": 6}

    store = str(tmp_path / "crashed")
    ingest(store, b0, 0)
    real_write = fsio.write_text_atomic

    def crash_on_commit(spark_, path, text_):
        if path.endswith("state.json"):
            raise OSError("crash before commit")
        real_write(spark_, path, text_)

    with monkeypatch.context() as m:
        m.setattr(fsio, "write_text_atomic", crash_on_commit)
        with pytest.raises(OSError, match="crash before commit"):
            ingest(store, b1, 1)
    assert "batch-00001" in fsio.list_names(spark, f"{store}/corpus")
    assert read_ingest_hwm(spark, store) == 0
    (corpus, postings), jobs = build_jobs(
        spark, lambda: read_ingest_store(spark, store)
    )
    assert jobs == []
    assert corpus.count() == 40 and postings.count() > 0

    assert ingest(store, b1, 1) == clean_stats
    assert corpus_rows(store) == corpus_rows(clean)


def test_ingest_store_without_recorded_schemas_still_resumes(spark, tmp_path):
    """A store whose ``state.json`` predates the recorded schemas (only
    ``batch_hwm``) keeps its high-water mark and its committed corpus,
    and its next commit records the schemas."""
    import json as _json

    from lbf_spark import fsio

    schema = "doc_id long, text string"

    def docs(ids, tag):
        return spark.createDataFrame(
            [(i, " ".join(f"{tag}{i % 100}w{k}" for k in range(12)))
             for i in ids],
            schema,
        )

    store = str(tmp_path / "old_store")
    dedup_ingest_batch(docs(range(10), "d"), 0, store, threshold=0.5)
    rows = sorted(tuple(r) for r in read_ingest_store(spark, store)[0].collect())
    state_file = f"{store}/state.json"
    fsio.write_text_atomic(spark, state_file, _json.dumps({"batch_hwm": 0}))

    assert read_ingest_hwm(spark, store) == 0
    corpus, postings = read_ingest_store(spark, store)
    assert sorted(tuple(r) for r in corpus.collect()) == rows
    assert postings.count() > 0
    # 5 copies of committed docs: all dropped against the corpus
    stats = dedup_ingest_batch(docs(range(100, 105), "d"), 1, store,
                               threshold=0.5)
    assert stats["n_dropped_corpus"] == 5 and stats["n_kept"] == 0
    state = _json.loads(fsio.read_text(spark, state_file))
    assert state["batch_hwm"] == 1
    assert {"corpus_schema", "postings_schema"} <= set(state)

