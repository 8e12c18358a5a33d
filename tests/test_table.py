"""Iceberg-style table layout: snapshots, pruning, append lineage."""

from pyspark.sql import functions as F

from lbf_spark import fixtures
from lbf_spark.sources import table as TBL
from tests.conftest import build_jobs


def _explain(df):
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_write_scan_roundtrip_and_snapshots(spark, tiny_events, tmp_path):
    path = str(tmp_path / "tbl")
    ev = fixtures.events_to_spark(spark, tiny_events)
    snap1 = TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)
    assert snap1["snapshot_id"] == 1 and snap1["added_files"]

    got = TBL.scan(spark, path)
    assert got.count() == len(tiny_events)

    # append = new snapshot with parent lineage
    extra = fixtures.events_to_spark(spark, tiny_events.iloc[:100])
    snap2 = TBL.write_table(extra, path, mode="append", ts_unit_day=10_000)
    assert snap2["snapshot_id"] == 2 and snap2["parent"] == "snap-00001.json"
    assert TBL.scan(spark, path).count() == len(tiny_events) + 100
    assert TBL.current_snapshot(path)["snapshot_id"] == 2


def test_table_file_uri_roundtrip(spark, tiny_events, tmp_path):
    """Scheme-prefixed warehouse paths (file:// stands in for hdfs://,
    s3a://): metadata IO must go through the Hadoop FS API, not os.*."""
    path = "file://" + str(tmp_path / "tbl_uri")
    ev = fixtures.events_to_spark(spark, tiny_events)
    snap = TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)
    assert snap["snapshot_id"] == 1 and snap["added_files"]
    assert TBL.scan(spark, path).count() == len(tiny_events)
    assert TBL.current_snapshot(path)["snapshot_id"] == 1


def test_time_travel_and_incremental_reads(spark, tiny_events, tmp_path):
    """Snapshot file lists: scan(snapshot_id=N) reproduces the table as
    of N; incremental_files gives exactly the files a changelog
    consumer must read; overwrites invalidate history before them."""
    import pytest as _pytest

    from lbf_spark.sources.table import incremental_files

    path = str(tmp_path / "tbl_tt")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)        # snap 1
    n1 = len(tiny_events)
    extra = fixtures.events_to_spark(spark, tiny_events.iloc[:100])
    TBL.write_table(extra, path, mode="append", ts_unit_day=10_000)        # snap 2
    extra2 = fixtures.events_to_spark(spark, tiny_events.iloc[100:150])
    TBL.write_table(extra2, path, mode="append", ts_unit_day=10_000)       # snap 3

    assert TBL.scan(spark, path, snapshot_id=1).count() == n1
    assert TBL.scan(spark, path, snapshot_id=2).count() == n1 + 100
    assert TBL.scan(spark, path, snapshot_id=3).count() == n1 + 150
    assert TBL.scan(spark, path).count() == n1 + 150
    # time-traveled scans keep the hive partition columns (basePath)
    assert "entity_bucket" in TBL.scan(spark, path, snapshot_id=1).columns

    # changelog read: snapshots (1, 3] = the 150 appended rows
    inc = incremental_files(spark, path, after=1)
    assert spark.read.option(
        "basePath", path + "/data"
    ).parquet(*inc).count() == 150
    inc23 = incremental_files(spark, path, after=2, until=3)
    assert spark.read.option("basePath", path + "/data").parquet(*inc23).count() == 50

    # an overwrite invalidates earlier snapshots and breaks changelogs
    TBL.write_table(extra2, path, mode="overwrite", ts_unit_day=10_000)    # snap 4
    assert TBL.scan(spark, path, snapshot_id=4).count() == 50
    with _pytest.raises(ValueError, match="predates an overwrite"):
        TBL.scan(spark, path, snapshot_id=2).count()
    with _pytest.raises(ValueError, match="overwrite"):
        incremental_files(spark, path, after=3)


def test_scan_prunes_partitions(spark, tiny_events, tmp_path):
    path = str(tmp_path / "tbl2")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)

    pruned = TBL.scan(spark, path, entities=["e0000"])
    plan = _explain(pruned)
    # bucket predicate must land in PartitionFilters (directory pruning)
    pf = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "entity_bucket" in pf
    # correctness: same rows as a full-scan filter
    full = TBL.scan(spark, path).filter(F.col("entity") == "e0000")
    assert pruned.count() == full.count() == int((tiny_events.entity == "e0000").sum())


def test_scan_time_range_pruning(spark, tiny_events, tmp_path):
    path = str(tmp_path / "tbl3")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)
    lo, hi = 15_000, 30_000
    pruned = TBL.scan(spark, path, ts_min=lo, ts_max=hi)
    plan = _explain(pruned)
    assert "ts_day" in plan.split("PartitionFilters")[1].splitlines()[0]
    exp = int(((tiny_events.ts >= lo) & (tiny_events.ts <= hi)).sum())
    assert pruned.count() == exp


def test_merge_upsert_update_insert_delete(spark, tiny_events, tmp_path):
    """MERGE semantics: same-key rows replaced, new keys inserted,
    delete-flagged keys removed; only files containing matched keys are
    rewritten; pre-merge snapshots stay time-travelable; appends after
    a merge don't re-adopt the replaced (still-on-disk) files."""
    import pandas as pd

    path = str(tmp_path / "tbl_merge")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)      # snap 1
    base = tiny_events.copy()
    n0 = len(base)

    upd = base.iloc[:5].copy()
    upd["phash"] = 42
    upd["__del"] = False
    dele = base.iloc[5:8].copy()
    dele["__del"] = True
    ins = base.iloc[8:10].copy()
    ins["image_id"] = "new_" + ins["image_id"]                            # new keys
    ins["__del"] = False
    changes = fixtures.events_to_spark(
        spark, pd.concat([upd, dele, ins], ignore_index=True)
    ).withColumn("__del", F.col("__del").cast("boolean"))

    snap = TBL.merge_upsert(spark, path, changes, keys=["image_id"], delete_col="__del")
    assert snap["mode"] == "merge" and snap["removed_files"]
    # untouched files carried by reference, not rewritten
    assert len(snap["removed_files"]) < len(
        TBL.scan_files(spark, path, snapshot_id=1)
    )

    got = TBL.scan(spark, path).toPandas()
    assert len(got) == n0 - 3 + 2
    assert (got.set_index("image_id").loc[upd.image_id, "phash"] == 42).all()
    assert not set(dele.image_id).intersection(got.image_id)
    assert set(ins.image_id).issubset(set(got.image_id))

    # pre-merge time travel still exact
    assert TBL.scan(spark, path, snapshot_id=1).count() == n0

    # append after merge: added_files must not include replaced files
    extra = fixtures.events_to_spark(spark, tiny_events.iloc[:50]).withColumn(
        "image_id", F.concat(F.lit("app_"), F.col("image_id"))
    )
    snap3 = TBL.write_table(extra, path, mode="append", ts_unit_day=10_000)
    assert not set(snap3["added_files"]) & set(snap["removed_files"])
    assert TBL.scan(spark, path).count() == n0 - 3 + 2 + 50

    # changelog reads across a merge are refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="merge"):
        TBL.incremental_files(spark, path, after=1)


def test_merge_upsert_validates_schema_and_keys(spark, tiny_events, tmp_path):
    import pytest as _pytest

    path = str(tmp_path / "tbl_merge_bad")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)
    with _pytest.raises(ValueError, match="columns"):
        TBL.merge_upsert(spark, path, ev.drop("phash"), keys=["image_id"])
    with _pytest.raises(ValueError, match="keys"):
        TBL.merge_upsert(spark, path, ev, keys=["nope"])


def test_schema_evolution_add_column(spark, tiny_events, tmp_path):
    """v1 write, add-column append, scan reads both with NULL-fill;
    time travel to v1 shows the v1 schema; drop/retype refused; a merge
    rewriting only v1 files keeps the new column. Building the scan or
    a diff over the two schemas runs no Spark job: both take the
    manifest schema instead of reading parquet footers."""
    import json

    import pytest as _pytest
    from pyspark.sql.types import StructType

    path = str(tmp_path / "tbl_evo")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)        # v1
    ev2 = fixtures.events_to_spark(spark, tiny_events.iloc[:100]).withColumn(
        "image_id", F.concat(F.lit("v2_"), F.col("image_id"))
    ).withColumn("quality", F.lit(0.5))
    TBL.write_table(ev2, path, mode="append", ts_unit_day=10_000)          # v2
    # at most 32 paths: more would add Spark's parallel file-listing job
    assert len(TBL.scan_files(spark, path)) <= 32

    got, jobs = build_jobs(spark, lambda: TBL.scan(spark, path))
    assert jobs == []
    head = StructType.fromJson(json.loads(TBL.current_snapshot(path)["schema"]))
    assert got.dtypes == [
        (f.name, f.dataType.simpleString()) for f in head.fields
    ] + [("entity_bucket", "int"), ("ts_day", "bigint")]
    diff, jobs = build_jobs(spark, lambda: TBL.snapshot_diff(spark, path, 1))
    assert jobs == []
    assert diff.filter(
        (F.col("change_type") == "insert") & (F.col("quality") == 0.5)
    ).count() == diff.count() == 100
    n0 = len(tiny_events)
    assert got.count() == n0 + 100
    assert got.filter(F.col("quality").isNull()).count() == n0            # NULL-fill
    assert got.filter(F.col("quality") == 0.5).count() == 100
    # time travel to v1: pre-evolution schema
    assert "quality" not in TBL.scan(spark, path, snapshot_id=1).columns

    with _pytest.raises(ValueError, match="missing"):
        TBL.write_table(ev.drop("phash"), path, mode="append", ts_unit_day=10_000)
    with _pytest.raises(ValueError, match="type"):
        TBL.write_table(
            ev.withColumn("phash", F.col("phash").cast("string")),
            path, mode="append", ts_unit_day=10_000,
        )

    # a merge that rewrites only pre-evolution files reads them under
    # the head schema: the rewritten rows take the new values and the
    # untouched v1 rows keep reading quality as NULL
    keys = [r["image_id"] for r in ev.orderBy("image_id").limit(5).collect()]
    changes = ev.filter(F.col("image_id").isin(keys)).withColumn(
        "w", F.col("w") * 2
    ).withColumn("quality", F.lit(0.9))
    TBL.merge_upsert(spark, path, changes, keys=["image_id"])
    got = TBL.scan(spark, path)
    assert got.count() == n0 + 100
    def by_key(df):
        return {r["image_id"]: (r["w"], r["quality"]) for r in df.collect()}

    assert by_key(got.filter(F.col("image_id").isin(keys))) == by_key(changes)
    assert got.filter(F.col("quality").isNull()).count() == n0 - len(keys)
    v1 = TBL.scan(spark, path, snapshot_id=1)
    assert "quality" not in v1.columns and v1.count() == n0


def test_zorder_write_layout_prunes_files(spark, tiny_events, tmp_path):
    """write_table(layout_cols=...) must cluster file min/max stats so
    a 2-D predicate overlaps FEWER files than the unsorted layout."""
    import pandas as pd

    rng = __import__("numpy").random.default_rng(7)
    n = 20_000
    pdf = pd.DataFrame(
        {
            "entity": ["e0"] * n,
            "ts": rng.integers(0, 9_999, n),          # one ts_day partition
            "x": rng.integers(0, 256, n),
            "y": rng.integers(0, 256, n),
        }
    )
    df = spark.createDataFrame(pdf)

    def overlap_count(path):
        files = [
            f for f in __import__("glob").glob(path + "/data/**/*.parquet", recursive=True)
        ]
        import pyarrow.parquet as pq

        hit = 0
        for f in files:
            md = pq.read_metadata(f)
            idx_x = md.schema.to_arrow_schema().get_field_index("x")
            idx_y = md.schema.to_arrow_schema().get_field_index("y")
            xmin = min(md.row_group(i).column(idx_x).statistics.min for i in range(md.num_row_groups))
            xmax = max(md.row_group(i).column(idx_x).statistics.max for i in range(md.num_row_groups))
            ymin = min(md.row_group(i).column(idx_y).statistics.min for i in range(md.num_row_groups))
            ymax = max(md.row_group(i).column(idx_y).statistics.max for i in range(md.num_row_groups))
            if xmin <= 32 and xmax >= 0 and ymin <= 32 and ymax >= 0:
                hit += 1
        return hit, len(files)

    p_plain = str(tmp_path / "tbl_plain")
    # force comparable file counts: repartition round-robin to 8 files
    TBL.write_table(df.repartition(8), p_plain, mode="overwrite", ts_unit_day=10_000)
    p_z = str(tmp_path / "tbl_z")
    TBL.write_table(
        df, p_z, mode="overwrite", ts_unit_day=10_000,
        layout_cols=["x", "y"], layout_files=8,
    )
    hit_plain, n_plain = overlap_count(p_plain)
    hit_z, n_z = overlap_count(p_z)
    assert n_z >= 4                                   # layout actually split files
    assert hit_z < hit_plain                          # pruning benefit
    # and the data itself is intact
    assert TBL.scan(spark, p_z).count() == n


def test_manifest_file_stats_skip_files(spark, tiny_events, tmp_path):
    """Per-file ts min/max stats must drop whole files for a time-range
    scan BEFORE the reader is built (finer than ts_day directories:
    several appends share a day but cover disjoint ts ranges)."""
    path = str(tmp_path / "tbl_stats")
    ev = fixtures.events_to_spark(spark, tiny_events)
    # three appends covering disjoint ts thirds, same huge ts_unit_day
    # => all files land in ONE day directory (partition pruning blind)
    lo, hi = tiny_events.ts.min(), tiny_events.ts.max()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    TBL.write_table(
        ev.filter(F.col("ts") < cut1), path, mode="overwrite",
        ts_unit_day=10_000_000,
    )
    TBL.write_table(
        ev.filter((F.col("ts") >= cut1) & (F.col("ts") < cut2)), path,
        mode="append", ts_unit_day=10_000_000,
    )
    TBL.write_table(
        ev.filter(F.col("ts") >= cut2), path, mode="append",
        ts_unit_day=10_000_000,
    )
    all_files = TBL.scan_files(spark, path)
    pruned = TBL.scan_files(spark, path, ts_min=int(cut2))
    assert 0 < len(pruned) < len(all_files)
    # correctness unchanged vs a full-scan filter
    got = TBL.scan(spark, path, ts_min=int(cut2)).count()
    exp = int((tiny_events.ts >= cut2).sum())
    assert got == exp


def test_expire_snapshots_deletes_unreachable_files(spark, tiny_events, tmp_path):
    """Retention: keep_last=2 after a merge — files only the expired
    snapshots could see are deleted from disk, the live scan and the
    retained time travel are unchanged, expired travel raises."""
    import pandas as pd
    import pytest as _pytest

    path = str(tmp_path / "tbl_expire")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)      # 1
    upd = tiny_events.iloc[:20].copy()
    upd["phash"] = 7
    changes = fixtures.events_to_spark(spark, upd)
    TBL.merge_upsert(spark, path, changes, keys=["image_id"])            # 2
    extra = fixtures.events_to_spark(spark, tiny_events.iloc[:10]).withColumn(
        "image_id", F.concat(F.lit("x_"), F.col("image_id"))
    )
    TBL.write_table(extra, path, mode="append", ts_unit_day=10_000)      # 3

    n_live = TBL.scan(spark, path).count()
    n_disk_before = len(
        __import__("glob").glob(path + "/data/**/*.parquet", recursive=True)
    )
    res = TBL.expire_snapshots(spark, path, keep_last=2)
    assert res["n_expired_snapshots"] == 1
    assert res["n_deleted_files"] > 0  # merge-replaced files expired
    n_disk_after = len(
        __import__("glob").glob(path + "/data/**/*.parquet", recursive=True)
    )
    assert n_disk_after == n_disk_before - res["n_deleted_files"]

    assert TBL.scan(spark, path).count() == n_live
    assert TBL.scan(spark, path, snapshot_id=2).count() == len(tiny_events)
    got = TBL.scan(spark, path, snapshot_id=2).toPandas()
    assert (got.set_index("image_id").loc[upd.image_id, "phash"] == 7).all()
    with _pytest.raises(ValueError, match="predates an overwrite"):
        TBL.scan(spark, path, snapshot_id=1).count()
    _ = pd


def test_remove_orphan_files(spark, tiny_events, tmp_path):
    """Debris from a killed write (parquet parts with no manifest) is
    deleted; adopted files — including merge-replaced ones that older
    snapshots still need — survive."""
    import shutil

    path = str(tmp_path / "tbl_orphan")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)
    upd = tiny_events.iloc[:10].copy()
    upd["phash"] = 9
    TBL.merge_upsert(
        spark, path, fixtures.events_to_spark(spark, upd), keys=["image_id"]
    )
    # plant debris: copy a real part file to an uncommitted name
    real = __import__("glob").glob(path + "/data/**/*.parquet", recursive=True)[0]
    stray = real.replace(".parquet", "-orphan.parquet")
    shutil.copy(real, stray)
    n_live = TBL.scan(spark, path).count()
    res = TBL.remove_orphan_files(spark, path)
    assert res["n_orphans_deleted"] == 1
    import os
    assert not os.path.exists(stray)
    assert TBL.scan(spark, path).count() == n_live
    # merge-replaced files survived: pre-merge time travel intact
    assert TBL.scan(spark, path, snapshot_id=1).count() == len(tiny_events)


def test_concurrent_snapshot_commit_loses_cleanly(
    spark, tiny_events, tmp_path, monkeypatch
):
    """Optimistic concurrency: a writer whose snapshot id was claimed
    first must raise ConcurrentWriteError (never silently clobber).
    The race is emulated by hiding the competitor's freshly-committed
    manifest from THIS writer's listing (it listed before the
    competitor's rename landed), so both compute snapshot id 2 and
    exactly one rename can win."""
    import pytest as _pytest

    from lbf_spark import fsio

    path = str(tmp_path / "tbl_cc")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)
    # the competitor commits a valid snap-00002 ...
    snap2 = fixtures.events_to_spark(spark, tiny_events.iloc[:5]).withColumn(
        "image_id", F.concat(F.lit("other_"), F.col("image_id"))
    )
    TBL.write_table(snap2, path, mode="append", ts_unit_day=10_000)
    # ... which this writer's listing has not seen yet
    real_list = fsio.list_names

    def stale_list(s, p):
        return [n for n in real_list(s, p) if "snap-00002" not in n]

    monkeypatch.setattr(fsio, "list_names", stale_list)
    extra = fixtures.events_to_spark(spark, tiny_events.iloc[:20]).withColumn(
        "image_id", F.concat(F.lit("cc_"), F.col("image_id"))
    )
    with _pytest.raises(TBL.ConcurrentWriteError, match="another writer"):
        TBL.write_table(extra, path, mode="append", ts_unit_day=10_000)
    monkeypatch.undo()
    # the winner's table state is intact and readable
    assert TBL.current_snapshot(path, spark)["snapshot_id"] == 2
    n_before_retry = TBL.scan(spark, path).count()
    # the loser cleaned up after itself: no debris to reclaim, and none
    # of its rows are visible
    assert TBL.remove_orphan_files(spark, path)["n_orphans_deleted"] == 0
    assert TBL.scan(spark, path).count() == n_before_retry
    # the documented retry is safe: re-running the losing write adopts
    # EXACTLY its own rows once (no double-adoption of a prior attempt)
    snap = TBL.write_table(extra, path, mode="append", ts_unit_day=10_000)
    assert snap["snapshot_id"] == 3
    assert TBL.scan(spark, path).count() == n_before_retry + 20
    got_cc = (
        TBL.scan(spark, path)
        .filter(F.col("image_id").startswith("cc_"))
        .count()
    )
    assert got_cc == 20


def test_rollback_losing_the_id_race_keeps_readded_files(
    spark, tiny_events, tmp_path, monkeypatch
):
    """A rollback that loses the snapshot-id race raises
    ConcurrentWriteError and deletes nothing: its added files are
    RE-ADDED files that other snapshots own. The competitor is the same
    rollback committed first, so both the new head and the target
    snapshot read the files the loser re-added."""
    import pytest as _pytest

    from lbf_spark import fsio

    path = str(tmp_path / "tbl_rb_race")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)      # snap 1
    n_rows = len(tiny_events)
    TBL.merge_upsert(spark, path, ev.limit(5), keys=["image_id"])        # snap 2
    re_added = TBL.rollback(spark, path, to_id=1)["added_files"]         # snap 3
    assert re_added
    # the losing rollback's listing has not seen the competitor's
    # snap-00003, so it claims id 3 too
    real_list = fsio.list_names

    def stale_list(s, p):
        return [n for n in real_list(s, p) if "snap-00003" not in n]

    monkeypatch.setattr(fsio, "list_names", stale_list)
    with _pytest.raises(TBL.ConcurrentWriteError, match="another writer"):
        TBL.rollback(spark, path, to_id=1)
    monkeypatch.undo()
    assert TBL.current_snapshot(path, spark)["snapshot_id"] == 3
    for sid in (None, 1):  # the head, then the rollback target
        assert set(re_added) <= set(TBL.scan_files(spark, path, snapshot_id=sid))
        assert TBL.scan(spark, path, snapshot_id=sid).count() == n_rows


def test_merge_upsert_matches_pandas_oracle_seeded(spark, tiny_events, tmp_path):
    """Property-style: 3 seeded random changelogs (update/delete/insert
    mix) — post-merge scan must equal the pandas-computed expected
    state every time."""
    import numpy as np
    import pandas as pd

    base = tiny_events.copy().reset_index(drop=True)
    for seed in (11, 23, 47):
        rng = np.random.default_rng(seed)
        path = str(tmp_path / f"tbl_prop_{seed}")
        TBL.write_table(
            fixtures.events_to_spark(spark, base), path,
            mode="overwrite", ts_unit_day=10_000,
        )
        upd_idx = rng.choice(len(base), size=15, replace=False)
        del_idx = rng.choice(
            [i for i in range(len(base)) if i not in set(upd_idx)],
            size=10, replace=False,
        )
        upd = base.iloc[upd_idx].copy()
        upd["phash"] = rng.integers(0, 1 << 30, size=len(upd))
        upd["__del"] = False
        dele = base.iloc[del_idx].copy()
        dele["__del"] = True
        ins = base.iloc[rng.choice(len(base), size=5, replace=False)].copy()
        ins["image_id"] = [f"ins{seed}_{i}" for i in range(len(ins))]
        ins["__del"] = False
        changes = pd.concat([upd, dele, ins], ignore_index=True)
        TBL.merge_upsert(
            spark, path,
            fixtures.events_to_spark(spark, changes).withColumn(
                "__del", F.col("__del").cast("boolean")
            ),
            keys=["image_id"], delete_col="__del",
        )
        # pandas oracle of the post-merge state
        keyed = set(changes["image_id"])
        exp = pd.concat(
            [base[~base.image_id.isin(keyed)], upd.drop(columns="__del"),
             ins.drop(columns="__del")],
            ignore_index=True,
        )
        got = TBL.scan(spark, path).toPandas()
        assert len(got) == len(exp), seed
        g = got.sort_values("image_id", ignore_index=True)
        e = exp.sort_values("image_id", ignore_index=True)
        assert (g["image_id"] == e["image_id"]).all(), seed
        assert (g["phash"].to_numpy() == e["phash"].to_numpy()).all(), seed


def test_compact_table_rewrites_small_files(spark, tiny_events, tmp_path):
    """Five tiny appends fragment the table; compact_table must shrink
    the visible file count, keep the row set exactly, keep pre-compact
    time travel, and refuse incremental reads across the rewrite."""
    import pytest as _pytest

    path = str(tmp_path / "tbl_compact")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev.limit(0), path, mode="overwrite", ts_unit_day=10_000_000)
    n = len(tiny_events)
    step = n // 5
    for i in range(5):
        chunk = fixtures.events_to_spark(
            spark, tiny_events.iloc[i * step:(i + 1) * step]
        )
        TBL.write_table(chunk, path, mode="append", ts_unit_day=10_000_000)
    before_files = len(TBL.scan_files(spark, path))
    before_rows = TBL.scan(spark, path).count()
    pre_snap = TBL.current_snapshot(path, spark)["snapshot_id"]

    res = TBL.compact_table(spark, path, target_bytes=1 << 30)
    assert res["n_rewritten_files"] >= 2
    assert res["n_new_files"] >= 1
    after_files = len(TBL.scan_files(spark, path))
    assert after_files < before_files
    got = TBL.scan(spark, path)
    assert got.count() == before_rows
    # row CONTENT identical, not just the count
    assert (
        got.selectExpr("sum(crc32(cast(image_id as binary))) as s").first()["s"]
        == TBL.scan(spark, path, snapshot_id=pre_snap)
        .selectExpr("sum(crc32(cast(image_id as binary))) as s")
        .first()["s"]
    )
    # pre-compaction snapshots still readable; changelog refuses
    assert TBL.scan(spark, path, snapshot_id=pre_snap).count() == before_rows
    with _pytest.raises(ValueError, match="merge"):
        TBL.incremental_files(spark, path, after=pre_snap - 1)
    # idempotence: a second compact finds nothing to do
    assert TBL.compact_table(spark, path, target_bytes=1 << 30) == {
        "n_rewritten_files": 0, "n_new_files": 0,
    }


def test_merge_leaves_unmatched_files_byte_identical(spark, tiny_events, tmp_path):
    """Copy-on-write IO discipline: a MERGE rewrites ONLY the files that
    contain a matched key. Pinned two ways: (a) the snapshot's
    removed_files equals an independently computed per-file matched-key
    footprint; (b) every unmatched file is byte-identical (md5) after
    the merge — the rewrite job never even rewrote it in place."""
    import hashlib
    import os

    path = str(tmp_path / "tbl_cow_io")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)
    data_dir = os.path.join(path, "data")

    def file_md5s():
        out = {}
        for root, _dirs, files in os.walk(data_dir):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.relpath(full, data_dir)
                out[rel] = hashlib.md5(open(full, "rb").read()).hexdigest()
        return out

    before = file_md5s()
    # change 3 specific keys; compute their file footprint independently
    keys = tiny_events.iloc[[0, 7, 13]][["image_id"]]
    matched_files = set()
    for rel in before:
        pdf = (
            spark.read.option("basePath", data_dir)
            .parquet(os.path.join(data_dir, rel))
            .select("image_id")
            .toPandas()
        )
        if pdf["image_id"].isin(keys["image_id"]).any():
            matched_files.add(rel)
    assert matched_files and len(matched_files) < len(before)

    changes = tiny_events.iloc[[0, 7, 13]].copy()
    changes["caption"] = "rewritten"
    snap = TBL.merge_upsert(
        spark, path, fixtures.events_to_spark(spark, changes), keys=["image_id"]
    )
    assert set(snap["removed_files"]) == matched_files
    after = file_md5s()
    for rel, digest in before.items():
        if rel not in matched_files:
            assert after[rel] == digest, f"unmatched file {rel} was rewritten"


def test_expire_snapshots_spares_unknown_files(spark, tiny_events, tmp_path):
    """expire_snapshots deletes only manifest-known unreachable files —
    an uncommitted concurrent writer's on-disk parts (in no manifest)
    must survive, unlike remove_orphan_files which documents its
    no-write-in-flight requirement."""
    import os

    path = str(tmp_path / "tbl_exp_safe")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)
    chg = tiny_events.iloc[:5].copy()
    chg["caption"] = "v2"
    TBL.merge_upsert(
        spark, path, fixtures.events_to_spark(spark, chg), keys=["image_id"]
    )
    TBL.write_table(
        fixtures.events_to_spark(spark, tiny_events.iloc[:3]),
        path, mode="append", ts_unit_day=10_000,
    )
    # an in-flight writer's moved-but-uncommitted part file
    part_dir = None
    for root, _dirs, files in os.walk(os.path.join(path, "data")):
        if any(f.endswith(".parquet") for f in files):
            part_dir = root
            break
    stray = os.path.join(part_dir, "part-inflight-deadbeef.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"PAR1 in-flight")
    res = TBL.expire_snapshots(spark, path, keep_last=1)
    assert res["n_deleted_files"] > 0  # merge-replaced history went away
    assert os.path.exists(stray)  # the uncommitted write survived
    os.remove(stray)


def test_append_after_expire_stays_visible(spark, tiny_events, tmp_path):
    """Snapshot ids continue from the last EXISTING manifest after
    expiration (a count-based id would collide with or sort before the
    retained snapshot, silently hiding the appended rows)."""
    path = str(tmp_path / "tbl_exp_append")
    TBL.write_table(
        fixtures.events_to_spark(spark, tiny_events), path,
        mode="overwrite", ts_unit_day=10_000,
    )                                                                  # snap 1
    TBL.write_table(
        fixtures.events_to_spark(spark, tiny_events.iloc[:30]), path,
        mode="append", ts_unit_day=10_000,
    )                                                                  # snap 2
    TBL.write_table(
        fixtures.events_to_spark(spark, tiny_events.iloc[30:50]), path,
        mode="append", ts_unit_day=10_000,
    )                                                                  # snap 3
    TBL.expire_snapshots(spark, path, keep_last=1)                     # keep 3
    n_now = TBL.scan(spark, path).count()
    snap = TBL.write_table(
        fixtures.events_to_spark(spark, tiny_events.iloc[50:75]).withColumn(
            "image_id", F.concat(F.lit("post_"), F.col("image_id"))
        ),
        path, mode="append", ts_unit_day=10_000,
    )
    assert snap["snapshot_id"] == 4  # continues past the retained id
    assert TBL.scan(spark, path).count() == n_now + 25
    # and one more expire+append cycle keeps working
    TBL.expire_snapshots(spark, path, keep_last=1)
    snap5 = TBL.write_table(
        fixtures.events_to_spark(spark, tiny_events.iloc[75:80]).withColumn(
            "image_id", F.concat(F.lit("post2_"), F.col("image_id"))
        ),
        path, mode="append", ts_unit_day=10_000,
    )
    assert snap5["snapshot_id"] == 5
    assert TBL.scan(spark, path).count() == n_now + 30


def test_overwrite_is_logical_not_physical(spark, tiny_events, tmp_path):
    """mode='overwrite' resets the visible set in METADATA only — the
    previous files stay on disk (a physical wipe would race concurrent
    writers) until remove_orphan_files reclaims them."""
    import os

    path = str(tmp_path / "tbl_logical_ow")
    TBL.write_table(
        fixtures.events_to_spark(spark, tiny_events), path,
        mode="overwrite", ts_unit_day=10_000,
    )
    n_files_before = sum(
        len([f for f in files if f.endswith(".parquet")])
        for _r, _d, files in os.walk(os.path.join(path, "data"))
    )
    TBL.write_table(
        fixtures.events_to_spark(spark, tiny_events.iloc[:10]), path,
        mode="overwrite", ts_unit_day=10_000,
    )
    assert TBL.scan(spark, path).count() == 10  # visible set reset
    n_files_after = sum(
        len([f for f in files if f.endswith(".parquet")])
        for _r, _d, files in os.walk(os.path.join(path, "data"))
    )
    assert n_files_after > n_files_before  # old files still on disk
    # orphan cleanup reclaims the pre-overwrite (now-untracked) files
    res = TBL.remove_orphan_files(spark, path)
    assert res["n_orphans_deleted"] >= n_files_before
    assert TBL.scan(spark, path).count() == 10


def test_snapshot_diff_appends_and_merge(spark, tiny_events, tmp_path):
    """diff(1->2) = exactly the appended rows; diff(1->head) across a
    merge = delete(old)+insert(new) for updates, delete for deletes,
    carried-over rows cancel."""
    path = str(tmp_path / "sdiff")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)
    extra = fixtures.events_to_spark(spark, tiny_events.iloc[:100])
    TBL.write_table(extra, path, mode="append", ts_unit_day=10_000)

    d12 = TBL.snapshot_diff(spark, path, from_id=1, to_id=2)
    assert d12.filter(F.col("change_type") == "delete").count() == 0
    ins = d12.filter(F.col("change_type") == "insert").drop("change_type")
    assert ins.exceptAll(extra.select(*ins.columns)).count() == 0
    assert ins.count() == 100

    # merge: double w for 10 image_ids, delete 5 (keys from the tail —
    # the appended prefix duplicated the first 100 ids, and a merge on
    # a duplicated key would rightly surface BOTH old copies as deletes)
    keys = [
        r["image_id"]
        for r in ev.orderBy(F.col("image_id").desc()).limit(15).collect()
    ]
    upd = (
        ev.filter(F.col("image_id").isin(keys[:10]))
        .withColumn("w", F.col("w") * 2)
        .withColumn("__del", F.lit(False))
    )
    dele = ev.filter(F.col("image_id").isin(keys[10:])).withColumn(
        "__del", F.lit(True)
    )
    TBL.merge_upsert(
        spark, path, upd.unionByName(dele), keys=["image_id"], delete_col="__del"
    )
    d = TBL.snapshot_diff(spark, path, from_id=2)
    # updates: one delete + one insert each; appends since 2: none
    assert d.filter(
        (F.col("change_type") == "insert") & F.col("image_id").isin(keys[:10])
    ).count() == 10
    assert d.filter(
        (F.col("change_type") == "delete") & F.col("image_id").isin(keys[:10])
    ).count() == 10
    assert d.filter(
        (F.col("change_type") == "delete") & F.col("image_id").isin(keys[10:])
    ).count() == 5
    # nothing else churned: every diff row is one of the 15 touched keys
    assert d.filter(~F.col("image_id").isin(keys)).count() == 0

    # identical snapshots -> empty diff; bad ids raise
    assert TBL.snapshot_diff(spark, path, from_id=3, to_id=3).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not found"):
        TBL.snapshot_diff(spark, path, from_id=99)
    with _pytest.raises(ValueError, match="newer"):
        TBL.snapshot_diff(spark, path, from_id=3, to_id=1)


def test_snapshot_diff_across_overwrite_raises(spark, tiny_events, tmp_path):
    path = str(tmp_path / "sdiff_ow")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)
    TBL.write_table(
        ev.limit(10), path, mode="overwrite", ts_unit_day=10_000
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overwrite"):
        TBL.snapshot_diff(spark, path, from_id=1, to_id=2)


def test_rollback_undoes_append_metadata_only(spark, tiny_events, tmp_path):
    import pytest as _pytest

    path = str(tmp_path / "tbl_rb")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)      # snap 1
    n1 = len(tiny_events)
    TBL.write_table(
        fixtures.events_to_spark(spark, tiny_events.iloc[:100]),
        path, mode="append", ts_unit_day=10_000,
    )                                                                    # snap 2
    before = TBL.scan_files(spark, path)
    snap = TBL.rollback(spark, path, to_id=1)                            # snap 3
    assert snap["mode"] == "rollback" and snap["rollback_of"] == 1
    assert snap["added_files"] == []  # pure un-reference, nothing re-added
    assert TBL.scan(spark, path).count() == n1
    # data files untouched on disk (forensics + time travel)
    assert set(TBL.scan_files(spark, path)) < set(before)
    assert TBL.scan(spark, path, snapshot_id=2).count() == n1 + 100
    # changelog consumers must refuse to cross it
    with _pytest.raises(ValueError, match="rollback"):
        TBL.incremental_files(spark, path, after=1)
    # appends continue on the rolled-back state
    TBL.write_table(
        fixtures.events_to_spark(spark, tiny_events.iloc[100:150]),
        path, mode="append", ts_unit_day=10_000,
    )                                                                    # snap 4
    assert TBL.scan(spark, path).count() == n1 + 50


def test_rollback_across_merge_reinstates_replaced_files(spark, tmp_path):
    import pytest as _pytest

    path = str(tmp_path / "tbl_rb_merge")
    rows = [(i, f"e{i % 3}", i * 10_000, float(i + 1)) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, entity string, ts long, v double")
    TBL.write_table(df, path, mode="overwrite", n_buckets=2,
                    ts_unit_day=100_000)                                  # snap 1
    ch = df.filter("id % 5 = 0").withColumn("v", F.col("v") * -1.0)
    TBL.merge_upsert(spark, path, ch, keys=["id"])                        # snap 2
    assert TBL.scan(spark, path).filter("v < 0").count() == 12
    snap = TBL.rollback(spark, path, to_id=1)                             # snap 3
    assert snap["added_files"]  # merge-replaced files re-referenced
    got = TBL.scan(spark, path)
    assert got.count() == 60 and got.filter("v < 0").count() == 0
    # snapshot_diff is exact across the rollback: 2 -> 3 re-inserts the
    # originals and deletes the merge's rewrites
    d = TBL.snapshot_diff(spark, path, from_id=2, to_id=3)
    ins = d.filter("change_type = 'insert'")
    assert ins.count() == 12 and ins.filter("v < 0").count() == 0
    assert d.filter("change_type = 'delete'").count() == 12
    # guard rails
    with _pytest.raises(ValueError, match="head"):
        TBL.rollback(spark, path, to_id=3)
    with _pytest.raises(ValueError, match="not found"):
        TBL.rollback(spark, path, to_id=99)


def test_rollback_refuses_crossing_overwrite(spark, tiny_events, tmp_path):
    import pytest as _pytest

    path = str(tmp_path / "tbl_rb_ow")
    ev = fixtures.events_to_spark(spark, tiny_events)
    TBL.write_table(ev, path, mode="overwrite", ts_unit_day=10_000)      # snap 1
    TBL.write_table(
        fixtures.events_to_spark(spark, tiny_events.iloc[:50]),
        path, mode="overwrite", ts_unit_day=10_000,
    )                                                                    # snap 2
    with _pytest.raises(ValueError, match="overwrite"):
        TBL.rollback(spark, path, to_id=1)


def test_partition_spec_evolution_scan_across_generations(
    spark, tiny_events, tmp_path
):
    """evolve_partition_spec: metadata-only commit; appends inherit the
    new spec; scans prune correctly across BOTH generations (union of
    allowed bucket sets) and still use directory PartitionFilters."""
    import pytest as _pytest

    path = str(tmp_path / "tblev")
    ev = fixtures.events_to_spark(spark, tiny_events)
    half = len(tiny_events) // 2
    TBL.write_table(
        ev.limit(half), path, mode="overwrite", n_buckets=16,
        ts_unit_day=10_000,
    )
    snap = TBL.evolve_partition_spec(spark, path, n_buckets=4)
    assert snap["mode"] == "evolve" and snap["added_files"] == []
    # same-spec evolution refuses
    with _pytest.raises(ValueError, match="nothing to evolve"):
        TBL.evolve_partition_spec(spark, path, n_buckets=4)
    # default write inherits the evolved spec: every new file lands in
    # a bucket dir < 4 (old files keep dirs up to 15)
    rest = ev.exceptAll(ev.limit(half))
    snap3 = TBL.write_table(rest, path, mode="append")
    assert snap3["partition_spec"]["entity_bucket"] == "bucket(4, entity)"
    assert all(
        int(f.split("entity_bucket=")[1].split("/")[0]) < 4
        for f in snap3["added_files"]
    )
    # scan prunes per generation and loses no rows
    pruned = TBL.scan(spark, path, entities=["e0000"])
    plan = _explain(pruned)
    assert "entity_bucket" in plan.split("PartitionFilters")[1].splitlines()[0]
    exp = int((tiny_events.entity == "e0000").sum())
    assert pruned.count() == exp
    full = TBL.scan(spark, path)
    assert full.count() == len(tiny_events)


def test_partition_spec_evolution_survives_expiration(
    spark, tiny_events, tmp_path
):
    """expire_snapshots squashes the chain into a reset point that must
    PRESERVE expired spec generations (spec_history) — otherwise scans
    would prune old-layout files with the wrong bucket arithmetic."""
    path = str(tmp_path / "tblevx")
    ev = fixtures.events_to_spark(spark, tiny_events)
    half = len(tiny_events) // 2
    TBL.write_table(
        ev.limit(half), path, mode="overwrite", n_buckets=16,
        ts_unit_day=10_000,
    )
    TBL.evolve_partition_spec(spark, path, n_buckets=4, ts_unit_day=20_000)
    TBL.write_table(ev.exceptAll(ev.limit(half)), path, mode="append")
    TBL.expire_snapshots(spark, path, keep_last=2)
    head = TBL.current_snapshot(path, spark)
    assert head["partition_spec"]["entity_bucket"] == "bucket(4, entity)"
    snaps = TBL._read_snaps(spark, path + "/metadata")
    assert any(s.get("spec_history") for s in snaps)
    gens = TBL._spec_generations(snaps)
    assert (16, 10_000) in gens and (4, 20_000) in gens
    # pruned scans across the squashed chain still lose nothing
    pruned = TBL.scan(spark, path, entities=["e0001"])
    assert pruned.count() == int((tiny_events.entity == "e0001").sum())
    lo, hi = 15_000, 30_000
    t = TBL.scan(spark, path, ts_min=lo, ts_max=hi)
    assert t.count() == int(
        ((tiny_events.ts >= lo) & (tiny_events.ts <= hi)).sum()
    )


def test_snapshot_tags(spark, tiny_events, tmp_path):
    """Named refs: create/resolve/scan-at-tag, duplicate refuses unless
    replace, retention respects pinned snapshots, delete releases."""
    import pytest as _pytest

    path = str(tmp_path / "tbltag")
    ev = fixtures.events_to_spark(spark, tiny_events)
    half = len(tiny_events) // 2
    TBL.write_table(ev.limit(half), path, mode="overwrite",
                    ts_unit_day=10_000)
    TBL.create_tag(spark, path, "v1")
    TBL.write_table(ev.exceptAll(ev.limit(half)), path)
    assert TBL.resolve_tag(spark, path, "v1") == 1
    assert TBL.scan(spark, path, tag="v1").count() == half
    assert TBL.scan(spark, path).count() == len(tiny_events)
    with _pytest.raises(ValueError, match="already exists"):
        TBL.create_tag(spark, path, "v1")
    TBL.create_tag(spark, path, "v1", snapshot_id=2, replace=True)
    assert TBL.scan(spark, path, tag="v1").count() == len(tiny_events)
    # pin back to snapshot 1: expiration must refuse while pinned
    TBL.create_tag(spark, path, "old", snapshot_id=1)
    with _pytest.raises(ValueError, match="pinned by tags"):
        TBL.expire_snapshots(spark, path, keep_last=1)
    TBL.delete_tag(spark, path, "old")
    assert TBL.expire_snapshots(spark, path, keep_last=1)[
        "n_expired_snapshots"
    ] == 1
    # refs surface in the Iceberg export
    from lbf_spark.sources import iceberg_interop as ICE

    meta = ICE.to_iceberg_metadata(spark, path)
    assert meta["refs"]["v1"] == {"snapshot-id": 2, "type": "tag"}
    assert meta["refs"]["main"]["type"] == "branch"
    with _pytest.raises(ValueError, match="does not exist"):
        TBL.delete_tag(spark, path, "nope")
    with _pytest.raises(ValueError, match="invalid tag"):
        TBL.create_tag(spark, path, "bad/name")


def test_file_stats_driver_path_matches_spark_job(spark, tmp_path, monkeypatch):
    """The pyarrow driver-side stats fast path must be BIT-IDENTICAL to
    the Spark read-back job it replaces for small local writes: same
    keys, same [ts_min, ts_max, n_rows] values, null entities counted
    in n_rows and the ts bounds."""
    import pandas as pd

    def both_paths(rows, name, **kw):
        df = spark.createDataFrame(pd.DataFrame(rows))
        path = str(tmp_path / name)
        snap = TBL.write_table(
            df, path, mode="overwrite", ts_unit_day=10_000, **kw
        )
        data_dir, files = path + "/data", snap["added_files"]
        local = TBL._file_ts_stats_local(data_dir, files)
        assert local is not None and set(local) == set(files)
        with monkeypatch.context() as m:
            # threshold 0 disables the fast path: the Spark job runs
            m.setattr(TBL, "STATS_DRIVER_BYTES", 0)
            assert TBL._file_ts_stats_local(data_dir, files) is None
            via_spark = TBL._file_ts_stats_spark(
                spark, data_dir, files, snap["schema"]
            )
        assert local == via_spark
        # the committed snapshot used one of the two — also identical
        assert snap["file_stats"] == via_spark
        assert all(len(st) == 3 for st in local.values())
        assert sum(st[2] for st in local.values()) == len(rows)
        return local

    rows = []
    # many entities with uneven counts and a null-entity group, spread
    # over ts
    for i, (ent, n) in enumerate(
        [("e01", 5), ("e02", 5), ("e03", 4), ("e04", 4), ("e05", 3),
         ("e06", 3), ("e07", 2), ("e08", 2), ("e09", 2), ("e10", 1),
         (None, 3)]
    ):
        for j in range(n):
            rows.append({"entity": ent, "ts": 1000 * i + j, "v": float(j)})
    both_paths(rows, "stats_tbl")
    # string entities
    rows2 = [{"entity": f"s{i % 3}", "ts": i, "v": 0.0} for i in range(30)]
    both_paths(rows2, "stats_tbl2")
    # long entities, negative ones included, in ONE file
    rows3 = [
        {"entity": ent, "ts": 100 * k + j, "v": 0.0}
        for k, (ent, n) in enumerate(
            [(-1, 3), (-10, 3), (2, 3), (-2, 3), (10, 2), (-3, 2),
             (0, 2), (7, 2), (-7, 2), (70, 2)]
        )
        for j in range(n)
    ]
    (st3,) = both_paths(rows3, "stats_tbl3", n_buckets=1).values()
    assert st3 == [0, 901, len(rows3)]


def test_write_table_failed_land_releases_layout_cache(spark, tmp_path, monkeypatch):
    """A land that fails after filling the layout cache must still
    unpersist it: the session's persisted-RDD set returns to its
    baseline instead of holding the frame until the session dies."""
    import pandas as pd
    import pytest

    jsc = spark.sparkContext._jsc
    base = len(jsc.getPersistentRDDs())
    df = spark.createDataFrame(pd.DataFrame(
        {"entity": ["e0"] * 64, "ts": range(64), "x": range(64), "y": range(64)}
    ))

    def failing_land(spark_, pdf, path):
        pdf.count()  # the land's jobs ran and filled the layout cache
        raise OSError("disk full")

    monkeypatch.setattr(TBL, "_land_data_files", failing_land)
    with pytest.raises(OSError, match="disk full"):
        TBL.write_table(
            df, str(tmp_path / "tbl"), mode="overwrite", layout_cols=["x", "y"]
        )
    assert len(jsc.getPersistentRDDs()) <= base


def test_entity_scan_builds_without_a_job_and_prunes_buckets(spark, tmp_path):
    """Building an entity-pruned scan runs no Spark job (the bucket
    hashes fold in Catalyst and the reader takes the manifest's schema),
    and the read still touches exactly the files of the entities'
    bucket directories, with the same rows as a filtered full scan."""
    path = str(tmp_path / "tblb")
    ev_pd = fixtures.generate_events(n_rows=2000, n_entities=8)
    TBL.write_table(fixtures.events_to_spark(spark, ev_pd), path,
                    mode="overwrite", n_buckets=4, ts_unit_day=10_000)
    ents = sorted(ev_pd.entity.unique())[:2]
    pruned, jobs = build_jobs(spark, lambda: TBL.scan(spark, path, entities=ents))
    assert jobs == []

    keys = ["image_id", "entity", "ts", "entity_bucket"]
    got = sorted(tuple(r[k] for k in keys) for r in pruned.collect())
    want = TBL.scan(spark, path).filter(F.col("entity").isin(ents)).select(*keys)
    assert got == sorted(map(tuple, want.collect()))
    buckets = {r[-1] for r in got}
    files = TBL.scan_files(spark, path)
    in_buckets = [f for f in files
                  if int(f.split("entity_bucket=")[1].split("/")[0]) in buckets]
    # the scan node's own count (inputFiles() ignores partition filters)
    plan = pruned._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    read = [leaves.apply(i).metrics().get("numFiles").get().value()
            for i in range(leaves.size())
            if leaves.apply(i).metrics().contains("numFiles")]
    assert read == [len(in_buckets)] and 0 < len(in_buckets) < len(files)
