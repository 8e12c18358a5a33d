"""Iceberg-style table layout over partitioned parquet.

The north_rule's storage is an Iceberg table of image+caption pairs; no
table-format runtime ships in this sandbox, so this module implements
the parts of that contract the engine actually relies on, on plain
partitioned parquet:

* a **partition spec** `(entity_bucket = hash(entity) % N, ts_day =
  floor(ts / day))` — the bucket keeps any one directory bounded under
  Zipf-skewed entities, the day column gives time-range pruning (the
  Iceberg `bucket(N, entity), days(ts)` transform pair);
* **snapshot manifests**: every write appends a JSON snapshot (schema,
  partition spec, the exact data files the write ADDED, parent pointer)
  — enough lineage to know exactly what a run read, and enough for
  **time travel** (`scan(snapshot_id=…)`) and **incremental reads**
  (`incremental_files` — the Iceberg changelog-read analog);
* **partition pruning**: `scan()` turns entity/time predicates into
  partition-column predicates so the parquet source prunes directories
  (verified via PartitionFilters in the physical plan).

Swapping in real Iceberg later = replacing these writers/readers with
catalog calls; every operator above this layer is unchanged.
"""

from __future__ import annotations

import contextlib
import json
import time

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from lbf_spark.util import local_frame

DAY = 86_400


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the same snapshot id first. Safe to
    retry immediately: every write stages its part files in a unique
    ``.staging/<token>`` dir and records EXACTLY those files in its
    manifest (never a directory diff), and the loser's already-moved
    files are best-effort deleted before this is raised — so a retry
    can neither adopt a previous attempt's data nor double-write rows.
    Any debris a *crashed* writer leaves (staging dirs, moved-but-
    uncommitted parts) stays invisible to readers (scans are
    manifest-driven) until ``remove_orphan_files`` reclaims it."""


def _with_partition_cols(df: DataFrame, n_buckets: int, ts_unit_day: int) -> DataFrame:
    return df.withColumn(
        "entity_bucket", F.pmod(F.xxhash64("entity"), F.lit(n_buckets)).cast("int")
    ).withColumn("ts_day", F.floor(F.col("ts") / F.lit(ts_unit_day)).cast("long"))


def _read_files(
    spark, data_dir: str, files: list[str], schema_json: str
) -> DataFrame:
    """The one reader of table data files: exactly ``files`` (relative
    to ``data_dir``), read under ``schema_json`` — the manifest schema
    of the snapshot the files are visible at — plus the hive partition
    columns. Building it reads no parquet footer, so it runs no Spark
    job (a read handed more than 32 paths still runs Spark's parallel
    file listing). Add-column-only evolution keeps every such file's
    columns a same-typed subset of that schema, so the columns a file
    predates read as NULL. The partition columns are typed
    ``entity_bucket`` int and ``ts_day`` long whatever their values.
    No files: an empty frame of the same schema."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from lbf_spark import fsio

    schema = StructType(
        StructType.fromJson(json.loads(schema_json)).fields
        + [
            StructField("entity_bucket", IntegerType(), True),
            StructField("ts_day", LongType(), True),
        ]
    )
    if not files:
        return local_frame(spark, [], schema)
    return (
        spark.read.option("basePath", data_dir)
        .schema(schema)
        .parquet(*[fsio.join(data_dir, f) for f in files])
    )


def _parse_spec(spec: dict) -> tuple[int, int]:
    """``partition_spec`` manifest entry → (n_buckets, ts_unit_day)."""
    n_buckets = int(spec["entity_bucket"].split("(")[1].split(",")[0])
    ts_unit = int(spec["ts_day"].rsplit("/", 1)[1].rstrip(") ").strip())
    return n_buckets, ts_unit


def _spec(n_buckets: int, ts_unit_day: int) -> dict:
    """(n_buckets, ts_unit_day) → ``partition_spec`` manifest entry,
    the inverse of ``_parse_spec``."""
    return {
        "entity_bucket": f"bucket({n_buckets}, entity)",
        "ts_day": f"floor(ts / {ts_unit_day})",
    }


def _snap_names(spark, meta_dir: str) -> list[str]:
    """The snapshot manifests' file names in ``meta_dir``, oldest first."""
    from lbf_spark import fsio

    return [
        f for f in fsio.list_names(spark, meta_dir)
        if f.startswith("snap-") and f.endswith(".json")
    ]


def _spec_generations(
    snaps: list[dict], snapshot_id: int | None = None
) -> set[tuple[int, int]]:
    """Every (n_buckets, ts_unit_day) generation the chain has carried
    — each snapshot's own spec plus any ``spec_history`` a reset point
    preserved from expired manifests. Scans prune with the UNION of
    the generations' allowed-partition sets: a visible file was
    written (or compaction-preserved) under SOME generation, so the
    union is a conservative superset — never a wrong prune — and the
    exact row predicates run on top."""
    gens: set[tuple[int, int]] = set()
    for s in snaps:
        if snapshot_id is not None and s["snapshot_id"] > snapshot_id:
            break
        gens.add(_parse_spec(s["partition_spec"]))
        for old in s.get("spec_history") or []:
            gens.add(_parse_spec(old))
    return gens


def _check_schema_evolution(prev_schema_json: str, new_schema) -> list[str]:
    """Add-column-only schema evolution (the Iceberg ``union`` subset
    this layer supports): every previously-present column must keep its
    name and type; brand-new columns are allowed and NULL-fill on read
    for older files. Rename / drop / type-change raise — they would
    silently corrupt older snapshots' reads. Returns the new columns."""
    from pyspark.sql.types import StructType

    prev = StructType.fromJson(json.loads(prev_schema_json))
    new_by_name = {f.name: f for f in new_schema.fields}
    for f in prev.fields:
        if f.name not in new_by_name:
            raise ValueError(
                f"schema evolution: column {f.name!r} missing from the "
                "appended frame — drop/rename is unsupported (older "
                "snapshots would read corrupt); add-column only"
            )
        if new_by_name[f.name].dataType != f.dataType:
            raise ValueError(
                f"schema evolution: column {f.name!r} changed type "
                f"{f.dataType.simpleString()} -> "
                f"{new_by_name[f.name].dataType.simpleString()} — type "
                "changes are unsupported; add a new column instead"
            )
    return [f.name for f in new_schema.fields if f.name not in
            {p.name for p in prev.fields}]


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    n_buckets: int | None = None,
    ts_unit_day: int | None = None,
    layout_cols: list[str] | None = None,
    layout_bits: int = 8,
    layout_files: int = 8,
    batch_id: int | None = None,
) -> dict:
    """Partitioned write + snapshot manifest. Returns the snapshot.

    ``path`` may be local, ``file:``-prefixed, or a DFS URI — all
    metadata IO goes through the Hadoop FileSystem API (``fsio``), the
    same requirement Iceberg itself has of its warehouse location.

    Appends may ADD columns (recorded in the snapshot schema; older
    files NULL-fill on read) but never drop/rename/retype — validated
    against the current snapshot before any data lands.

    ``layout_cols`` z-orders the write (Iceberg/Delta ``ZORDER BY``):
    rows are range-partitioned and sorted by the Morton key over those
    columns before writing, so parquet min/max stats cluster in EVERY
    listed dimension and multi-column predicates prune files, not just
    the leading key. The key column itself is dropped before write —
    the clustering is carried by row order.

    ``batch_id`` (a streaming sink's micro-batch id) is recorded in the
    manifest with the raised ``batch_hwm`` inside the SAME exclusive
    commit (see ``_commit``) — a post-commit patch would leave a crash
    window where the snapshot is committed but not yet
    idempotency-tagged.

    ``mode="overwrite"`` is LOGICAL (Iceberg semantics): the new
    snapshot's ``overwrite`` mode resets the visible file set at
    replay; pre-overwrite data files stay on disk until
    ``remove_orphan_files`` reclaims them. Physically deleting them
    here would race a concurrent writer — a losing overwrite would
    wipe the winner's just-committed files before the manifest race
    was decided."""
    from pyspark import StorageLevel

    spark = df.sparkSession
    cur = current_snapshot(path, spark)
    prev = cur if mode == "append" else None
    if prev is not None:
        _check_schema_evolution(prev["schema"], df.schema)
    # None = inherit the table's CURRENT spec (the evolve_partition_spec
    # contract: appends after an evolution land under the new layout
    # without every caller re-stating it); fresh tables default 16/DAY
    cur_spec = _parse_spec(cur["partition_spec"]) if cur else (16, DAY)
    n_buckets = int(n_buckets) if n_buckets is not None else cur_spec[0]
    ts_unit_day = (
        int(ts_unit_day) if ts_unit_day is not None else cur_spec[1]
    )
    pdf = _with_partition_cols(df, n_buckets, ts_unit_day)
    if layout_cols:
        from lbf_spark.util import fan_out

        keyed = zorder_key(pdf, layout_cols, bits=layout_bits, out="__z")
        # fan_out: repartitionByRange first runs a SAMPLE job over its
        # child — on a narrow single-row-group scan that sampling (and
        # the range shuffle's map side) runs on ONE task (measured r7:
        # a 2 s single-task stage in the q105 write). Round-robin
        # spreading first is a no-op on multi-file production scans.
        # The persist makes the sample job and the write job share ONE
        # evaluation of the scan+key lineage (the sampler otherwise
        # re-executes it in full — measured r7: ~1.6 s of the q105
        # land); released right after the land below.
        _layout_cache = fan_out(keyed).persist(StorageLevel.MEMORY_AND_DISK)
        pdf = (
            _layout_cache
            .repartitionByRange(layout_files, "entity_bucket", "ts_day", "__z")
            .sortWithinPartitions("entity_bucket", "ts_day", "__z")
            .drop("__z")
        )
    else:
        _layout_cache = None
        # Hash-distribute NARROW inputs by the partition cols before
        # landing (Iceberg's write.distribution-mode=hash, same as
        # merge_upsert): one file per touched partition dir instead of
        # one per (upstream task × dir) — bounded file counts and
        # write parallelism = number of touched dirs regardless of the
        # scan's split count (guide §6 output sizing). A caller that
        # already shuffled (repartition/groupBy upstream) has chosen
        # its layout — leave it alone (same plan-string probe as
        # util.fan_out; nothing executes).
        from lbf_spark.util import _plan_probe

        if not _plan_probe(pdf)[0]:
            pdf = pdf.repartition("entity_bucket", "ts_day")
    try:
        added = _land_data_files(spark, pdf, path)
    finally:
        if _layout_cache is not None:
            _layout_cache.unpersist()
    # the head as listed AFTER the land: a snapshot another writer
    # committed during the land becomes this one's parent, not a rival
    return _commit(
        spark, path, current_snapshot(path, spark), mode=mode,
        schema=df.schema.json(), spec=_spec(n_buckets, ts_unit_day),
        added=added, batch_id=batch_id,
    )


#: write-path physical mode: "staged" (stage-then-adopt — the safe
#: default: exactly-once under retry/concurrency) or "direct" (the
#: pre-r5 semantics: write straight into data/ and dir-diff for the
#: added list — UNSAFE under concurrent writers/retries; retained ONLY
#: as the control arm of the staged-write A/B benchmark).
LAND_MODE = "staged"

#: running wall-time totals (seconds) of the table writes' components
#: {"land": …, "stats": …, "commit": …} since the last reset —
#: observability for the bench decomposition; not a public API.
WRITE_PROFILE_TOTALS: dict = {}


def reset_write_profile() -> None:
    WRITE_PROFILE_TOTALS.clear()


@contextlib.contextmanager
def _timed(key: str):
    """Add the wall time of the enclosed block to write-profile
    component ``key``."""
    t0 = time.time()
    try:
        yield
    finally:
        WRITE_PROFILE_TOTALS[key] = round(
            WRITE_PROFILE_TOTALS.get(key, 0.0) + time.time() - t0, 4
        )


def _land_data_files(spark, pdf: DataFrame, path: str) -> list[str]:
    with _timed("land"):
        if LAND_MODE == "direct":
            return _land_data_files_direct(spark, pdf, path)
        return _land_data_files_staged(spark, pdf, path)


def _land_data_files_direct(spark, pdf: DataFrame, path: str) -> list[str]:
    """Control arm of the staged-write A/B: append parquet directly
    into ``data/`` and compute the added list as a before/after dir
    diff (round-4 behavior). Measures the pure land cost without the
    adopt moves; NOT safe under concurrent writers or retried jobs —
    benchmark use only (see LAND_MODE)."""
    from lbf_spark import fsio

    data_dir = fsio.join(path, "data")
    before = {
        f["path"]
        for f in fsio.list_files_recursive(spark, data_dir, ".parquet")
    } if fsio.exists(spark, data_dir) else set()
    pdf.write.mode("append").partitionBy("entity_bucket", "ts_day").parquet(
        data_dir
    )
    after = [
        f["path"] for f in fsio.list_files_recursive(spark, data_dir, ".parquet")
    ]
    return sorted(p for p in after if p not in before)


def _land_data_files_staged(spark, pdf: DataFrame, path: str) -> list[str]:
    """Stage-then-adopt data write: land the partitioned parquet under a
    unique ``.staging/<token>`` dir, move exactly those part files into
    ``data/`` (same partition-relative path — Spark's per-job UUID in
    part names makes collisions impossible), and return their relative
    paths. The added-file list comes FROM THE WRITE ITSELF, never from
    diffing the data dir — so debris left by a crashed or race-losing
    writer is never silently adopted into a later snapshot, and a
    retried write cannot double-adopt its first attempt's rows (the
    round-4 concurrent-retry duplication hazard)."""
    import uuid as _uuid

    from lbf_spark import fsio

    staging = fsio.join(path, ".staging", _uuid.uuid4().hex[:16])
    pdf.write.mode("overwrite").partitionBy("entity_bucket", "ts_day").parquet(
        staging
    )
    parts = [
        f["path"] for f in fsio.list_files_recursive(spark, staging, ".parquet")
    ]
    data_dir = fsio.join(path, "data")
    # adopt moves are per-file metadata RPCs (same class Iceberg commits
    # pay per manifest entry) — issue them from a small thread pool so
    # NameNode round-trips overlap instead of serializing on the driver
    from concurrent.futures import ThreadPoolExecutor

    def _mv(rel: str) -> None:
        fsio.move_file(spark, fsio.join(staging, rel), fsio.join(data_dir, rel))

    if len(parts) > 4:
        with ThreadPoolExecutor(max_workers=16) as pool:
            list(pool.map(_mv, parts))
    else:
        for rel in parts:
            _mv(rel)
    fsio.delete(spark, staging, recursive=True)
    return sorted(parts)


def batch_high_water(head: dict | None) -> int:
    """The highest streaming batch id durable in a table whose latest
    snapshot is ``head``; -1 when there is no batch history (or no
    table). Every batch commit raises the manifest's ``batch_hwm`` and
    every other commit carries the head's forward (``_commit``), so a
    sink's replay check reads the latest manifest alone."""
    return -1 if head is None else int(head.get("batch_hwm", -1))


def _commit(
    spark,
    path: str,
    head: dict | None,
    *,
    mode: str,
    schema: str,
    spec: dict,
    added: list[str],
    removed: list[str] | None = None,
    batch_id: int | None = None,
    rollback_of: int | None = None,
) -> dict:
    """Commit the snapshot that follows ``head`` (None: the table's
    first) and return it — the one writer of the manifest format.

    The snapshot gets id ``head + 1`` with ``head``'s manifest as its
    parent, the per-file stats of ``added`` (read under ``schema``),
    and ``removed_files``/``rollback_of`` when given. ``batch_id``
    records a sink's micro-batch and raises ``batch_hwm`` to at least
    it; any other commit carries ``head``'s ``batch_hwm``, so a
    compaction, spec evolution, rollback or plain write between two
    sink batches keeps the sink's replay check a one-manifest read.

    The manifest write is exclusive: on losing the snapshot-id race
    this best-effort deletes the data files this attempt landed, so a
    retry starts clean, and raises ConcurrentWriteError. A rollback's
    ``added`` are re-added files other snapshots own: never deleted."""
    from lbf_spark import fsio

    sid = head["snapshot_id"] + 1 if head is not None else 1
    data_dir = fsio.join(path, "data")
    snapshot = {
        "snapshot_id": sid,
        "parent": f"snap-{head['snapshot_id']:05d}.json" if head else None,
        "schema": schema,
        "partition_spec": spec,
        "added_files": added,
        "file_stats": _file_ts_stats(spark, data_dir, added, schema),
        "mode": mode,
    }
    if removed is not None:
        snapshot["removed_files"] = removed
    if rollback_of is not None:
        snapshot["rollback_of"] = rollback_of
    if batch_id is not None:
        snapshot["batch_id"] = batch_id
        snapshot["batch_hwm"] = max(batch_high_water(head), batch_id)
    elif head is not None and "batch_hwm" in head:
        snapshot["batch_hwm"] = head["batch_hwm"]
    with _timed("commit"):
        try:  # optimistic concurrency: exactly one writer claims this id
            fsio.write_text_exclusive(
                spark,
                fsio.join(path, "metadata", f"snap-{sid:05d}.json"),
                json.dumps(snapshot, indent=1),
            )
        except FileExistsError as e:
            if mode != "rollback":
                for rel in added:
                    try:
                        fsio.delete(spark, fsio.join(data_dir, rel))
                    except Exception:
                        pass  # leftover becomes an orphan; remove_orphan_files reclaims
            raise ConcurrentWriteError(str(e)) from e
    return snapshot


def _file_ts_stats(spark, data_dir: str, files: list[str], schema_json: str) -> dict:
    """Per-added-file column stats — the Iceberg per-file stats that
    make FILE skipping (not just partition pruning) work, plus the row
    count ``iceberg_interop`` exports as ``record_count``.
    Returns ``{relative_path: [ts_min, ts_max, n_rows]}``.
    ``schema_json`` is the schema the files were written under (the
    committing snapshot's)."""
    with _timed("stats"):
        if not files:
            return {}
        fast = _file_ts_stats_local(data_dir, files)
        if fast is not None:
            return fast
        return _file_ts_stats_spark(spark, data_dir, files, schema_json)


#: driver-side stats fast path: total added bytes at or under this run
#: the per-file stats scan in the driver with pyarrow (no Spark job —
#: ~10 ms vs ~0.2-0.3 s of pure job-scheduling overhead for a
#: metadata-scale read-back; measured r7 as 1-2 such jobs per write in
#: q101/q105). Local file:// paths only; bigger writes and DFS paths
#: keep the distributed read-back, so at warehouse scale this is inert.
STATS_DRIVER_BYTES = 32 * 1024 * 1024


def _file_ts_stats_local(data_dir: str, files: list[str]) -> dict | None:
    """Bit-identical driver-side implementation of the per-file stats
    for SMALL LOCAL writes, or None to use the Spark read-back.
    Matches ``_file_ts_stats_spark`` exactly, empty files omitted;
    equality with the Spark job is pinned by a pytest."""
    import os as _os

    import pyarrow as _pa
    import pyarrow.compute as _pc
    import pyarrow.parquet as _pq

    if data_dir.startswith("file://"):
        base = data_dir[len("file://"):]
    elif "://" in data_dir:
        return None
    else:
        base = data_dir
    paths = [_os.path.join(base, f) for f in files]
    try:
        if sum(_os.path.getsize(p) for p in paths) > STATS_DRIVER_BYTES:
            return None
    except OSError:
        return None
    out = {}
    for rel, p in zip(files, paths):
        try:
            schema = _pq.read_schema(p)
        except Exception:
            return None
        if "ts" not in schema.names:
            return None
        if not _pa.types.is_integer(schema.field("ts").type):
            return None  # Spark path raises on non-numeric ts; keep it
        t = _pq.read_table(p, columns=["ts"])
        if t.num_rows == 0:
            continue  # the Spark groupBy emits no row for empty files
        mm = _pc.min_max(t.column("ts"))
        mn, mx = mm["min"].as_py(), mm["max"].as_py()
        out[rel] = [
            int(mn) if mn is not None else None,
            int(mx) if mx is not None else None,
            int(t.num_rows),
        ]
    return out


def _file_ts_stats_spark(
    spark, data_dir: str, files: list[str], schema_json: str
) -> dict:
    """The reference implementation of ``_file_ts_stats``: one
    metadata-scale Spark job over exactly the given files (Iceberg
    collects these in the write tasks themselves; a read-back is the
    parquet-shim equivalent)."""
    rows = (
        _read_files(spark, data_dir, files, schema_json)
        .groupBy(F.input_file_name().alias("__f"))
        .agg(
            F.min("ts").alias("mn"),
            F.max("ts").alias("mx"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    )
    out = {}
    for r in rows:
        rel = r["__f"][r["__f"].rindex("/data/") + 6:]
        mn = int(r["mn"]) if r["mn"] is not None else None
        mx = int(r["mx"]) if r["mx"] is not None else None
        out[rel] = [mn, mx, int(r["n_rows"])]
    return out


def _read_snaps(spark, meta_dir: str) -> list[dict]:
    """Load the snapshot chain. Refuses a MID-CHAIN gap in snapshot ids:
    a missing middle manifest (e.g. a reader racing write_text_atomic's
    delete+rename fallback while expire_snapshots rewrites its reset
    point) would silently drop that snapshot's added_files while later
    snapshots remain — a transiently WRONG (shrunken) table, not an
    empty one. A missing PREFIX is legitimate (snapshot expiration
    deletes the oldest manifests)."""
    from lbf_spark import fsio

    snaps = [
        json.loads(fsio.read_text(spark, fsio.join(meta_dir, n)))
        for n in _snap_names(spark, meta_dir)
    ]
    ids = [s["snapshot_id"] for s in snaps]
    if ids and ids != list(range(ids[0], ids[0] + len(ids))):
        raise ValueError(
            f"snapshot chain has a mid-chain gap (ids {ids}) — a manifest "
            "is missing or a concurrent manifest rewrite is in flight; "
            "retry the read"
        )
    return snaps


def _replay_files(
    snaps: list[dict], as_of: int | None = None
) -> dict:
    """Replay the snapshot chain up to ``as_of`` (default: latest) —
    Iceberg's manifest-list reachability, one JSON per snapshot here.
    The one walk of the chain every reader and maintenance op takes.

    Returns ``{"visible", "known", "stats", "snapshot"}``: *visible* is
    the live file set (added minus merge-removed, reset at each
    overwrite); *known* is every file written since the last overwrite
    — a merge keeps its replaced files ON DISK so older snapshots stay
    readable, and ``write_table`` needs *known* (not *visible*) to tell
    which on-disk files a fresh append actually created; *stats* is
    every replayed manifest's ``file_stats`` merged by file; *snapshot*
    is the ``as_of`` snapshot itself (None for an empty chain), whose
    schema types reads of *visible*. Raises if ``as_of`` predates the
    last overwrite — those files left the tracked chain (an overwrite
    is a logical reset; the physical files linger only until
    ``remove_orphan_files``), so travel across it is undefined."""
    if as_of is not None and any(
        s["mode"] == "overwrite" and s["snapshot_id"] > as_of for s in snaps
    ):
        raise ValueError(
            f"snapshot {as_of} predates an overwrite — its data files "
            "no longer exist (this shim does not retain overwritten files)"
        )
    visible: list[str] = []
    known: list[str] = []
    stats: dict = {}
    snapshot = None
    for s in snaps:
        if as_of is not None and s["snapshot_id"] > as_of:
            break
        if s["mode"] == "overwrite":
            visible = []
            known = []
        if "added_files" not in s:
            raise ValueError(
                f"snapshot {s['snapshot_id']} has no added_files list — "
                "manifest predates file tracking; time travel/incremental "
                "reads need manifests written by this table layer"
            )
        visible.extend(s["added_files"])
        known.extend(s["added_files"])
        removed = set(s.get("removed_files", []))
        if removed:
            visible = [f for f in visible if f not in removed]
        stats.update(s.get("file_stats") or {})
        snapshot = s
    return {"visible": visible, "known": known, "stats": stats, "snapshot": snapshot}


def current_snapshot(path: str, spark: SparkSession | None = None) -> dict | None:
    from lbf_spark import fsio

    spark = spark or SparkSession.getActiveSession()
    meta_dir = fsio.join(path, "metadata")
    names = _snap_names(spark, meta_dir)
    if not names:
        return None
    return json.loads(fsio.read_text(spark, fsio.join(meta_dir, names[-1])))


def incremental_files(
    spark: SparkSession, path: str, after: int, until: int | None = None
) -> list[str]:
    """Data files added by snapshots in (after, until] — the Iceberg
    incremental/changelog read: a consumer that processed snapshot
    ``after`` reads exactly the new files, never rescanning the table.
    Raises if an overwrite happened in the range (a changelog consumer
    must restart from the overwrite)."""
    from lbf_spark import fsio

    snaps = _read_snaps(spark, fsio.join(path, "metadata"))
    picked: list[str] = []
    for s in snaps:
        sid = s["snapshot_id"]
        if sid <= after or (until is not None and sid > until):
            continue
        if s["mode"] == "overwrite":
            raise ValueError(
                f"snapshot {sid} is an overwrite — incremental reads "
                "across it are undefined; re-read the table from scratch"
            )
        if s["mode"] == "merge":
            raise ValueError(
                f"snapshot {sid} is a merge — its added files mix "
                "carried-over rows with upserts, so an append-only "
                "changelog read across it would double-count; re-read "
                "the table (or consume the merge's change set upstream)"
            )
        if s["mode"] == "rollback":
            raise ValueError(
                f"snapshot {sid} is a rollback — its added files are "
                "RE-ADDED old files a changelog consumer already "
                "processed, and the files it removes were already "
                "delivered; re-read the table (or diff with "
                "snapshot_diff, which is exact across rollbacks)"
            )
        if "added_files" not in s:
            raise ValueError(
                f"snapshot {sid} has no added_files list — manifest "
                "predates file tracking; incremental reads need manifests "
                "written by this table layer"
            )
        picked.extend(s["added_files"])
    data_dir = fsio.join(path, "data")
    return [fsio.join(data_dir, f) for f in picked]


def snapshot_diff(
    spark: SparkSession, path: str, from_id: int, to_id: int | None = None
) -> DataFrame:
    """Row-level changelog between two snapshots — the Iceberg
    changelog-table read that works ACROSS merges (where
    :func:`incremental_files` must refuse): returns every row
    inserted or deleted between ``from_id`` and ``to_id`` (default:
    head) tagged ``change_type in ('insert','delete')``; a merge
    update surfaces as delete(old row) + insert(new row).

    Exactness without rescanning: data files are immutable, so rows in
    files visible at BOTH snapshots cannot have changed — the diff
    reads ONLY the symmetric difference of the two visible-file sets
    and takes multiset differences (``exceptAll``) of those rows.
    Carried-over rows inside a copy-on-write rewrite cancel out; the
    shuffle is bounded by the CHURNED files, never table size — at
    100 TB a 1 % merge diffs 1 % of the data. Hive partition columns
    are dropped (derived from the row); both sides are read under the
    ``to_id`` snapshot's manifest schema, so a column added in the
    window reads NULL for older files, and old rows show as
    delete(without) + insert(with) only if their files were rewritten.
    A window crossing an OVERWRITE raises (via the snapshot replay):
    this shim deletes overwritten files, so the pre-overwrite state is
    gone — real Iceberg retains them until expiration and could diff
    across."""
    from lbf_spark import fsio

    snaps = _read_snaps(spark, fsio.join(path, "metadata"))
    ids = {s["snapshot_id"] for s in snaps}
    if to_id is None:
        to_id = max(ids)
    for sid in (from_id, to_id):
        if sid not in ids:
            raise ValueError(f"snapshot {sid} not found (have {sorted(ids)})")
    if from_id > to_id:
        raise ValueError(f"from_id {from_id} is newer than to_id {to_id}")
    files_a = set(_replay_files(snaps, as_of=from_id)["visible"])
    at_to = _replay_files(snaps, as_of=to_id)
    files_b = set(at_to["visible"])
    data_dir = fsio.join(path, "data")

    def read_side(files: set) -> DataFrame:
        return _read_files(
            spark, data_dir, sorted(files), at_to["snapshot"]["schema"]
        ).drop("entity_bucket", "ts_day")

    a = read_side(files_a - files_b)
    b = read_side(files_b - files_a)
    cols = b.columns
    ins = b.exceptAll(a).select(F.lit("insert").alias("change_type"), *cols)
    dele = a.exceptAll(b).select(F.lit("delete").alias("change_type"), *cols)
    return ins.unionByName(dele)


def rollback(spark: SparkSession, path: str, to_id: int) -> dict:
    """Metadata-only rollback (Iceberg ``rollback_to_snapshot``): commit
    a NEW snapshot whose visible file set equals snapshot ``to_id``'s —
    bad appends/merges are undone by MOVING THE POINTER, never by
    touching data files, so the operation is O(metadata) at any table
    size and the bad snapshots stay readable for forensics (time travel
    still sees them; ``expire_snapshots`` reclaims them later).

    Works ACROSS merges: a copy-on-write merge keeps its replaced files
    on disk, so re-adding them is pure manifest bookkeeping. Raises if
    ``to_id`` predates an overwrite (those files are gone — this shim
    does not retain overwritten files) or is not an ancestor state.
    Schema and partition spec revert with the data (a rolled-back
    add-column evolution disappears). The new snapshot participates in
    the SAME optimistic exclusive-commit protocol as every writer, so
    a rollback racing a concurrent append loses (or wins) atomically —
    never a merged half-state.

    Changelog consumers: ``incremental_files`` refuses to cross a
    rollback (re-added files were already delivered);
    ``snapshot_diff`` is exact across it (symmetric file-set
    difference). A streaming sink's ``batch_hwm`` is carried forward
    (``_commit``): the rollback undoes the rolled-back batches' data,
    not their delivery, so replaying one of those batch ids stays a
    no-op; data to restore is written again as a new batch or a plain
    write."""
    from lbf_spark import fsio

    meta_dir = fsio.join(path, "metadata")
    snaps = _read_snaps(spark, meta_dir)
    if not snaps:
        raise ValueError(f"no snapshots at {path}")
    ids = [s["snapshot_id"] for s in snaps]
    head = ids[-1]
    if to_id not in ids:
        raise ValueError(f"snapshot {to_id} not found (have {ids})")
    if to_id >= head:
        raise ValueError(
            f"rollback target {to_id} is the current head {head} — nothing to undo"
        )
    at_tgt = _replay_files(snaps, as_of=to_id)  # raises across overwrite
    target, tgt_snap = at_tgt["visible"], at_tgt["snapshot"]
    current = _replay_files(snaps)["visible"]
    cur_set, tgt_set = set(current), set(target)
    re_added = [f for f in target if f not in cur_set]
    removed = [f for f in current if f not in tgt_set]
    # stats for re-added files are recomputed, not copied: the source
    # manifests may already be expired
    return _commit(
        spark, path, snaps[-1], mode="rollback", schema=tgt_snap["schema"],
        spec=tgt_snap["partition_spec"], added=re_added, removed=removed,
        rollback_of=to_id,
    )


def evolve_partition_spec(
    spark: SparkSession,
    path: str,
    n_buckets: int | None = None,
    ts_unit_day: int | None = None,
) -> dict:
    """Partition-spec EVOLUTION (Iceberg spec evolution, the metadata
    answer to "our bucket count no longer fits the data"): commit a
    new snapshot that changes the table's ``partition_spec`` and
    nothing else. Existing data files keep their directory layout and
    keep pruning under the generation they were written with (``scan``
    unions the allowed-partition sets across every generation in the
    chain — conservative, never a wrong prune); data appended after
    this commit lands under the new spec, because ``write_table``
    inherits the CURRENT spec when the caller doesn't override.

    At 10^12 rows this is the whole point: re-bucketing the table
    physically is a full rewrite (a non-job at 100 TB); evolving the
    spec is ONE manifest write, and the layout converges file-by-file
    as compaction and merges rewrite old regions. Raises if the
    requested spec equals the current one (an empty evolution would
    burn a snapshot id for nothing).

    Reference: Iceberg spec §4 "Partition Evolution" (public spec);
    no LBF analog (the reference has no table layer)."""
    from lbf_spark import fsio

    meta_dir = fsio.join(path, "metadata")
    snaps = _read_snaps(spark, meta_dir)
    if not snaps:
        raise ValueError("evolve_partition_spec needs an existing table")
    cur_nb, cur_unit = _parse_spec(snaps[-1]["partition_spec"])
    nb = int(n_buckets) if n_buckets is not None else cur_nb
    unit = int(ts_unit_day) if ts_unit_day is not None else cur_unit
    if (nb, unit) == (cur_nb, cur_unit):
        raise ValueError(
            f"partition spec already (bucket={nb}, unit={unit}) — "
            "nothing to evolve"
        )
    return _commit(
        spark, path, snaps[-1], mode="evolve", schema=snaps[-1]["schema"],
        spec=_spec(nb, unit), added=[],
    )


def merge_upsert(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
    batch_id: int | None = None,
) -> dict:
    """Apply a changelog to the current snapshot — the write-side of
    q84's CDC latest-state semantics (Iceberg ``MERGE INTO`` with
    copy-on-write): rows in ``changes`` REPLACE same-key table rows,
    new keys are inserted, and rows flagged true in ``delete_col``
    (if given) are deleted. ``changes`` must carry exactly the table's
    columns (plus the flag) and at most one row per key — dedupe a raw
    CDC stream to latest-per-key first (``queries.q84``'s shape).

    Copy-on-write at FILE granularity, like Iceberg: only data files
    that actually contain a matching key are rewritten (matched via an
    ``input_file_name`` semi-join — one pass, no collect of data rows);
    untouched files carry over by reference. Replaced files stay on
    disk so pre-merge snapshots remain time-travelable; the new
    snapshot's manifest records them in ``removed_files`` and the
    rewritten+inserted files in ``added_files``; ``batch_id`` is
    recorded as in ``write_table``. Both reads take the
    head snapshot's manifest schema, so a file written before an
    add-column evolution reads (and is rewritten) with the new column
    NULL.

    Shape at 100 TB: the semi-join shuffles on the merge keys (both
    sides partial-pruned — AQE broadcasts the changelog when it fits);
    the rewrite reads/writes only the affected files, which partition
    pruning bounds to the changelog's (bucket, day) footprint."""
    from pyspark.sql.types import StructType

    from lbf_spark import fsio

    meta_dir = fsio.join(path, "metadata")
    snaps = _read_snaps(spark, meta_dir)
    if not snaps:
        raise ValueError("merge_upsert needs an existing table snapshot")
    head = snaps[-1]
    spec = head["partition_spec"]
    n_buckets, ts_unit_day = _parse_spec(spec)
    cur_schema = StructType.fromJson(json.loads(head["schema"]))
    data_cols = [f.name for f in cur_schema.fields]
    chg_cols = [c for c in changes.columns if c != delete_col]
    if sorted(chg_cols) != sorted(data_cols):
        raise ValueError(
            f"changes columns {sorted(chg_cols)} must equal the table's "
            f"{sorted(data_cols)} (plus the optional delete flag)"
        )
    missing = [k for k in keys if k not in data_cols]
    if missing:
        raise ValueError(f"merge keys {missing} not in table columns")

    data_dir = fsio.join(path, "data")
    visible = _replay_files(snaps)["visible"]
    keyed_changes = changes.select(*keys).distinct()
    if visible:
        cur = _read_files(spark, data_dir, visible, head["schema"])
        affected_abs = [
            r["__f"]
            for r in cur.withColumn("__f", F.input_file_name())
            .join(keyed_changes, keys, "left_semi")
            .select("__f")
            .distinct()
            .collect()
        ]
        affected = sorted({a[a.rindex("/data/") + 6:] for a in affected_abs})
    else:  # everything previously merged away: pure-insert merge
        affected = []
    upserts = changes
    if delete_col is not None:
        upserts = upserts.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    upserts = upserts.select(*data_cols)
    if affected:
        aff_df = _read_files(spark, data_dir, affected, head["schema"])
        new_rows = aff_df.select(*data_cols).join(
            keyed_changes, keys, "left_anti"
        ).unionByName(upserts)
    else:
        new_rows = upserts
    # hash-distribute by the partition cols before landing (Iceberg's
    # write.distribution-mode=hash): one file per touched partition dir
    # instead of one per (task × dir) — a merge that rewrites k files
    # lands ~k files, not k × shuffle-partitions
    pdf = _with_partition_cols(new_rows, n_buckets, ts_unit_day).repartition(
        "entity_bucket", "ts_day"
    )
    new_files = _land_data_files(spark, pdf, path)
    return _commit(
        spark, path, head, mode="merge", schema=head["schema"], spec=spec,
        added=new_files, removed=affected, batch_id=batch_id,
    )


def scan(
    spark: SparkSession,
    path: str,
    entities: list[str] | None = None,
    ts_min: int | None = None,
    ts_max: int | None = None,
    snapshot_id: int | None = None,
    tag: str | None = None,
) -> DataFrame:
    """Pruned scan: entity/time predicates are rewritten onto the
    partition columns (bucket list, day range) so the source skips whole
    directories — the engine-side half of Iceberg's partition-transform
    pruning. The exact row-level predicate is applied on top.

    ``snapshot_id`` time-travels: only the data files visible at that
    snapshot are read (basePath keeps the hive partition columns), back
    to the most recent overwrite.

    The read is manifest-driven (the snapshot's visible file list, not
    a directory listing) — after a merge the replaced files are still
    on disk for time travel, so a raw directory read would double-count
    their rows. The columns are that snapshot's manifest schema followed
    by ``entity_bucket`` (int) and ``ts_day`` (long); files written
    before an add-column evolution read the new columns as NULL. A path
    with no snapshots raises.

    Time predicates prune at THREE levels: per-file min/max ``ts``
    stats from the manifests drop whole files before the reader is
    even built (Iceberg file skipping — finer than day directories
    when several files share a day); the ``ts_day`` partition filter
    prunes directories; the exact row predicate runs on what remains."""
    from lbf_spark import fsio

    if tag is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id or tag, not both")
        snapshot_id = resolve_tag(spark, path, tag)
    snaps = _read_snaps(spark, fsio.join(path, "metadata"))
    if not snaps:
        raise ValueError(f"scan needs an existing table snapshot at {path}")
    at = _replay_files(snaps, as_of=snapshot_id)
    files = _stats_pruned_files(at["visible"], at["stats"], ts_min, ts_max)
    df = _read_files(
        spark, fsio.join(path, "data"), files, at["snapshot"]["schema"]
    )
    # partition pruning is SPEC-GENERATION aware: the allowed bucket/day
    # sets union over every spec the chain carried
    # (evolve_partition_spec) — a conservative superset, so files from
    # any generation prune correctly under the spec they were written
    # with
    gens = _spec_generations(snaps, snapshot_id)
    if entities:
        # the write side's bucket expression over literals: Catalyst
        # folds each to a constant, so the partition filter still prunes
        # and building the scan runs no job
        widths = sorted({nb for nb, _u in gens})
        buckets = [
            F.pmod(F.xxhash64(F.lit(e).cast("string")), F.lit(nb)).cast("int")
            for e in entities
            for nb in widths
        ]
        df = df.filter(F.col("entity_bucket").isin(buckets)).filter(
            F.col("entity").isin(entities)
        )
    if ts_min is not None:
        day_lo = min(ts_min // unit for (_nb, unit) in gens)
        df = df.filter(
            (F.col("ts_day") >= day_lo) & (F.col("ts") >= ts_min)
        )
    if ts_max is not None:
        day_hi = max(ts_max // unit for (_nb, unit) in gens)
        df = df.filter(
            (F.col("ts_day") <= day_hi) & (F.col("ts") <= ts_max)
        )
    return df


def _stats_pruned_files(
    files: list[str],
    stats: dict,
    ts_min: int | None,
    ts_max: int | None,
) -> list[str]:
    """Drop files whose manifest ``[ts_min, ts_max, n_rows]`` stats are
    disjoint from the query range. Files with no recorded stats (empty
    files) or no non-null ts are conservatively kept."""
    if ts_min is None and ts_max is None:
        return files
    out = []
    for f in files:
        st = stats.get(f)
        if st is None or st[0] is None:
            out.append(f)
            continue
        mn, mx = st[0], st[1]
        if (ts_max is not None and mn > ts_max) or (
            ts_min is not None and mx < ts_min
        ):
            continue
        out.append(f)
    return out


def scan_files(
    spark: SparkSession,
    path: str,
    ts_min: int | None = None,
    ts_max: int | None = None,
    snapshot_id: int | None = None,
) -> list[str]:
    """The exact (relative) data files a ``scan`` with these time
    bounds would read — the observable surface of manifest file
    skipping, for tests and job planning."""
    from lbf_spark import fsio

    snaps = _read_snaps(spark, fsio.join(path, "metadata"))
    at = _replay_files(snaps, as_of=snapshot_id)
    return _stats_pruned_files(at["visible"], at["stats"], ts_min, ts_max)


def expire_snapshots(
    spark: SparkSession, path: str, keep_last: int
) -> dict:
    """Snapshot retention (Iceberg ``expireSnapshots``): keep only the
    last ``keep_last`` snapshots, DELETE data files no retained
    snapshot can see (merge-replaced files whose history expired), and
    compact the oldest retained manifest into a reset point (recorded
    ``mode="overwrite"`` with its full visible file list + merged
    stats, so replay no longer needs the deleted manifests). Time
    travel to an expired snapshot then raises the standard
    predates-an-overwrite error; ``incremental_files`` across the
    boundary refuses likewise.

    Metadata-only except for the file deletes; returns
    {n_expired_snapshots, n_deleted_files}."""
    from lbf_spark import fsio

    meta_dir = fsio.join(path, "metadata")
    snaps = _read_snaps(spark, meta_dir)
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    if len(snaps) <= keep_last:
        return {"n_expired_snapshots": 0, "n_deleted_files": 0}
    retained = snaps[-keep_last:]
    expired = snaps[:-keep_last]
    # retention respects refs (Iceberg): a tagged snapshot cannot
    # expire — time travel to it must keep working until the tag goes
    expired_ids = {s["snapshot_id"] for s in expired}
    pinned = {
        n: sid for n, sid in list_tags(spark, path).items()
        if sid in expired_ids
    }
    if pinned:
        raise ValueError(
            f"snapshots pinned by tags would expire: {pinned} — "
            "delete_tag first"
        )
    # files any retained snapshot can see (time travel within retention)
    keep_files: set[str] = set()
    for s in retained:
        keep_files.update(
            _replay_files(snaps, as_of=s["snapshot_id"])["visible"]
        )
    data_dir = fsio.join(path, "data")
    # delete only MANIFEST-KNOWN files no retained snapshot can see —
    # never "everything else on disk": an uncommitted concurrent
    # writer's just-moved parts are on disk but in no manifest, and
    # sweeping them here would corrupt that write (that sweep is
    # remove_orphan_files' job, which documents its no-write-in-flight
    # requirement). So expire+concurrent-write is safe; only
    # orphan-removal requires quiescence.
    known = set(_replay_files(snaps)["known"])
    doomed = sorted(known - keep_files)
    for f in doomed:
        fsio.delete(spark, fsio.join(data_dir, f))
    # compact the oldest retained manifest into a reset point
    oldest = dict(retained[0])
    at_oldest = _replay_files(snaps, as_of=oldest["snapshot_id"])
    base_visible, merged_stats = at_oldest["visible"], at_oldest["stats"]
    oldest["mode"] = "overwrite"
    oldest["added_files"] = sorted(base_visible)
    oldest["file_stats"] = {
        f: merged_stats[f] for f in base_visible if f in merged_stats
    }
    oldest.pop("removed_files", None)
    oldest["parent"] = None
    # the reset point inherits files written under EXPIRED manifests'
    # partition specs — preserve those generations or scans would prune
    # old-layout files with the wrong bucket arithmetic
    own = _parse_spec(oldest["partition_spec"])
    hist_gens = {
        g
        for s in snaps
        if s["snapshot_id"] <= oldest["snapshot_id"]
        for g in _spec_generations([s])
    } - {own}
    if hist_gens:
        oldest["spec_history"] = [_spec(*g) for g in sorted(hist_gens)]
    fsio.write_text_atomic(
        spark,
        fsio.join(meta_dir, f"snap-{oldest['snapshot_id']:05d}.json"),
        json.dumps(oldest, indent=1),
    )
    for s in expired:
        fsio.delete(spark, fsio.join(meta_dir, f"snap-{s['snapshot_id']:05d}.json"))
    return {
        "n_expired_snapshots": len(expired),
        "n_deleted_files": len(doomed),
    }


def remove_orphan_files(spark: SparkSession, path: str) -> dict:
    """Delete data files no manifest has ever adopted — the debris a
    killed write job leaves between landing parquet parts and
    committing its snapshot (Iceberg ``removeOrphanFiles``). Orphans
    are exactly on-disk minus every file referenced since the last
    overwrite (including merge-replaced files, which older snapshots
    still need). ONLY call while no write is in flight — an
    uncommitted concurrent write's files look identical to debris.
    Returns {n_orphans_deleted}."""
    from lbf_spark import fsio

    snaps = _read_snaps(spark, fsio.join(path, "metadata"))
    if not snaps:
        raise ValueError("remove_orphan_files needs an existing table snapshot")
    known = set(_replay_files(snaps)["known"])
    data_dir = fsio.join(path, "data")
    on_disk = [
        f["path"] for f in fsio.list_files_recursive(spark, data_dir, ".parquet")
    ]
    orphans = sorted(set(on_disk) - known)
    for f in orphans:
        fsio.delete(spark, fsio.join(data_dir, f))
    # crashed writers also leave .staging/<token> trees (parts that were
    # never moved into data/) — same debris class, same reclaim
    staging_root = fsio.join(path, ".staging")
    n_staging = len(fsio.list_names(spark, staging_root))
    fsio.delete(spark, staging_root, recursive=True)
    return {"n_orphans_deleted": len(orphans), "n_staging_dirs_deleted": n_staging}


def compact_table(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Execute small-file compaction (the rewrite `compaction_plan`
    only PLANS): partition-dir-local first-fit groups of visible files
    under ``target_bytes`` with ≥2 members are read back and rewritten
    as ~``ceil(total/target)`` files, committed as a ``merge``-mode
    snapshot (rewritten files in ``removed_files``, new ones in
    ``added_files``) — so time travel to pre-compaction snapshots
    still works and the visible row set is EXACTLY unchanged.

    Shape at 100 TB: grouping is a driver-side pass over the file
    manifest (metadata-scale); the rewrite reads/writes only the
    fragmented files, one distributed job for all groups (rows land
    back in their own partition dirs via partitionBy). Returns
    {n_rewritten_files, n_new_files} (zeros when nothing qualifies)."""
    import posixpath as _pp

    from lbf_spark import fsio

    meta_dir = fsio.join(path, "metadata")
    snaps = _read_snaps(spark, meta_dir)
    if not snaps:
        raise ValueError("compact_table needs an existing table snapshot")
    data_dir = fsio.join(path, "data")
    visible = set(_replay_files(snaps)["visible"])
    sizes = {
        f["path"]: f["bytes"]
        for f in fsio.list_files_recursive(spark, data_dir, ".parquet")
        if f["path"] in visible
    }
    by_dir: dict = {}
    for f in sorted(sizes):
        by_dir.setdefault(_pp.dirname(f), []).append(f)
    doomed: list[str] = []
    total_bytes = 0
    for _d, fs_list in by_dir.items():
        group: list[str] = []
        g_bytes = 0
        for f in fs_list:  # first-fit in path order, like compaction_plan
            if group and g_bytes + sizes[f] > target_bytes:
                if len(group) >= 2:
                    doomed += group
                    total_bytes += g_bytes
                group, g_bytes = [], 0
            group.append(f)
            g_bytes += sizes[f]
        if len(group) >= 2:
            doomed += group
            total_bytes += g_bytes
    if not doomed:
        return {"n_rewritten_files": 0, "n_new_files": 0}
    head = snaps[-1]
    frag = _read_files(spark, data_dir, doomed, head["schema"])
    n_out = max(1, -(-total_bytes // target_bytes))
    new_files = _land_data_files(
        spark, frag.repartition(n_out, "entity_bucket", "ts_day"), path
    )
    _commit(
        spark, path, head, mode="merge", schema=head["schema"],
        spec=head["partition_spec"], added=new_files, removed=sorted(doomed),
    )
    return {"n_rewritten_files": len(doomed), "n_new_files": len(new_files)}


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    order_col: str = "path",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Small-file compaction planner (the Iceberg ``BinPack`` rewrite
    analog for this table layout): files in deterministic ``order_col``
    order are packed left-to-right into rewrite groups of ≈
    ``target_bytes`` — ``group_id = floor(exclusive_prefix_sum(bytes) /
    target)``. Greedy in file order, so a group can overshoot by at
    most one file (the standard first-fit behavior); ordering by path
    keeps partition-adjacent files in the same rewrite group.

    The input is a file *manifest* (metadata), never data rows: the
    single-partition prefix-sum window is O(#files) — at 100 TB with
    128 MB files that is ~10^6 manifest rows on one task, fine; the
    actual rewrite jobs it plans are what touch data."""
    w = (
        Window.orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum(bytes_col).over(w), F.lit(0))
    return files.withColumn(
        "group_id", F.floor(cum / F.lit(float(target_bytes))).cast("long")
    )


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    out: str = "z_value",
) -> DataFrame:
    """Z-order (Morton) interleave key over m pre-bucketed non-negative
    integer columns — the multi-dimensional clustering key behind
    Iceberg/Delta ``ZORDER BY``: sorting by it co-locates rows close in
    EVERY dimension, so min/max file statistics prune scans on any of
    the m columns, not just the leading sort key.

    Bit i of column j lands at position ``i·m + j``; inputs clamp into
    ``[0, 2^bits)``. Pure JVM integer arithmetic (powers of two through
    ``pow`` are exact doubles up to 2^52, cast back to long) — no UDF,
    reproducible in ANSI SQL. Use with
    ``repartitionByRange(out).sortWithinPartitions(out)`` to lay files
    out; the key itself is what's verifiable."""
    m = len(cols)
    if m < 1 or bits * m > 62:
        raise ValueError("need 1+ columns and bits*len(cols) <= 62")
    lim = (1 << bits) - 1
    clamped = [
        F.greatest(F.lit(0), F.least(F.col(c).cast("long"), F.lit(lim)))
        for c in cols
    ]

    # Static shift/mask expression tree (≤ 62 terms), not an
    # F.aggregate over a sequence: higher-order functions evaluate
    # interpreted per element while this unrolled form stays inside
    # whole-stage codegen — measured r7: the fold form alone added
    # 1.3 s to the q105 write at sf1.0. Identical integers:
    # (c >> i) & 1 << (i·m+j) ≡ floor(c/2^i) % 2 · 2^(i·m+j) for the
    # clamped non-negative range.
    z = None
    for i in range(bits):
        for j, c in enumerate(clamped):
            term = F.shiftleft(
                F.shiftright(c, i).bitwiseAND(F.lit(1)), i * m + j
            )
            z = term if z is None else z + term
    return df.withColumn(out, z.cast("long"))


def hilbert_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    out: str = "h_value",
) -> DataFrame:
    """2-D HILBERT curve index over two pre-bucketed non-negative
    integer columns — the locality-tighter alternative to ``zorder_key``
    (Iceberg ships both): the Hilbert curve is CONTINUOUS, so
    consecutive key values are always spatially adjacent cells, where
    Morton's bit-interleave jumps across the whole space at power-of-
    two seams. Sorting files by it would make range reads touch
    ~perimeter many files (``write_table`` sorts by ``zorder_key``);
    the locality advantage over Morton on a grid walk is law-tested
    (and the q187 certificate re-verifies the key itself against an
    independent per-row twin).

    Implementation: the classical xy2d state machine (reflect+swap per
    bit level, most-significant first) folded over the bit levels with
    ``F.aggregate`` carrying a (x, y, d) struct — pure JVM integer
    arithmetic, no UDF. More than 2 dims: use ``zorder_key`` (the
    standard trade — d-dimensional Hilbert state tables cost more than
    the locality buys at file granularity)."""
    if len(cols) != 2:
        raise ValueError("hilbert_key is 2-D; use zorder_key for other arities")
    if not 1 <= bits * 2 <= 62:
        raise ValueError("need 1 <= bits and 2*bits <= 62")
    lim = (1 << bits) - 1
    cx, cy = (
        F.greatest(F.lit(0), F.least(F.col(c).cast("long"), F.lit(lim)))
        for c in cols
    )
    acc0 = F.struct(
        cx.alias("x"), cy.alias("y"), F.lit(0).cast("long").alias("d")
    )
    svals = F.array(
        *[F.lit(1 << (bits - 1 - i)).cast("long") for i in range(bits)]
    )

    def step(acc, s):
        one = F.lit(1).cast("long")
        zero = F.lit(0).cast("long")
        rx = F.when(acc["x"].bitwiseAND(s) > 0, one).otherwise(zero)
        ry = F.when(acc["y"].bitwiseAND(s) > 0, one).otherwise(zero)
        d2 = acc["d"] + s * s * ((rx * 3).bitwiseXOR(ry))
        refl_x = F.when(rx == 1, s - 1 - acc["x"]).otherwise(acc["x"])
        refl_y = F.when(rx == 1, s - 1 - acc["y"]).otherwise(acc["y"])
        # ry == 0 → reflect (if rx) then swap axes; ry == 1 → unchanged
        nx = F.when(ry == 0, refl_y).otherwise(acc["x"])
        ny = F.when(ry == 0, refl_x).otherwise(acc["y"])
        return F.struct(nx.alias("x"), ny.alias("y"), d2.alias("d"))

    h = F.aggregate(svals, acc0, step, lambda a: a["d"])
    return df.withColumn(out, h)


def create_tag(
    spark: SparkSession,
    path: str,
    name: str,
    snapshot_id: int | None = None,
    replace: bool = False,
) -> dict:
    """Named REF (Iceberg v2 "refs", tag flavor): pin ``name`` to a
    snapshot id (default: the current head) as its own
    ``metadata/ref-<name>.json`` — one file per ref, so creation is
    the same exclusive-write primitive as a snapshot commit (no
    read-modify-write of a shared refs file to race on).
    ``scan(tag=…)`` reads the table as of the ref;
    ``expire_snapshots`` REFUSES to expire a tagged snapshot (delete
    the tag first) — retention respects refs, per the Iceberg spec.
    ``replace=True`` retargets an existing tag atomically."""
    import re as _re

    from lbf_spark import fsio

    if not _re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name):
        raise ValueError(f"invalid tag name {name!r}")
    snaps = _read_snaps(spark, fsio.join(path, "metadata"))
    if not snaps:
        raise ValueError("create_tag needs an existing table snapshot")
    sid = int(snapshot_id) if snapshot_id is not None else snaps[-1][
        "snapshot_id"
    ]
    if sid not in {s["snapshot_id"] for s in snaps}:
        raise ValueError(f"snapshot {sid} does not exist")
    ref = {"name": name, "snapshot_id": sid, "type": "tag"}
    target = fsio.join(path, "metadata", f"ref-{name}.json")
    if replace:
        fsio.write_text_atomic(spark, target, json.dumps(ref, indent=1))
    else:
        try:
            fsio.write_text_exclusive(
                spark, target, json.dumps(ref, indent=1)
            )
        except FileExistsError as e:
            raise ValueError(
                f"tag {name!r} already exists (replace=True retargets)"
            ) from e
    return ref


def list_tags(spark: SparkSession, path: str) -> dict[str, int]:
    """{tag name: snapshot_id} from the per-ref metadata files."""
    from lbf_spark import fsio

    meta_dir = fsio.join(path, "metadata")
    out = {}
    for f in fsio.list_names(spark, meta_dir):
        if f.startswith("ref-") and f.endswith(".json"):
            ref = json.loads(fsio.read_text(spark, fsio.join(meta_dir, f)))
            out[ref["name"]] = ref["snapshot_id"]
    return out


def delete_tag(spark: SparkSession, path: str, name: str) -> None:
    from lbf_spark import fsio

    if not fsio.delete(spark, fsio.join(path, "metadata", f"ref-{name}.json")):
        raise ValueError(f"tag {name!r} does not exist")


def resolve_tag(spark: SparkSession, path: str, name: str) -> int:
    tags = list_tags(spark, path)
    if name not in tags:
        raise ValueError(f"tag {name!r} does not exist")
    return tags[name]
