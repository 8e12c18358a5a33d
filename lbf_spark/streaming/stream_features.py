"""Structured Streaming restatement of the incremental paths.

The reference is batch-only, but bounds memory by streaming one
BED-group at a time through a lazy iterator
(``/root/reference/src/lbfextract/fextract_batch_coverage/plugin.py:40-111``)
and over-fetches ``extra_bases`` to tolerate boundary-straddling reads
(``fextract/lib.py:68-77``). The streaming analogs:

* watermark = the grace window for late events (extra_bases analog);
* session windows = dyad-gap segmentation (``signal_transformer.py:50-113``)
  via Spark's native ``session_window`` (merge-on-gap semantics);
* tumbling windowed aggregates = positional binning on the time axis.

Batch parity: each frame-returning function also accepts a static
DataFrame — the same plan runs in either mode (the Structured Streaming
unification), which is how the tests verify streaming results equal the
batch oracle.

Sinks: the ``*_batch*`` functions take ``(batch_df, batch_id, ...)``
and are the ``foreachBatch`` callbacks of a stream into the table
layer, a feature table, a heavy-hitter state or a dedup store; each is
idempotent on ``batch_id``, so the stream is exactly-once end to end:
``stream.writeStream.foreachBatch(lambda b, i: table_batch_commit(b, i,
path)).option("checkpointLocation", ckpt).start()``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F


def _with_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Engine ts (int64) → event-time timestamp column `event_time`
    (interpreted as seconds — the unit only has to be consistent)."""
    return df.withColumn("event_time", F.timestamp_seconds(F.col(ts_col)))


def stream_session_stats(
    events: DataFrame,
    gap_seconds: int,
    watermark: str = "600 seconds",
    by: str = "entity",
) -> DataFrame:
    """Per-(entity, session) aggregates with native session windows.

    Sessions close `gap_seconds` after their last event; the watermark
    bounds state (late events beyond it are dropped — the grace-window
    contract). Works identically on a static frame (no watermark needed
    there, but harmless)."""
    df = _with_event_time(events)
    if df.isStreaming:
        df = df.withWatermark("event_time", watermark)
    return (
        df.groupBy(
            F.col(by),
            F.session_window("event_time", f"{gap_seconds} seconds").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            by,
            "session_start",
            "session_end",
            "n_events",
            (F.col("session_end") - F.col("session_start")).alias("session_span"),
        )
    )


def stream_tumbling_counts(
    events: DataFrame,
    window_seconds: int,
    watermark: str = "600 seconds",
    by: str = "entity",
    value_col: str | None = None,
) -> DataFrame:
    """Tumbling-window counts (+ optional value mean) with late-data
    tolerance — the incremental positional-binning analog (A14)."""
    df = _with_event_time(events)
    if df.isStreaming:
        df = df.withWatermark("event_time", watermark)
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col:
        aggs.append(F.avg(value_col).alias("value_mean"))
    return (
        df.groupBy(F.col(by), F.window("event_time", f"{window_seconds} seconds"))
        .agg(*aggs)
        .select(
            by,
            F.unix_timestamp("window.start").alias("bucket_start"),
            *(["n_events", "value_mean"] if value_col else ["n_events"]),
        )
    )


def run_stream_to_memory(
    spark,
    input_path: str,
    transform,
    table_name: str,
    schema=None,
) -> None:
    """Drive a parquet-source stream through `transform` into an
    in-memory sink with trigger availableNow (process-everything-then-
    stop — the batch-equivalence harness used by the tests)."""
    src = spark.readStream.schema(
        schema or spark.read.parquet(input_path).schema
    ).parquet(input_path)
    q = (
        transform(src)
        .writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete" if transform(src).isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def table_batch_commit(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    n_buckets: int = 16,
    ts_unit_day: int = 86_400,
) -> dict | None:
    """One micro-batch → one table snapshot, idempotently: the manifest
    records ``batch_id`` and a replayed (already-committed) batch id is
    a no-op, so a replayed ``foreachBatch`` call is harmless. Returns
    the snapshot, or None if skipped/empty.

    ``batch_id`` rides in ``write_table``'s SINGLE exclusive manifest
    commit — never patched in afterwards: a two-step commit-then-tag
    would leave a crash window where the snapshot is durable but
    untagged, and the replayed batch would append its rows a second
    time.

    The replay check is O(1) in snapshot count: foreachBatch batch ids
    are strictly increasing within a checkpoint, so a ``batch_hwm``
    high-water mark carried in each manifest decides replay from the
    latest snapshot alone (no per-batch walk over every manifest)."""
    from lbf_spark.sources import table as TBL

    if batch_df.isEmpty():
        return None
    spark = batch_df.sparkSession
    prev = TBL.current_snapshot(path, spark)
    if batch_id <= TBL.batch_high_water(prev):
        return None  # replayed batch: already durable (idempotence)
    return TBL.write_table(
        batch_df, path, mode="append" if prev is not None else "overwrite",
        n_buckets=n_buckets, ts_unit_day=ts_unit_day, batch_id=batch_id,
    )


def cdc_batch_apply(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    keys: list[str],
    ts_col: str = "ts",
    delete_col: str | None = None,
    tiebreak_cols: list[str] | None = None,
    n_buckets: int = 16,
    ts_unit_day: int = 86_400,
) -> dict | None:
    """One CDC micro-batch → latest-per-key reduce → MERGE snapshot,
    idempotent on ``batch_id`` — the streaming composition of q84's
    latest-state semantics with the table layer's copy-on-write MERGE.

    A raw changelog batch may hold several changes per key; the batch
    is first reduced to the newest change per key (``row_number`` over
    the keys ordered by ``ts_col`` desc). The total-order rule is
    ENFORCED, not just documented: pass ``tiebreak_cols`` to break
    same-timestamp ties deterministically (desc), or — when omitted —
    the reduce asserts at execution time that the newest timestamp per
    key is unique in the batch and fails the job on violation
    (``assert_true`` over the same window spec: zero extra shuffle,
    the peer count is a current-row range frame on the identical
    partition/order). The ``batch_id`` rides in the single exclusive
    manifest commit, so a replayed batch (foreachBatch is
    at-least-once) is a no-op and the end-to-end result is
    exactly-once; the replay check is O(1) in snapshot count via the
    ``batch_hwm`` high-water mark in the latest manifest. The FIRST
    batch bootstraps the table (overwrite mode — merge needs an
    existing snapshot).

    Returns the committed snapshot, or None if skipped/empty."""
    from pyspark.sql import Window

    from lbf_spark.sources import table as TBL

    if batch_df.isEmpty():
        return None
    spark = batch_df.sparkSession
    prev = TBL.current_snapshot(path, spark)
    if batch_id <= TBL.batch_high_water(prev):
        return None  # replayed batch: already durable (idempotence)
    if tiebreak_cols:
        order = [F.desc(ts_col)] + [F.desc(c) for c in tiebreak_cols]
        w = Window.partitionBy(*keys).orderBy(*order)
        latest = (
            batch_df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
        )
    else:
        w = Window.partitionBy(*keys).orderBy(F.desc(ts_col))
        peers = F.count(F.lit(1)).over(
            w.rangeBetween(Window.currentRow, Window.currentRow)
        )
        # guard lives in a Filter predicate (assert_true is NULL on
        # success, so isNull() is a tautology that Catalyst cannot fold
        # away) — a standalone projected-then-dropped guard column WOULD
        # be pruned before it ever evaluated. The `__rk != 1` escape
        # keeps the assert correct under conjunct reordering: ties are
        # only an error at the NEWEST timestamp of a key.
        guard = F.assert_true(
            (F.col("__rk") != 1) | (F.col("__peers") == 1),
            F.lit(
                "cdc_batch_apply: duplicate (keys, ts) at the newest "
                "timestamp of a key — merged state would be "
                "nondeterministic; pass tiebreak_cols or dedupe "
                "the changelog upstream"
            ),
        )
        latest = (
            batch_df.withColumn("__rk", F.row_number().over(w))
            .withColumn("__peers", peers)
            .filter((F.col("__rk") == 1) & guard.isNull())
            .drop("__rk", "__peers")
        )
    if prev is None:  # bootstrap: first batch creates the table
        rows = latest
        if delete_col is not None:
            rows = rows.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
        return TBL.write_table(
            rows, path, mode="overwrite",
            n_buckets=n_buckets, ts_unit_day=ts_unit_day, batch_id=batch_id,
        )
    return TBL.merge_upsert(
        spark, path, latest, keys=keys, delete_col=delete_col,
        batch_id=batch_id,
    )


def incremental_feature_batch(
    batch_df: DataFrame,
    batch_id: int,
    raw_path: str,
    feat_path: str,
    feature_fn,
    *,
    lookback: int,
    keys: list[str] | None = None,
    n_buckets: int = 16,
    ts_unit_day: int = 86_400,
) -> dict | None:
    """One micro-batch of raw events → exactly-once maintenance of a
    MATERIALIZED feature table, recomputing only the touched per-entity
    suffixes (``operators/incremental.py`` math; the reference replays
    every interval per run, fextract/lib.py:71-77).

    Two tables, one delta: ``raw_path`` accumulates the event history
    (append-only snapshots), ``feat_path`` holds one feature row per
    (entity, ts). Per batch:

    1. refresh region = raw table scanned with
       ``ts >= min(batch ts) - lookback`` — the global bound feeds
       ``scan``'s manifest ``[ts_min, ts_max]`` file skipping, so
       history files that predate the delta are never opened — then
       narrowed to each touched entity's own suffix;
    2. ``refresh_region_rows`` re-features the region; the result is
       MERGEd into the feature table (file-level copy-on-write), so
       kept feature rows are never rewritten OR re-read;
    3. the batch appends to the raw table.

    Exactly-once under foreachBatch's at-least-once replay: the raw
    append (LAST step) carries the ``batch_hwm`` high-water mark, so a
    fully-committed batch is a no-op on replay; a crash BETWEEN the
    merge and the raw append replays into "merge already durable →
    skip merge (its own hwm), re-do raw append". The merge itself is
    deterministic given (raw table, batch), so even a re-run merge
    replaces rows with identical values.

    Raw history must be unique on (entity, ts) — duplicated instants
    make window features ill-defined. Enforced, not just documented:
    the refresh region (which contains every base row a batch row can
    collide with inside the lookback) is checked and the batch FAILS
    on a duplicate, before anything lands.

    Returns the raw-table snapshot, or None when the batch is empty or
    fully replayed.
    """
    from lbf_spark.operators.incremental import (
        refresh_lower_bound,
        refresh_region_rows,
    )
    from lbf_spark.sources import table as TBL

    if batch_df.isEmpty():
        return None
    keys = list(keys) if keys is not None else ["entity", "ts"]
    spark = batch_df.sparkSession
    raw_prev = TBL.current_snapshot(raw_path, spark)
    if batch_id <= TBL.batch_high_water(raw_prev):
        return None  # fully committed: replay no-op

    def guard_unique(df: DataFrame) -> None:
        dup = (
            df.groupBy("entity", "ts").count().filter(F.col("count") > 1).limit(1)
        ).collect()
        if dup:
            r = dup[0]
            raise ValueError(
                f"duplicate (entity, ts) in refresh region: "
                f"({r['entity']}, {r['ts']}) ×{r['count']} — dedupe the "
                f"stream to unique instants upstream"
            )

    if raw_prev is None:  # bootstrap: both tables from batch alone
        guard_unique(batch_df)
        TBL.write_table(
            feature_fn(batch_df), feat_path, mode="overwrite",
            n_buckets=n_buckets, ts_unit_day=ts_unit_day, batch_id=batch_id,
        )
        return table_batch_commit(
            batch_df, batch_id, raw_path,
            n_buckets=n_buckets, ts_unit_day=ts_unit_day,
        )

    lb = refresh_lower_bound(batch_df, lookback=lookback, order="ts")
    base = TBL.scan(spark, raw_path, ts_min=lb).select(*batch_df.columns)
    guard_unique(base.unionByName(batch_df))
    refreshed = refresh_region_rows(
        base, batch_df, feature_fn, lookback=lookback, by="entity", order="ts"
    )
    feat_prev = TBL.current_snapshot(feat_path, spark)
    if batch_id > TBL.batch_high_water(feat_prev):
        TBL.merge_upsert(
            spark, feat_path, refreshed, keys=keys, batch_id=batch_id,
        )
    return table_batch_commit(
        batch_df, batch_id, raw_path,
        n_buckets=n_buckets, ts_unit_day=ts_unit_day,
    )


def stream_attribution_pairs(
    touches: DataFrame,
    conversions: DataFrame,
    tolerance_seconds: int,
    by: str = "entity",
    watermark: str = "600 seconds",
) -> DataFrame:
    """Watermarked stream-stream interval join — the attribution
    primitive: every (touch, conversion) pair of the same entity with
    ``conv_ts − tolerance ≤ touch_ts ≤ conv_ts``. Touch-to-conversion
    matching (ad view→purchase, feature event→label event) is THE
    training-label join of an online feature pipeline; the time-bound
    condition is what lets Structured Streaming expire join state
    (each side keeps only ``watermark + tolerance`` of history —
    bounded state at any stream length). Works identically on static
    frames (unified plan): the batch run IS the oracle for the
    streaming run.

    Contract: both inputs carry ``by`` and an epoch-seconds ``ts``
    column named ``touch_ts`` / ``conv_ts`` respectively; other column
    names must be disjoint across the two sides (pre-alias upstream —
    keeps this a pure join, no hidden renames)."""
    overlap = (set(touches.columns) & set(conversions.columns)) - {by}
    if overlap:
        raise ValueError(
            f"touch/conversion columns must be disjoint apart from {by!r}; "
            f"both sides carry {sorted(overlap)} — alias them upstream"
        )
    t = touches.withColumn("__t_time", F.timestamp_seconds(F.col("touch_ts")))
    c = conversions.withColumn("__c_time", F.timestamp_seconds(F.col("conv_ts")))
    if t.isStreaming:
        t = t.withWatermark("__t_time", watermark)
    if c.isStreaming:
        c = c.withWatermark("__c_time", watermark)
    t = t.withColumnRenamed(by, "__t_by")
    cond = (
        (F.col("__t_by") == F.col(by))
        & (F.col("__t_time") <= F.col("__c_time"))
        & (
            F.col("__t_time")
            >= F.col("__c_time") - F.expr(f"INTERVAL {int(tolerance_seconds)} SECONDS")
        )
    )
    return t.join(c, cond, "inner").drop("__t_by", "__t_time", "__c_time")


def last_touch_attribution(
    pairs: DataFrame,
    conv_id: str = "conv_id",
    touch_ts: str = "touch_ts",
    touch_id: str = "touch_id",
) -> DataFrame:
    """Reduce attribution pairs to last-touch: per conversion, the
    latest touch wins, ties broken by the larger touch id — a TOTAL
    order, per the determinism rules, so the winner is engine- and
    partitioning-exact. Batch stage (run it on the landed pairs table
    or per micro-batch in ``foreachBatch``): one window over conv_id."""
    from pyspark.sql import Window

    w = Window.partitionBy(conv_id).orderBy(
        F.desc(touch_ts), F.desc(touch_id)
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def heavy_hitter_batch_merge(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    col: str,
    k: int = 64,
) -> dict | None:
    """Fold one micro-batch into a persistent Misra-Gries heavy-hitter
    state (operators/sketches.py) — the streaming profiler's "top
    talkers" feature with BOUNDED state: the state file carries ≤ k
    counters + n no matter how many distinct keys the stream has seen.

    The merged estimate obeys ``true − n_total/(k+1) ≤ est ≤ true``
    over the WHOLE stream: per-batch sketches are themselves merged
    per-partition MG summaries, and MG summaries are mergeable with
    additive error (Agarwal et al. 2012) — so batch boundaries, like
    partition boundaries, never break the guarantee.

    Exactly-once under foreachBatch replay: the state JSON records
    ``batch_hwm``; a replayed batch id ≤ hwm is a no-op (same contract
    as ``table_batch_commit``). Single-writer per state path (one
    streaming query), state written via atomic rename. Returns the new
    state dict, or None if skipped."""
    from lbf_spark import fsio
    from lbf_spark.operators.sketches import _mg_update, heavy_hitters_mg

    spark = batch_df.sparkSession
    sfile = fsio.join(state_path, "sketch.json")
    state = (
        json.loads(fsio.read_text(spark, sfile))
        if fsio.exists(spark, sfile)
        else {"counters": {}, "n": 0, "k": int(k), "batch_hwm": -1}
    )
    if int(batch_id) <= int(state["batch_hwm"]):
        return None  # replay of a committed batch — idempotent skip
    if int(state["k"]) != int(k):
        raise ValueError(
            f"state at {state_path} was built with k={state['k']}, got k={k}"
        )
    sketch, n_batch = heavy_hitters_mg(batch_df, col, k=k)
    counters = {i: int(c) for i, c in state["counters"].items()}
    _mg_update(counters, dict(sketch), int(k))
    new_state = {
        "counters": counters,
        "n": int(state["n"]) + int(n_batch),
        "k": int(k),
        "batch_hwm": int(batch_id),
    }
    fsio.mkdirs(spark, state_path)
    fsio.write_text_atomic(spark, sfile, json.dumps(new_state, sort_keys=True))
    return new_state


def read_heavy_hitter_state(spark, state_path: str) -> dict:
    """Load the persisted MG state: {counters, n, k, batch_hwm}."""
    from lbf_spark import fsio

    return json.loads(
        fsio.read_text(spark, fsio.join(state_path, "sketch.json"))
    )


def _read_ingest_state(spark, store_dir: str) -> dict:
    """The ingest store's commit record ``state.json``: ``batch_hwm``
    (the last committed batch id, -1 for a fresh store with no
    ``state.json`` yet) and ``schemas``, the ``corpus``/``postings``
    StructTypes the committed batch dirs are read under (empty for a
    store committed before the schemas were recorded). Any other
    failure raises — a corrupt state read as "fresh" would re-ingest
    the next batch as batch 0 against no corpus and overwrite
    ``batch-00000``."""
    from pyspark.sql.types import StructType

    from lbf_spark import fsio

    state_file = fsio.join(store_dir, "state.json")
    if not fsio.exists(spark, state_file):
        return {"batch_hwm": -1}
    text = fsio.read_text(spark, state_file)
    try:
        state = json.loads(text)
        return {
            "batch_hwm": int(state["batch_hwm"]),
            "schemas": {
                kind: StructType.fromJson(json.loads(state[f"{kind}_schema"]))
                for kind in ("corpus", "postings")
                if f"{kind}_schema" in state
            },
        }
    except (ValueError, KeyError, TypeError) as e:
        raise ValueError(
            f"ingest store state {state_file} is unreadable: {text[:200]!r}"
        ) from e


def read_ingest_hwm(spark, store_dir: str) -> int:
    """The ingest store's high-water mark: the last committed batch id,
    -1 for a fresh store."""
    return _read_ingest_state(spark, store_dir)["batch_hwm"]


def read_ingest_store(
    spark, store_dir: str, state: dict | None = None
) -> tuple[DataFrame, DataFrame] | None:
    """The committed ``(corpus, postings)`` of an ingest store, or None
    for a fresh one. Only the ``batch-<id>`` dirs with id ≤ the
    ``state.json`` ``batch_hwm`` are read — a batch that crashed after
    its parquet writes but before its commit stays invisible — under
    the schemas ``state.json`` records, so building the frames reads no
    footer and runs no Spark job (up to 32 batch dirs; more run Spark's
    parallel file listing). A store committed before the schemas were
    recorded has its schemas read from the committed dirs' footers
    instead; its next commit records them. ``state`` is an already-read
    commit record."""
    import re

    from lbf_spark import fsio

    if state is None:
        state = _read_ingest_state(spark, store_dir)
    hwm = state["batch_hwm"]
    if hwm < 0:
        return None

    def committed(kind: str) -> DataFrame:
        d = fsio.join(store_dir, kind)
        dirs = [
            fsio.join(d, name)
            for name in fsio.list_names(spark, d)
            if (m := re.fullmatch(r"batch-(\d+)", name)) and int(m[1]) <= hwm
        ]
        schema = state["schemas"].get(kind)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*dirs)

    return committed("corpus"), committed("postings")


def dedup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict | None:
    """One ingest micro-batch through the STANDING near-dup filter —
    the production crawl-ingest shape: the store keeps the surviving
    corpus (parquet) next to its LSH band postings
    (``dedup.lsh_index``), and each arriving batch (a) drops every doc
    that near-dups a surviving corpus doc (candidates from the
    persisted postings — no corpus re-signing, ``dedup.
    lsh_incremental_pairs``), (b) collapses batch-internal near-dup
    clusters to their min-id keeper (connected components, so
    transitive chains keep exactly one), and (c) appends the
    survivors AND their postings. Invariant maintained by induction:
    NO two surviving docs anywhere form a ≥ threshold pair under the
    algorithm's candidate generation (certified by q188 with a
    from-scratch full-corpus pair scan).

    Store layout: ``corpus/batch-<id>/`` and ``postings/batch-<id>/``
    parquet dirs plus a ``state.json`` commit record (high-water mark
    and the two schemas) written LAST (atomic); ``read_ingest_store``
    reads only what it commits. Exactly-once under foreachBatch replay:
    a replayed batch_id ≤ hwm is a no-op; a crash between the parquet
    writes and the commit leaves its dirs invisible, and the replay
    overwrites them with the same content.

    Per-batch cost: O(batch + matched) — the corpus contributes only
    its (bounded) bucket-matched docs to verification; at 10^12 docs
    the postings join is the only corpus-sized input and it's an
    equi-join on (band_id, band_hash)."""
    from lbf_spark import fsio
    from lbf_spark.operators import dedup

    spark = batch_df.sparkSession
    state = _read_ingest_state(spark, store_dir)
    hwm = state["batch_hwm"]
    if batch_id <= hwm:
        return None  # fully committed: replay no-op
    if batch_df.isEmpty():
        return {"batch_id": batch_id, "n_in": 0, "n_kept": 0,
                "n_dropped_corpus": 0, "n_dropped_internal": 0}

    corpus_dir = fsio.join(store_dir, "corpus")
    post_dir = fsio.join(store_dir, "postings")
    store = read_ingest_store(spark, store_dir, state)
    batch = batch_df.select(id_col, text_col)
    if store is not None:
        corpus, index = store
        out = dedup.lsh_incremental_pairs(
            corpus, index, batch, threshold=threshold, n=n,
            num_hashes=num_hashes, bands=bands,
            id_col=id_col, text_col=text_col,
        )
        pairs = out["pairs"].select("id_a", "id_b")
        corpus_ids = corpus.select(F.col(id_col).alias("cid"))
        # batch docs pairing with a surviving corpus doc drop outright
        hit_a = pairs.join(
            corpus_ids, pairs["id_b"] == F.col("cid"), "left_semi"
        ).select(F.col("id_a").alias(id_col))
        hit_b = pairs.join(
            corpus_ids, pairs["id_a"] == F.col("cid"), "left_semi"
        ).select(F.col("id_b").alias(id_col))
        corpus_hit = hit_a.unionByName(hit_b).distinct().join(
            batch.select(id_col), id_col, "left_semi"
        )
        remaining = batch.join(corpus_hit, id_col, "left_anti")
        # batch-internal pairs among the remaining docs → min-id keeper
        internal = (
            pairs.join(corpus_ids, pairs["id_a"] == F.col("cid"), "left_anti")
            .join(corpus_ids, pairs["id_b"] == F.col("cid"), "left_anti")
            .join(
                remaining.select(F.col(id_col).alias("id_a")), "id_a",
                "left_semi",
            )
            .join(
                remaining.select(F.col(id_col).alias("id_b")), "id_b",
                "left_semi",
            )
        )
    else:
        out = {"postings": dedup.lsh_index(
            batch, n=n, num_hashes=num_hashes, bands=bands,
            id_col=id_col, text_col=text_col,
        )}
        pairs = dedup.minhash_dedup_pairs(
            batch, id_col=id_col, text_col=text_col, n=n,
            num_hashes=num_hashes, bands=bands, threshold=threshold,
        ).select("id_a", "id_b")
        corpus_hit = batch.select(id_col).limit(0)
        remaining = batch
        internal = pairs
    clusters = dedup.dup_clusters(internal).withColumnRenamed(
        "doc_id", id_col
    )
    drop_internal = clusters.filter(
        F.col(id_col) != F.col("cluster_id")
    ).select(id_col)
    survivors = remaining.join(drop_internal, id_col, "left_anti")
    surv_posts = out["postings"].join(
        survivors.select(id_col), id_col, "left_semi"
    )
    sdf = batch_df.join(survivors.select(id_col), id_col, "left_semi")
    tag = f"batch-{batch_id:05d}"
    sdf.write.mode("overwrite").parquet(f"{corpus_dir}/{tag}")
    surv_posts.write.mode("overwrite").parquet(f"{post_dir}/{tag}")
    stats = {
        "batch_id": batch_id,
        "n_in": batch.count(),
        "n_kept": survivors.count(),
        "n_dropped_corpus": corpus_hit.count(),
    }
    stats["n_dropped_internal"] = (
        stats["n_in"] - stats["n_kept"] - stats["n_dropped_corpus"]
    )
    dedup.release_caches()
    fsio.write_text_atomic(
        spark, fsio.join(store_dir, "state.json"),
        json.dumps({
            "batch_hwm": batch_id,
            "corpus_schema": sdf.schema.json(),
            "postings_schema": surv_posts.schema.json(),
        }, sort_keys=True),
    )
    return stats
