"""The flagship feature-extraction plan + run lineage.

This is the distributed restatement of the reference's fixed 8-stage
hook pipeline (``/root/reference/src/lbfextract/core.py:263-298``):

  scan → decode stats → per-entity windowed features → anchor
  interval/as-of join → per-position aggregation → flanking
  normalization → strand flip → cross-anchor summary → sink

expressed as one declarative DataFrame plan so Catalyst handles
pushdown/pruning/reordering; we control only partitioning and the two
places Python is genuinely required (pixel decode, exact medians).

Lineage: ``run_id = sha1(canonical-config-json)`` mirrors the
reference's resumable cache id (``core.py:141-153``); checkpoints are
parquet dirs keyed by run_id with JSON manifests, and re-runs reuse any
stage whose manifest is already present (``skip_read_fetching`` analog,
``core.py:266-275``).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from lbf_spark.operators import windows as W
from lbf_spark.operators.asof import asof_join, interval_join
from lbf_spark.operators.images import decode_stats
from lbf_spark.operators.normalize import flanking_normalize
from lbf_spark.util import codegen_counters


@dataclasses.dataclass(frozen=True)
class FeatureConfig:
    """Window geometry — the analog of the reference's
    ``window/flanking_region_window/extra_bases`` defaults
    (``fextract_batch_coverage/plugin.py:432-441``), on the time axis."""

    span: int = 2000          # lookback per anchor, ts units (window+flank)
    bucket_w: int = 100       # position-bucket width → n_buckets positions
    flank_n: int = 5          # oldest buckets forming the baseline
    rolling_w: int = 16       # event-level trailing rolling window (rows)
    session_gap: int = 1000   # sessionization gap
    value_col: str = "pixel_mean"
    summary: str = "mean"     # mean | median | max | min | skip
    # per-event coverage weight (the GC-coefficient tag analog,
    # signal_transformer.py:41-46): cov = Σ weight instead of count;
    # null weights count as 1 (reference: missing tag ⇒ gc_coef = 1)
    weight_col: str | None = None
    # hot-entity mitigation: when set, entities whose row count exceeds
    # 2× the mean rows-per-shuffle-partition (a straggler by definition;
    # one counts pass over the entity column) run their order-dependent
    # window features through the halo-sliced variants (time slices of
    # this width, operators/sliced_windows.py) while everything else
    # keeps the fused single-exchange plan — identical results, but a
    # skewed entity's window work spans span/width tasks instead of
    # straggling in one. Leave None below ~10⁸ rows/entity; at 100-TB
    # scale set it so one (entity, slice) holds ~10⁶-10⁷ rows.
    hot_slice_width: int | None = None

    @property
    def n_buckets(self) -> int:
        return self.span // self.bucket_w


def _threads_per_core() -> int:
    """Hardware threads per physical core (1 = no SMT). Reads the cpu0
    sibling list; defaults to 2 (the conservative SMT assumption) when
    the sysfs path is unavailable."""
    try:
        with open(
            "/sys/devices/system/cpu/cpu0/topology/thread_siblings_list"
        ) as fh:
            txt = fh.read().strip()
        n = 0
        for part in txt.split(","):
            if "-" in part:
                a, b = part.split("-")
                n += int(b) - int(a) + 1
            else:
                n += 1
        return max(1, n)
    except OSError:
        return 2


def run_id(cfg: FeatureConfig) -> str:
    """sha1 of the canonical config JSON (``core.py:141-153`` analog)."""
    blob = json.dumps(dataclasses.asdict(cfg), sort_keys=True).encode()
    return hashlib.sha1(blob).hexdigest()[:16]


# ---------------------------------------------------------------- stages


def _decode_slim(events: DataFrame, cfg: FeatureConfig) -> DataFrame:
    """Decode pixel stats (Arrow batches) and drop payload/fidelity
    columns before anything shuffles."""
    n_part = int(events.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    has_bytes = "bytes" in events.columns
    if has_bytes:
        # The decode stage runs 1 JVM task thread + 1 Python worker per
        # partition. On SMT hosts (2 hw threads/core) that doubles the
        # thread count per physical core and thrashes (measured on a
        # 16-core/32-thread box: uncapped 6.8-16.5 s vs 0.75×cores
        # 6.3-6.6 s stable). On non-SMT topology the cap only idles
        # cores (measured on a 32-physical-core box: 24 parts 12.2 s vs
        # 32 parts 9.7 s) — so cap only when SMT is detected.
        if n_part <= 16 or _threads_per_core() == 1:
            py_target = n_part
        else:
            py_target = max(16, (n_part * 3) // 4)
        n_in = events.rdd.getNumPartitions()
        if n_in < (py_target * 3) // 4:
            # too few scan splits → repartition (pays a payload shuffle,
            # cheaper than running the decode under-parallel)
            events = events.repartition(py_target)
        elif n_in > py_target:
            events = events.coalesce(py_target)
        df = decode_stats(events)
    else:
        df = events
    # drop payload metadata before the window exchange — caption/fmt/w/h
    # are fidelity-check columns, not features; no reason to shuffle them
    keep = [
        c
        for c in ["image_id", "entity", "ts", "duration", "phash",
                  "pixel_mean", "pixel_std", "r_mean", "g_mean", "b_mean"]
        if c in df.columns
    ] + ([cfg.value_col] if cfg.value_col not in (
        "pixel_mean", "pixel_std", "r_mean", "g_mean", "b_mean") else []) + (
        [cfg.weight_col] if cfg.weight_col else [])
    return df.select(*dict.fromkeys(keep))


def _order_cols(df: DataFrame) -> list[str]:
    # deterministic tie-break for equal (entity, ts): image_id — without
    # it Spark's sort leaves tie order unspecified and rolling features
    # could differ run-to-run (and from the oracle)
    return ["ts", "image_id"] if "image_id" in df.columns else ["ts"]


def _fused_windows(df: DataFrame, cfg: FeatureConfig) -> DataFrame:
    """The default window stage: exactly ONE hash exchange + sort on
    (entity, ts) — Catalyst fuses all four window features into two
    Window operators over a single sort (verified via explain). A
    range-partition here would not satisfy the Window's hash-clustering
    requirement and would just add a second shuffle."""
    order = _order_cols(df)
    df = W.rolling_mean(df, cfg.value_col, "roll_mean", cfg.rolling_w, order=order)
    # roll_count uses SET semantics on the time axis (all events with
    # ts ∈ [t-span, t], ties included) — rangeBetween is tie-inclusive
    # by definition, and the oracle counts the same way
    df = W.rolling_count_range(df, "roll_count", cfg.span)
    df = W.hamming_to_prev(df, "phash", "phash_drift", order=order)
    df = W.sessionize(df, cfg.session_gap, "session_id", order=order, ts_col="ts")
    return df


def _sliced_window_stage(df: DataFrame, cfg: FeatureConfig) -> DataFrame:
    """Halo-sliced variants for hot entities: identical values
    (property-tested), work split over span/slice_width tasks.

    The three row-bounded kernels (rolling mean, phash drift,
    sessionize) share ONE (entity, slice)+halo exchange via
    ``fused_bounded_sliced`` — chaining the standalone sliced ops costs
    three full-data shuffles for the same partitioning. Only the
    time-range count keeps its own exchange (its duplication is
    time-based, incompatible with the row halo)."""
    from lbf_spark.operators import sliced_windows as SW

    order = _order_cols(df)
    sw = cfg.hot_slice_width
    df = SW.fused_bounded_sliced(
        df, cfg.value_col, cfg.rolling_w, cfg.session_gap,
        order=order, ts_col="ts", slice_width=sw,
    )
    # the time-range count duplicates each row into every slice its
    # trailing span can reach — a slice narrower than the span means
    # span/width copies per row; clamp so duplication stays ≤ 2×
    df = SW.rolling_count_range_sliced(
        df, "roll_count", cfg.span, slice_width=max(sw, cfg.span)
    )
    return df


def _hot_entities(events: DataFrame) -> list:
    """Entities whose row count exceeds 2× the mean rows-per-shuffle-
    partition (a straggler by definition), hottest first, capped at
    1024 (isin-filter size bound). One counts pass over the entity
    column only (column pruning reaches the scan)."""
    n_part = int(events.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    counts = events.groupBy("entity").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("t")).first()["t"] or 0
    thr = max(1, (2 * total) // max(1, n_part))
    rows = (
        counts.filter(F.col("n") > thr)
        .orderBy(F.desc("n"), F.asc("entity"))
        .limit(1024)
        .collect()
    )
    return [r["entity"] for r in rows]


def event_features(events: DataFrame, cfg: FeatureConfig) -> DataFrame:
    """Stage 1-2: decode pixel stats, then per-entity ordered features
    (rolling mean, phash drift, session id). All JVM window ops after
    the single Arrow decode pass.

    Physical shape: decode only needs *parallelism* (row-local →
    round-robin to all cores, SMT-aware cap); the window stage is ONE
    exchange + sort (see _fused_windows). With ``hot_slice_width`` set,
    the entities `_hot_entities` counts as stragglers route through the
    halo-sliced window variants; everything else keeps the fused plan;
    results are identical (property-tested).

    The hybrid decodes ONCE over everything and persists the slim
    (~80 B/row, payload dropped) frame, then splits hot/rest by filter
    — decoding per branch instead runs two full-width Python decode
    stages concurrently under the union (measured 2× worker
    oversubscription on a 32-core box) and re-executes the scan twice.
    Cache lifetime: the session's, like every multi-consumer frame here
    (run_pipeline materializes the stage to parquet right after)."""
    if not cfg.hot_slice_width:
        return _fused_windows(_decode_slim(events, cfg), cfg)
    hot = _hot_entities(events)
    if not hot:
        return _fused_windows(_decode_slim(events, cfg), cfg)
    from pyspark import StorageLevel

    slim = _decode_slim(events, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    # NULL entities must route somewhere: ~isin(hot) is NULL (not true)
    # for them, so without the isNull arm they'd vanish from BOTH
    # branches, diverging from the fused plan which keeps them.
    rest = slim.filter(~F.col("entity").isin(hot) | F.col("entity").isNull())
    hot_df = slim.filter(F.col("entity").isin(hot))
    return _fused_windows(rest, cfg).unionByName(
        _sliced_window_stage(hot_df, cfg)
    )


def anchor_point_in_time(
    feats: DataFrame, anchors: DataFrame, cfg: FeatureConfig
) -> DataFrame:
    """Stage 3a: as-of join — the latest feature row at each anchor_ts
    (strictly ts ≤ anchor_ts: zero temporal leakage)."""
    cols = [cfg.value_col, "roll_mean", "roll_count", "phash_drift", "session_id", "ts"]
    return asof_join(feats, anchors, select=cols, tolerance=None, direction="backward")


def anchor_window_matrix(
    feats: DataFrame, anchors: DataFrame, cfg: FeatureConfig
) -> DataFrame:
    """Stage 3b-6: per-anchor positional matrix.

    Interval-join past events into each anchor's lookback span, bucket
    by age, aggregate per bucket, densify all buckets, strand-flip,
    flanking-normalize. Output: one row per
    (entity, anchor_ts, name, strand, bucket) with `cov` (count, the
    coverage analog A1) and `val_mean` (bucket mean of value_col).
    """
    nb = cfg.n_buckets
    ev_cols = ["entity", "ts", cfg.value_col] + (
        [cfg.weight_col] if cfg.weight_col else []
    )
    joined = interval_join(
        feats.select(*ev_cols),
        anchors,
        lower=-(cfg.span - 1),
        upper=0,
    )
    age_bucket = F.floor((F.col("anchor_ts") - F.col("ts")) / F.lit(cfg.bucket_w))
    # coverage = Σ 1·gc_coef per event (signal_transformer.py:41-46);
    # unweighted = plain count (weight ≡ 1)
    cov_agg = (
        F.sum(F.coalesce(F.col(cfg.weight_col).cast("double"), F.lit(1.0)))
        if cfg.weight_col
        else F.count(F.lit(1)).cast("double")
    )
    agg = (
        joined.withColumn("bucket", age_bucket)
        .groupBy("entity", "anchor_ts", "name", "strand", "bucket")
        .agg(
            cov_agg.alias("cov"),
            F.avg(cfg.value_col).alias("val_mean"),
        )
    )
    # densify: every anchor × every bucket (positions with no events = 0,
    # like empty coverage positions in the reference's dense tensors)
    dense = anchors.select(
        "entity", "anchor_ts", "name", "strand",
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("bucket"),
    )
    full = (
        dense.join(agg, ["entity", "anchor_ts", "name", "strand", "bucket"], "left")
        .fillna({"cov": 0.0, "val_mean": 0.0})
    )
    # strand flip (np.fliplr analog, fextract/lib.py:194-197)
    full = full.withColumn(
        "bucket",
        F.when(F.col("strand") == "-", F.lit(nb - 1) - F.col("bucket")).otherwise(
            F.col("bucket")
        ),
    )
    # strand belongs in the group key: a '+' and a '-' anchor at the same
    # (entity, anchor_ts, name) are distinct anchors and must each get
    # their own flanking baseline (the oracle normalizes per anchor row)
    full = flanking_normalize(
        full, "cov", "bucket", nb, cfg.flank_n,
        by=["entity", "anchor_ts", "name", "strand"], out="cov_norm",
    )
    return full


_SUMMARY = {
    "mean": lambda c: F.avg(c),
    "max": lambda c: F.max(c),
    "min": lambda c: F.min(c),
    "median": lambda c: F.median(c),
}


def summarize(matrix: DataFrame, cfg: FeatureConfig) -> DataFrame:
    """Stage 7: cross-anchor summary per (entity, name, bucket) —
    ``np.nanmean/median/max/min`` analog (``fextract/lib.py:213-230``);
    'skip' returns the matrix unchanged."""
    if cfg.summary == "skip":
        return matrix
    agg = _SUMMARY[cfg.summary]
    return (
        matrix.groupBy("entity", "name", "bucket")
        .agg(agg(F.col("cov_norm")).alias("signal"))
    )


def summary_vectors(
    summary: DataFrame,
    keys: tuple[str, ...] = ("entity", "name"),
    signal_col: str = "signal",
) -> DataFrame:
    """Stage 8: assemble the per-`keys` feature vector (bucket-ordered
    array<double>) — the Signal the allclose gate runs on. With
    ``summary='skip'`` the caller passes the raw matrix and per-anchor
    keys + ``signal_col='cov_norm'`` (the reference's 'skip' summarizer
    is the identity: one vector per interval row, ``lib.py:218``)."""
    return (
        summary.groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("bucket", F.col(signal_col).alias("signal"))
                    )
                ),
                lambda s: s["signal"],
            ).alias("vector")
        )
    )


def extract_features(
    events: DataFrame,
    anchors: DataFrame,
    cfg: FeatureConfig | None = None,
    persist_features: bool = False,
    stages: dict | None = None,
) -> dict[str, DataFrame]:
    """Full pipeline; returns every materializable stage.

    ``persist_features`` caches the decoded+windowed event stage
    (MEMORY_AND_DISK) — it feeds both the point-in-time join and the
    positional matrix, and the pixel decode is the most expensive step;
    at cluster scale use ``checkpoint()`` instead for a durable cut.

    ``stages`` overrides named stages with custom callables or
    registered stage names (the pluggy hookimpl analog — see
    ``plans.registry``): keys ∈ {event_features, point_in_time, matrix,
    summary}; each callable keeps the default stage's signature."""
    from lbf_spark.plans.registry import resolve_stages

    cfg = cfg or FeatureConfig()
    impl = resolve_stages(stages)
    feats = impl.get("event_features", event_features)(events, cfg)
    if persist_features:
        from pyspark import StorageLevel

        feats = feats.persist(StorageLevel.MEMORY_AND_DISK)
    pit = impl.get("point_in_time", anchor_point_in_time)(feats, anchors, cfg)
    matrix = impl.get("matrix", anchor_window_matrix)(feats, anchors, cfg)
    summ = impl.get("summary", summarize)(matrix, cfg)
    if cfg.summary == "skip":  # identity summarizer: one vector per anchor
        vectors = summary_vectors(
            summ, keys=("entity", "anchor_ts", "name", "strand"),
            signal_col="cov_norm",
        )
    else:
        vectors = summary_vectors(summ)
    return {
        "event_features": feats,
        "point_in_time": pit,
        "matrix": matrix,
        "summary": summ,
        "vectors": vectors,
    }


# ------------------------------------------------------- checkpoint/lineage


def checkpoint(
    df: DataFrame,
    base_dir: str,
    rid: str,
    stage: str,
    spark: SparkSession | None = None,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Materialize a stage to parquet with a lineage manifest; on re-run
    with the same run_id, the stage is *reused, not recomputed* — the
    ``skip_read_fetching`` resume path (``core.py:266-275``).

    All manifest IO goes through the Hadoop FileSystem API (``fsio``),
    so ``base_dir`` may be a bare local path, a ``file:`` URI, or a DFS
    URI (``hdfs://``, ``s3a://``) — the form a multi-executor run needs
    (a driver-local manifest would be invisible to a restarted driver).
    """
    from lbf_spark import fsio

    spark = spark or df.sparkSession
    path = fsio.join(base_dir, rid, stage)
    manifest_path = fsio.join(path, "_MANIFEST.json")
    if not fsio.exists(spark, manifest_path):
        t0 = time.time()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        # per-partition lineage: every data file with its size (FS
        # metadata, free) + the stage row count (parquet-footer-only
        # count(*), no data scan) — enough to audit exactly what a
        # resumed run will reuse
        files = fsio.list_files_recursive(spark, path, ".parquet")
        manifest = {
            "run_id": rid,
            "stage": stage,
            "schema": df.schema.json(),
            "partition_by": partition_by or [],
            "files": files,
            "n_files": len(files),
            "n_rows": spark.read.parquet(path).count(),
            "total_bytes": sum(f["bytes"] for f in files),
            "wall_sec": round(time.time() - t0, 3),
        }
        fsio.write_text_atomic(spark, manifest_path, json.dumps(manifest, indent=1))
    return spark.read.parquet(path)


def load_manifest(
    base_dir: str, rid: str, stage: str, spark: SparkSession | None = None
) -> dict | None:
    from pyspark.sql import SparkSession as _S

    from lbf_spark import fsio

    spark = spark or _S.getActiveSession()
    p = fsio.join(base_dir, rid, stage, "_MANIFEST.json")
    if fsio.exists(spark, p):
        return json.loads(fsio.read_text(spark, p))
    return None


def run_pipeline(
    events: DataFrame,
    anchors: DataFrame,
    cfg: FeatureConfig,
    checkpoint_dir: str,
    spark: SparkSession | None = None,
    stages: dict | None = None,
) -> dict:
    """Production entrypoint: staged, checkpointed, resumable execution
    with a metrics manifest — the distributed restatement of the
    reference's ``run_id``-cached App.run() (``core.py:141-153,263-298``).

    Each stage materializes to ``<dir>/<run_id>/<stage>/`` with a JSON
    manifest; a re-run with the same config (⇒ same run_id) reuses every
    finished stage and recomputes only what is missing. Returns the
    metrics dict (also written to ``<dir>/<run_id>/metrics.json``).

    ``checkpoint_dir`` may be a local path, a ``file:`` URI, or any
    Hadoop-supported DFS URI (``hdfs://``, ``s3a://`` …) — manifest IO
    goes through the Hadoop FileSystem API, never ``os.*``.

    ``stages`` overrides named stages (see ``plans.registry``). run_id
    derives from cfg only — when overriding stages, use a distinct
    checkpoint_dir (or config) so cached results from the default
    pipeline are not wrongly reused.
    """
    from lbf_spark.plans.registry import resolve_stages

    spark = spark or events.sparkSession
    impl = resolve_stages(stages)
    rid = run_id(cfg)
    metrics: dict = {"run_id": rid, "stages": {}}
    t_all = time.time()

    def staged(name: str, df_fn):
        reused = load_manifest(checkpoint_dir, rid, name, spark) is not None
        t0, (n0, ms0) = time.time(), codegen_counters(spark)
        out = checkpoint(df_fn(), checkpoint_dir, rid, name, spark)
        n1, ms1 = codegen_counters(spark)
        metrics["stages"][name] = {
            "wall_sec": round(time.time() - t0, 3),
            "reused": reused,
            "codegen_compiles": n1 - n0,
            "codegen_compile_ms": round(ms1 - ms0, 3),
        }
        return out

    feats_ck = staged(
        "event_features",
        lambda: impl.get("event_features", event_features)(events, cfg),
    )
    pit_ck = staged(
        "point_in_time",
        lambda: impl.get("point_in_time", anchor_point_in_time)(
            feats_ck, anchors, cfg
        ),
    )

    def _vectors():
        matrix = impl.get("matrix", anchor_window_matrix)(feats_ck, anchors, cfg)
        summ = impl.get("summary", summarize)(matrix, cfg)
        if cfg.summary == "skip":
            return summary_vectors(
                summ, keys=("entity", "anchor_ts", "name", "strand"),
                signal_col="cov_norm",
            )
        return summary_vectors(summ)

    vec_ck = staged("vectors", _vectors)

    metrics["n_vectors"] = vec_ck.count()
    metrics["n_pit_rows"] = pit_ck.count()
    metrics["total_wall_sec"] = round(time.time() - t_all, 3)
    from lbf_spark import fsio

    mpath = fsio.join(checkpoint_dir, rid, "metrics.json")
    fsio.write_text_atomic(spark, mpath, json.dumps(metrics, indent=1))
    metrics["metrics_path"] = mpath
    return metrics
