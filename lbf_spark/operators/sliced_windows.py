"""Skew-safe (halo-sliced) variants of the order-dependent window ops.

The plain window operators (``windows.py``) put every row of an entity
in ONE task (``Window.partitionBy(entity)``). With a Zipf-skewed key —
one entity holding ≥20 % of 10¹² rows — that task overflows. These
variants split each entity's timeline into ``_slice = floor(ts / W)``
buckets so the hot entity's window work runs in span/W parallel tasks,
while producing **bit-identical** results to the unsliced operators
(property-tested in ``tests/test_sliced_windows.py``):

- **Bounded row kernels** (the rolling mean over the last ``window``
  rows, the lag-1 hamming drift): each slice is processed with a
  *halo* — the ``window-1`` rows immediately preceding the slice,
  duplicated in.
  Any row among the last ``window-1`` before slice *s* is necessarily
  among the last ``window-1`` rows of its own slice, so collecting the
  per-slice tails is sufficient even when intermediate slices are
  nearly empty (the per-entity halo assembly walks ALL prior tails,
  not just slice s-1). Halo rows are dropped from the output.
  The duplicate-then-trim shape is the same ``extra_bases`` over-fetch
  the reference uses for interval edges
  (``/root/reference/src/lbfextract/fextract/lib.py:72-76``) and that
  ``asof_join_sliced``/``interval_join`` already apply to joins.

- **Sessionize** (unbounded gap-cumsum), fused with the rolling mean
  and the hamming drift in ``fused_bounded_sliced``: two-phase prefix
  sums. Phase 1 computes per-(entity, slice) local boundary cumsums
  (skew-safe window; the one-row halo gives each slice's first row its
  true predecessor). Phase 2 reduces one tiny row per slice (local
  boundary count) per entity — n_slices rows, not n_rows — into a
  per-slice session offset, broadcast-joined back.

Cost model: halo duplication is ≤ (window-1) × n_slices extra rows per
entity (0.1 % at window=100, 10⁶ rows/slice); phase-2 state is n_slices
rows per entity. Both are O(parallelism), not O(data).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F


def _norm(by, order):
    by = [by] if isinstance(by, str) else list(by)
    order = [order] if isinstance(order, str) else list(order)
    return by, order


def _auto_slice_width(df: DataFrame, ts_col: str) -> int:
    """Target ≈ shuffle-partition-count slices over the global ts span —
    one tiny driver agg, same trade as AQE's stats collection."""
    lo, hi = df.agg(F.min(ts_col), F.max(ts_col)).first()
    if lo is None:
        return 1
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return max(1, int(hi - lo + 1) // max(1, n))


def _with_slice(df: DataFrame, ts_col: str, slice_width: int) -> DataFrame:
    return df.withColumn(
        "_slice", F.floor(F.col(ts_col) / F.lit(int(slice_width))).cast("long")
    )


def _halo_rows(
    df_sliced: DataFrame, window: int, by: list[str], order: list[str]
) -> DataFrame:
    """Rows to duplicate into each slice: for every slice s, the last
    ``window-1`` rows (in `order`) of all slices < s, re-tagged with
    ``_slice = s``. Built from per-slice tails (skew-safe window) +
    one per-entity pass over the tails only (n_slices×(window-1) rows,
    never the full data)."""
    w_desc = Window.partitionBy(*by, "_slice").orderBy(
        *[F.desc(c) for c in order]
    )
    tails = (
        df_sliced.withColumn("_rn", F.row_number().over(w_desc))
        .filter(F.col("_rn") < window)
        .drop("_rn")
    )
    schema = df_sliced.schema
    order_cols = list(order)
    k = window - 1

    def assemble(keys: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # One forward pass over the slices, carrying a rolling buffer of
        # the last k prior rows — O(n_slices * window), never quadratic
        # (a per-slice rescan of all prior tails would be O(n_slices²)
        # inside ONE task at the 10⁵-10⁶-slice design point).
        pdf = pdf.sort_values(order_cols, kind="mergesort", ignore_index=True)
        out = []
        tail = pdf.iloc[0:0]
        # order_cols starts with ts and _slice = floor(ts/W), so the
        # sort above is also slice-ordered; groupby keeps intra-slice order.
        for s, grp in pdf.groupby("_slice", sort=True):
            if len(tail):
                h = tail.copy()
                h["_slice"] = s
                out.append(h)
            tail = pd.concat([tail, grp]).tail(k) if len(tail) else grp.tail(k)
        if not out:
            return pdf.iloc[0:0]
        return pd.concat(out, ignore_index=True)

    return tails.groupBy(*by).applyInPandas(assemble, schema)


def fused_bounded_sliced(
    df: DataFrame,
    value_col: str,
    rolling_w: int,
    gap: int,
    phash_col: str = "phash",
    by="entity",
    order="ts",
    ts_col: str | None = None,
    slice_width: int | None = None,
    roll_out: str = "roll_mean",
    drift_out: str = "phash_drift",
    session_out: str = "session_id",
) -> DataFrame:
    """Rolling mean + hamming drift + sessionize in ONE halo-sliced
    exchange (the flagship's three row-bounded kernels; values identical
    to the unsliced ops, property-tested).

    Three separately sliced kernels would cost three full-data shuffles
    of the hot subset; all three only need the *same* (entity, slice)
    partitioning with a halo of max(rolling_w−1, 1) prior rows, so one
    exchange serves them all. The halo also simplifies sessionize: each
    real row's lag-predecessor inside the slice IS its true
    predecessor, so the gap test is locally exact and phase 2 reduces
    to a per-slice prefix sum of boundary counts (one tiny row per
    slice).

    The post-window frame stays persisted for the session (both the
    output and the offsets consume it; unpersisting inside the operator
    would drop it before the caller's action). Long-lived sessions
    invoking this repeatedly should `spark.catalog.clearCache()`
    between runs — `run_pipeline` materializes stages to parquet right
    after, so the cache is only live within one stage."""
    by, order = _norm(by, order)
    ts = ts_col or order[0]
    if slice_width is None:
        slice_width = _auto_slice_width(df, ts)
    from pyspark import StorageLevel

    k = max(rolling_w, 2)  # halo rows: rolling needs w-1, lag needs 1
    sliced = _with_slice(df, ts, slice_width)
    halos = _halo_rows(sliced, k, by, order).withColumn("_halo", F.lit(1))
    full = sliced.withColumn("_halo", F.lit(0)).unionByName(halos)

    w = Window.partitionBy(*by, "_slice").orderBy(*order)
    w_roll = w.rowsBetween(-(rolling_w - 1), 0)
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    prev_hash = F.lag(phash_col, 1).over(w)
    is_new = F.when(
        (F.col(ts) - F.lag(ts, 1).over(w)) > gap, F.lit(1)
    ).otherwise(F.lit(0))
    feat = (
        full.withColumn(roll_out, F.avg(value_col).over(w_roll))
        .withColumn(
            drift_out,
            F.when(prev_hash.isNull(), F.lit(None).cast("int")).otherwise(
                F.bit_count(F.col(phash_col).bitwiseXOR(prev_hash))
            ),
        )
        .withColumn("_new", is_new)
        .withColumn(
            "_local_cum",
            F.sum(F.when(F.col("_halo") == 0, F.col("_new"))).over(w_cum),
        )
        .filter(F.col("_halo") == 0)
        # persisted: the main output AND the session-offset aggregation
        # both consume this frame — without it the offsets branch
        # re-executes the entire upstream lineage (halo assembly, the
        # window pass, and at flagship scale the pixel decode)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # per-slice boundary counts -> exclusive prefix sum = session offset
    summ = feat.groupBy(*by, "_slice").agg(F.sum("_new").alias("_n_local"))
    w_ent = Window.partitionBy(*by).orderBy("_slice")
    offsets = summ.withColumn(
        "_offset",
        F.coalesce(
            F.sum("_n_local").over(w_ent.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).select(*by, "_slice", "_offset")
    res = feat.join(F.broadcast(offsets), [*by, "_slice"], "inner").withColumn(
        session_out, F.col("_offset") + F.col("_local_cum")
    )
    return res.drop("_slice", "_halo", "_new", "_local_cum", "_offset")


def rolling_count_range_sliced(
    df: DataFrame,
    out: str,
    span: int,
    by="entity",
    order="ts",
    slice_width: int | None = None,
) -> DataFrame:
    """Sliced ``windows.rolling_count_range`` (events in the trailing
    TIME range [ts−span, ts]). The lookback is time-bounded, so the
    halo is time-based: each row is duplicated into every slice whose
    rows could count it — ``floor(ts/W) … floor((ts+span)/W)`` — the
    exact duplicate-then-trim shape ``interval_join`` uses. With
    W ≥ span that is ≤ 2 copies per row."""
    by, order = _norm(by, order)
    ts = order[0]
    if slice_width is None:
        slice_width = _auto_slice_width(df, ts)
    w_int = int(slice_width)
    owner = F.floor(F.col(ts) / F.lit(w_int)).cast("long")
    exploded = df.withColumn(
        "_slice",
        F.explode(
            F.sequence(
                owner, F.floor((F.col(ts) + F.lit(span)) / F.lit(w_int)).cast("long")
            )
        ),
    ).withColumn("_halo", F.when(F.col("_slice") == owner, 0).otherwise(1))
    # rangeBetween orders on a single numeric column — count over ts.
    # Every historical row lands exactly once in each slice it can
    # serve, so the tie-inclusive SET semantics match the unsliced op.
    w_rng = (
        Window.partitionBy(*by, "_slice").orderBy(ts).rangeBetween(-span, 0)
    )
    res = exploded.withColumn(out, F.count(F.lit(1)).over(w_rng))
    return res.filter(F.col("_halo") == 0).drop("_slice", "_halo")
