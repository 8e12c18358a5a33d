"""Windowed feature operators over per-entity ordered streams.

Re-expresses the reference's positional kernels (SURVEY.md §2.4/2.5):
rolling mean with ``min_count=1`` (``signal_transformer.py:176``),
rolling median (``signal_transformer.py:276``), lag-1 drift
(``hamming_to_prev``), dyad-gap segmentation → sessionize
(``signal_transformer.py:50-113``), and the backfill/ffill stage of the
north_rule. Everything that Spark's JVM window machinery can express
stays JVM-side (whole-stage codegen); only the exact rolling median
drops to an Arrow-batched grouped pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T


def _w(by, order):
    by = [by] if isinstance(by, str) else list(by)
    order = [order] if isinstance(order, str) else list(order)
    return Window.partitionBy(*by).orderBy(*order)


def rolling_mean(
    df: DataFrame, col: str, out: str, window: int,
    by="entity", order="ts",
) -> DataFrame:
    """Trailing rolling mean over the last `window` rows (min_count=1)."""
    w = _w(by, order).rowsBetween(-(window - 1), 0)
    return df.withColumn(out, F.avg(col).over(w))


def rolling_count_range(
    df: DataFrame, out: str, span: int, by="entity", order="ts"
) -> DataFrame:
    """Events in the trailing time range [ts - span, ts] (coverage analog A1)."""
    w = _w(by, order).rangeBetween(-span, 0)
    return df.withColumn(out, F.count(F.lit(1)).over(w))


def rolling_min_max(df, col, out_min, out_max, window, by="entity", order="ts"):
    w = _w(by, order).rowsBetween(-(window - 1), 0)
    return df.withColumn(out_min, F.min(col).over(w)).withColumn(
        out_max, F.max(col).over(w)
    )


def ffill(df: DataFrame, col: str, out: str | None = None, by="entity", order="ts"):
    """Forward-fill nulls with the last non-null value (backfill stage)."""
    w = _w(by, order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out or col, F.last(col, ignorenulls=True).over(w))


def bfill(df: DataFrame, col: str, out: str | None = None, by="entity", order="ts"):
    """Backward-fill nulls with the next non-null value."""
    w = _w(by, order).rowsBetween(0, Window.unboundedFollowing)
    return df.withColumn(out or col, F.first(col, ignorenulls=True).over(w))


def sessionize(
    df: DataFrame, gap: int, out: str = "session_id", by="entity", order="ts",
    ts_col: str | None = None,
) -> DataFrame:
    """Session ids via timestamp-gap cumsum (dyad segmentation analog,
    ``signal_transformer.py:50-113``): a new session starts whenever
    ``ts - lag(ts) > gap``. Pure JVM window ops — no Python.

    ``order`` may be a list (tie-broken ordering); the gap is measured
    on ``ts_col`` (default: the first order column)."""
    ts_col = ts_col or (order if isinstance(order, str) else order[0])
    w = _w(by, order)
    wc = _w(by, order).rowsBetween(Window.unboundedPreceding, 0)
    is_new = F.when(
        (F.col(ts_col) - F.lag(ts_col, 1).over(w)) > gap, F.lit(1)
    ).otherwise(F.lit(0))
    # first row of each entity: lag is null ⇒ otherwise(0) ⇒ session 0
    return df.withColumn(out, F.sum(is_new).over(wc))


def rolling_median(
    df: DataFrame, col: str, out: str, window: int, by="entity", order="ts",
) -> DataFrame:
    """Exact trailing rolling median (WPS smoothing analog,
    ``signal_transformer.py:276``). Spark has no rolling-median kernel;
    two exact implementations:

    * ``window ≤ 64`` (the common smoothing case): pure JVM —
      ``array_sort(collect_list(x) over frame)`` then the middle
      element(s). Whole-stage codegen, no Python workers, O(w log w)
      per row on a ≤64-element array. min_periods=1 falls out of the
      growing frame at partition start.
    * larger windows: the grouped Arrow pandas kernel (collect_list
      arrays per row would cost O(w) memory each) — the sanctioned
      slow path (SURVEY.md §7 hard-part e)."""
    if window <= 64:
        w = _w(by, order).rowsBetween(-(window - 1), 0)
        return df.withColumn(out, _median_over(col, w))
    by = [by] if isinstance(by, str) else list(by)
    schema = T.StructType(df.schema.fields + [T.StructField(out, T.DoubleType(), True)])

    order_cols = [order] if isinstance(order, str) else list(order)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort", ignore_index=True)
        pdf[out] = (
            pdf[col].astype("float64").rolling(window, min_periods=1).median()
        )
        return pdf

    return df.groupBy(*by).applyInPandas(fn, schema)


def _median_over(col: str, w) -> F.Column:
    """Exact median over a window frame, all-JVM: sort the collected
    frame values, average the middle pair (== the single middle element
    when the count is odd, since both 1-based indexes coincide).
    Null inputs are skipped (collect_list drops them, matching pandas
    rolling median's NaN handling); an all-null frame yields NaN — the
    same representation the >64-window pandas path emits, so output
    semantics do not flip across the window=64/65 implementation
    boundary."""
    arr = F.array_sort(F.collect_list(F.col(col).cast("double")).over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    return F.when(n > 0, (lo + hi) / 2.0).otherwise(F.lit(float("nan")))


def hamming_to_prev(
    df: DataFrame, col: str = "phash", out: str = "phash_drift", by="entity", order="ts"
) -> DataFrame:
    """Hamming distance of a 64-bit hash to the previous row's value —
    the rolling-phash feature of the north_rule. JVM-side bit_count."""
    w = _w(by, order)
    prev = F.lag(col, 1).over(w)
    return df.withColumn(
        out,
        F.when(prev.isNull(), F.lit(None).cast("int")).otherwise(
            F.bit_count(F.col(col).bitwiseXOR(prev))
        ),
    )


def wps(
    events: DataFrame,
    anchors: DataFrame,
    window: int,
    max_duration: int,
    median_window: int = 100,
    by: str = "entity",
    on: str = "ts",
    anchor_on: str = "anchor_ts",
    duration_col: str = "duration",
) -> DataFrame:
    """Windowed protection score (A7, ``signal_transformer.py:237-276``).

    Per anchor: (# events whose extent [ts, ts+duration) fully spans the
    ±window/2 interval) − (# events with an endpoint inside it), then
    subtract the per-entity trailing rolling median over the anchor
    series (the reference's window-100 median detrend).

    Physical plan: ONE range-binned interval join over-fetching by
    ``max_duration`` (duplicate-then-trim — the extra_bases analog),
    classification as JVM conditionals, one aggregation, then the exact
    rolling median (grouped Arrow kernel).

    Precondition: anchor rows are unique — the per-anchor aggregation
    groups on all anchor columns, so exact-duplicate anchors collapse
    to one output row (anchors are distinct positions by construction
    in every caller; dedupe first if yours aren't).
    """
    from lbf_spark.operators.asof import interval_join

    w2 = window // 2
    # INNER join (not left outer): a left outer join cannot broadcast
    # its left/build side, so `how="left"` here would force the event
    # side to shuffle at scale. Anchors with zero matching events are
    # restored afterwards by a cheap anchor-sized left join.
    joined = interval_join(
        events.select(by, on, duration_col),
        anchors,
        on=on,
        anchor_on=anchor_on,
        by=by,
        lower=-(w2 + max_duration),
        upper=w2,
    )
    start = F.col(on)
    end = F.col(on) + F.col(duration_col)
    lo = F.col(anchor_on) - w2
    hi = F.col(anchor_on) + w2
    spanning = F.when((start <= lo) & (end >= hi), 1).otherwise(0)
    endpoint_in = F.when(
        ((start >= lo) & (start <= hi)) | ((end >= lo) & (end <= hi)), 1
    ).otherwise(0)
    counts = (
        joined.withColumn("_c", spanning - endpoint_in)
        .groupBy(*[c for c in anchors.columns])
        .agg(F.sum("_c").alias("wps_raw"))
    )
    raw = anchors.join(counts, list(anchors.columns), "left").fillna(
        {"wps_raw": 0}
    )
    med = rolling_median(
        raw, "wps_raw", "_med", median_window, by=by, order=anchor_on
    )
    return med.withColumn("wps", F.col("wps_raw") - F.col("_med")).drop("_med")


def resample_grid(
    df: DataFrame,
    step: int,
    value: str,
    by: str = "entity",
    ts_col: str = "ts",
    how: str = "mean",
    fill: str | None = None,
) -> DataFrame:
    """Resample each entity's event stream onto a fixed-interval grid:
    bucket ts by ``step``, aggregate ``value`` per bucket, densify the
    per-entity [min_bucket, max_bucket] range (empty buckets → null),
    then optionally gap-fill ('ffill' | 'bfill'). The dense-grid analog
    of the reference's fixed-length per-interval tensors
    (``fextract/lib.py:182-213`` builds exactly such a dense array per
    interval before summarizing).

    Determinism: 'mean' is computed as decimal(28,12)-cast sum / count
    so partial-aggregation order cannot change bits (repo rule).
    Output: (by, bucket, bucket_ts, value). All JVM; the densify join
    is per-entity-range — the grid side is |entities| × n_buckets rows.
    """
    aggs = {
        "mean": lambda c: (
            F.sum(F.col(c).cast("decimal(28,12)")).cast("double")
            / F.count(F.col(c))
        ),
        "sum": lambda c: F.sum(F.col(c).cast("decimal(28,12)")).cast("double"),
        "min": lambda c: F.min(c),
        "max": lambda c: F.max(c),
        "count": lambda c: F.count(c).cast("double"),
    }
    if how not in aggs:
        raise ValueError(f"how must be one of {sorted(aggs)}")
    bucket = F.floor(F.col(ts_col) / F.lit(int(step))).cast("long")
    agg = (
        df.withColumn("bucket", bucket)
        .groupBy(by, "bucket")
        .agg(aggs[how](value).alias("_v"))
    )
    bounds = agg.groupBy(by).agg(
        F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi")
    )
    grid = bounds.select(
        by, F.explode(F.sequence("_lo", "_hi")).alias("bucket")
    )
    dense = grid.join(agg, [by, "bucket"], "left")
    if fill == "ffill":
        dense = ffill(dense, "_v", by=by, order="bucket")
    elif fill == "bfill":
        dense = bfill(dense, "_v", by=by, order="bucket")
    elif fill is not None:
        raise ValueError("fill must be None, 'ffill' or 'bfill'")
    return dense.select(
        by,
        "bucket",
        (F.col("bucket") * int(step)).alias("bucket_ts"),
        F.col("_v").alias(value),
    )


def peter_ulz_coverage(
    events: DataFrame,
    anchors: DataFrame,
    span: int,
    bucket_w: int,
    read_start: int = 53,
    read_end: int = 113,
    by: str = "entity",
    on: str = "ts",
    anchor_on: str = "anchor_ts",
    duration_col: str = "duration",
    weight_col: str | None = None,
) -> DataFrame:
    """Peter-Ulz two-offset-window coverage (A4,
    ``signal_transformer.py:207-234``): each event of extent
    [ts, ts+duration) contributes coverage over TWO fixed sub-intervals
    — [ts+read_start, ts+read_end) from the fragment start and
    [ts+duration−read_end, ts+duration−read_start) mirrored from the
    end — each weighted by the per-event GC coefficient (default 1).

    Output: dense (anchor × bucket) rows with ``cov`` = Σ weight over
    sub-intervals overlapping that bucket's time range, bucket b
    covering (anchor_ts − (b+1)·bucket_w, anchor_ts − b·bucket_w]
    (same age convention as ``anchor_window_matrix``).

    Physical plan: JVM explode to 2 sub-rows/event → ONE range-binned
    interval join on the sub-interval start, over-fetched by the sub
    length (duplicate-then-trim) → JVM sequence-explode of the few
    buckets each sub overlaps → partial-aggregating sum. No Python
    anywhere; never a nested-loop join.
    """
    from lbf_spark.operators.asof import interval_join

    if read_end <= read_start:
        raise ValueError("read_end must be > read_start")
    sub_len = read_end - read_start
    nb = span // bucket_w
    w_exp = (
        F.coalesce(F.col(weight_col).cast("double"), F.lit(1.0))
        if weight_col
        else F.lit(1.0)
    )
    subs = events.select(
        by,
        F.explode(
            F.array(
                F.struct(
                    (F.col(on) + read_start).alias("s"),
                    (F.col(on) + read_end).alias("e"),
                ),
                F.struct(
                    (F.col(on) + F.col(duration_col) - read_end).alias("s"),
                    (F.col(on) + F.col(duration_col) - read_start).alias("e"),
                ),
            )
        ).alias("_iv"),
        w_exp.alias("_w"),
    ).select(by, F.col("_iv.s").alias("_s"), F.col("_iv.e").alias("_e"), "_w")

    joined = interval_join(
        subs,
        anchors,
        on="_s",
        anchor_on=anchor_on,
        by=by,
        lower=-(span - 1) - sub_len,  # over-fetch: sub may START before
        upper=0,                      # the window yet still overlap it
    )
    a = F.col(anchor_on)
    t_min = F.greatest(F.col("_s"), a - F.lit(span - 1))
    t_max = F.least(F.col("_e") - 1, a)
    overl = joined.filter(t_min <= t_max)
    b_lo = F.floor((a - t_max) / F.lit(bucket_w))
    b_hi = F.floor((a - t_min) / F.lit(bucket_w))
    per_bucket = overl.select(
        *[c for c in anchors.columns],
        "_w",
        F.explode(F.sequence(b_lo, b_hi)).alias("bucket"),
    )
    agg = per_bucket.groupBy(*anchors.columns, "bucket").agg(
        F.sum("_w").alias("cov")
    )
    dense = anchors.select(
        *anchors.columns,
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(nb - 1).cast("long"))
        ).alias("bucket"),
    )
    return dense.join(
        agg, [*anchors.columns, "bucket"], "left"
    ).fillna({"cov": 0.0})


def dyad_centers(
    events: DataFrame,
    spacing: int,
    by: str = "entity",
    on: str = "ts",
    duration_col: str = "duration",
    out: str = "center_ts",
) -> DataFrame:
    """Deterministic dyad expansion (A5 analog,
    ``signal_transformer.py:50-113``): each event of extent
    [ts, ts+duration) expands into k = max(1, duration // spacing)
    centers at the midpoints of k equal segments.

    The reference samples k with *unseeded* ``np.random.choice`` — the
    one nondeterminism SURVEY.md §4 flags; here k is a pure function of
    duration so results are reproducible and engine-portable (integer
    floor arithmetic only). Explode is JVM-side."""
    k = F.greatest(F.lit(1), F.floor(F.col(duration_col) / F.lit(spacing)))
    centers = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.col(on)
        + F.floor(
            ((2 * i + 1) * F.col(duration_col)) / (2 * k)
        ).cast("long"),
    )
    return events.withColumn(out, F.explode(centers))


def dyad_centers_prob(
    events: DataFrame,
    spacing: int,
    by: str = "entity",
    on: str = "ts",
    duration_col: str = "duration",
    id_col: str = "event_id",
    out: str = "center_ts",
    seed: int = 42,
    with_k: bool = False,
) -> DataFrame:
    """SEEDED probabilistic dyad expansion — the reference's stochastic
    A5 mode (``signal_transformer.py:50-113``) with the unseeded
    ``np.random.choice`` replaced by an md5-derived per-row uniform
    (the A15 seeding rule), so results are deterministic, partition-
    order independent, and engine-portable while keeping the
    reference's sampling law:

      k_floor = duration // spacing, rem = duration % spacing,
      P(k = k_floor + 1) = rem / spacing   (reference's ``p_next``),
      k = max(1, draw), expanded = k * spacing,
      centers = midpoint − expanded//2 + spacing//2 + i·spacing.

    The uniform is pure JVM: ``md5(seed:entity:event_id)`` → first 13
    hex chars → 52-bit integer / 2^52 ∈ [0, 1). Explode is JVM-side —
    no Python anywhere. ``with_k`` keeps the drawn count (``dyad_k``)
    and the uniform (``dyad_u``) for certificate queries.

    DELIBERATE geometry divergence from the reference: center stepping
    here is uniform for every k (first center at ``est + spacing//2``,
    then ``spacing`` apart). The reference special-cases k = 2 (second
    center at ``3L − L//2`` — which lands OUTSIDE the expanded
    fragment, ~1 spacing off the uniform grid) and its k = 3 last
    center differs by 1 for odd spacings — integer-arithmetic quirks
    of its per-k branches, not part of the sampling law. The k-LAW
    (``P(k = floor + 1) = rem/spacing``) is reproduced exactly and
    certified by q114; the uniform grid is the documented, simpler
    geometry (SURVEY.md §4 parity notes).
    """
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(str(seed)), F.col(by), F.col(id_col)
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(float(1 << 52))
    )
    dur = F.col(duration_col)
    k_floor = F.floor(dur / F.lit(spacing))
    p_next = (dur % F.lit(spacing)) / F.lit(float(spacing))
    k = F.greatest(
        F.lit(1).cast("long"),
        (k_floor + (F.col("dyad_u") < p_next).cast("long")).cast("long"),
    )
    expanded = F.col("dyad_k") * F.lit(spacing)
    est = F.col(on) + F.floor(dur / 2).cast("long") - F.floor(expanded / 2).cast("long")
    centers = F.transform(
        F.sequence(F.lit(0).cast("long"), F.col("dyad_k") - 1),
        lambda i: est + F.lit(spacing // 2) + i * F.lit(spacing),
    )
    res = (
        events.withColumn("dyad_u", u)
        .withColumn("dyad_k", k)
        .withColumn(out, F.explode(centers))
    )
    return res if with_k else res.drop("dyad_k", "dyad_u")


def funnel_conversion(
    df: DataFrame,
    start_event: str,
    goal_event: str,
    by: str = "entity",
    ts: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Two-step funnel over an event stream: per entity, the first
    ``start_event`` timestamp and the first ``goal_event`` at-or-after
    it, plus a conversion flag and time-to-convert (−1 when never
    converted). The standard product-analytics conversion query, with
    the point-in-time constraint (goal must not precede start) shared
    with the as-of operators.

    Shape at 100 TB: ONE hash exchange on the entity — the per-entity
    window min that finds the start and the groupBy that finds the
    conditional goal min share the same partitioning, so Catalyst
    reuses the exchange. No self-join, no inequality join."""
    w = Window.partitionBy(by)
    start = F.min(
        F.when(F.col(type_col) == start_event, F.col(ts))
    ).over(w)
    return (
        df.withColumn("__start_ts", start)
        .filter(F.col("__start_ts").isNotNull())
        .groupBy(by)
        .agg(
            F.min("__start_ts").alias("start_ts"),
            F.min(
                F.when(
                    (F.col(type_col) == goal_event)
                    & (F.col(ts) >= F.col("__start_ts")),
                    F.col(ts),
                )
            ).alias("goal_ts"),
        )
        .select(
            by,
            "start_ts",
            "goal_ts",
            F.col("goal_ts").isNotNull().cast("int").alias("converted"),
            F.coalesce(
                F.col("goal_ts") - F.col("start_ts"), F.lit(-1)
            ).cast("long").alias("us_to_convert"),
        )
    )


def session_paths(
    df: DataFrame,
    gap: int,
    by: str = "entity",
    ts: str = "ts",
    type_col: str = "event_type",
    tiebreak: str | None = None,
    sep: str = ">",
) -> DataFrame:
    """Event-sequence mining: per session (gap-cumsum ``sessionize``),
    the ordered path of event types as a single string — the input to
    top-path / funnel-drop-off analytics. Ordering inside a session is
    total (ts, tiebreak), so the path string is engine-exact: events
    are collected as structs and ``array_sort``ed (struct comparison is
    lexicographic), never relying on collect order.

    Shape at 100 TB: sessionize's entity exchange is reused by the
    (entity, session) groupBy; paths are bounded by session length —
    the pathological one-giant-session entity is the same skew case the
    sliced kernels handle upstream."""
    order = [ts] if tiebreak is None else [ts, tiebreak]
    s = sessionize(df, gap, out="__sess", by=by, order=order, ts_col=ts)
    sort_fields = [F.col(c) for c in order] + [F.col(type_col)]
    return (
        s.groupBy(by, "__sess")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(*sort_fields))
                    ),
                    lambda x: x[type_col],
                ),
            ).alias("path"),
            F.count(F.lit(1)).alias("path_len"),
        )
        .withColumnRenamed("__sess", "session_id")
    )


def ewma(
    df: DataFrame,
    col: str,
    alpha: float,
    window: int,
    out: str = "ewma",
    by: str = "entity",
    order="ts",
) -> DataFrame:
    """Exponentially-weighted moving average, exact over a bounded
    window: ``Σ_k (1−α)^k·x_{t−k} / Σ_k (1−α)^k`` for k in
    [0, window), renormalized over the lags actually present near the
    head of each entity. The unbounded recursive EWMA is inherently
    sequential; bounding it at ``window`` terms (the remaining tail
    weight is (1−α)^window — pick window for the precision you need)
    turns it into a FIXED-ORDER sum of ``lag`` columns: one window
    exchange, no arrays, no Python, and the addition order is the
    k-order in both engines, so results are bit-reproducible."""
    orders = [order] if isinstance(order, str) else list(order)
    w = Window.partitionBy(by).orderBy(*[F.asc(c) for c in orders])
    num = None
    den = None
    for k in range(window):
        c_k = float((1.0 - alpha) ** k)
        x_k = F.lag(F.col(col), k).over(w)
        t = F.coalesce(x_k * F.lit(c_k), F.lit(0.0))
        d = F.when(x_k.isNotNull(), F.lit(c_k)).otherwise(F.lit(0.0))
        num = t if num is None else num + t
        den = d if den is None else den + d
    # All lags NULL (e.g. leading NULL run in the series) leaves den at
    # 0.0 — emit NULL like the other window kernels, never NaN.
    return df.withColumn(
        out, F.when(den > F.lit(0.0), F.round(num / den, 6))
    )


def autocorr(
    df: DataFrame,
    col: str,
    lag: int = 1,
    by: str = "entity",
    order="ts",
    tiebreak: str | None = None,
    out: str = "autocorr",
) -> DataFrame:
    """Per-entity lag-k autocorrelation — the serial-dependence feature
    a training pipeline derives per series (is this entity's signal
    noise or drift?). Pearson r over the (x_t, x_{t-lag}) pairs of each
    entity, ordered by (order, tiebreak) — a TOTAL order, per the
    determinism rules.

    Engine-exactness: the five sufficient statistics (Σx, Σy, Σx²,
    Σy², Σxy) are DECIMAL(18,4) sums / products — decimal addition is
    associative, so Spark's partial-aggregation order cannot change a
    bit — and only then does the pipeline drop to double for the
    closed-form r = (nΣxy−ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)), an
    identical IEEE expression tree on both engines. Zero-variance and
    short series (< 2 pairs) are dropped, never NaN.

    One window exchange on ``by`` (the lag), reused by the groupBy —
    same hash partitioning, no second shuffle. Scale: output is one
    row per entity; no state beyond the five sums."""
    orders = [order] if isinstance(order, str) else list(order)
    if tiebreak:
        orders = orders + [tiebreak]
    w = Window.partitionBy(by).orderBy(*[F.asc(c) for c in orders])
    xd = F.col(col).cast("decimal(18,4)")
    pairs = (
        df.withColumn("__x", xd)
        .withColumn("__y", F.lag(xd, lag).over(w))
        .filter(F.col("__y").isNotNull())
    )
    a = pairs.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("__x").cast("double").alias("__sx"),
        F.sum("__y").cast("double").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).cast("double").alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).cast("double").alias("__syy"),
        F.sum(F.col("__x") * F.col("__y")).cast("double").alias("__sxy"),
    )
    n = F.col("n_pairs").cast("double")
    num = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den2 = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx")) * (
        n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    )
    return (
        a.filter((F.col("n_pairs") >= 2) & (den2 > F.lit(0.0)))
        .withColumn(out, num / F.sqrt(den2))
        .drop("__sx", "__sy", "__sxx", "__syy", "__sxy")
    )


def cusum_drift(
    df: DataFrame,
    col: str,
    by: str = "entity",
    order="ts",
    tiebreak: str | None = None,
    h_sigmas: float = 1.5,
) -> DataFrame:
    """CUSUM drift chart per entity (Page 1954's cumulative-deviation
    plot): C_t = Σ_{i≤t}(x_i − μ_entity), with an excursion flag where
    |C_t| crosses h·σ·√t — the feature-drift / changepoint screen a
    feature store runs per entity series.

    Engine-exactness: C_t·n = n·P_t − t·S where P_t (prefix sum) and S
    (entity sum) are exact DECIMAL(18,4) window sums — the recursion-free
    identity keeps every aggregation associative; the single division
    and the σ√t threshold run in double on identical IEEE expression
    trees, so the flag (a comparison of bit-identical doubles) is
    deterministic too. No mean is ever averaged in raw double
    (CLAUDE.md q115 rule).

    ONE hash exchange on ``by`` + one in-partition sort serves the
    row_number, the prefix sum and both entity totals (same window
    spec family). Scale: per-row output, per-entity state is two
    numbers."""
    orders = [order] if isinstance(order, str) else list(order)
    if tiebreak:
        orders = orders + [tiebreak]
    asc = [F.asc(c) for c in orders]
    w_row = Window.partitionBy(by).orderBy(*asc)
    w_pre = w_row.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(by)
    xd = F.col(col).cast("decimal(18,4)")
    out = (
        df.withColumn("__t", F.row_number().over(w_row))
        .withColumn("__p", F.sum(xd).over(w_pre).cast("double"))
        .withColumn("__s", F.sum(xd).over(w_all).cast("double"))
        .withColumn("__ss", F.sum(xd * xd).over(w_all).cast("double"))
        .withColumn("__n", F.count(F.lit(1)).over(w_all).cast("double"))
    )
    t_d = F.col("__t").cast("double")
    cum_dev = (F.col("__n") * F.col("__p") - t_d * F.col("__s")) / F.col("__n")
    var_pop = (
        F.col("__n") * F.col("__ss") - F.col("__s") * F.col("__s")
    ) / (F.col("__n") * F.col("__n"))
    thresh = F.lit(float(h_sigmas)) * F.sqrt(
        F.greatest(var_pop, F.lit(0.0)) * t_d
    )
    return (
        out.withColumn("cum_dev", cum_dev)
        .withColumn("drift_flag", F.abs(cum_dev) > thresh)
        .drop("__p", "__s", "__ss", "__n")
        .withColumnRenamed("__t", "seq")
    )


def time_decay_ewma(
    df: DataFrame,
    col: str,
    ts_col: str,
    half_life: float,
    window: int,
    out: str = "decay_avg",
    by: str = "entity",
    order=None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Time-decayed moving average for IRREGULAR series — the
    recency-weighted feature (`ewma` weights by *position*; real event
    streams need weighting by *elapsed time*): each row averages its
    last ``window`` observations with weight ``exp(−ln2·Δt/half_life)``
    where Δt = own ts − lagged ts (so the k=0 term always has weight 1).
    ``half_life`` is in the units of ``ts_col`` (epoch micros here).

    Engine-exactness: Δt is exact bigint subtraction; each weight is
    one ``exp`` over one double division with the ln2 literal embedded
    identically in both engines (IEEE `exp` is within 1 ulp and the
    inputs are bit-identical, far inside the round(6) margin); the
    numerator/denominator are FIXED-ORDER sums of ``window`` lag terms
    — never a partial-agg-ordered float sum.

    ONE hash exchange on ``by``; all lags share the window sort.
    Scale: O(window) columns per row, no arrays, no Python."""
    orders = [order or ts_col] if isinstance(order or ts_col, str) else list(order)
    if tiebreak:
        orders = orders + [tiebreak]
    w = Window.partitionBy(by).orderBy(*[F.asc(c) for c in orders])
    ln2 = F.lit(0.6931471805599453)
    hl = F.lit(float(half_life))
    num = None
    den = None
    for k in range(window):
        x_k = F.lag(F.col(col), k).over(w)
        t_k = F.lag(F.col(ts_col), k).over(w)
        dt = (F.col(ts_col) - t_k).cast("double")
        w_k = F.exp(-ln2 * dt / hl)
        num_t = F.coalesce(x_k * w_k, F.lit(0.0))
        den_t = F.when(x_k.isNotNull(), w_k).otherwise(F.lit(0.0))
        num = num_t if num is None else num + num_t
        den = den_t if den is None else den + den_t
    return df.withColumn(
        out, F.when(den > F.lit(0.0), F.round(num / den, 6))
    )


def trend(
    df: DataFrame,
    col: str,
    ts_col: str,
    by: str = "entity",
    out_prefix: str = "trend_",
) -> DataFrame:
    """Per-entity OLS trend of ``col`` against time — slope (per
    second), intercept (value at the entity's first timestamp) and R²:
    the drift/trend feature vector a feature store derives per series.

    Engine-exactness (the autocorr recipe, x→value, t→seconds): time is
    re-based per entity (t = (ts − min ts) div 1e6, exact bigint
    floor-division — re-basing keeps Σt² within bigint and the decimal
    products within precision), the five sufficient statistics are
    exact (Σt, Σt² bigint; Σx, Σxt, Σx² DECIMAL — all associative), and
    only the closed forms drop to double on identical IEEE expression
    trees. Degenerate entities (n < 2, zero time- or value-variance)
    are dropped, never NaN/Inf.

    One hash exchange on ``by`` serves the min-ts window AND the
    groupBy (same partitioning). Output: one row per entity."""
    w_all = Window.partitionBy(by)
    xd = F.col(col).cast("decimal(18,4)")
    based = df.withColumn(
        "__t", F.expr(f"({ts_col} - min({ts_col}) over "
                      f"(partition by {by})) div 1000000")
    ).withColumn("__x", xd)
    a = based.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("__t").cast("double").alias("__st"),
        F.sum(F.col("__t") * F.col("__t")).cast("double").alias("__stt"),
        F.sum("__x").cast("double").alias("__sx"),
        F.sum(F.col("__x") * F.col("__x")).cast("double").alias("__sxx"),
        F.sum(F.col("__x") * F.col("__t").cast("decimal(18,0)"))
        .cast("double")
        .alias("__sxt"),
    )
    n = F.col("n_obs").cast("double")
    num = n * F.col("__sxt") - F.col("__sx") * F.col("__st")
    den_t = n * F.col("__stt") - F.col("__st") * F.col("__st")
    den_x = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = num / den_t
    return (
        a.filter((F.col("n_obs") >= 2) & (den_t > F.lit(0.0)))
        .withColumn(out_prefix + "slope", slope)
        .withColumn(
            out_prefix + "intercept",
            (F.col("__sx") - slope * F.col("__st")) / n,
        )
        .withColumn(
            out_prefix + "r2",
            F.when(den_x > F.lit(0.0), num * num / (den_t * den_x)),
        )
        .drop("__st", "__stt", "__sx", "__sxx", "__sxt")
    )


def interpolate_linear(
    df: DataFrame,
    col: str,
    ts_col: str,
    by: str = "entity",
    tiebreak: str | None = None,
    out: str | None = None,
) -> DataFrame:
    """Linear interpolation of NULL gaps per entity series — the
    numeric gap-filler between ``ffill`` (step) and model imputation:
    a null row takes prev + (next − prev)·(t − t_prev)/(t_next −
    t_prev) over its nearest non-null neighbors; leading/trailing
    nulls (no neighbor on one side) stay null, honestly.

    Engine-exactness: neighbor values/timestamps come from
    last/first-with-IGNORE-NULLS window selections under a TOTAL order
    (exact picks, both engines identical), and the interpolation
    itself is one IEEE expression tree over exact bigint time deltas.

    ONE hash exchange on ``by``; both direction windows reuse the same
    in-partition sort."""
    orders = [ts_col] if tiebreak is None else [ts_col, tiebreak]
    asc = [F.asc(c) for c in orders]
    w_b = (
        Window.partitionBy(by)
        .orderBy(*asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_f = (
        Window.partitionBy(by)
        .orderBy(*asc)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    x = F.col(col)
    prev_v = F.last(x, ignorenulls=True).over(w_b)
    prev_t = F.last(
        F.when(x.isNotNull(), F.col(ts_col)), ignorenulls=True
    ).over(w_b)
    next_v = F.first(x, ignorenulls=True).over(w_f)
    next_t = F.first(
        F.when(x.isNotNull(), F.col(ts_col)), ignorenulls=True
    ).over(w_f)
    frac = (F.col(ts_col) - prev_t).cast("double") / (
        (next_t - prev_t).cast("double")
    )
    interp = F.when(x.isNotNull(), x).otherwise(
        F.when(
            prev_v.isNotNull() & next_v.isNotNull(),
            F.when(next_t == prev_t, prev_v).otherwise(
                prev_v + (next_v - prev_v) * frac
            ),
        )
    )
    return df.withColumn(out or col + "_interp", interp)


def rolling_quantile(
    df: DataFrame,
    col: str,
    out: str,
    window: int,
    pct: int,
    by="entity",
    order="ts",
) -> DataFrame:
    """Exact trailing rolling quantile — the LOWER quantile, i.e. the
    element at rank ⌈pct·n/100⌉ of the sorted trailing window (a
    SELECTION, never an interpolation: engines pick the identical
    element, the q154 rank-statistics rule; min_periods=1 falls out of
    the growing frame at partition start). ``pct`` is an integer
    percent so the rank is exact bigint arithmetic ``div(n·pct + 99,
    100)`` — a float ``ceil(p·n)`` could land one above an integer
    product and silently shift the rank.

    ``window ≤ 64``: pure JVM (array_sort over the collected frame,
    whole-stage codegen — the rolling_median path). Larger windows:
    grouped Arrow kernel with the same selection definition (pandas'
    own 'lower' interpolation indexes floor(q·(n−1)) — a DIFFERENT
    statistic, so the kernel selects explicitly)."""
    if not 1 <= int(pct) <= 100:
        raise ValueError("pct must be in 1..100")
    pct = int(pct)
    if window <= 64:
        w = _w(by, order).rowsBetween(-(window - 1), 0)
        arr = F.array_sort(F.collect_list(F.col(col)).over(w))
        rank = F.expr(f"div(size({'__arr'}) * {pct} + 99, 100)")
        return (
            df.withColumn("__arr", arr)
            .withColumn(out, F.element_at("__arr", rank.cast("int")))
            .drop("__arr")
        )
    by_l = [by] if isinstance(by, str) else list(by)
    order_cols = [order] if isinstance(order, str) else list(order)
    schema = T.StructType(
        df.schema.fields + [T.StructField(out, T.DoubleType(), True)]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort", ignore_index=True)
        vals = pdf[col].astype("float64").to_numpy()
        res = np.empty(len(vals))
        for i in range(len(vals)):
            lo = max(0, i - window + 1)
            win = np.sort(vals[lo:i + 1])
            res[i] = win[(len(win) * pct + 99) // 100 - 1]
        pdf[out] = res
        return pdf

    return df.groupBy(*by_l).applyInPandas(fn, schema)


def rolling_corr(
    df: DataFrame,
    x: str,
    y: str,
    out: str,
    window: int,
    by="entity",
    order="ts",
) -> DataFrame:
    """Trailing rolling Pearson correlation between two signals per
    entity — the pairwise drift/co-movement feature (``autocorr`` is
    the lag-k SELF member; ``panel_corr_pairs`` the cross-entity one).

    Determinism: the five sufficient statistics (Σx, Σy, Σxy, Σx²,
    Σy²) accumulate as DECIMAL window sums over round(6)-quantized
    inputs — window frames are ordered, but decimal addition makes
    even retracted/partial accumulation exact — then ONE closed-form
    IEEE expression per row, round(6)ed. Windows shorter than 2 rows
    or with zero variance yield null. All-JVM; one exchange on
    ``by``."""
    w = _w(by, order).rowsBetween(-(window - 1), 0)
    xd = F.round(F.col(x), 6).cast("decimal(18,6)")
    yd = F.round(F.col(y), 6).cast("decimal(18,6)")
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum(xd).over(w).cast("double")
    sy = F.sum(yd).over(w).cast("double")
    sxy = F.sum((xd * yd).cast("decimal(28,12)")).over(w).cast("double")
    sxx = F.sum((xd * xd).cast("decimal(28,12)")).over(w).cast("double")
    syy = F.sum((yd * yd).cast("decimal(28,12)")).over(w).cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    corr = F.when(
        (F.count(F.lit(1)).over(w) >= 2) & (den > 0),
        F.round(num / den, 6) + F.lit(0.0),
    )
    return df.withColumn(out, corr)


def streaks(
    df: DataFrame,
    flag,
    out: str = "streak_len",
    by="entity",
    order="ts",
) -> DataFrame:
    """Length of the CURRENT run of consecutive rows satisfying
    ``flag`` (a boolean Column or column name), per entity in event
    order — the "N-th success in a row" feature (error bursts, hot
    hands, uninterrupted-activity counters). Rows where the flag is
    false (or null) carry 0.

    Pure window arithmetic, no iteration, ONE exchange: with rn the
    row number and brk the running maximum rn among NON-matching rows
    (both over the same (by, order) window spec, so they share the
    sort), ``streak = rn − coalesce(brk, 0)`` on matching rows — the
    distance back to the last break. All-JVM."""
    f = F.col(flag) if isinstance(flag, str) else flag
    w0 = _w(by, order)
    wc = w0.rowsBetween(Window.unboundedPreceding, 0)
    return (
        # null flags are non-matches: null AND false = false, so __ok
        # is never null and ~__ok is a clean break marker
        df.withColumn("__ok", f & f.isNotNull())
        .withColumn("__rn", F.row_number().over(w0))
        .withColumn(
            "__brk",
            F.max(F.when(~F.col("__ok"), F.col("__rn"))).over(wc),
        )
        .withColumn(
            out,
            F.when(
                F.col("__ok"),
                F.col("__rn") - F.coalesce(F.col("__brk"), F.lit(0)),
            ).otherwise(F.lit(0)).cast("int"),
        )
        .drop("__ok", "__rn", "__brk")
    )


def time_since_event(
    df: DataFrame,
    cond,
    out: str = "since_us",
    ts_col: str = "ts",
    by="entity",
    order=None,
    include_current: bool = False,
) -> DataFrame:
    """Recency feature: time elapsed since the entity's most recent
    row satisfying ``cond`` (a boolean Column or column name) — "µs
    since last purchase/error/click", the staleness signal next to
    ``asof_join``'s cross-table lookups, here within ONE stream so a
    window does it with zero joins. Rows before the first match carry
    null. ``include_current=False`` (default) measures to the last
    STRICTLY PRECEDING match — the leakage-safe training convention
    (a row must not see its own event); True gives the monitoring
    convention (a matching row reads 0).

    One conditional running ``max(ts where cond)`` over the same
    (by, order) spec every other window feature shares — all-JVM."""
    c = F.col(cond) if isinstance(cond, str) else cond
    order = order if order is not None else ts_col
    w0 = _w(by, order)
    hi = 0 if include_current else -1
    wc = w0.rowsBetween(Window.unboundedPreceding, hi)
    last_ts = F.max(F.when(c, F.col(ts_col))).over(wc)
    return df.withColumn(out, F.col(ts_col) - last_ts)


def cumulative_distinct(
    df: DataFrame,
    col: str,
    out: str = "n_distinct_so_far",
    by="entity",
    order="ts",
) -> DataFrame:
    """Running DISTINCT count per entity — "unique items seen so far"
    (catalog breadth, exploration vs exploitation, vocabulary growth).
    Exact, no sketch: a row is flagged as its value's FIRST occurrence
    (row_number over (entity, value) ordered by the event order), and
    the running sum of flags over the event order is the distinct
    count — two window specs, two exchanges ((by, col) then (by)),
    nothing leaves the JVM. Null values count as one distinct value
    (SQL row_number treats them as a group), matching the oracle."""
    by_l = [by] if isinstance(by, str) else list(by)
    order_l = [order] if isinstance(order, str) else list(order)
    wf = Window.partitionBy(*by_l, col).orderBy(*order_l)
    wc = _w(by, order).rowsBetween(Window.unboundedPreceding, 0)
    return (
        df.withColumn(
            "__first", (F.row_number().over(wf) == 1).cast("int")
        )
        .withColumn(out, F.sum("__first").over(wc).cast("long"))
        .drop("__first")
    )
