"""Point-in-time (as-of) and interval joins — the heart of the engine.

The reference implements this as a per-interval B-tree index fetch
(``/root/reference/src/lbfextract/fextract/lib.py:71-77``): an index
nested-loop join that is fine single-node and catastrophic distributed.
Here it is re-expressed two ways (SURVEY.md §2.3 J1/J2):

* ``asof_join`` — cogrouped sort-merge: both sides are shuffled once on
  the entity key, each Arrow batch is merged with a vectorized
  ``pd.merge_asof`` (backward ⇒ only events with ``ts ≤ anchor_ts``
  match: **zero temporal leakage** by construction).
* ``asof_join_sliced`` — the skew-safe variant: hot entities are salted
  by time-slice (``floor(ts / slice_width)``); events are duplicated
  into every slice whose anchors they could serve (duplicate-then-trim,
  the distributed analog of the reference's ``extra_bases`` over-fetch,
  ``fextract/lib.py:68-77``), so one giant entity no longer lands on a
  single task.
* ``interval_join`` — relational range join (broadcast the small anchor
  side); the Spark answer to ``bamfile.fetch(chrom, start, end)``.

At 100 TB the plan is: one ``repartitionByRange`` shuffle of the event
table, anchors broadcast or co-shuffled, AQE skew split on top of the
explicit time-slice salting.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

_ASOF_DIRECTIONS = ("backward", "forward", "nearest")


def _merged_schema(
    anchors: DataFrame,
    events: DataFrame,
    by: list[str],
    select: list[str] | None,
    extra: list[T.StructField] = (),
) -> tuple[T.StructType, list[str]]:
    ev_fields = {f.name: f for f in events.schema.fields}
    ev_cols = select if select is not None else [
        c for c in events.columns if c not in by
    ]
    fields = list(anchors.schema.fields)
    anchor_names = set(anchors.columns)
    for c in ev_cols:
        if c in anchor_names:
            raise ValueError(
                f"event column {c!r} collides with an anchor column; "
                "rename or pass `select`"
            )
        # matched event columns become nullable (no-match ⇒ null)
        fields.append(T.StructField(c, ev_fields[c].dataType, True))
    fields.extend(extra)
    return T.StructType(fields), ev_cols


def _asof_merge_fn(
    anchor_cols: list[str],
    ev_cols: list[str],
    on: str,
    anchor_on: str,
    tolerance: int | None,
    direction: str,
    out_cols: list[str],
):
    """Build the cogrouped pandas merge function (anchors left, events right)."""

    def merge(anchors_pdf: pd.DataFrame, events_pdf: pd.DataFrame) -> pd.DataFrame:
        if anchors_pdf.empty:
            return pd.DataFrame(columns=out_cols)
        left = anchors_pdf.sort_values(anchor_on, kind="mergesort", ignore_index=True)
        right = (
            events_pdf[[on] + [c for c in ev_cols if c != on]]
            .sort_values(on, kind="mergesort", ignore_index=True)
        )
        if right.empty:
            out = left.copy()
            for c in ev_cols:
                out[c] = None
        else:
            out = pd.merge_asof(
                left,
                right,
                left_on=anchor_on,
                right_on=on,
                direction=direction,
                tolerance=tolerance,
                suffixes=("", "__ev"),
            )
            if on in left.columns:  # pandas suffixes the right `on` col
                out = out.rename(columns={f"{on}__ev": on})
        # integer event columns picked up NaNs on no-match → nullable Int64
        for c in ev_cols:
            if c in out.columns and out[c].dtype.kind == "f" and events_pdf[c].dtype.kind in "iu":
                out[c] = out[c].astype("Int64")
        return out[out_cols]

    return merge


def asof_join(
    events: DataFrame,
    anchors: DataFrame,
    *,
    on: str = "ts",
    anchor_on: str = "anchor_ts",
    by: list[str] | str = "entity",
    tolerance: int | None = None,
    direction: str = "backward",
    select: list[str] | None = None,
) -> DataFrame:
    """As-of join: each anchor row gets the matching event row.

    backward ⇒ latest event with ``ts ≤ anchor_ts`` (within ``tolerance``
    if given) — point-in-time correct, no future leakage (north_rule;
    reference semantics at ``fextract/lib.py:72-77`` + proper-pair
    guard, SURVEY.md J2). Ties on ``on`` resolve to the last event
    (pd.merge_asof semantics).

    The direction picks the plan:
    * backward — 100 % JVM: union both sides, one window pass carrying
      the last event struct forward (``last(struct, ignorenulls)``),
      filter back to anchor rows. Single shuffle+sort, whole-stage
      codegen, no Python.
    * forward / nearest — Arrow-batched ``pd.merge_asof`` per entity
      group (cogroup).
    """
    if direction not in _ASOF_DIRECTIONS:
        raise ValueError(f"direction must be one of {_ASOF_DIRECTIONS}")
    by = [by] if isinstance(by, str) else list(by)
    if direction == "backward":
        return _asof_join_union(events, anchors, on, anchor_on, by, tolerance, select)
    schema, ev_cols = _merged_schema(anchors, events, by, select)
    out_cols = [f.name for f in schema.fields]
    fn = _asof_merge_fn(anchors.columns, ev_cols, on, anchor_on, tolerance, direction, out_cols)
    return (
        anchors.groupBy(*by)
        .cogroup(events.groupBy(*by))
        .applyInPandas(lambda left, right: fn(left, right), schema)
    )


def _asof_join_union(
    events: DataFrame,
    anchors: DataFrame,
    on: str,
    anchor_on: str,
    by: list[str],
    tolerance: int | None,
    select: list[str] | None,
) -> DataFrame:
    """Backward as-of via union + last-event-carry-forward window.

    Event columns travel as ONE struct so the carried match is atomic
    (per-column ``last(ignorenulls)`` could mix values from different
    events when an event column is legitimately null). At equal ts the
    event sorts before the anchor (``_is_event`` desc) so an anchor
    matches an event at exactly its own timestamp."""
    from pyspark.sql import Window

    schema, ev_cols = _merged_schema(anchors, events, by, select)
    ev_struct = F.struct(
        F.col(on).alias("__match_ts"), *[F.col(c) for c in ev_cols if c != on]
    )
    ev_side = events.select(
        *by,
        F.col(on).alias("__t"),
        F.lit(1).alias("__is_event"),
        ev_struct.alias("__ev"),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in anchors.schema.fields
          if f.name not in by],
    )
    an_side = anchors.select(
        *by,
        F.col(anchor_on).alias("__t"),
        F.lit(0).alias("__is_event"),
        F.lit(None).cast(ev_side.schema["__ev"].dataType).alias("__ev"),
        *[F.col(f.name) for f in anchors.schema.fields if f.name not in by],
    )
    u = ev_side.unionByName(an_side)
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col("__t").asc(), F.col("__is_event").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.withColumn("__last_ev", F.last("__ev", ignorenulls=True).over(w)).filter(
        F.col("__is_event") == 0
    )
    if tolerance is not None:
        filled = filled.withColumn(
            "__last_ev",
            F.when(
                F.col("__last_ev.__match_ts") >= F.col("__t") - F.lit(tolerance),
                F.col("__last_ev"),
            ),
        )
    out_ev = [
        F.col("__last_ev.__match_ts").alias(on) if c == on else F.col(f"__last_ev.{c}")
        for c in ev_cols
    ]
    anchor_cols = [
        F.col("__t").alias(anchor_on) if f.name == anchor_on else F.col(f.name)
        for f in anchors.schema.fields
    ]
    return filled.select(*anchor_cols, *out_ev).select(
        *[f.name for f in schema.fields]
    )


def asof_join_sliced(
    events: DataFrame,
    anchors: DataFrame,
    *,
    on: str = "ts",
    anchor_on: str = "anchor_ts",
    by: list[str] | str = "entity",
    tolerance: int = 10_000,
    slice_width: int | None = None,
    select: list[str] | None = None,
) -> DataFrame:
    """Skew-safe backward as-of join with a bounded lookback window —
    100 % JVM (equi-join + max_by), no Python in the path.

    Salting by time-slice: anchors land in ``_slice =
    floor(anchor_ts/W)``; each event is exploded into every slice whose
    anchors it could serve (``floor(ts/W) … floor((ts+tolerance)/W)`` —
    duplicate-then-trim, the ``extra_bases`` over-fetch analog). The
    join is then a plain equi-join on (by…, _slice) + the range
    predicate, and the best (latest ts ≤ anchor_ts) match is picked with
    ``max_by`` — a map-side-combinable aggregate. A hot entity's work is
    spread over span/W tasks instead of one, and AQE skew-split applies
    on top because the shuffle key is a real column.

    Ties on ``on`` within an anchor's window resolve arbitrarily —
    pre-dedupe events to unique (by…, on) when that matters.
    Result = ``asof_join(..., tolerance=tolerance)`` exactly, including
    duplicate anchor rows: a per-row id is attached before the join so
    the best-match groupBy cannot collapse identical anchors.
    """
    if tolerance is None or tolerance <= 0:
        raise ValueError("sliced as-of join requires a positive tolerance")
    by = [by] if isinstance(by, str) else list(by)
    w = int(slice_width or max(1, tolerance))

    schema, ev_cols = _merged_schema(anchors, events, by, select)
    ev = events.select(
        *by, F.col(on).alias("__ev_ts"), *[c for c in ev_cols if c != on]
    ).withColumn(
        "_slice",
        F.explode(
            F.sequence(
                F.floor(F.col("__ev_ts") / F.lit(w)),
                F.floor((F.col("__ev_ts") + F.lit(tolerance)) / F.lit(w)),
            )
        ),
    )
    # row id preserves duplicate anchor rows through the best-match
    # groupBy (values never depend on the id — it's dropped after)
    an = (
        anchors.withColumn("__aid", F.monotonically_increasing_id())
        .withColumn("_slice", F.floor(F.col(anchor_on) / F.lit(w)))
    )

    cond = None
    for k in by:
        c = an[k] == ev[k]
        cond = c if cond is None else (cond & c)
    cond = (
        cond
        & (an["_slice"] == ev["_slice"])
        & (ev["__ev_ts"] <= an[anchor_on])
        & (ev["__ev_ts"] >= an[anchor_on] - F.lit(tolerance))
    )
    joined = an.join(ev, cond, "left")
    for k in by:
        joined = joined.drop(ev[k])
    joined = joined.drop(an["_slice"]).drop(ev["_slice"])

    # latest event per anchor: one map-side-combinable max_by over the
    # packed event struct (null when no event matched)
    ev_struct = F.struct(F.col("__ev_ts").alias(on), *[c for c in ev_cols if c != on])
    best = joined.groupBy("__aid", *anchors.columns).agg(
        F.max_by(ev_struct, F.col("__ev_ts")).alias("__best")
    )
    out = best.select(
        *anchors.columns, *[F.col(f"__best.{c}").alias(c) for c in ev_cols]
    )
    return out.select(*[f.name for f in schema.fields])


def interval_join(
    events: DataFrame,
    anchors: DataFrame,
    *,
    on: str = "ts",
    anchor_on: str = "anchor_ts",
    by: list[str] | str = "entity",
    lower: int = 0,
    upper: int = 0,
    how: str = "inner",
) -> DataFrame:
    """Events with ``anchor_ts + lower ≤ ts ≤ anchor_ts + upper`` per anchor.

    The distributed restatement of the per-interval indexed fetch
    (``fextract/lib.py:72-76``). For past-only windows use
    ``lower=-span, upper=0`` — zero temporal leakage.

    Physical strategy — range-join *binning*: a naive range join with a
    broadcast side compiles to BroadcastNestedLoopJoin (events × anchors
    condition evaluations — 10⁹+ even at bench scale, unusable at 10¹²).
    Instead both sides get an equi key ``_slice = floor(t / W)``: each
    event is exploded into the few slices whose anchors it could match,
    anchors keep exactly one slice, and the join becomes a
    BroadcastHashJoin (the anchor side is broadcast) with the exact
    range predicate evaluated only within a bucket. W is the window
    width ⇒ ≤ 2 copies per event.
    """
    by = [by] if isinstance(by, str) else list(by)
    if upper < lower:
        raise ValueError("upper must be ≥ lower")
    w = int(max(1, upper - lower + 1))
    ev = events.withColumn(
        "_slice",
        F.explode(
            F.sequence(
                F.floor((F.col(on) - F.lit(upper)) / F.lit(w)),
                F.floor((F.col(on) - F.lit(lower)) / F.lit(w)),
            )
        ),
    )
    an = anchors.withColumn("_slice", F.floor(F.col(anchor_on) / F.lit(w)))
    a = F.broadcast(an)
    cond = a["_slice"] == ev["_slice"]
    for k in by:
        cond = cond & (ev[k] == a[k])
    cond = (
        cond
        & (ev[on] >= a[anchor_on] + F.lit(lower))
        & (ev[on] <= a[anchor_on] + F.lit(upper))
    )
    joined = a.join(ev, cond, how=how)
    for k in by:
        joined = joined.drop(ev[k])
    return joined.drop(a["_slice"]).drop(ev["_slice"])


def pit_feature_matrix(
    labels: DataFrame,
    groups: list[tuple[DataFrame, list[str] | None]],
    *,
    by: str | list[str] = "entity",
    on: str = "ts",
    label_on: str = "anchor_ts",
    tolerance: int | None = None,
) -> DataFrame:
    """Point-in-time training matrix: one backward as-of join per
    feature group, chained (the feature-store "PIT join" — each label
    row is enriched with the latest value each group had published at
    or before the label timestamp; no future leakage by construction).

    The reference builds its training matrices by re-fetching every
    interval per signal (one ``extract-coverage`` run per feature
    family, then a pandas merge in ``post_extraction_analysis``); here
    K groups are K chained ``asof_join`` passes over ONE accumulating
    matrix — each pass is a single per-entity shuffle+window (the
    backward union plan, all-JVM), so the whole matrix costs K shuffles of the
    label frame + one of each group, never a replay of the raw table.

    ``groups`` is a list of ``(events_df, select_cols)``; each events
    frame must carry the ``by`` and ``on`` columns, be unique on
    ``(by, on)`` (enforce upstream — ties make as-of matches
    engine-unspecified), and its selected feature columns must not
    collide with the label frame or earlier groups (alias per group:
    ``a_val``, ``b_mean`` …).
    """
    out = labels
    for ev, select in groups:
        out = asof_join(
            ev,
            out,
            on=on,
            anchor_on=label_on,
            by=by,
            tolerance=tolerance,
            select=select,
        )
    return out


def asof_topk(
    events: DataFrame,
    anchors: DataFrame,
    *,
    k: int,
    lookback: int,
    on: str = "ts",
    anchor_on: str = "anchor_ts",
    by: list[str] | str = "entity",
    anchor_id: str = "anchor_id",
    tiebreak: str = "event_id",
) -> DataFrame:
    """LAG-STACK as-of join: the ``k`` most recent events at-or-before
    each anchor, bounded by ``lookback`` (the staleness window every
    production lag-stack has — "the last 3 readings, if under a day
    old"). ``asof_join`` answers "the latest one"; training matrices
    routinely want the latest k as ordered lag features, and computing
    them as k separate as-of passes would re-shuffle the events k
    times. Long-form output: anchor columns + ``lag_rank`` (1 = most
    recent) + the event columns; pivot downstream if a wide matrix is
    wanted.

    Zero temporal leakage by construction (``upper=0`` — events
    strictly after the anchor cannot enter), and a total order on the
    ranking (ts desc, ``tiebreak`` asc) so two engines pick identical
    rows on ts ties.

    Shape at 100 TB: candidates come from ``interval_join``'s range
    BINNING (equi-join on (by, time-slice) — never a nested-loop range
    join), then ONE ranking window partitioned by the anchor id. A
    collect_list-over-running-window formulation would hold O(history)
    state per row; this holds ≤ lookback-width candidates per anchor
    and prunes to k in the window. Reference analog: the per-interval
    fetch + tail-k of fextract/lib.py:72-76."""
    from pyspark.sql import Window

    j = interval_join(
        events,
        anchors,
        on=on,
        anchor_on=anchor_on,
        by=by,
        lower=-int(lookback),
        upper=0,
    )
    w = Window.partitionBy(anchor_id).orderBy(
        F.desc(on), F.asc(tiebreak)
    )
    return j.withColumn("lag_rank", F.row_number().over(w)).filter(
        F.col("lag_rank") <= int(k)
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_start: str = "start",
    left_end: str = "end",
    right_start: str = "r_start",
    right_end: str = "r_end",
    by: list[str] | str = "entity",
    slice_width: int | None = None,
    min_overlap: int = 1,
) -> DataFrame:
    """INTERVAL × INTERVAL overlap join (the bedtools-intersect shape —
    the reference's BED-vs-fragment intersection generalized to both
    sides being ranges; ``interval_join`` is the point-in-range member
    of the family): pairs where ``[start, end]`` and ``[r_start,
    r_end]`` (closed, integer) overlap by ≥ ``min_overlap`` positions,
    with the overlap length emitted.

    Physical strategy — same range-BINNING as interval_join, but BOTH
    sides explode into the time slices they span, the join is an
    equi-join on (by, slice), and each pair is kept only in the slice
    holding ``greatest(start, r_start)`` — the standard dedup trick
    that makes a multi-slice overlap count ONCE without a distinct
    (no second shuffle). A naive range join would compile to a
    nested-loop product; this stays a hash join whose fan-out is
    interval_span/W copies per row. ``slice_width`` defaults to the
    95th-percentile right-interval width heuristic left to the caller
    — pass the dominant interval scale.

    Overlap length: ``least(end, r_end) − greatest(start, r_start) +
    1`` — exact bigint."""
    by = [by] if isinstance(by, str) else list(by)
    if slice_width is None:
        raise ValueError(
            "pass slice_width (the dominant interval scale) — a wrong "
            "width is correct but slow; there is no universal default"
        )
    w = int(slice_width)
    l_sl = left.withColumn(
        "_sl",
        F.explode(
            F.sequence(
                F.floor(F.col(left_start) / F.lit(w)),
                F.floor(F.col(left_end) / F.lit(w)),
            )
        ),
    )
    r_sl = right.withColumn(
        "_sl",
        F.explode(
            F.sequence(
                F.floor(F.col(right_start) / F.lit(w)),
                F.floor(F.col(right_end) / F.lit(w)),
            )
        ),
    )
    cond = l_sl["_sl"] == r_sl["_sl"]
    for k in by:
        cond = cond & (l_sl[k] == r_sl[k])
    ov_start = F.greatest(l_sl[left_start], r_sl[right_start])
    ov_len = (
        F.least(l_sl[left_end], r_sl[right_end]) - ov_start + F.lit(1)
    )
    cond = (
        cond
        & (ov_len >= F.lit(int(min_overlap)))
        # count each overlapping pair exactly once: only the slice
        # containing the overlap's left edge keeps it
        & (F.floor(ov_start / F.lit(w)) == l_sl["_sl"])
    )
    joined = l_sl.join(r_sl, cond)
    for k in by:
        joined = joined.drop(r_sl[k])
    return (
        joined.drop(l_sl["_sl"]).drop(r_sl["_sl"])
        .withColumn("overlap_len", ov_len)
    )
