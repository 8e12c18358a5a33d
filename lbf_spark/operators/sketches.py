"""Bounded-memory frequency sketches: Misra-Gries heavy hitters.

The q137 certificate covers Spark's built-in sketches (HLL++ distinct,
Greenwald-Khanna percentiles); this module adds the one a 100-TB
profiler still needs and Spark lacks: MERGEABLE heavy-hitter summaries
(Misra-Gries / space-saving family, per Agarwal et al., "Mergeable
Summaries", PODS 2012). Per-partition sketches are built over Arrow
batches, merged driver-side (p×k counters — metadata-bounded, never
row data), and the merged sketch carries the classic guarantee

    true_count − n/(k+1)  ≤  estimate  ≤  true_count

for EVERY item, which in particular means every item with frequency
above n/(k+1) is present in the sketch. The guarantee holds under any
partitioning and any merge order — that is the mergeability theorem —
so the certificate query (q147) is deterministic even though the
sketch contents may vary with the physical split.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from lbf_spark.util import local_frame


def _mg_update(counters: dict, batch_counts: dict, k: int) -> None:
    """Fold exact batch counts into an MG summary with ≤ k counters.

    Adding exact sub-counts then pruning to the k largest by uniformly
    subtracting the (k+1)-th largest count is the batched MG step: the
    subtracted mass per element is bounded by the stream-length/(k+1)
    potential argument, preserving the deterministic error bound."""
    for item, c in batch_counts.items():
        counters[item] = counters.get(item, 0) + int(c)
    if len(counters) > k:
        # deterministic prune: (count desc, item asc) total order
        ranked = sorted(counters.items(), key=lambda kv: (-kv[1], str(kv[0])))
        delta = ranked[k][1]
        counters.clear()
        counters.update(
            (item, c - delta) for item, c in ranked[:k] if c - delta > 0
        )


def heavy_hitters_mg(
    df: DataFrame, col: str, k: int = 64
) -> tuple[list[tuple], int]:
    """Misra-Gries heavy hitters over ``df[col]`` with ``k`` counters.

    Returns ``(sketch, n)`` where sketch is a list of (item, estimate)
    in (estimate desc, item asc) order and n is the exact row count.
    Executors stream Arrow batches through ``value_counts`` (vectorized
    — the Python loop is over DISTINCT items per batch, not rows) and
    emit ≤ k counters per partition; the driver merges p×k counters —
    bounded metadata, the same class as k-means partials (CLAUDE.md's
    sanctioned collect list). Estimates obey
    ``true − n/(k+1) ≤ est ≤ true`` for every item."""
    kk = int(k)

    def part(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n = 0
        for pdf in it:
            s = pdf[col].dropna()
            n += len(s)
            _mg_update(counters, s.value_counts().to_dict(), kk)
        # one sentinel row (item NULL) carries this partition's exact
        # row count, so ONE pass yields both the sketch and n
        yield pd.DataFrame(
            {
                "item": [str(i) for i in counters] + [None],
                "est": list(counters.values()) + [n],
            }
        )

    parts = (
        df.select(col)
        .mapInPandas(part, "item string, est long")
        .collect()
    )
    merged: dict = {}
    n_total = 0
    for row in sorted(parts, key=lambda r: (r["item"] is None, str(r["item"]))):
        if row["item"] is None:
            n_total += row["est"]
        else:
            merged[row["item"]] = merged.get(row["item"], 0) + row["est"]
    if len(merged) > kk:
        ranked = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))
        delta = ranked[kk][1]
        merged = {i: c - delta for i, c in ranked[:kk] if c - delta > 0}
    sketch = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))
    return sketch, int(n_total)


def heavy_hitter_violations(
    spark,
    df: DataFrame,
    col: str,
    k: int = 64,
    sketch: list[tuple] | None = None,
    n: int | None = None,
) -> DataFrame:
    """CERTIFICATE frame for ``heavy_hitters_mg`` (q104 pattern): one
    row per violated guarantee, empty ⇔ the sketch is trustworthy.

    Checks, against EXACT distributed counts (the small-scale oracle a
    100-TB run cannot afford — which is the point of certifying the
    sketch at test scale):
      * ``missed_heavy``: an item with exact count > n/(k+1) absent
        from the sketch;
      * ``overestimate``: estimate > exact count (MG never overshoots);
      * ``bound``: exact − estimate > n/(k+1).

    Pass a precomputed ``(sketch, n)`` (e.g. the persisted state of
    ``streaming.stream_features.heavy_hitter_batch_merge``) to certify an
    externally-built summary; when ``n`` disagrees with the exact row
    count (a replay double-count or a lost batch) every row is off by
    the same shift, so the bound rows surface it — and callers can
    additionally compare n directly."""
    if sketch is None:
        sketch, n = heavy_hitters_mg(df, col, k=k)
    err = n / (k + 1)
    sk = local_frame(
        spark, [(i, int(e)) for i, e in sketch], "item string, est long"
    )
    exact = (
        df.select(F.col(col).cast("string").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    j = exact.join(F.broadcast(sk), "item", "left")
    return (
        j.select(
            "item",
            "exact",
            F.coalesce("est", F.lit(0)).alias("est"),
            F.when(
                (F.col("exact").cast("double") > F.lit(err))
                & F.col("est").isNull(),
                F.lit("missed_heavy"),
            )
            .when(F.coalesce("est", F.lit(0)) > F.col("exact"), F.lit("overestimate"))
            .when(
                (F.col("exact") - F.coalesce("est", F.lit(0))).cast("double")
                > F.lit(err),
                F.lit("bound"),
            )
            .alias("violation"),
        )
        .filter(F.col("violation").isNotNull())
    )
