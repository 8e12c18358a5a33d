"""Data-profiling operators: the observability half of a data engine.

Skew profiling answers "will this key distribution break my shuffle?"
BEFORE a job runs — the operational companion to the salted join /
sliced-window mitigations. Table profiling is the deequ-style
column-quality summary (null fractions, cardinalities, bounds) a
100-TB ingest pipeline gates on. Both are pure aggregations: one
partial-aggregating groupBy per profile, never data-sized outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def key_skew_profile(df: DataFrame, key: str) -> DataFrame:
    """One-row skew profile of ``key``: key cardinality, total rows,
    the hottest key and its row count, median/p99 rows-per-key, and
    ``skew_ratio`` = max/mean rows-per-key (the number that predicts a
    straggler: a ratio ≫ shuffle-partition count means one reducer
    holds the key no matter how partitions are sized).

    Shape: groupBy(key) partial-agg (skew-safe — the hot key reduces
    map-side), then one aggregate over the |keys|-row frame. The
    hottest key is picked with a (count desc, key asc) total order."""
    counts = df.groupBy(F.col(key).cast("string").alias("__k")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    hottest = (
        counts.orderBy(F.desc("__n"), F.asc("__k"))
        .limit(1)
        .select(
            F.col("__k").alias("hottest_key"), F.col("__n").alias("max_rows")
        )
    )
    summary = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("__n").alias("total_rows"),
        F.round(F.percentile("__n", F.lit(0.5)), 4).alias("p50_rows_per_key"),
        F.round(F.percentile("__n", F.lit(0.99)), 4).alias("p99_rows_per_key"),
        F.round(
            F.max("__n") / (F.sum("__n") / F.count(F.lit(1))), 4
        ).alias("skew_ratio"),
    )
    return summary.crossJoin(F.broadcast(hottest)).select(
        "n_keys",
        "total_rows",
        "max_rows",
        "hottest_key",
        "p50_rows_per_key",
        "p99_rows_per_key",
        "skew_ratio",
    )


def table_profile(
    df: DataFrame, cols: list[str], approx: bool = False, rsd: float = 0.05
) -> DataFrame:
    """deequ-style column profile: one row per column with null
    fraction, distinct count, and min/max (as strings — a
    heterogeneous profile row needs one type).

    ``approx=False`` uses exact ``count_distinct`` — Spark's two-stage
    distinct aggregation, a per-column extra shuffle whose state is the
    distinct-value set. ``approx=True`` is the 100-TB twin: a
    HyperLogLog++ sketch (``approx_count_distinct``, relative standard
    deviation ``rsd``) that partial-aggregates map-side in O(1/rsd²)
    bytes per column, no distinct shuffle at all — same output schema,
    so gates written against the exact profile run unchanged. The
    sketch is deterministic for fixed data (hash-based, no sampling);
    tests/test_profile_approx.py pins its error against the exact twin.

    All columns profile in ONE pass (a single aggregate over the scan,
    no per-column jobs); the unioned shape is |cols| rows."""
    total = F.count(F.lit(1))
    nd = (
        (lambda c: F.approx_count_distinct(F.col(c), rsd))
        if approx
        else (lambda c: F.count_distinct(F.col(c)))
    )
    aggs = []
    for c in cols:
        aggs += [
            F.round(
                F.sum(F.col(c).isNull().cast("long")) / total, 6
            ).alias(f"__nf_{c}"),
            nd(c).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    out = None
    for c in cols:
        row = one.select(
            F.lit(c).alias("column"),
            F.col(f"__nf_{c}").alias("null_frac"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            F.col(f"__mn_{c}").alias("min_value"),
            F.col(f"__mx_{c}").alias("max_value"),
        )
        out = row if out is None else out.unionAll(row)
    return out


def expectations(df: DataFrame, checks: list[dict]) -> DataFrame:
    """Declarative data-quality VERIFICATION (the gating half of the
    deequ analog — ``table_profile`` observes, this one passes
    judgment): evaluate a list of constraints against ``df`` and return
    one row per check with the measured metric and a pass/fail verdict.
    A 100-TB ingest gate runs this once per landing and blocks the
    commit on any ``passed = false`` row.

    Check kinds (``{"kind": ..., "column": ..., "lo": ..., "hi": ...}``):

    * ``completeness`` — non-null fraction, ``>= lo``;
    * ``uniqueness``   — exact distinct count / row count, ``>= lo``;
    * ``min_value`` / ``max_value`` — numeric bound, ``>= lo`` /
      ``<= hi``;
    * ``mean_between`` — DECIMAL-stable mean (sum(decimal)/count — the
      q93/q115 partial-agg-order rule) in ``[lo, hi]``;
    * ``values_in``    — fraction of non-null rows whose value is in
      ``allowed``, ``>= lo``;
    * ``matches``      — fraction of non-null rows matching regex
      ``pattern`` (RE2-compatible anchored patterns recommended),
      ``>= lo``.

    EVERY check folds into ONE aggregation pass over ONE scan (each
    kind contributes partial-aggregatable exprs — count/sum/min/max;
    ``uniqueness`` adds Spark's two-stage distinct for exactness), and
    the per-check rows are EXPLODED out of the single agg row — never
    a union of N projections, which would re-reference (and at scale
    re-execute) the agg subtree once per check. Ratio metrics use
    ``try_divide`` so an EMPTY input yields NULL metrics and every
    thresholded check FAILS CLOSED (a gate that saw no data must not
    wave the load through). Metrics are round(6) BEFORE comparison,
    so the verdict is deterministic across engines.
    Output: (check_id, kind, col_name, metric, lo, hi, passed)."""
    n_rows = F.count(F.lit(1))
    aggs = []
    for i, ck in enumerate(checks):
        c = F.col(ck["column"])
        kind = ck["kind"]
        if kind == "completeness":
            m = F.try_divide(F.count(c), n_rows)
        elif kind == "uniqueness":
            m = F.try_divide(F.count_distinct(c), n_rows)
        elif kind == "min_value":
            m = F.min(c.cast("double"))
        elif kind == "max_value":
            m = F.max(c.cast("double"))
        elif kind == "mean_between":
            m = F.try_divide(
                F.sum(c.cast("decimal(18,6)")).cast("double"), F.count(c)
            )
        elif kind == "values_in":
            m = F.try_divide(
                F.sum(c.isin(*ck["allowed"]).cast("long")), F.count(c)
            )
        elif kind == "matches":
            m = F.try_divide(
                F.sum(c.rlike(ck["pattern"]).cast("long")), F.count(c)
            )
        else:
            raise ValueError(f"unknown expectation kind: {kind!r}")
        aggs.append(F.round(m, 6).alias(f"__m_{i}"))
    one = df.agg(*aggs)
    rows = []
    for i, ck in enumerate(checks):
        lo, hi = ck.get("lo"), ck.get("hi")
        metric = F.col(f"__m_{i}")
        passed = F.lit(True)
        if lo is not None:
            passed = passed & (metric >= F.lit(float(lo)))
        if hi is not None:
            passed = passed & (metric <= F.lit(float(hi)))
        if lo is not None or hi is not None:
            passed = F.coalesce(passed, F.lit(False))  # NULL metric: fail
        rows.append(
            F.struct(
                F.lit(i + 1).cast("bigint").alias("check_id"),
                F.lit(ck["kind"]).alias("kind"),
                F.lit(ck["column"]).alias("col_name"),
                metric.alias("metric"),
                F.lit(None if lo is None else float(lo))
                .cast("double")
                .alias("lo"),
                F.lit(None if hi is None else float(hi))
                .cast("double")
                .alias("hi"),
                passed.alias("passed"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("__c")).select("__c.*")


def psi_drift(
    df: DataFrame,
    cols: list[str],
    ref_col: str,
    n_bins: int = 10,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Population Stability Index per feature between the reference
    slice (``ref_col`` true — e.g. the training window) and the current
    slice: PSI = Σ_bins (p−q)·ln(p/q) over ``n_bins`` equi-width bins
    spanning the COMBINED min/max, zero-count proportions floored at
    ``epsilon``. The standard feature-drift gate for a continuously
    maintained training table (PSI ≳ 0.2 = investigate before the next
    training run).

    Shape: one min/max aggregate (|cols| pairs, one row, broadcast
    back), then ONE scan melts each row into |cols| (feature, bucket)
    structs — bucket math is pure IEEE double arithmetic, identical in
    every engine — and one tiny groupBy(feature, bucket) reduces
    map-side to ≤ |cols|·n_bins rows; per-feature totals ride a WINDOW
    over that aggregated frame (never a self-join back onto the counts
    lineage, which would re-execute the melt scan). The data-sized
    exchange is the melt's single hashpartitioning(feature, bucket);
    nothing data-sized is ever collected. Per-feature contributions
    are summed THEN round(6)ed (the q43 ln rule: IEEE ln differs
    ≤ 1 ulp across engines, far inside the rounding margin)."""
    from pyspark.sql import Window
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__mx_{c}") for c in cols],
    )

    def bucket(c: str):
        x = F.col(c).cast("double")
        mn, mx = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
        width = (mx - mn) / F.lit(float(n_bins))
        b = F.least(
            F.floor((x - mn) / width), F.lit(n_bins - 1).cast("bigint")
        )
        return F.when(mx == mn, F.lit(0).cast("bigint")).otherwise(b)

    melted = (
        df.crossJoin(F.broadcast(stats))
        .select(
            F.col(ref_col).alias("__ref"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("feature"), bucket(c).alias("bucket")
                        )
                        for c in cols
                    ]
                )
            ).alias("fb"),
        )
        .select("fb.feature", "fb.bucket", "__ref")
        .filter(F.col("bucket").isNotNull())
    )
    counts = melted.groupBy("feature", "bucket").agg(
        F.sum(F.col("__ref").cast("long")).alias("n_ref"),
        F.sum((~F.col("__ref")).cast("long")).alias("n_cur"),
    )
    wf = Window.partitionBy("feature")
    j = counts.withColumn("t_ref", F.sum("n_ref").over(wf)).withColumn(
        "t_cur", F.sum("n_cur").over(wf)
    )
    # try_divide: an empty slice (t = 0) yields NULL, and greatest()
    # skips NULLs, so every bucket of the empty side floors to epsilon
    # — maximal-drift semantics instead of an ANSI divide-by-zero
    p = F.greatest(F.try_divide(F.col("n_ref"), F.col("t_ref")), F.lit(epsilon))
    q = F.greatest(F.try_divide(F.col("n_cur"), F.col("t_cur")), F.lit(epsilon))
    return j.groupBy("feature").agg(
        (F.round(F.sum((p - q) * F.log(p / q)), 6) + F.lit(0.0)).alias("psi")
    )
