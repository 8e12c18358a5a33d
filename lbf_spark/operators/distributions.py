"""Distribution operators over (group, position) frames.

Re-expresses SURVEY.md §2.4 A8-A16: the reference builds dense
(fragment-length × position) tensors and normalizes/summarizes them
with numpy (``fextract_fragment_length_distribution/...``,
``fextract_entropy/plugin.py``). Here the tensor is long-form
``(group…, bin_x, bin_y, value)`` — sparse, shuffle-friendly, and every
formula is JVM column arithmetic (partial aggregation map-side; one
shuffle per groupBy).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from lbf_spark.util import local_frame


def histogram2d(
    df: DataFrame,
    x: str,
    y: str,
    x_width: float,
    y_width: float,
    by: list[str] | None = None,
    x_min: float = 0.0,
    y_min: float = 0.0,
) -> DataFrame:
    """Sparse 2-D histogram: counts per (floor((x-x_min)/xw), floor((y-y_min)/yw)).

    The (fragment_length × position) tensor analog
    (``fextract_fragment_length_distribution/plugin.py:134-147``) —
    kept long-form so a 10^12-row input aggregates with one shuffle.
    """
    by = by or []
    return (
        df.withColumn("bin_x", F.floor((F.col(x) - F.lit(x_min)) / F.lit(x_width)))
        .withColumn("bin_y", F.floor((F.col(y) - F.lit(y_min)) / F.lit(y_width)))
        .groupBy(*by, "bin_x", "bin_y")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def shannon_entropy(
    df: DataFrame,
    value: str,
    by: list[str] | str,
    out: str = "entropy",
    epsilon: float = 0.0,
) -> DataFrame:
    """Shannon entropy of the per-group value distribution:
    H = -Σ p·ln(p), p = (v+ε)/Σ(v+ε)  (``fextract_entropy/plugin.py:31-40``;
    the reference adds ε=1e-10 before normalizing)."""
    by = [by] if isinstance(by, str) else list(by)
    v = F.col(value) + F.lit(epsilon)
    w = Window.partitionBy(*by)
    p = v / F.sum(v).over(w)
    plogp = F.when(p > 0, p * F.log(p)).otherwise(F.lit(0.0))
    return (
        df.withColumn("_plogp", plogp)
        .groupBy(*by)
        .agg((-F.sum("_plogp")).alias(out))
    )


def kl_to_flanking(
    df: DataFrame,
    value: str,
    position: str,
    n_positions: int,
    flank_n: int,
    dist_key: str,
    by: list[str] | str,
    out: str = "kl",
    epsilon: float = 1e-10,
) -> DataFrame:
    """KL divergence of each position's distribution (over `dist_key`)
    to the flanking baseline distribution — A10
    (``fextract_relative_entropy_to_flanking/plugin.py:33-44``).

    Input: long-form (by…, position, dist_key, value). Output:
    (by…, position, kl). Baseline = mean of the first/last `flank_n`
    positions' distributions, all renormalized with ε smoothing.
    """
    by = [by] if isinstance(by, str) else list(by)
    in_flank = (F.col(position) < F.lit(flank_n)) | (
        F.col(position) >= F.lit(n_positions - flank_n)
    )
    # p(position, k): normalize within (by, position)
    wp = Window.partitionBy(*by, position)
    p = (F.col(value) + F.lit(epsilon)) / F.sum(F.col(value) + F.lit(epsilon)).over(wp)
    dfp = df.withColumn("_p", p)
    # baseline q(k): mean of flanking p over positions, renormalized
    q = (
        dfp.filter(in_flank)
        .groupBy(*by, dist_key)
        .agg(F.avg("_p").alias("_q_raw"))
    )
    wq = Window.partitionBy(*by)
    q = q.withColumn("_q", F.col("_q_raw") / F.sum("_q_raw").over(wq)).drop("_q_raw")
    joined = dfp.join(q, by + [dist_key], "left").fillna({"_q": epsilon})
    term = F.when(F.col("_p") > 0, F.col("_p") * F.log(F.col("_p") / F.col("_q"))).otherwise(
        F.lit(0.0)
    )
    return (
        joined.withColumn("_term", term)
        .groupBy(*by, position)
        .agg(F.sum("_term").alias(out))
    )


def band_ratio(
    df: DataFrame,
    value: str,
    band_col: str,
    num_band: tuple[float, float],
    den_band: tuple[float, float],
    by: list[str] | str,
    out: str = "ratio",
) -> DataFrame:
    """Σ value in [num) band / Σ value in [den) band per group, with the
    reference's zero-denominator guard → null
    (``fextract_fragment_length_ratios/plugin.py:30-46``)."""
    by = [by] if isinstance(by, str) else list(by)
    b = F.col(band_col)
    num = F.sum(F.when((b >= num_band[0]) & (b < num_band[1]), F.col(value)))
    den = F.sum(F.when((b >= den_band[0]) & (b < den_band[1]), F.col(value)))
    return df.groupBy(*by).agg(
        F.when(den != 0, num / den).otherwise(F.lit(None)).alias(out)
    )


def positional_binning(
    df: DataFrame,
    position: str,
    value: str,
    bin_width: int,
    by: list[str] | str,
    out_bin: str = "bin",
    out: str = "value",
) -> DataFrame:
    """Sum values into coarse positional bins — ``np.add.reduceat``
    analog (``fextract_fragment_length_distribution_in_batch/
    plugin.py:124-132``)."""
    by = [by] if isinstance(by, str) else list(by)
    return (
        df.withColumn(out_bin, F.floor(F.col(position) / F.lit(bin_width)))
        .groupBy(*by, out_bin)
        .agg(F.sum(value).alias(out))
    )


def stratified_sample_exact(
    df: DataFrame,
    n_per_group: int,
    by: list[str] | str,
    id_col: str,
    seed: int = 42,
) -> DataFrame:
    """Deterministic exact-n-per-stratum sample: rows are ranked within
    each group by ``md5(seed:group:id)`` and the first ``n_per_group``
    kept. Unlike ``sampleBy`` (Bernoulli — approximate counts, engine-
    specific RNG), this gives exact quotas and is bit-reproducible on
    any engine that has md5 — the per-source quota step of a training-
    data mixture. One window over the group hash — skew-bounded by the
    largest stratum (combine with entity sub-keying if a stratum is a
    whole-corpus fraction). Ties cannot occur (md5 of distinct ids).
    """
    by = [by] if isinstance(by, str) else list(by)
    key = F.md5(
        F.concat_ws(
            ":", F.lit(str(seed)), *[F.col(c).cast("string") for c in by],
            F.col(id_col).cast("string"),
        )
    )
    w = Window.partitionBy(*by).orderBy(key, id_col)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_group)
        .drop("__rk")
    )


def mixture_sample(
    df: DataFrame,
    quotas: dict,
    by: str,
    id_col: str,
    seed: int = 42,
) -> DataFrame:
    """Exact quota sampling with a DIFFERENT quota per group — the
    data-mixing step of training-corpus assembly ("2 parts web, 1 part
    books"): rows rank within each group by ``md5(seed:group:id)`` and
    the first ``quotas[group]`` are kept. Bit-reproducible on any
    engine with md5 (unlike Bernoulli ``sampleBy``); groups absent from
    ``quotas`` are dropped; a quota exceeding the group size keeps the
    whole group. The quota map broadcasts (mixtures are tiny);
    skew-bounded by the largest stratum like
    ``stratified_sample_exact``."""
    qdf = local_frame(
        df.sparkSession,
        [(k, int(v)) for k, v in quotas.items()],
        T.StructType(
            [
                df.schema[by],
                T.StructField("__quota", T.LongType(), False),
            ]
        ),
    )
    key = F.md5(
        F.concat_ws(
            ":", F.lit(str(seed)), F.col(by).cast("string"),
            F.col(id_col).cast("string"),
        )
    )
    w = Window.partitionBy(by).orderBy(key, id_col)
    return (
        df.join(F.broadcast(qdf), by)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("__quota"))
        .drop("__rk", "__quota")
    )


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str,
    seed: int = 42,
) -> DataFrame:
    """Weighted sampling without replacement via Efraimidis–Spirakis
    A-Res (2006, published): each row draws a uniform u from
    ``md5(seed:id)`` and gets key ``−ln(u)/w``; the k smallest keys are
    the sample — exactly equivalent to drawing k items sequentially
    with probability ∝ weight. The uniform is a 60-bit md5 prefix over
    2^60 (identical in any engine with md5); ranking is on the key
    *rounded to 12 digits* with an id tiebreak so the selection is
    bit-stable across engines (ln differs by ≤1 ulp ≪ rounding margin).

    Shape at 100 TB: keys are row-local; selection is
    ``orderBy(key).limit(k)`` which Spark plans as
    TakeOrderedAndProject — each partition keeps its local top-k and
    only k rows per partition reach the driver-side merge, never a
    single-partition window. Rows with weight ≤ 0 are excluded (they
    have sampling probability 0)."""
    # u ∈ (0, 1]: (v + 1) / 2^60 over the 60-bit prefix v of md5
    v = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    u = (v + 1) / F.lit(float(1 << 60))
    key = F.round(-F.log(u) / F.col(weight_col), 12)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("es_key", key)
        .orderBy(F.asc("es_key"), F.asc(id_col))
        .limit(k)
    )


def multinomial_subsample(
    df: DataFrame,
    count_col: str,
    n_draws: int,
    by: list[str] | str,
    key_cols: list[str],
    seed: int = 42,
) -> DataFrame:
    """Resample each group's count distribution to exactly `n_draws`
    multinomial draws — A15 (``fextract_fragment_length_distribution/
    plugin.py:44-58``). The reference uses *unseeded* np.random; we
    derive a per-group seed from (seed, group key) so results are
    deterministic and partition-order independent."""
    by = [by] if isinstance(by, str) else list(by)
    schema = T.StructType(
        [f for f in df.schema.fields if f.name in by + key_cols]
        + [T.StructField("subsampled", T.LongType(), False)]
    )
    out_cols = by + key_cols + ["subsampled"]

    def fn(keys: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(key_cols, kind="mergesort", ignore_index=True)
        counts = pdf[count_col].to_numpy(dtype=np.float64)
        total = counts.sum()
        if total <= 0:
            draws = np.zeros(len(pdf), dtype=np.int64)
        else:
            # md5-derived per-group seed (repo determinism rule): stable
            # across CPython versions and PYTHONHASHSEED settings, unlike
            # builtin hash() which PySpark only pins in *workers*
            blob = ":".join([str(seed)] + [str(k) for k in keys]).encode()
            gseed = int.from_bytes(hashlib.md5(blob).digest()[:4], "big")
            rng = np.random.default_rng(gseed)
            draws = rng.multinomial(n_draws, counts / total)
        out = pdf[by + key_cols].copy()
        out["subsampled"] = draws.astype(np.int64)
        return out[out_cols]

    return df.groupBy(*by).applyInPandas(fn, schema)


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str,
    seed: int = 42,
    out_shard: str = "shard",
    out_pos: str = "shard_pos",
) -> DataFrame:
    """Deterministic global shuffle + sharding — the training-data
    export step (a data-loader wants K equal-ish shards in a
    reproducible pseudo-random order, never the storage order). Each
    row draws ``md5(seed:id)``; the first 52 bits pick the shard
    (uniform), the full digest orders rows WITHIN the shard
    (``out_pos`` = 1-based position, id tie-broken — a total order, so
    bit-reproducible on any engine with md5, unlike
    ``df.orderBy(rand())``).

    Shape at 100 TB: shard assignment is row-local; the within-shard
    order needs one hash exchange on ``shard`` + a per-shard sort —
    exactly the one shuffle a real exporter pays
    (``repartition(shard).sortWithinPartitions(key)``), never a global
    single-reducer sort. ``n_shards`` should be ≥ cluster parallelism
    so no shard serializes an executor."""
    key = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    shard = (
        F.conv(F.substring(key, 1, 13), 16, 10).cast("long")
        % F.lit(int(n_shards))
    ).cast("int")
    w = Window.partitionBy(out_shard).orderBy(F.col("__key"), F.col(id_col))
    return (
        df.withColumn("__key", key)
        .withColumn(out_shard, shard)
        .withColumn(out_pos, F.row_number().over(w))
        .drop("__key")
    )


def cost_balanced_shards(
    df: DataFrame,
    n_shards: int,
    cost_col: str,
    id_col: str,
    out_shard: str = "shard",
    out_rank: str = "cost_rank",
) -> DataFrame:
    """Skew-aware work sharding: rows rank globally by (cost desc, id
    asc) and shards take turns in BOUSTROPHEDON (snake) order — shard s
    receives ranks s+1, 2n−s, 2n+s+1, … so every consecutive round of
    ``n_shards`` ranks places exactly one row on each shard and the
    serpentine alternation cancels the within-round cost slope
    pairwise. This is the deterministic relational stand-in for LPT
    bin packing: for decode-heavy image stages (cost = payload bytes)
    md5 sharding leaves a multi-× load spread under Zipf sizes, while
    snake-on-sorted-costs lands every shard within ~one max-item of
    the ideal load (law-tested, python twin).

    ``shuffle_shards`` answers "reproducible pseudo-random ORDER";
    this answers "equal WORK per task" — compose them: pack batches on
    the md5 draw, then repartition the pixel-execution stage on the
    cost-balanced shard (``plans/imageprep.py:prep_images(cost_shards=…)``).

    Scale shape: the global rank never touches an unpartitioned
    window. ``band = bit_length(cost)`` (exact integer log2 via
    ``length(conv(cost, 10, 2))`` — float log2 could misband at power
    boundaries) is monotone in cost, so (band desc, cost desc, id asc)
    IS the global (cost desc, id asc) order: in-band ranks come from a
    window partitioned by band (ONE hash exchange; skew bound = widest
    band), band start-offsets are a running sum over the ≤64-row
    band-count frame (metadata-sized — the only global window), and
    rank = offset + in-band rank is exact. Snake arithmetic is
    row-local. Physical placement: ``repartitionByRange(n_shards,
    out_shard)`` ranges ≈1 shard id per partition; ids, never bytes,
    drive the exchange.
    """
    n = int(n_shards)
    cost = F.coalesce(F.col(cost_col).cast("long"), F.lit(0))
    band = F.length(F.conv(cost, 10, 2)).cast("int")
    with_band = df.withColumn("__cost", cost).withColumn("__band", band)
    counts = with_band.groupBy("__band").agg(
        F.count(F.lit(1)).alias("__bn")
    )
    w_off = (
        Window.orderBy(F.desc("__band"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__bn").over(w_off), F.lit(0))
    ).select("__band", "__off")
    w_rk = Window.partitionBy("__band").orderBy(
        F.desc("__cost"), F.asc(id_col)
    )
    ranked = (
        with_band.join(F.broadcast(offsets), "__band")
        .withColumn(
            out_rank, (F.col("__off") + F.row_number().over(w_rk))
        )
    )
    r0 = F.col(out_rank) - F.lit(1)
    rnd = F.expr(f"div({out_rank} - 1, {n})")
    pos = F.pmod(r0, F.lit(n))
    return (
        ranked.withColumn(
            out_shard,
            F.when(F.pmod(rnd, F.lit(2)) == 0, pos)
            .otherwise(F.lit(n - 1) - pos)
            .cast("int"),
        )
        .drop("__cost", "__band", "__off")
    )


def token_budget_sample(
    df: DataFrame,
    budgets: dict,
    by: str,
    id_col: str,
    token_col: str,
    seed: int = 42,
) -> DataFrame:
    """Token-BUDGET mixture sampling — ``mixture_sample``'s quota is a
    row count; training mixtures are specified in TOKENS ("20 B web
    tokens, 5 B books tokens"). Rows order within each group by
    ``md5(seed:group:id)`` (deterministic shuffle) and the maximal
    PREFIX whose inclusive token sum fits ``budgets[group]`` is kept:
    token counts are non-negative, so the running sum is monotone and
    `cum ≤ budget` selects exactly the greedy prefix fill — pure
    window arithmetic, engine-portable, no sequential scan. Groups
    absent from ``budgets`` are dropped; a budget larger than the
    group's total keeps the whole group.

    One hash exchange on ``by`` (window partition); the budget map
    broadcasts. Skew bound = largest stratum, like mixture_sample."""
    bdf = local_frame(
        df.sparkSession,
        [(k, int(v)) for k, v in budgets.items()],
        T.StructType(
            [
                df.schema[by],
                T.StructField("__budget", T.LongType(), False),
            ]
        ),
    )
    key = F.md5(
        F.concat_ws(
            ":", F.lit(str(seed)), F.col(by).cast("string"),
            F.col(id_col).cast("string"),
        )
    )
    w = (
        Window.partitionBy(by)
        .orderBy(F.col("__key"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.join(F.broadcast(bdf), by)
        .withColumn("__key", key)
        .withColumn(
            "__cum", F.sum(F.col(token_col).cast("long")).over(w)
        )
        .filter(F.col("__cum") <= F.col("__budget"))
        .drop("__key", "__cum", "__budget")
    )


def negative_sample_pairs(
    df: DataFrame,
    id_col: str,
    k: int = 4,
    pool_m: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training
    (CLIP/InfoNCE data prep): each row gets ``k`` negatives drawn from
    a FIXED global candidate pool of ``pool_m`` rows.

    Determinism law (same as the engine's other samplers): no RNG
    anywhere — the pool is the ``pool_m`` smallest rows by
    ``md5(id|'pool'|seed)`` (exact TakeOrdered, partition-independent)
    and each anchor ranks the pool by ``md5(anchor|neg|seed)`` with an
    id tiebreak (total order), so every anchor sees its own stable
    pseudo-random permutation, reproducible across runs, retries and
    cluster sizes.

    Scale shape: the pool collapses to ONE array row and broadcasts —
    per-anchor ranking is then a row-local array transform+sort+slice
    (pool_m·log pool_m ops over a bounded array), so the corpus is
    never amplified ×pool_m through a shuffle and the only exchange is
    the metadata-sized pool aggregation. Self-pairs are filtered
    BEFORE the slice, so pool members also get exactly k negatives."""
    sid = F.col(id_col).cast("string")
    pool = (
        df.select(F.col(id_col).alias("__neg"))
        .orderBy(
            F.md5(F.concat_ws("|", F.col("__neg").cast("string"),
                              F.lit("pool"), F.lit(str(seed)))),
            F.col("__neg"),
        )
        .limit(pool_m)
    )
    pool_arr = pool.agg(F.collect_list("__neg").alias("__pool"))
    ranked = F.array_sort(
        F.transform(
            F.filter(F.col("__pool"), lambda n: n != F.col(id_col)),
            lambda n: F.struct(
                F.md5(
                    F.concat_ws(
                        "|", sid, n.cast("string"), F.lit(str(seed))
                    )
                ).alias("h"),
                n.alias("neg"),
            ),
        )
    )
    return (
        df.crossJoin(F.broadcast(pool_arr))
        .withColumn("__top", F.slice(ranked, 1, k))
        .drop("__pool")
        .select(
            "*",
            F.posexplode("__top").alias("__pos", "__pair"),
        )
        .select(
            F.col(id_col).alias("anchor_id"),
            (F.col("__pos") + 1).cast("int").alias("neg_rank"),
            F.col("__pair.neg").alias("neg_id"),
        )
    )


def temperature_quotas(
    counts: DataFrame,
    by: str,
    n_col: str,
    alpha: float,
    total_n: int,
) -> DataFrame:
    """Largest-remainder apportionment of ``total_n`` over groups with
    temperature-scaled weights count^alpha — the exact-integer quota
    core shared by ``temperature_mixture`` (md5 draws per source) and
    ``similarity.diversity_sample`` (farthest-from-centroid draws per
    cell). Engine-portable arithmetic: ONE IEEE pow per group rounded
    to 6 (q149 single-op rule), Σ weights as exact decimal(28,6),
    fixed-order double ideals, bonus seats by (frac desc, group asc)
    total order. Input is the GROUP-COUNT frame (k rows — global
    windows here are specification-sized, never corpus-sized).
    Returns (by, n_col, quota) with Σ quota == total_n exactly."""
    return (
        counts.withColumn(
            "__w",
            F.round(
                F.pow(F.col(n_col).cast("double"), F.lit(float(alpha))),
                6,
            ),
        )
        .withColumn(
            "__Wd",
            F.sum(F.col("__w").cast("decimal(28,6)"))
            .over(Window.partitionBy())
            .cast("double"),
        )
        .withColumn(
            "__ideal",
            F.lit(float(total_n)) * F.col("__w") / F.col("__Wd"),
        )
        .withColumn("__floor", F.floor(F.col("__ideal")).cast("long"))
        .withColumn("__frac", F.col("__ideal") - F.floor(F.col("__ideal")))
        .withColumn(
            "__leftover",
            F.lit(int(total_n))
            - F.sum("__floor").over(Window.partitionBy()),
        )
        .withColumn(
            "__bonus_rk",
            F.row_number().over(
                Window.partitionBy().orderBy(
                    F.desc("__frac"), F.asc(by)
                )
            ),
        )
        .withColumn(
            "quota",
            F.col("__floor")
            + F.when(
                F.col("__bonus_rk") <= F.col("__leftover"), F.lit(1)
            ).otherwise(F.lit(0)).cast("long"),
        )
        .select(by, n_col, "quota")
    )


def temperature_mixture(
    df: DataFrame,
    by: str,
    id_col: str,
    alpha: float = 0.5,
    total_n: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """Temperature-scaled source mixture — the multilingual/multi-source
    rebalancing law (Devlin et al. 2019 mBERT; Conneau & Lample 2019):
    source i gets sampling weight c_i^alpha / Σ c_j^alpha, so alpha=1
    is proportional (head sources dominate) and alpha→0 is uniform
    (tail sources up-weighted). Quotas come from LARGEST-REMAINDER
    apportionment of ``total_n`` — exact integer quotas that sum to
    total_n, no float accumulation:

      * w_i = round(c_i^alpha, 6): ONE IEEE pow per source, rounded
        immediately (the q149 single-op rule — never summed raw);
      * W = Σ decimal(28,6) w_i — exact, order-free;
      * ideal_i = total_n·w_i/W in fixed-order scalar double ops
        (bit-identical on any IEEE engine), quota_i = ⌊ideal_i⌋ plus
        one bonus for the largest fractional parts (frac desc, source
        asc total order) until Σ quota = total_n;
      * selection inside each source = the md5(seed:source:id) ranked
        prefix (``mixture_sample``'s law) — append-stable, RNG-free.

    The global windows run over the SOURCE-COUNT frame (k rows — a
    mixture is specification-sized, never corpus-sized); the corpus
    pays one groupBy(source) count, one broadcast quota join and one
    per-source ranking window (skew bound = largest stratum). A quota
    exceeding its source's row count keeps the whole source (total
    then undershoots — same contract as mixture_sample).

    Returns the sampled rows plus (n_source, quota) audit columns.
    """
    cnt = df.groupBy(by).agg(F.count("*").alias("n_source"))
    wq = temperature_quotas(cnt, by, "n_source", alpha, total_n)
    key = F.md5(
        F.concat_ws(
            ":", F.lit(str(seed)), F.col(by).cast("string"),
            F.col(id_col).cast("string"),
        )
    )
    w = Window.partitionBy(by).orderBy(F.col("__key"), F.col(id_col))
    return (
        df.join(F.broadcast(wq), by)
        .withColumn("__key", key)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("quota"))
        .drop("__key", "__rk")
    )


def curriculum_interleave(
    df: DataFrame,
    score_col: str,
    edges: list[float],
    id_col: str,
    seed: int = 42,
) -> DataFrame:
    """Curriculum mixing schedule (Bengio et al. 2009 lineage, the
    balanced-batch variant): rows are bucketed by difficulty
    thresholds ``edges`` (row-local comparisons — bucket 0 is
    score < edges[0], …, bucket K−1 the tail), deterministically
    shuffled WITHIN each bucket (md5(seed:id) total order), and
    assigned a schedule position that round-robins the buckets:
    ``sched_pos = (rank_in_bucket − 1)·K + bucket``. Reading the
    export in sched_pos order, every consecutive window of K rows
    carries one item per difficulty level (until a bucket exhausts and
    its slots vanish) — the data-loader never sees a difficulty clump,
    with NO global sort anywhere: the only exchange is the per-bucket
    ranking window (skew bound = largest bucket; sub-key by
    shuffle_shards if one bucket is a corpus-scale fraction).

    Injective by construction ((rank, bucket) ↔ sched_pos), so the
    schedule is a total order. Returns df + (bucket, sched_pos).
    """
    k = len(edges) + 1
    bucket = None
    for i, e in enumerate(edges):
        cond = F.col(score_col) < F.lit(float(e))
        bucket = (
            F.when(cond, F.lit(i))
            if bucket is None
            else bucket.when(cond, F.lit(i))
        )
    bucket = F.lit(0) if bucket is None else bucket.otherwise(F.lit(len(edges)))
    key = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy("bucket").orderBy(F.col("__key"), F.col(id_col))
    return (
        df.withColumn("bucket", bucket.cast("int"))
        .withColumn("__key", key)
        .withColumn(
            "sched_pos",
            (F.row_number().over(w) - F.lit(1)) * F.lit(int(k))
            + F.col("bucket").cast("long"),
        )
        .drop("__key")
    )
