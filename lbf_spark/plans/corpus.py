"""Corpus curation pipeline: quality gates → dedup → mixing, composed.

The end-to-end shape of a pre-training data pipeline, built entirely
from the engine's own operators (each individually DuckDB-oracled /
pytest-gated):

1. **Gopher quality gates** (`text.gopher_quality`) — word count, mean
   word length, symbol ratio, alphabetic fraction;
2. **repetition gate** (`text.ngram_repetition`) — drop documents whose
   duplicate-trigram fraction exceeds a threshold;
3. **exact dedup** — one keeper (min id) per md5(text) group, the
   `dedup.exact_dedup` rule as a window (``min(id) over (partition by
   md5(text))``, kept where ``id`` equals it), so the repetition
   gate's frame has one consumer and its explode runs once;
4. **optional near-dup removal** (`dedup.dup_clusters` over MinHash-LSH
   pairs) — one keeper per connected near-dup cluster;
5. **mixture sampling** (`distributions.mixture_sample`) — exact
   per-source quotas, md5-ranked, bit-reproducible.

Every stage is lazily composed — one optimized plan end-to-end unless
near-dup (iterative) is enabled, which materializes pair clusters.
The quota table of step 5 is a LocalRelation (``util.local_frame``),
so the chain starts no Python worker.
Stage survivor counts are a separate, optional pass: ``stage_counts``
persists each stage frame so the chain executes once incrementally
(never once per stage) and unpersists afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from lbf_spark.operators import dedup, distributions as D, text
from lbf_spark.util import local_frame


def curate_corpus(
    docs: DataFrame,
    quotas: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    min_words: int = 20,
    max_dup_ngram_frac: float = 0.3,
    near_dup: bool = False,
    near_dup_threshold: float = 0.8,
    near_dup_method: str = "minhash",
    rep_score_col: str | None = None,
    lm_min_lp: float | None = None,
    lm_model_docs: DataFrame | None = None,
    seed: int = 42,
) -> dict:
    """Run the curation pipeline; returns ``{"kept": DataFrame,
    "stages": list[(name, DataFrame)]}`` where ``kept`` carries the
    original columns of the surviving documents and ``stages`` the
    intermediate frames (for metrics/inspection — all lazy).

    ``near_dup_method``: ``"minhash"`` (default — LSH candidates then
    exact verify, the probabilistic-recall production path) or
    ``"jaccard"`` (exact recall via the unified
    ``dedup.jaccard_pairs_auto`` entry point, which itself dispatches
    the physical plan — prefix-filtered at this stage's high default
    threshold).

    ``rep_score_col``: when set, near-dup clusters keep the member
    with the HIGHEST value of this column (min-id tiebreak; e.g. a
    length or quality score — ``dedup.select_representatives``)
    instead of the default min-id keeper.

    ``lm_min_lp``: when set, adds the CCNet-style LM-quality gate after
    the repetition gate — docs keep only if their trigram stupid-
    backoff score (``text.trigram_backoff_score``, model =
    ``lm_model_docs`` or the gated docs themselves) meets the
    threshold; both sides compare ROUNDED(6) values so the boundary is
    engine-deterministic (the q160 rule). The gopher gate's
    ``min_words`` ≥ 3 guarantees every surviving doc is scorable."""
    stages: list[tuple[str, DataFrame]] = [("input", docs)]

    g = text.gopher_quality(docs, text_col, min_words=min_words)
    s1 = g.filter(F.col("gopher_pass")).select(*docs.columns)
    stages.append(("quality_gate", s1))

    r = text.ngram_repetition(s1, id_col, text_col, n=3)
    s2 = r.filter(F.col("dup_ngram_frac") <= max_dup_ngram_frac).select(
        *docs.columns
    )
    stages.append(("repetition_gate", s2))

    if lm_min_lp is not None:
        scores = text.trigram_backoff_score(
            s2,
            model_docs=lm_model_docs if lm_model_docs is not None else s2,
            text_col=text_col,
            id_col=id_col,
        )
        keep_lm = scores.filter(
            F.col("lp_avg") >= F.round(F.lit(float(lm_min_lp)), 6)
        ).select(id_col)
        s2 = s2.join(keep_lm, id_col, "left_semi")
        stages.append(("lm_gate", s2))

    # exact dedup as a window over md5(text), not a groupBy joined back
    # to s2: s2 then has ONE consumer, so the gates, the trigram explode
    # and its aggregates run once (a join back planned them twice)
    keeper = F.min(id_col).over(Window.partitionBy(F.md5(F.col(text_col))))
    s3 = (
        s2.withColumn("__keeper", keeper)
        .filter(F.col(id_col) == F.col("__keeper"))
        .drop("__keeper")
    )
    stages.append(("exact_dedup", s3))

    if near_dup:
        if near_dup_method == "jaccard":
            sh = dedup.with_shingles(s3, id_col, text_col, 3)
            pairs = dedup.jaccard_pairs_auto(
                sh, threshold=near_dup_threshold, id_col=id_col
            ).select("id_a", "id_b")
        elif near_dup_method == "minhash":
            pairs = dedup.minhash_dedup_pairs(
                s3, id_col=id_col, text_col=text_col,
                threshold=near_dup_threshold,
            ).select("id_a", "id_b")
        else:
            raise ValueError(
                f"near_dup_method must be 'minhash' or 'jaccard', "
                f"got {near_dup_method!r}"
            )
        # dup_clusters emits fixed (doc_id, cluster_id) column names
        clusters = dedup.dup_clusters(pairs).withColumnRenamed(
            "doc_id", id_col
        )
        if rep_score_col is not None:
            verdicts = dedup.select_representatives(
                s3, clusters, score_col=rep_score_col, id_col=id_col
            )
            s3 = verdicts.filter(F.col("is_keeper")).select(*s3.columns)
        else:
            drop = clusters.filter(
                F.col(id_col) != F.col("cluster_id")
            ).select(id_col)
            s3 = s3.join(drop, id_col, "left_anti")
        stages.append(("near_dedup", s3))

    kept = s3
    if quotas:
        kept = D.mixture_sample(
            s3, quotas, by=source_col, id_col=id_col, seed=seed
        )
        stages.append(("mixture_sample", kept))
    return {"kept": kept, "stages": stages}


def stage_counts(stages: list[tuple[str, DataFrame]]) -> DataFrame:
    """Survivor count per stage as one small materialized frame.

    Each stage frame shares its predecessors' lineage, so counting them
    naively replays the whole chain once PER stage (with near-dup that
    re-runs LSH + connected components several times). Every stage
    frame is persisted first: the union's branches then each execute
    one incremental step on top of the previous stage's cache — the
    chain runs once. The frames are unpersisted once the counts are
    collected, or when collecting them fails."""
    from pyspark import StorageLevel

    if not stages:
        raise ValueError("stage_counts needs at least one stage frame")
    frames = [df for _, df in stages]
    for df in frames:
        df.persist(StorageLevel.MEMORY_AND_DISK)
    out = None
    for name, df in stages:
        c = df.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )
        out = c if out is None else out.unionAll(c)
    try:
        rows = out.collect()
    finally:
        for df in frames:
            df.unpersist()
    return local_frame(frames[0].sparkSession, rows, "stage string, n_docs long")


def curate_pairs(
    pairs: DataFrame,
    img_vec: str,
    txt_vec: str,
    pair_id: str = "pair_id",
    align_threshold: float = 0.0,
    centroids: DataFrame | None = None,
    cent_id: str = "cid",
    cent_vec: str = "embedding",
    semdedup_threshold: float = 0.9,
    by: str | None = None,
    alpha: float = 0.5,
    total_n: int | None = None,
    seed: int = 42,
) -> dict:
    """Multimodal (image, caption) pair curation — the LAION/DataComp
    recipe composed from the engine's own oracled operators, ONE lazy
    relational plan end-to-end (no iteration anywhere in this chain):

    1. **alignment gate** (`similarity.crossmodal_alignment`) — drop
       pairs whose image/text embedding cosine < ``align_threshold``
       (CLIP-score filtering, row-local);
    2. **semantic dedup** (`similarity.semantic_dedup`, when
       ``centroids`` given) — over the IMAGE embedding of surviving
       pairs, cell-scoped cosine ≥ ``semdedup_threshold`` duplicates
       drop, farthest-from-centroid survivor (SemDeDup rule);
    3. **temperature rebalance** (`distributions.temperature_mixture`,
       when ``by`` + ``total_n`` given) — α-scaled exact quotas over
       the grouping column with md5-ranked draws.

    Same contract as ``curate_corpus``: returns ``{"kept", "stages"}``
    with ``kept`` carrying the input columns plus the ``alignment``
    score; all frames lazy. The chain's shuffles: one pair join the
    CALLER paid to build ``pairs``, one cluster_id exchange inside
    semantic dedup, one count + per-group ranking in the rebalance —
    nothing quadratic, payload vectors never leave their stage."""
    from lbf_spark.operators.similarity import (
        crossmodal_alignment,
        semantic_dedup,
    )

    stages: list[tuple[str, DataFrame]] = [("input", pairs)]
    out_cols = pairs.columns + ["alignment"]

    a = crossmodal_alignment(
        pairs, img_vec, txt_vec, threshold=align_threshold
    )
    s1 = a.filter(F.col("keep")).select(*out_cols)
    stages.append(("alignment_gate", s1))

    s2 = s1
    if centroids is not None:
        verdict = semantic_dedup(
            s1, centroids, threshold=semdedup_threshold,
            id_col=pair_id, vec_col=img_vec,
            cent_id=cent_id, cent_vec=cent_vec,
        )
        s2 = s1.join(
            verdict.filter(F.col("is_kept")).select(pair_id),
            pair_id, "left_semi",
        )
        stages.append(("semantic_dedup", s2))

    kept = s2
    if by is not None and total_n is not None:
        kept = D.temperature_mixture(
            s2, by=by, id_col=pair_id, alpha=alpha,
            total_n=total_n, seed=seed,
        ).select(*out_cols)
        stages.append(("temperature_rebalance", kept))
    return {"kept": kept, "stages": stages}
