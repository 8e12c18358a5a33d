"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k, fully JVM-side via
``F.zip_with``/``F.aggregate`` dot products (no Python in the hot
path). Scale path: IVF — a broadcast nearest-centroid assignment
(``nearest_centroid_join``) blocks the corpus into cells, so pair
work is per cell and the n² blowup never materializes; the PQ variants
(``ivfpq_topk``) compress the vectors inside each cell.

At 10^12 rows the baseline is only used query-side (small probe set ×
big corpus, probe set broadcast); the IVF variants are the
corpus-scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _norm_col(vec):
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity_col(a, b):
    """cosine(a, b) as a JVM column expression (double)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    return dot / (_norm_col(a) * _norm_col(b))


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors of each probe over the corpus.

    Probe side is broadcast (queries are few; corpus is huge). Ranking
    key is (rounded sim desc, neighbor id asc) — fully deterministic
    across engines/float orders. Self-matches excluded.
    """
    from lbf_spark.util import fan_out

    # Norms are computed ONCE per row per side, before the join — the
    # inline form re-folded the probe norm for every corpus row and the
    # corpus norm for every probe (3 array folds per pair instead of 1;
    # measured r7: 2/3 of the q26 stage CPU). Same expression over the
    # same input ⇒ bit-identical sim = dot / (probe_norm * cand_norm).
    # fan_out: a single-row-group corpus parquet otherwise leaves the
    # whole scoring stage on ONE task (broadcast joins preserve the
    # scan's partitioning; measured r7: q26 ran on 2 tasks, 7.1 s).
    p = F.broadcast(
        probes.select(
            F.col(id_col).alias("probe_id"),
            F.col(vec_col).cast("array<double>").alias("probe_vec"),
        ).withColumn("probe_norm", _norm_col(F.col("probe_vec")))
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cand_vec"),
    ).withColumn("cand_norm", _norm_col(F.col("cand_vec")))
    dot = F.aggregate(
        F.zip_with("probe_vec", "cand_vec", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = dot / (F.col("probe_norm") * F.col("cand_norm"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = (
        c.join(p, F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("sim", sim)
        .select("probe_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "sim", "rnk")
    )


def exact_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """O(n²) exact cosine pairs ≥ threshold — correctness oracle / small
    tables only (the DuckDB-checkable ground truth for the IVF-blocked
    path)."""
    from lbf_spark.util import fan_out

    # per-row norm precompute + scan fan-out: same reasoning (and the
    # same bit-identical regrouping) as brute_force_topk above
    vecs = fan_out(df).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("nrm", _norm_col(F.col("v")))
    a, b = vecs.alias("a"), vecs.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = dot / (F.col("a.nrm") * F.col("b.nrm"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


# ------------------------------------------------------------- IVF ANN


def nearest_centroid_join(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cid",
    cent_vec: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Relational nearest-centroid assignment (the k-means E-step / IVF
    list assignment) with zero Python: broadcast the k centroids, fold
    squared-L2 per (vector, centroid) JVM-side, argmin per vector with
    a (rounded dist, centroid-id) total order so any engine selects
    identically. The plan is oracle-able: BroadcastNestedLoop over k
    rows is k·n work — the same cost as the dense distance matrix, just
    expressed relationally.

    Distances fold left-to-right over the array (``F.aggregate``) in
    float64; the fold order is element order, so engines agree bit-wise
    before the rounding even matters."""
    c = F.broadcast(
        centroids.select(
            F.col(cent_id).alias("__cid"),
            F.col(cent_vec).cast("array<double>").alias("__cvec"),
        )
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("__cvec"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = df.crossJoin(c).withColumn("dist2", F.round(d2, round_digits))
    # nulls LAST: a dimension-mismatched centroid folds to null dist2,
    # and Spark's asc default (nulls first) would silently win every
    # argmin with it
    w = Window.partitionBy(id_col).orderBy(
        F.asc_nulls_last("dist2"), F.asc("__cid")
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(id_col, F.col("__cid").alias("cluster_id"), "dist2")
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_scale: str = "scale",
    out_vec: str = "qvec",
) -> DataFrame:
    """Symmetric int8 vector quantization (the standard ANN-index /
    embedding-storage compression): per-vector scale = 127 / max|x|,
    elements round to int8. Row-local JVM array math — the 4×
    storage/bandwidth cut is what makes a 10¹²-vector index fit a
    cluster's disks. Zero vectors keep scale 1 (all-zero quant)."""
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(1.0))
    return df.withColumn(out_scale, scale).withColumn(
        out_vec,
        F.transform(v, lambda x: F.round(x * F.col(out_scale)).cast("int")),
    )


def rp_matrix(seed: int, out_dim: int, in_dim: int) -> list[list[float]]:
    """±1/√k JL sign matrix from md5 — deterministic constants any
    engine (or oracle SQL generator) reproduces from (seed, j, i)."""
    import hashlib
    import math

    inv = 1.0 / math.sqrt(out_dim)
    return [
        [
            inv
            if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:8], 16) % 2
            else -inv
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    out_dim: int,
    vec_col: str = "embedding",
    seed: int = 42,
    in_dim: int | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Johnson–Lindenstrauss dimensionality reduction with a ±1/√k
    sign matrix derived from md5 (deterministic, engine-reproducible —
    Achlioptas 2001's database-friendly projection). The matrix is a
    broadcast literal (out_dim × in_dim signs); each output coordinate
    is a fixed-order fold over the input — bit-identical in any engine.
    Row-local; no shuffle."""
    if in_dim is not None:
        d = in_dim
    else:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        d = first["d"] if first is not None else None
        if d is None or d < 0:  # empty frame, or first embedding NULL
            raise ValueError(
                "cannot infer in_dim (empty frame or null first "
                "embedding) — pass in_dim"
            )
    R = rp_matrix(seed, out_dim, d)
    v = F.col(vec_col).cast("array<double>")
    cols = []
    for j in range(out_dim):
        row = R[j]
        expr = None
        for i in range(d):
            term = F.element_at(v, i + 1) * F.lit(row[i])
            expr = term if expr is None else expr + term
        cols.append(F.round(expr, 6).alias(f"y{j}"))
    return df.select("*", *cols), R


def blocked_pairs(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Blocked exact near-dup search: assign vectors to IVF cells
    (nearest centroid), then compare pairs ONLY within a cell — the
    scale shape that turns O(n²) cosine search into Σ|cell|², an
    equi-join on cluster_id. Recall caveat: cross-cell near-dups are
    missed (the standard IVF trade; raise k or multi-probe upstream).
    Output: (id_a, id_b, cos) with a (rounded cos, ids) total order."""
    assigned = nearest_centroid_join(
        df, centroids, id_col=id_col, vec_col=vec_col
    ).select(id_col, "cluster_id")
    # norms are per-ROW: computing them inside the pair join would
    # re-fold each vector once per candidate pair (O(Σ|cell|²) wasted
    # folds in a hot cell); same values, same fold order, done once
    tagged = df.join(assigned, id_col).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"),
        "cluster_id",
    ).withColumn("__norm", _norm_col(F.col("__v")))
    a, b = tagged.alias("a"), tagged.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.__v"), F.col("b.__v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("a.__norm") * F.col("b.__norm"))
    return (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos, round_digits).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def retrieval_recall(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str | None = None,
) -> DataFrame:
    """Retrieval recall@k — the evaluation metric for a contrastive /
    cross-modal embedding space (does a distorted query still retrieve
    its own source?): each probe carries the ``id_col`` of its true
    match in the corpus; a probe scores a hit iff that id appears in
    its exact cosine top-k (self-candidates ARE eligible — that is the
    point, unlike ``brute_force_topk``'s neighbor search). Aggregated
    per ``group_col`` (or globally as group '*').

    Determinism: sim is round(4)ed before ranking with an id tiebreak
    (total order); recall is an exact integer ratio in double, round(6).
    Shape at scale: probe set broadcast (eval sets are small), corpus
    streamed once, per-probe top-k via window over the probe key."""
    gc = group_col
    pcols = [F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")]
    if gc:
        pcols.append(F.col(gc).alias("__grp"))
    p = F.broadcast(probes.select(*pcols))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cand_vec")
    )
    sim = F.round(
        cosine_similarity_col(
            F.col("probe_vec").cast("array<double>"),
            F.col("cand_vec").cast("array<double>"),
        ),
        4,
    )
    scored = c.join(p).withColumn("sim", sim)
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    per_probe = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .groupBy("probe_id", *(["__grp"] if gc else []))
        .agg(
            F.max(
                (F.col("neighbor_id") == F.col("probe_id")).cast("int")
            ).alias("hit")
        )
    )
    grp = F.col("__grp") if gc else F.lit("*")
    return (
        per_probe.groupBy(grp.alias(gc or "grp"))
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum("hit").alias("n_hits"),
        )
        .withColumn(
            "recall_at_k",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_probes").cast("double"),
                6,
            ),
        )
    )


def embedding_drift(
    ref: DataFrame,
    cur: DataFrame,
    by: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding drift between two corpus slices (reference
    vs current — snapshots, days, train vs serve): cosine similarity
    and norm ratio of the per-group CENTROIDS — the monitoring signal
    that tells a feature store an embedding column's distribution
    moved before a model does.

    Engine-exactness: centroids are per-dimension decimal-sum/count
    means ROUND(6)ed and re-quantized to decimal(18,6), so the dot
    products accumulate as EXACT decimal sums (a raw float sum over
    dimensions would be partial-agg-order nondeterministic — the q115
    rule applied across the dimension axis); only the final cosine /
    ratio divides in double, one IEEE tree.

    Shape at scale: one posexplode + groupBy(group, dim) per side
    (map-side partials; dims bounded), one join of two (groups × dims)
    aggregate frames, one groupBy(group) over ≤ dims rows each —
    vectors never shuffle whole, and nothing is ever collected."""
    def centroids(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(by, F.posexplode(F.col(vec_col)).alias("dim", "x"))
            .groupBy(by, "dim")
            .agg(
                F.round(
                    # widen float→double BEFORE the decimal quantize:
                    # engines disagree on direct float→decimal casts
                    # (shortest-repr vs exact-bits), doubles they agree on
                    F.sum(F.col("x").cast("double").cast("decimal(18,6)"))
                    .cast("double")
                    / F.count(F.lit(1)).cast("double"),
                    6,
                )
                .cast("decimal(18,6)")
                .alias(f"c_{side}")
            )
        )

    j = centroids(ref, "ref").join(centroids(cur, "cur"), [by, "dim"])
    agg = j.groupBy(by).agg(
        F.sum(F.col("c_ref") * F.col("c_cur")).cast("double").alias("__rc"),
        F.sum(F.col("c_ref") * F.col("c_ref")).cast("double").alias("__rr"),
        F.sum(F.col("c_cur") * F.col("c_cur")).cast("double").alias("__cc"),
        F.count(F.lit(1)).alias("n_dims"),
    )
    return (
        agg.filter((F.col("__rr") > 0) & (F.col("__cc") > 0))
        .withColumn(
            "centroid_cosine",
            F.col("__rc") / (F.sqrt(F.col("__rr")) * F.sqrt(F.col("__cc"))),
        )
        .withColumn(
            "norm_ratio", F.sqrt(F.col("__cc")) / F.sqrt(F.col("__rr"))
        )
        .drop("__rc", "__rr", "__cc")
    )


def crossmodal_alignment(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    threshold: float = 0.0,
    digits: int = 4,
    out_score: str = "alignment",
    out_keep: str = "keep",
) -> DataFrame:
    """CLIP-score-style image-text alignment filter — the web-scale
    pair-curation step (LAION-style corpora keep an (image, caption)
    pair only when the two embeddings agree): cosine between the two
    embedding columns of an already-paired frame, rounded to
    ``digits`` (+0.0 normalizes the tiny-negative −0.0 case), and a
    ``keep`` flag testing the ROUNDED score against ``threshold`` so
    the boundary decision is bit-identical on any engine.

    Row-local JVM fold (``cosine_similarity_col``) — zero shuffle:
    pairing is the CALLER's join (at 100 TB image and text embeddings
    of one sample normally live in the same row of the training
    table; when they don't, the pair join shuffles on pair id once
    and this operator adds nothing on top). Reference analog: none —
    LBF is single-modality; this extends the curation family (Gopher
    gates, dedup, decontamination) to paired-modality corpora.
    """
    score = (
        F.round(
            cosine_similarity_col(
                F.col(a_col).cast("array<double>"),
                F.col(b_col).cast("array<double>"),
            ),
            digits,
        )
        + F.lit(0.0)
    )
    return pairs.withColumn(out_score, score).withColumn(
        out_keep, F.col(out_score) >= F.lit(float(threshold))
    )


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cid",
    cent_vec: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540), the production-scale embedding dedup shape:
    pairwise cosine is computed ONLY within k-means cells, never
    corpus-wide, so candidate volume is Σ|cell|² instead of n².

    Stages (all relational, zero Python):
      1. assign every vector to its nearest centroid
         (``nearest_centroid_join`` — broadcast k rows, squared-L2
         argmin total-ordered on (round-6 dist2, centroid id));
      2. within-cell pairs via an equi-join on ``cluster_id``
         (one hash exchange per side), cosine round-4 ≥ ``threshold``;
      3. keep rule per the paper — among semantic duplicates the
         vector with LOW similarity to its centroid (= HIGH dist2)
         survives, preserving cell diversity. Each pair names exactly
         one loser: ``dist2`` tie → the higher id drops. A row is
         kept iff it dominates every near-dup neighbor in its cell.

    Dominance needs no iteration (contrast ``dup_clusters``' O(diameter)
    rounds): one pair join + one distinct + one left anti shape. dist2
    priorities are the round-6 values from the assignment, so engines
    pick identical survivors. Scale: centroid side broadcasts (k×dim
    driver state, same as IVF); the pair join shuffles on cluster_id —
    cell skew is the k-means balance question, handled upstream by
    choosing k (cells ~n/k).

    Returns (id, cluster_id, dist2, is_kept) for EVERY input row —
    auditable drop decisions; filter ``is_kept`` for the surviving set.
    Reference analog: none (LBF has no embedding ops) — this completes
    the dedup family (exact, MinHash, SimHash, Jaccard, phash, cosine)
    with the cluster-scoped semantic variant used on web-scale
    image/text corpora.
    """
    assign = nearest_centroid_join(
        df, centroids, id_col=id_col, vec_col=vec_col,
        cent_id=cent_id, cent_vec=cent_vec,
    )
    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    member = assign.join(vecs, id_col)
    a = member.select(
        F.col(id_col).alias("id_a"),
        F.col("cluster_id").alias("__ca"),
        F.col("dist2").alias("__da"),
        F.col("__v").alias("__va"),
    )
    b = member.select(
        F.col(id_col).alias("id_b"),
        F.col("cluster_id").alias("__cb"),
        F.col("dist2").alias("__db"),
        F.col("__v").alias("__vb"),
    )
    sim = F.round(
        cosine_similarity_col(F.col("__va"), F.col("__vb")), round_digits
    )
    pairs = (
        a.join(
            b,
            (F.col("__ca") == F.col("__cb"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn("__sim", sim)
        .filter(F.col("__sim") >= F.lit(float(threshold)))
    )
    # exactly one loser per pair: higher dist2 survives, tie -> lower id
    losers = pairs.select(
        F.when(F.col("__db") > F.col("__da"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias(id_col)
    ).distinct()
    return assign.join(
        losers.withColumn("__lost", F.lit(True)), id_col, "left"
    ).select(
        id_col,
        "cluster_id",
        "dist2",
        F.col("__lost").isNull().alias("is_kept"),
    )


def diversity_sample(
    df: DataFrame,
    centroids: DataFrame,
    total_n: int,
    alpha: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cid",
    cent_vec: str = "embedding",
) -> DataFrame:
    """Cluster-balanced diversity sampling — the coreset-style subset
    selector used to down-sample web corpora without collapsing onto
    head modes: cells (nearest-centroid assignment) receive exact
    integer quotas ∝ |cell|^alpha by largest-remainder apportionment
    (``distributions.temperature_quotas`` — alpha<1 up-weights tail
    clusters), and WITHIN a cell the rows farthest from the centroid
    draw first (dist2 desc, id asc total order) — edge-of-cell examples
    carry the diversity, prototypical ones are redundant (the same
    geometry SemDeDup exploits, inverted into a sampler).

    Scale shape: one broadcast centroid assignment (k×dim), one k-row
    quota frame broadcast back, one per-cell ranking window (skew bound
    = largest cell, i.e. the k-means balance knob). Σ picked ==
    total_n exactly whenever every quota ≤ its cell size (quotas above
    cell size keep the whole cell and undershoot — mixture contract).

    Returns the picked rows' (id, cluster_id, dist2, n_cell, quota).
    """
    from lbf_spark.operators.distributions import temperature_quotas

    assign = nearest_centroid_join(
        df, centroids, id_col=id_col, vec_col=vec_col,
        cent_id=cent_id, cent_vec=cent_vec,
    )
    cnt = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_cell")
    )
    quotas = temperature_quotas(cnt, "cluster_id", "n_cell", alpha, total_n)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("dist2"), F.asc(id_col)
    )
    return (
        assign.join(F.broadcast(quotas), "cluster_id")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("quota"))
        .select(id_col, "cluster_id", "dist2", "n_cell", "quota")
    )


def pq_codes(
    df: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cid",
    cent_vec: str = "embedding",
) -> DataFrame:
    """Product quantization (Jégou et al. 2011) — the third member of
    the embedding-compression family (int8 scalar, JL projection, PQ):
    the vector splits into ``m`` contiguous subspaces of dim/m and each
    sub-vector is replaced by the id of its nearest codeword slice —
    m small ints instead of dim floats (this m=4×k=8 layout is 12
    bits/vector; production PQ is m=8..64, k=256 — one byte per
    subspace).

    Fully relational: subspaces come from a RANGE cross join (m rows),
    sub-vectors are ``F.slice`` projections (no Python), distances the
    usual zip_with fold, argmin total-ordered on (round-6 dist2,
    codeword id). The codebook side broadcasts (k×dim). One ranking
    window per (vector, subspace) — the same exchange the assignment
    shuffle already needs. Codebooks here are caller-provided full-dim
    rows (seed rows or trained centroids) sliced per subspace, matching
    the IVF convention.

    Returns long-form (id, subspace, code, dist2) — ``groupBy(id)``
    with ``sum(dist2)`` is the reconstruction distortion; pivoting to
    an array is the caller's presentation choice.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    spark = df.sparkSession
    subs = spark.range(m).select(F.col("id").cast("int").alias("subspace"))
    sl = lambda col: F.slice(  # noqa: E731
        col.cast("array<double>"),
        (F.col("subspace") * sub + 1).cast("int"),
        sub,
    )
    es = df.select(F.col(id_col), F.col(vec_col)).crossJoin(
        F.broadcast(subs)
    ).select(id_col, "subspace", sl(F.col(vec_col)).alias("__sv"))
    cs = codebooks.select(
        F.col(cent_id).alias("__cid"), F.col(cent_vec)
    ).crossJoin(F.broadcast(subs)).select(
        "__cid", "subspace", sl(F.col(cent_vec)).alias("__cw")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("__sv"), F.col("__cw"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = es.join(F.broadcast(cs), "subspace").withColumn(
        "dist2", F.round(d2, 6)
    )
    w = Window.partitionBy(id_col, "subspace").orderBy(
        F.asc_nulls_last("dist2"), F.asc("__cid")
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(id_col, "subspace", F.col("__cid").alias("code"), "dist2")
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    probes: DataFrame,
    dim: int,
    m: int = 4,
    k_top: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cid",
    cent_vec: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance top-k search (the FAISS ADC pattern):
    the corpus exists ONLY as its PQ codes (m small ints per vector —
    ``pq_codes`` output), probes stay full-precision, and the probe↔
    vector distance is the sum over subspaces of the probe-slice→
    codeword-slice distance, read from a lookup table computed ONCE
    per probe (k·m entries — the classic ADC trick: at 10^12 vectors
    the corpus never rematerializes floats; only the code table joins).

    Plan: probe×subspace×codeword LUT (probes × m × k rows, broadcast
    — probe sets are query-sized), equi-join corpus codes on
    (subspace, code), per-(probe, vector) SUM of the m per-subspace
    terms as DECIMAL(18,6) — m doubles summed raw would expose
    partial-agg order; the round-6→decimal sum is exact at any
    parallelism (the q115 rule) — then (adc asc, id asc) top-k. One
    groupBy exchange on (probe, vector), one ranking window per probe.

    Returns (probe_id, vec_id, adc_dist2, rnk) — approximate
    distances; recall versus exact search is the m/k sizing knob.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    spark = codes.sparkSession
    subs = spark.range(m).select(F.col("id").cast("int").alias("subspace"))
    sl = lambda col: F.slice(  # noqa: E731
        col.cast("array<double>"),
        (F.col("subspace") * sub + 1).cast("int"),
        sub,
    )
    ps = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col)
    ).crossJoin(F.broadcast(subs)).select(
        "probe_id", "subspace", sl(F.col(vec_col)).alias("__pv")
    )
    cs = codebooks.select(
        F.col(cent_id).alias("code"), F.col(cent_vec)
    ).crossJoin(F.broadcast(subs)).select(
        "code", "subspace", sl(F.col(cent_vec)).alias("__cw")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("__pv"), F.col("__cw"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = ps.join(F.broadcast(cs), "subspace").select(
        "probe_id", "subspace", "code",
        F.round(d2, 6).cast("decimal(18,6)").alias("__term"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .groupBy("probe_id", id_col)
        .agg(F.sum("__term").cast("double").alias("adc_dist2"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.asc("adc_dist2"), F.asc(id_col)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k_top))
        .select("probe_id", id_col, "adc_dist2", "rnk")
    )


def ivfpq_topk(
    df: DataFrame,
    coarse: DataFrame,
    codebooks: DataFrame,
    probes: DataFrame,
    dim: int,
    m: int = 4,
    nprobe: int = 2,
    k_top: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cid",
    cent_vec: str = "embedding",
) -> DataFrame:
    """IVF-PQ search (the FAISS IVFPQ index, ``by_residual=False``
    flavor): a coarse quantizer prunes the corpus to each probe's
    ``nprobe`` nearest cells, and ONLY those candidates pay the
    PQ-ADC distance — the two scale levers composed: IVF makes the
    candidate count n·nprobe/k_coarse, PQ makes each candidate m
    code-table lookups instead of a dim-float fold.

    All stages are the already-proven parts: cell assignment and the
    probe→cell shortlist are ``nearest_centroid_join`` geometry
    (round-6 argmin/rank total orders), codes are ``pq_codes``, the
    distance is ``pq_adc_topk``'s DECIMAL-exact LUT sum. Shuffles:
    the candidate equi-join on cell id plus one (probe, vector)
    groupBy — never a probe×corpus product. Approximate on BOTH axes
    (cell recall × code distortion), sized by (k_coarse, nprobe, m).

    Returns (probe_id, vec_id, cell_id, adc_dist2, rnk).
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    spark = df.sparkSession
    assign = nearest_centroid_join(
        df, coarse, id_col=id_col, vec_col=vec_col,
        cent_id=cent_id, cent_vec=cent_vec,
    ).select(id_col, "cluster_id")
    codes = pq_codes(
        df, codebooks, dim=dim, m=m, id_col=id_col, vec_col=vec_col,
        cent_id=cent_id, cent_vec=cent_vec,
    ).select(id_col, "subspace", "code")

    # probe -> nprobe nearest coarse cells (same fold/total order)
    c = F.broadcast(
        coarse.select(
            F.col(cent_id).alias("__cell"),
            F.col(cent_vec).cast("array<double>").alias("__cv"),
        )
    )
    pd2 = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("__cv"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wcell = Window.partitionBy("probe_id").orderBy(
        F.asc_nulls_last("__cd"), F.asc("__cell")
    )
    pcells = (
        probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col))
        .crossJoin(c)
        .withColumn("__cd", F.round(pd2, 6))
        .withColumn("__crk", F.row_number().over(wcell))
        .filter(F.col("__crk") <= int(nprobe))
        .select("probe_id", F.col("__cell").alias("cluster_id"))
    )
    cand = F.broadcast(pcells).join(assign, "cluster_id").select(
        "probe_id", id_col, "cluster_id"
    )

    subs = spark.range(m).select(F.col("id").cast("int").alias("subspace"))
    sl = lambda col: F.slice(  # noqa: E731
        col.cast("array<double>"),
        (F.col("subspace") * sub + 1).cast("int"),
        sub,
    )
    ps = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col)
    ).crossJoin(F.broadcast(subs)).select(
        "probe_id", "subspace", sl(F.col(vec_col)).alias("__pv")
    )
    cs = codebooks.select(
        F.col(cent_id).alias("code"), F.col(cent_vec)
    ).crossJoin(F.broadcast(subs)).select(
        "code", "subspace", sl(F.col(cent_vec)).alias("__cw")
    )
    td2 = F.aggregate(
        F.zip_with(
            F.col("__pv"), F.col("__cw"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = ps.join(F.broadcast(cs), "subspace").select(
        "probe_id", "subspace", "code",
        F.round(td2, 6).cast("decimal(18,6)").alias("__term"),
    )
    scored = (
        cand.join(codes, id_col)
        .join(F.broadcast(lut), ["probe_id", "subspace", "code"])
        .groupBy("probe_id", id_col, "cluster_id")
        .agg(F.sum("__term").cast("double").alias("adc_dist2"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.asc("adc_dist2"), F.asc(id_col)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k_top))
        .select("probe_id", id_col, "cluster_id", "adc_dist2", "rnk")
    )


def ivfpq_residual_topk(
    df: DataFrame,
    coarse: DataFrame,
    codebooks: DataFrame,
    probes: DataFrame,
    dim: int,
    m: int = 4,
    nprobe: int = 2,
    k_top: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cid",
    cent_vec: str = "embedding",
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (``by_residual=True`` — the FAISS
    default, and the accuracy reason it is: PQ codes quantize
    ``x − c(cell(x))``, whose spread is one cell's diameter instead of
    the whole space, so the same codebook budget spends its codewords
    where the data actually is). ``ivfpq_topk`` (q172) is the
    ``by_residual=False`` flavor; everything structural carries over,
    with two deltas: corpus codes are assigned on residuals, and the
    ADC lookup table becomes per (probe, CELL) — the probe's residual
    against each shortlisted cell — i.e. k·m·nprobe table terms per
    probe instead of k·m.

    Determinism: residual subtraction is a fixed-order ``zip_with``;
    every distance is the round(6) fold → DECIMAL term sum (q171's
    partial-agg-proof rule); every argmin/rank total-orders on
    (dist2, id). Shuffles: one cell equi-join + one (probe, vector)
    groupBy, never probe×corpus; coarse/codebooks/LUT broadcast."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    spark = df.sparkSession
    cellv = F.broadcast(
        coarse.select(
            F.col(cent_id).alias("cluster_id"),
            F.col(cent_vec).cast("array<double>").alias("__cellv"),
        )
    )
    asg = nearest_centroid_join(
        df, coarse, id_col=id_col, vec_col=vec_col,
        cent_id=cent_id, cent_vec=cent_vec,
    ).select(id_col, "cluster_id")
    assign = (
        df.select(id_col, vec_col)
        .join(asg, id_col)
        .join(cellv, "cluster_id")
        .withColumn(
            "__res",
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.col("__cellv"),
                lambda x, y: x - y,
            ),
        )
    )
    codes = pq_codes(
        assign.select(id_col, "__res"), codebooks, dim=dim, m=m,
        id_col=id_col, vec_col="__res",
        cent_id=cent_id, cent_vec=cent_vec,
    ).select(id_col, "subspace", "code")

    c = F.broadcast(
        coarse.select(
            F.col(cent_id).alias("__cell"),
            F.col(cent_vec).cast("array<double>").alias("__cv"),
        )
    )
    pd2 = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("__cv"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wcell = Window.partitionBy("probe_id").orderBy(
        F.asc_nulls_last("__cd"), F.asc("__cell")
    )
    pcells = (
        probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col))
        .crossJoin(c)
        .withColumn("__cd", F.round(pd2, 6))
        .withColumn("__crk", F.row_number().over(wcell))
        .filter(F.col("__crk") <= int(nprobe))
        .select(
            "probe_id",
            F.col("__cell").alias("cluster_id"),
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.col("__cv"),
                lambda x, y: x - y,
            ).alias("__pres"),
        )
    )
    cand = F.broadcast(pcells.select("probe_id", "cluster_id")).join(
        assign.select(id_col, "cluster_id"), "cluster_id"
    ).select("probe_id", id_col, "cluster_id")

    subs = spark.range(m).select(F.col("id").cast("int").alias("subspace"))
    sl = lambda col: F.slice(  # noqa: E731
        col, (F.col("subspace") * sub + 1).cast("int"), sub
    )
    ps = pcells.crossJoin(F.broadcast(subs)).select(
        "probe_id", "cluster_id", "subspace",
        sl(F.col("__pres")).alias("__pv"),
    )
    cs = codebooks.select(
        F.col(cent_id).alias("code"),
        F.col(cent_vec).cast("array<double>").alias("__bv"),
    ).crossJoin(F.broadcast(subs)).select(
        "code", "subspace", sl(F.col("__bv")).alias("__cw")
    )
    td2 = F.aggregate(
        F.zip_with(
            F.col("__pv"), F.col("__cw"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = ps.join(F.broadcast(cs), "subspace").select(
        "probe_id", "cluster_id", "subspace", "code",
        F.round(td2, 6).cast("decimal(18,6)").alias("__term"),
    )
    scored = (
        cand.join(codes, id_col)
        .join(F.broadcast(lut), ["probe_id", "cluster_id", "subspace", "code"])
        .groupBy("probe_id", id_col, "cluster_id")
        .agg(F.sum("__term").cast("double").alias("adc_dist2"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.asc("adc_dist2"), F.asc(id_col)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k_top))
        .select("probe_id", id_col, "cluster_id", "adc_dist2", "rnk")
    )


def centroid_state_init(
    df: DataFrame,
    centroids: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cid",
    cent_vec: str = "embedding",
) -> DataFrame:
    """Mergeable CENTROID STATE for mini-batch k-means maintenance —
    the IVF-index freshness counterpart of the LSH ingest family: the
    state is long-form ``(cid, d, s, n)`` with ``s`` the DECIMAL(28,6)
    sum of the round(6)-quantized d-th components of the cell's
    members and ``n`` the member count. Decimal sums are associative,
    so states from disjoint batches MERGE exactly
    (``centroid_state_update``) and the cell means ``s/n`` are
    bit-identical however the data arrived — the q184 monoid argument
    applied per dimension. Assignment here is against the provided
    seed ``centroids`` (``nearest_centroid_join`` geometry)."""
    asg = nearest_centroid_join(
        df, centroids, id_col=id_col, vec_col=vec_col,
        cent_id=cent_id, cent_vec=cent_vec,
    ).select(id_col, "cluster_id")
    comp = (
        df.select(id_col, vec_col)
        .join(asg, id_col)
        .select(
            F.col("cluster_id").alias("cid"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "d", "__x"
            ),
        )
    )
    return comp.groupBy("cid", "d").agg(
        F.sum(
            F.round(F.col("__x"), 6).cast("decimal(28,6)")
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )


def centroid_state_means(state: DataFrame, dim: int) -> DataFrame:
    """State → per-cell mean VECTORS ``(cid, embedding array<double>)``
    — the current centroids, reconstructed relationally (array built
    from the d-sorted struct collection; s/n is one double division
    per component)."""
    return (
        state.withColumn(
            "__m", F.col("s").cast("double") / F.col("n")
        )
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("d", "__m"))
                ),
                lambda t: t["__m"],
            ).alias("embedding")
        )
    )


def centroid_state_update(
    state: DataFrame,
    batch: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fold a batch into the centroid state (mini-batch k-means step,
    Sculley 2010, relationalized): batch vectors assign to the
    CURRENT state means (reconstructed via ``centroid_state_means``),
    their per-dimension decimal sums merge cell-wise with a full-outer
    join — zero re-scan of history, exactly the additive-rollup monoid
    per (cid, d). Cells the batch never touches pass through
    untouched; the state stays exact under any batch arrival order
    GIVEN the same assignment means (the q202 oracle replays init →
    means → assignment → merge end-to-end)."""
    means = centroid_state_means(state, dim)
    delta = centroid_state_init(
        batch, means, dim, id_col=id_col, vec_col=vec_col,
        cent_id="cid", cent_vec="embedding",
    )
    d = delta.select(
        "cid", "d",
        F.col("s").alias("__ds"), F.col("n").alias("__dn"),
    )
    j = state.join(d, ["cid", "d"], "full_outer")
    zero_s = F.lit("0").cast(state.schema["s"].dataType)
    zero_n = F.lit(0).cast("bigint")
    return j.select(
        "cid", "d",
        (F.coalesce(F.col("s"), zero_s) + F.coalesce(F.col("__ds"), zero_s))
        .alias("s"),
        (F.coalesce(F.col("n"), zero_n) + F.coalesce(F.col("__dn"), zero_n))
        .alias("n"),
    )
