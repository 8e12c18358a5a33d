"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its dedup need is satisfied by BAM flag
filters); these are the first-class data-pipeline additions required by
the build contract: exact dedup, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (see similarity.py for the ANN side).

Portability note: MinHash hashes each shingle ONCE with md5 (identical
in every engine — no engine-specific hash like xxhash64 in any
correctness path) and derives the k permutations by fixed-coefficient
universal hashing ``(aᵢ·h + bᵢ) mod (2⁶¹−1)`` over the digest's 32-bit
prefix, so a DuckDB/ANSI-SQL oracle reproduces signatures exactly at
1/k-th the hashing cost of per-permutation md5. At scale:
shingling+hashing is embarrassingly parallel; the LSH band join is an
equi-join on (band_id, band_hash) — shuffle on a well-distributed key,
broadcast-free, skew-safe by construction.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, functions as F

TOKEN_RE = "[^a-z0-9]+"


class _ReleaseScope(threading.local):
    # Frames persisted or checkpointed for the CALLING thread; the
    # results are lazy, so release_caches frees them after the
    # consuming actions. Per thread: a foreachBatch callback runs on
    # its own thread and must not free a concurrent batch pass's state.
    def __init__(self):
        self.frames: list[DataFrame] = []


_SCOPE = _ReleaseScope()


def _persist_scoped(frame: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
    _SCOPE.frames.append(frame)
    return frame


def release_caches() -> int:
    """Free every frame the dedup operators persisted or checkpointed
    (``dup_clusters``' returned labels) on the CALLING thread — the
    scope is per thread — and return how many were freed. Call after
    the consuming action(s) of a dedup pass complete: acting on a
    returned labels frame after release raises, its local-checkpoint
    blocks being gone for good. (`spark.catalog.clearCache()` nukes
    unrelated caches and does NOT free checkpoint blocks.)"""
    from lbf_spark.util import free_local_checkpoint

    n = 0
    while _SCOPE.frames:
        frame = _SCOPE.frames.pop()
        if frame.is_cached:
            # blocking: callers (and tests) may immediately assert on the
            # persisted-RDD count; the async default leaves a removal race
            frame.unpersist(blocking=True)
            n += 1
        else:
            n += free_local_checkpoint(frame)
    return n


def tokens_col(text_col: str):
    """lower → split on non-alphanumerics → drop empties. Matches the
    DuckDB oracle expression list_filter(string_split_regex(lower(t))…)."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_RE), lambda x: x != ""
    )


def shingles_col(tokens, n: int):
    """Distinct word n-gram shingles from a token array column.
    (< n tokens ⇒ empty array — guard needed because F.sequence(0, -1)
    would produce a *descending* sequence, not an empty one.)"""
    ngrams = F.transform(
        F.sequence(F.lit(0), F.size(tokens) - n),
        lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
    )
    return F.when(F.size(tokens) >= n, F.array_distinct(ngrams)).otherwise(
        F.array().cast("array<string>")
    )


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact duplicate groups by md5(text): keeper = min id, n_dups."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def with_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    from lbf_spark.util import fan_out

    return fan_out(df).select(
        F.col(id_col), shingles_col(tokens_col(text_col), n).alias("shingles")
    )


_MH_P = (1 << 61) - 1  # Mersenne prime modulus for the permutations


def mh_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Fixed universal-hash coefficients (deterministic constants from
    the Knuth/Fibonacci multipliers — no RNG, identical everywhere;
    a_i odd and < 2³⁰ so a·h < 2⁶² never overflows int64 in ANY
    engine, h being a 32-bit md5 prefix)."""
    a = [((0x9E3779B1 * (i + 1)) % (1 << 29)) | 1 for i in range(num_hashes)]
    b = [(0x85EBCA77 * (i + 1)) % _MH_P for i in range(num_hashes)]
    return a, b


def minhash_signature(
    shingled: DataFrame, num_hashes: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """k-permutation MinHash — portable across engines AND cheap:
    ONE md5 per shingle (its first 8 hex chars → a 32-bit integer h),
    then k universal-hash permutations ``(aᵢ·h + bᵢ) mod (2⁶¹−1)``
    with fixed coefficients. signature[i] = min over shingles of
    permᵢ(h). The earlier scheme (md5 per permutation per shingle —
    k× the hashing cost) was the round-2 bench bottleneck; arithmetic
    permutations over one digest are the standard minhash construction
    (Broder 1997 §4) and reproduce bit-identically in ANSI SQL.

    Shingle-less documents (< n tokens) are dropped: they cannot be
    shingle-near-dups of anything, and keeping them would give every
    such doc the identical empty-min signature → identical band hashes
    → a quadratic candidate blowup among short/empty docs.
    """
    shingled = shingled.filter(F.size("shingles") > 0)
    a, b = mh_coeffs(num_hashes)
    hs = F.transform(
        F.col("shingles"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )
    with_h = shingled.withColumn("_hs", hs)  # md5 evaluated ONCE per shingle

    def _perm(A: int, B: int):
        return lambda h: (F.lit(A) * h + F.lit(B)) % F.lit(_MH_P)

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("_hs"), _perm(A, B)))
            for A, B in zip(a, b)
        ]
    )
    return with_h.select(F.col(id_col), F.col("shingles"), sig.alias("signature"))


def lsh_postings(
    signed: DataFrame,
    bands: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Signature → band postings ``(id, band_id, band_hash)`` — the
    persistable LSH INDEX rows (md5 over the band's signature slice).
    Row-local; this is the frame ``lsh_candidate_pairs`` self-joins
    and ``lsh_incremental_pairs`` appends to across ingest batches."""
    sig_len_col = F.size("signature")
    rows_per_band = (sig_len_col / bands).cast("int")
    return signed.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.transform(
                                F.slice(
                                    "signature", b * rows_per_band + 1, rows_per_band
                                ),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")


def lsh_candidate_pairs(
    signed: DataFrame,
    bands: int = 4,
    id_col: str = "doc_id",
) -> tuple[DataFrame, bool]:
    """Band the signature, equi-join on (band_id, band_hash) → candidate
    pairs (a < b). One shuffle; hot buckets are real near-dup clusters.
    Returns ``(pairs, broadcast)``, the flag being the pair join's
    dispatch (``_indexed_pair_counts``) for the verify step to follow."""
    # The postings feed both sides of the pair join — persist them so
    # the signature computation (one md5 + k permutations per shingle)
    # runs once, and fill eagerly in the broadcast regime (concurrent
    # build jobs would race the unmaterialized cache — see
    # _indexed_pair_counts).
    banded = _persist_scoped(lsh_postings(signed, bands, id_col))
    # groupBy-with-count ≡ distinct here (the count is dropped); the
    # shared helper's broadcast-aware dispatch then lets the candidate
    # dedup reuse the stream side's id partitioning with no exchange
    pairs, broadcast = _indexed_pair_counts(
        banded, id_col, "_n_bands", keys=("band_id", "band_hash")
    )
    if broadcast:
        banded.count()
    return pairs.select("id_a", "id_b"), broadcast


def lsh_index(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Build the persistable LSH index for a corpus: shingle →
    signature → band postings ``(id, band_id, band_hash)``. Write it
    to a table (e.g. ``sources.table.write_table``) and each ingest
    batch dedups against the corpus WITHOUT recomputing a single
    corpus signature (``lsh_incremental_pairs``) — the batch's own
    postings then append to the index table. This is the standing
    near-dup index every crawl pipeline keeps next to the corpus."""
    signed = minhash_signature(
        with_shingles(docs, id_col, text_col, n), num_hashes, id_col
    )
    return lsh_postings(signed, bands, id_col)


def lsh_incremental_pairs(
    corpus_docs: DataFrame,
    index: DataFrame,
    new_docs: DataFrame,
    threshold: float = 0.1,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Incremental near-dup detection of an ingest batch against an
    already-indexed corpus: candidates = the batch's band postings
    equi-joined against the PERSISTED index (new×corpus) plus the
    batch's self-join (new×new); corpus×corpus pairs were found when
    those docs were ingested and are never recomputed. Exact-Jaccard
    verification re-shingles ONLY the corpus docs that actually hit a
    candidate bucket (semi-join on the candidate ids) — at 10^12 docs
    the per-batch cost is O(batch + matched), never O(corpus).

    Returns ``{"pairs": (id_a, id_b, jaccard) with id_a < id_b and at
    least one side in the batch, "postings": the batch's postings —
    append them to the index table to complete the ingest}``.
    Equivalent by construction to running the full LSH dedup on
    corpus ∪ batch and keeping pairs touching the batch (q181 proves
    the equivalence bit-exactly against that relational replay)."""
    shingled_new = _persist_scoped(with_shingles(new_docs, id_col, text_col, n))
    signed_new = minhash_signature(shingled_new, num_hashes, id_col)
    new_post = _persist_scoped(lsh_postings(signed_new, bands, id_col))
    np_a = new_post.alias("a")
    cross = (
        np_a.join(
            index.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(
                F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
            ).alias("id_b"),
        )
    )
    self_pairs = (
        np_a.join(
            new_post.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
    )
    cands = cross.unionByName(self_pairs).distinct()
    touched = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    shingled_old = with_shingles(
        corpus_docs.join(touched, id_col, "left_semi"), id_col, text_col, n
    )
    shingled = shingled_old.unionByName(shingled_new)
    pairs = _jaccard_pairs(_persist_scoped(shingled), threshold, id_col, cands)
    return {"pairs": pairs, "postings": new_post}


#: optimizer size estimate (bytes) of an inverted index at or under
#: which ``_indexed_pair_counts`` broadcasts it (see its docstring).
INDEX_BROADCAST_BYTES = 256 * 1024 * 1024


def _indexed_pair_counts(
    inv: DataFrame,
    id_col: str,
    count_name: str,
    keys: tuple[str, ...] = ("sh",),
    carry_size_col: str | None = None,
    extra_cond=None,
) -> tuple[DataFrame, bool]:
    """Inverted-index self-join → per-(id_a, id_b) shared-shingle count.

    Physical-plan dispatch (results identical either way), decided
    from the OPTIMIZER'S size estimate of the index frame (driver-side
    plan stats, nothing executes): when the estimate is under
    ``INDEX_BROADCAST_BYTES`` (256 MB), the index side is
    broadcast EXPLICITLY and the stream side is hash-partitioned by
    its doc id: every constructed pair (a, b) then lands in the
    partition owning the stream doc, the count aggregation's
    ClusteredDistribution([id_a, id_b]) is already satisfied by
    HashPartitioning(stream id) (a subset of the group keys), and the
    pair exchange vanishes — measured r7 at sf1.0 that exchange was
    846 MB (114 M pair rows) plus ~1.7 GB of agg spill, for 3 k result
    rows. The explicit hint matters: leaving the decision to the
    planner's 10 MB auto-broadcast threshold made the dispatch flip
    with cache state and column-width changes (measured r7: a +8 B
    posting column flipped it to sort-merge and a 2 GB un-deduplicated
    pair exchange). Above the threshold the naive shape is kept:
    partitioning by id first would just add a full extra pass over the
    index, and the pair exchange with map-side partial aggregation is
    the correct 100-TB shape.

    With ``carry_size_col`` set (a per-doc-constant column present on
    ``inv``, e.g. the doc's full shingle count), the no-exchange shape
    additionally carries both docs' values through the aggregation as
    ``n_a`` / ``n_b`` (min of a constant = the constant) — the caller
    can then skip its per-doc size lookup joins on the pair stream
    entirely. In the naive shape the carry is NOT applied (it would
    widen the 100-TB pair exchange by two longs per row for a lookup
    that is cheaper as a post-aggregation join there).

    Returns ``(pairs, broadcast_regime)`` — when the flag is true and
    ``carry_size_col`` was given, ``n_a``/``n_b`` are present on the
    result. Callers should eagerly materialize any persisted frames
    this plan references more than once BEFORE executing it: the
    broadcast shape launches its build jobs concurrently, and
    unmaterialized caches are then filled redundantly by every
    concurrent subtree (measured r7: two full tokenize+shingle passes
    per q23 run, and run-to-run swings up to 3× from the race).
    """

    def _shape(x_side: DataFrame, y_side: DataFrame, carry: bool) -> DataFrame:
        cond = F.col(f"x.{id_col}") < F.col(f"y.{id_col}")
        if extra_cond is not None:
            # caller-supplied exact-safe prune over x./y. columns,
            # evaluated per join match BEFORE the pair aggregation
            cond = cond & extra_cond()
        for k in keys:
            cond = (F.col(f"x.{k}") == F.col(f"y.{k}")) & cond
        aggs = [F.count(F.lit(1)).alias(count_name)]
        if carry:
            aggs += [
                F.min(F.col(f"x.{carry_size_col}")).alias("n_a"),
                F.min(F.col(f"y.{carry_size_col}")).alias("n_b"),
            ]
        return (
            x_side.alias("x")
            .join(y_side.alias("y"), cond)
            .groupBy(
                F.col(f"x.{id_col}").alias("id_a"),
                F.col(f"y.{id_col}").alias("id_b"),
            )
            .agg(*aggs)
        )

    est = int(inv._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if 0 <= est <= INDEX_BROADCAST_BYTES:
        carry = carry_size_col is not None
        # x streams hash-partitioned by id; y is the broadcast index
        return _shape(
            inv.repartition(F.col(id_col)), F.broadcast(inv), carry
        ), True
    return _shape(inv, inv, False), False


def _jaccard_pairs(
    shingled: DataFrame,
    threshold: float,
    id_col: str,
    candidates: DataFrame | None = None,
    max_df: int | None = None,
    broadcast: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold pairs (id_a, id_b, jaccard)
    over an already persisted ``shingled``, in one of three shapes:

    - no ``candidates``: inverted-index self-join on shingle (the
      exact, scalable path — |pairs sharing a shingle| ≪ n²), with
      n_common counted inside the join and optionally df-capped by
      ``max_df`` (see ``jaccard_pairs_auto``);
    - ``candidates`` with ``broadcast`` (their generator's pair-join
      dispatch, ``_indexed_pair_counts``): verify them against ONE
      broadcast of the shingle arrays;
    - ``candidates`` without: verify them by shuffle joins on the doc
      ids."""
    sh = shingled.select(
        F.col(id_col), F.col("shingles"), F.size("shingles").alias("n_sh")
    )
    if candidates is None:
        # n_sh rides on every posting row (8 B next to the shingle
        # string): when the pair join takes the no-exchange shape it is
        # carried through the aggregation and the per-doc size lookup
        # joins on the (huge) pair stream disappear.
        inv = _persist_scoped(
            shingled.select(
                id_col,
                F.explode("shingles").alias("sh"),
                F.size("shingles").alias("n_sh"),
            )
        )
        if max_df is None:
            n_hot = 0  # no cap: every shingle is rare
        else:
            # shingles are per-doc distinct ⇒ df = count(*); split
            # hot/rare. hot_sh is persisted: it feeds FOUR subtrees
            # (both sides of the rare self-join via the anti-join, plus
            # hot_doc) — unpersisted, the df aggregation over inv re-ran
            # once per subtree (measured r7: ~4 full inv passes per q23
            # run).
            hot_sh = _persist_scoped(
                inv.groupBy("sh")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") > max_df)
                .select("sh")
            )
            # Runtime short-circuit (AQE-style, decided from the
            # materialized tiny hot set, results identical): with NO
            # hot shingles, rare ≡ inv and the hot correction is
            # identically zero — skip the anti-join probes on every
            # posting and the per-pair array-intersect expression,
            # which otherwise evaluates (on empty arrays) once per
            # constructed pair (114 M rows at sf1.0). The count is a
            # one-job aggregation over the (persisted) index that the
            # broadcast-regime fill runs anyway.
            n_hot = hot_sh.count()
        rare = inv if n_hot == 0 else inv.join(hot_sh, "sh", "left_anti")
        pairs_rare, sizes_carried = _indexed_pair_counts(
            rare, id_col, "n_rare", carry_size_col="n_sh"
        )
        if sizes_carried:
            # Eager one-shot fill: the broadcast shape launches its
            # build jobs concurrently and each would otherwise re-run
            # the full tokenize+shingle lineage into the unmaterialized
            # caches (see _indexed_pair_counts docstring).
            inv.count()
        keep = ["id_a", "id_b"] + (["n_a", "n_b"] if sizes_carried else [])
        if n_hot == 0:
            pairs = pairs_rare.select(
                *keep, F.col("n_rare").alias("n_common")
            )
        else:
            # per-doc HOT shingles: a tiny array (few shingles are hot
            # by definition); exact n_common = n_rare + |hot_a ∩ hot_b|.
            # Persisted: it is joined twice (hot_a / hot_b) and each
            # unpersisted copy re-joined inv against hot_sh.
            hot_doc = _persist_scoped(
                inv.join(hot_sh, "sh")
                .groupBy(id_col)
                .agg(F.collect_set("sh").alias("hot_arr"))
            )
            if sizes_carried:
                hot_doc.count()
            empty = F.array().cast("array<string>")
            pairs = (
                pairs_rare.join(
                    hot_doc.select(
                        F.col(id_col).alias("id_a"), F.col("hot_arr").alias("hot_a")
                    ),
                    "id_a",
                    "left",
                )
                .join(
                    hot_doc.select(
                        F.col(id_col).alias("id_b"), F.col("hot_arr").alias("hot_b")
                    ),
                    "id_b",
                    "left",
                )
                .select(
                    *keep,
                    (
                        F.col("n_rare")
                        + F.size(
                            F.array_intersect(
                                F.coalesce("hot_a", empty),
                                F.coalesce("hot_b", empty),
                            )
                        )
                    ).alias("n_common"),
                )
            )
    elif broadcast:
        # Broadcast regime (the candidate generator's dispatch): ONE
        # broadcast of (id, shingles, n_sh), aliased into both lookups
        # so the exchange is built once and reused; sizes ride along.
        # Leaving these joins to the planner flipped them to sort-merge
        # whenever the shingle cache was materialized (its real stats
        # exceed the 10 MB auto-broadcast bar), which re-exchanged the
        # candidate stream WITH attached arrays — measured r7: 568 MB
        # written + 1.2 GB read per q55 run for 1.06 M candidates.
        sizes_carried = True
        sh_b = F.broadcast(
            sh.select(
                F.col(id_col).alias("__sid"), "shingles", "n_sh"
            )
        )
        sa, sb = sh_b.alias("sa"), sh_b.alias("sb")
        pairs = (
            candidates.join(sa, F.col("id_a") == F.col("sa.__sid"))
            .join(sb, F.col("id_b") == F.col("sb.__sid"))
            .select(
                "id_a",
                "id_b",
                F.size(
                    F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles"))
                ).alias("n_common"),
                F.col("sa.n_sh").alias("n_a"),
                F.col("sb.n_sh").alias("n_b"),
            )
        )
    else:
        sizes_carried = False
        pairs = (
            candidates.join(
                sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
                "id_a",
            )
            .join(
                sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            )
        )
    if not sizes_carried:
        sizes = sh.select(F.col(id_col), F.col("n_sh"))
        pairs = pairs.join(
            sizes.withColumnsRenamed({id_col: "id_a", "n_sh": "n_a"}), "id_a"
        ).join(sizes.withColumnsRenamed({id_col: "id_b", "n_sh": "n_b"}), "id_b")
    return (
        pairs.withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _jaccard_pairs_prefix(
    shingled: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard ≥ threshold pairs via PPJoin-style PREFIX
    filtering — the high-threshold scale path (threshold ≳ 0.5; at
    t = 0.8 typically 10-100× fewer candidates than the full inverted
    index).

    Guarantee (pigeonhole): order every document's shingles by a global
    total order (ascending document frequency, shingle as tiebreak —
    rare shingles first maximizes pruning) and keep only the PREFIX of
    length ``|d| − ⌈t·|d|⌉ + 1``. If J(a, b) ≥ t the two prefixes must
    share at least one shingle, so indexing prefixes alone loses no
    qualifying pair; everything else is exact verification
    (array_intersect of the FULL shingle arrays) over the surviving
    candidates. Re-intersecting full arrays costs more per candidate
    than the index join's count aggregation — worth it exactly when
    the prefix filter has already collapsed the candidate set, which
    is why the full-index shape of ``_jaccard_pairs`` (count-based)
    remains the low-threshold path (q23's t = 0.1 prefix would be
    0.9·|d| — no pruning).

    Shape at 100 TB: one df aggregation (map-side partial), one
    per-doc sort of its own shingle list (row-local), a prefix-only
    inverted-index self-join (the shrunken exchange), and a verify
    join that shuffles full shingle arrays ONLY for candidate docs.
    """
    shingled = _persist_scoped(shingled)
    inv = shingled.select(id_col, F.explode("shingles").alias("sh"))
    dfs = inv.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    # per-doc shingles in (df, sh) order; prefix = |d| − ⌈t·|d|⌉ + 1
    ordered = (
        inv.join(dfs, "sh")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("sh")))
            ).alias("ord"),
            F.count(F.lit(1)).alias("n_sh"),
        )
    )
    t = float(threshold)
    # ε-guarded ceil: 0.8·35 = 28.000000000000004 in doubles — a bare
    # ceil claims c ≥ 29 and cuts the prefix one below the pigeonhole
    # bound (a missed pair at exact-integer boundaries); the ε only
    # ever LENGTHENS the prefix, so results cannot change otherwise.
    prefix_len = (
        F.col("n_sh")
        - F.ceil(F.lit(t) * F.col("n_sh") - F.lit(1e-9))
        + 1
    ).cast("int")
    prefixes = _persist_scoped(
        ordered.select(
            F.col(id_col),
            F.col("n_sh"),
            F.posexplode(
                F.transform(
                    F.slice(F.col("ord"), F.lit(1), prefix_len),
                    lambda x: x["sh"],
                )
            ).alias("pos", "sh"),
        )
    )

    def _ppjoin_prune():
        # Exact-safe candidate pruning inside the prefix join (PPJoin,
        # Xiao et al. 2008). Both tests only DROP pairs that provably
        # cannot reach J ≥ t (ε-slack keeps boundary cases):
        # • length: J ≤ min/max ⇒ need min ≥ t·max;
        # • positional: both shingle lists share one global (df, sh)
        #   order, so for the MINIMAL common shingle at 0-based prefix
        #   positions (i, j), |a∩b| ≤ 1 + min(na−i−1, nb−j−1); that
        #   minimal-element match row always exists for a qualifying
        #   pair and always passes, so surviving the OR-over-matches
        #   distinct is guaranteed. Measured r7 (10× corpus, t = 0.8):
        #   12.2 M candidates for 170 k qualifying pairs without it.
        na, nb = F.col("x.n_sh"), F.col("y.n_sh")
        len_ok = (
            F.least(na, nb).cast("double") + F.lit(1e-9)
            >= F.lit(t) * F.greatest(na, nb)
        )
        c_min = F.ceil(
            F.greatest(
                F.lit(t / (1.0 + t)) * (na + nb).cast("double"),
                F.lit(t) * F.greatest(na, nb).cast("double"),
            )
            - F.lit(1e-9)
        )
        ubound = F.lit(1) + F.least(
            na - F.col("x.pos") - 1, nb - F.col("y.pos") - 1
        )
        return len_ok & (ubound >= c_min)

    # distinct via the shared broadcast-aware pair helper (count dropped)
    pairs, broadcast = _indexed_pair_counts(
        prefixes, id_col, "_n_pref", extra_cond=_ppjoin_prune
    )
    if broadcast:
        # eager fills — concurrent broadcast builds would otherwise
        # race the unmaterialized caches (see _indexed_pair_counts)
        shingled.count()
        prefixes.count()
    return _jaccard_pairs(
        shingled, threshold, id_col, pairs.select("id_a", "id_b"),
        broadcast=broadcast,
    )


#: thresholds at or above this dispatch to the PPJoin prefix path —
#: below it the prefix `|d| − ⌈t·|d|⌉ + 1` approaches `|d|` and the
#: filter stops pruning (q23's t = 0.1 prefix would be 0.9·|d|).
PREFIX_DISPATCH_THRESHOLD = 0.5


def jaccard_pairs_auto(
    shingled: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold pairs (id_a, id_b, jaccard) —
    the one exact-Jaccard entry point: callers state the THRESHOLD, the
    engine picks the physical plan. ``threshold ≥ 0.5`` routes to the
    PPJoin prefix-filtered path (``_jaccard_pairs_prefix`` — the
    candidate set collapses when prefixes are short), lower thresholds
    to the full inverted-index path (``_jaccard_pairs`` — count-based
    n_common, optionally df-capped with ``max_df``). Both branches
    return identical pairs for the same threshold (property-tested);
    only the plan differs — the Catalyst philosophy applied to a
    custom operator.

    ``max_df`` (the 100-TB guard, full-index branch): shingles
    appearing in more than ``max_df`` documents are dropped from the
    *inverted index* before the self-join — a single stopword-like
    shingle in k docs otherwise produces k² join rows. Jaccard values
    are UNAFFECTED by the cap: n_common is recovered exactly as
    (shared-RARE count, aggregated inside the self-join) +
    (intersection of the per-doc HOT-shingle arrays, which are tiny —
    ≤ total_shingle_instances / max_df hot shingles exist globally).
    Only pairs whose every common shingle is hot are missed — the
    standard trade in every warehouse-scale near-dup system. This shape
    never shuffles full shingle arrays for candidate verification (that
    re-intersect cost +41 % at bench scale). The prefix path ignores
    ``max_df``: it already bounds hot-shingle fan-out structurally (a
    stopword-like shingle has maximal df, sorts LAST in every
    document's df-ordered shingle list, and falls outside every
    prefix).

    The shingle index and the exploded inverted index are persisted:
    they feed the self-join (twice) and the size lookups — recomputing
    the regex/shingle expression 4-6× costs far more than caching it
    (at warehouse scale this is the materialized shingle index every
    near-dup system builds anyway). Cache ownership: the result is
    lazy, so this function cannot unpersist its own intermediates —
    every frame it persists is registered in the calling thread's
    release scope; call ``dedup.release_caches()`` when the consuming
    actions of a pass are done (the CLI's ``dedup`` does)."""
    if threshold >= PREFIX_DISPATCH_THRESHOLD:
        return _jaccard_pairs_prefix(shingled, threshold, id_col)
    return _jaccard_pairs(
        _persist_scoped(shingled), threshold, id_col, max_df=max_df
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification —
    the scale path for near-dup dedup (LSH prunes n² to near-linear;
    the verify join keeps precision exact). The shingle index is
    persisted once and feeds signatures, banding, and verification."""
    shingled = _persist_scoped(with_shingles(df, id_col, text_col, n))
    # eager fill: signatures, postings (both join sides) and the
    # verify lookups all read this cache — one tokenize pass, no
    # concurrent-fill race (see _indexed_pair_counts)
    shingled.count()
    signed = minhash_signature(shingled, num_hashes, id_col)
    cands, broadcast = lsh_candidate_pairs(signed, bands, id_col)
    return _jaccard_pairs(
        shingled, threshold, id_col, cands, broadcast=broadcast
    )


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash fingerprint from md5(token) bits (portable).

    bit b of the fingerprint = 1 iff Σ_tokens (±1 for token-bit b) > 0,
    counting token multiplicity. Computed JVM-side: tokens → md5 →
    conv(hex,16,10 per half) → per-bit vote via aggregate().
    """
    from lbf_spark.util import fan_out

    df = fan_out(df)
    toks = tokens_col(text_col)
    # two 32-bit halves of the first 16 hex chars (64 bits) of md5(token)
    h = F.transform(toks, lambda t: F.md5(t))
    hi = F.transform(h, lambda x: F.conv(F.substring(x, 1, 8), 16, 10).cast("long"))
    lo = F.transform(h, lambda x: F.conv(F.substring(x, 9, 8), 16, 10).cast("long"))
    exploded = df.select(
        F.col(id_col),
        F.explode(F.arrays_zip(hi.alias("hi"), lo.alias("lo"))).alias("tb"),
    ).select(id_col, F.col("tb.hi").alias("hi"), F.col("tb.lo").alias("lo"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("hi" if b < 32 else "lo"), b % 32).bitwiseAND(1) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{b}")
        for b in range(64)
    ]
    voted = exploded.groupBy(id_col).agg(*votes)
    fp = None
    for b in range(64):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(2**b if b < 63 else -(2**63)).cast("long")
        fp = term if fp is None else (fp + term)
    return voted.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup: band the 64-bit fingerprint into `bands`
    disjoint keys, join per band, verify exact hamming ≤ max_hamming.

    Pigeonhole completeness: ≤ bands-1 differing bits cannot touch every
    band, so recall is EXACT iff ``max_hamming ≤ bands - 1`` — callers
    wanting hamming ≤ h must pass ``bands ≥ h + 1``."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"recall incomplete: max_hamming={max_hamming} needs bands ≥ {max_hamming + 1}"
        )
    fps = simhash64(df, id_col, text_col)
    width = 64 // bands
    mask = (1 << width) - 1
    banded = fps.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned("simhash", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.band_id", "bk.band_key")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


#: measured node count at or under which ``dup_clusters`` broadcasts
#: its node-sized frames into every propagation round's joins.
CLUSTER_BROADCAST_NODES = 2_000_000


def dup_clusters(
    pairs: DataFrame,
    max_iters: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id)
    with cluster_id = the smallest doc id in the component (the
    canonical keeper, matching exact_dedup's min-id rule). Works for
    ANY orderable id type (string ids included — min/least are
    lexicographic there).

    Not in the reference (its dedup is per-read flag filtering); this is
    the standard last step of warehouse-scale near-dup dedup: LSH pairs
    form a graph whose components are the duplicate clusters.

    Algorithm: iterative min-label propagation —
    ``label(v) ← min(label(v), min over neighbors of label(u))`` —
    one equi-join + partial-aggregating min per round, converging in
    O(component diameter) rounds (near-dup clusters are short-diameter
    by construction: every member pairs with a shared near-identical
    text). Convergence probe: count of rows whose label changed this
    round (type-agnostic — a label *sum* would be NULL for string ids
    and silently stop after one round).

    Fault tolerance / memory:

    * Every round is lineage-TRUNCATED (``localCheckpoint`` by
      default, reliable ``checkpoint`` when ``checkpoint_dir`` is
      given). This is not optional: round k's plan references round
      k−1's plan TWICE (once in the neighbor join, once directly), so
      without truncation the logical plan tree DOUBLES per round —
      ~2^rounds nodes — and a few dozen rounds OOM the driver just
      stringifying the plan (observed at the 10× bench corpus).
      Truncation makes each round's plan O(1).
    * No ``checkpoint_dir`` (default, single-box): each superseded
      round's blocks are freed the moment the next round's checkpoint
      materializes (``util.free_local_checkpoint`` — the LogicalRDD's
      backing RDD unpersisted via py4j; the r7 builder note that this
      was impossible was wrong), the edge checkpoint is freed after
      the last round, and the RETURNED labels frame is registered in
      the calling thread's release scope — ``release_caches()`` frees
      it after the consuming actions (measured r7: without this, three same-JVM
      q55@10x repeats grew the pair stage 246 → 566 s CPU from
      accumulated storage + GC pressure). An evicted/lost block is
      NOT recoverable (local checkpoints truncate the recompute
      lineage too) — single-box semantics.
    * ``checkpoint_dir`` (cluster): rounds go through reliable
      ``checkpoint()`` to that directory — executor loss can NOT kill
      the run, the blocks live on the DFS. This is the mode a
      1000-executor job must use.

    Raises after ``max_iters`` rounds without a fixpoint — silently
    returning half-propagated labels would mislabel every component of
    diameter > max_iters.
    """
    reliable = checkpoint_dir is not None
    if reliable:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _materialize(df: DataFrame) -> DataFrame:
        if reliable:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # pair lineage (LSH join + verify) executes exactly once
    edges = _materialize(edges)
    labels = _materialize(
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
    )
    # Node frames (labels, per-node neighbor minima) are usually tiny
    # next to the edge list; when the MEASURED node count (free — the
    # checkpoint just materialized labels) is under
    # CLUSTER_BROADCAST_NODES, broadcast them into both per-round
    # joins: the edge list is then never re-shuffled or sorted — one
    # small per-node exchange per round instead of three exchanges +
    # four sorts (checkpointed RDDs lose their partitioning under AQE,
    # so co-partitioning cannot be pinned across rounds; measured r7).
    # Components with more nodes than the threshold keep the
    # shuffle-join rounds — the 100-TB shape.
    bcast = labels.count() <= CLUSTER_BROADCAST_NODES
    _b = F.broadcast if bcast else (lambda f: f)

    def _one_step(lbls: DataFrame, keep_prev: str | None) -> DataFrame:
        nbr = (
            edges.join(_b(lbls), edges["dst"] == lbls["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        cols = [lbls["id"]]
        if keep_prev is not None:
            cols.append(lbls[keep_prev].alias("_prev"))
        return lbls.join(_b(nbr), lbls["id"] == nbr["src"], "left").select(
            *cols,
            F.least(
                lbls["label"], F.coalesce(nbr["nbr_min"], lbls["label"])
            ).alias("label"),
        )

    converged = False
    from lbf_spark.util import free_local_checkpoint

    ck = labels  # the live checkpoint FRAME (labels becomes a projection)
    for _i in range(max_iters):
        # TWO propagation steps per checkpoint+convergence probe: the
        # fixed per-round cost (checkpoint job, count job, broadcast
        # builds) is the dominant term once the joins are small, and a
        # monotone min-label fixpoint after two steps implies the
        # fixpoint after one — at most one wasted (cheap) step at
        # convergence, half the rounds on long-diameter components.
        # The un-truncated plan holds two steps — bounded, then cut.
        stepped = _materialize(_one_step(_one_step(labels, "label"), "_prev"))
        # one node-sized scan probes the fixpoint (data already
        # materialized eagerly by the checkpoint)
        n_changed = stepped.filter(F.col("label") != F.col("_prev")).count()
        if not reliable:
            # the superseded round's blocks are dead the moment the new
            # checkpoint materialized (and the probe above ran on the
            # NEW frame) — free them, or a long propagation retains
            # rounds × |nodes| rows of storage for the whole session
            free_local_checkpoint(ck)
        ck = stepped
        labels = stepped.drop("_prev")
        if n_changed == 0:
            converged = True
            break
    if not reliable:
        # nothing acts on the edge list after the last round; its
        # blocks (the big retained frame — the whole verified pair
        # computation) go now, even on the non-convergence raise path
        free_local_checkpoint(edges)
        # the RETURNED labels stay live until the caller's consuming
        # actions finish — scope-registered, freed by release_caches()
        _SCOPE.frames.append(ck)
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not converge in max_iters={max_iters} rounds; "
            "labels for components of larger diameter are still propagating"
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-span detection — the exact-substring
    dedup signal from "Deduplicating Training Data Makes Language
    Models Better" (Lee et al. 2022), relationalized: hash every
    ``width``-token sliding window (stride 1), group by span hash, and
    report the spans occurring in ≥ ``min_docs`` DISTINCT documents
    (boilerplate, licenses, templated text — the stuff n-gram-level
    doc dedup misses because whole-doc Jaccard stays low).

    Output (aggregated, never per-occurrence): ``span_hash``,
    ``n_docs``, ``n_occ``, ``first_doc`` (min id — a representative to
    fetch the literal text from).

    Scale shape: tokenize+explode is row-local (``fan_out`` — the
    single-row-group scan pathology, CLAUDE.md); the only shuffle is
    the groupBy on span hash with map-side partial aggregation, and
    the ≥min_docs filter bounds the output to actually-repeated spans.
    A suffix-array is the single-node tool for this; at 100 TB the
    hash-group IS the scalable equivalent for fixed window width.
    Tokenization is a plain single-space split, mirrored exactly by
    the DuckDB oracle (string_split + list slicing)."""
    from lbf_spark.util import fan_out

    toks = F.split(F.col(text_col), " ")
    spans = F.when(
        F.size(toks) >= width,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - width),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, width))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = (
        fan_out(docs.select(id_col, F.col(text_col)))
        .select(F.col(id_col), F.explode(spans).alias("span_hash"))
    )
    return (
        exploded.groupBy("span_hash")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min(id_col).alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def split_decontaminate(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str,
    split_col: str = "split",
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    train_label: str = "train",
) -> DataFrame:
    """Train/eval split decontamination by near-duplicate pairs — the
    leakage guard every training pipeline needs between dedup and
    export: any TRAIN row that is a near-duplicate of a NON-train row
    (test/val) is dropped from train (``kept = false``); eval rows are
    never dropped (the eval set defines the benchmark; train is what
    yields). ``pairs`` is any near-dup pair frame — phash bands
    (images), MinHash/LSH or exact Jaccard (text), cosine (embeddings).

    Shape at scale: two equi-joins of the (bounded, candidate-verified)
    pair set against the split labels, then one DISTINCT on the
    contaminated-train ids and a left join back — no all-pairs work
    beyond what the pair generator already bounded."""
    a, b = pair_cols
    lab = ids.select(
        F.col(id_col).alias("__pid"), F.col(split_col).alias("__psplit")
    )
    sided = (
        pairs.select(a, b)
        .join(lab.withColumnRenamed("__pid", a).withColumnRenamed("__psplit", "__sa"), a)
        .join(lab.withColumnRenamed("__pid", b).withColumnRenamed("__psplit", "__sb"), b)
    )
    tl = F.lit(train_label)
    contaminated = (
        sided.filter(
            ((F.col("__sa") == tl) & (F.col("__sb") != tl))
            | ((F.col("__sb") == tl) & (F.col("__sa") != tl))
        )
        .select(
            F.when(F.col("__sa") == tl, F.col(a)).otherwise(F.col(b)).alias("__bad")
        )
        .distinct()
    )
    return (
        ids.join(contaminated, ids[id_col] == contaminated["__bad"], "left")
        .withColumn(
            "kept",
            (F.col(split_col) != tl) | F.col("__bad").isNull(),
        )
        .drop("__bad")
    )


def select_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-ranked survivor selection — the keep/drop decision that
    turns near-dup clusters into a curated corpus. ``dup_clusters``
    (and the curation chain) canonically keep the MIN-ID member;
    production pipelines keep the BEST member (longest text, highest
    quality score) so dedup doesn't discard the most complete copy.
    Keeper per cluster = argmax(score, min-id tiebreak) — a total
    order, so the surviving corpus is bit-identical on any engine.

    Returns every input doc with ``cluster_id`` (own id for docs in no
    cluster) and ``is_keeper`` (true for cluster winners AND
    untouched singletons).

    Shape at 100 TB: the ranking window runs over CLUSTER MEMBERS
    only (the clusters frame — pair-connected docs, typically ≪
    corpus), never the full corpus; the corpus pays one left join on
    id to pick up its verdict. One exchange on cluster_id for the
    window + the id-keyed join. Reference analog: none — LBF stops at
    cluster ids (dedup.py:578 dup_clusters); this is the downstream
    decision step.
    """
    from pyspark.sql import Window

    member_rank = Window.partitionBy("cluster_id").orderBy(
        F.desc("__score"), F.col(id_col).asc()
    )
    members = (
        clusters.select(id_col, "cluster_id")
        .join(docs.select(id_col, F.col(score_col).alias("__score")), id_col)
        .withColumn("__is_keeper", F.row_number().over(member_rank) == 1)
        .select(
            id_col,
            F.col("cluster_id").alias("__cl"),
            "__is_keeper",
        )
    )
    return (
        docs.join(members, id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("__cl"), F.col(id_col)))
        .withColumn("is_keeper", F.coalesce(F.col("__is_keeper"), F.lit(True)))
        .drop("__cl", "__is_keeper")
    )


def tile_overlap_pairs(
    patches: DataFrame,
    min_shared: int = 2,
    id_col: str = "image_id",
    hash_col: str = "patch_md5",
    max_df: int | None = None,
) -> DataFrame:
    """Crop/overlay-resistant image near-dup candidates: pairs of
    images sharing ≥ ``min_shared`` identical tile digests (from
    ``images.extract_patches``). Exact byte-level tile matching
    complements phash (global, blur-tolerant) — a crop that keeps any
    ``min_shared`` aligned tiles, a watermark/overlay that touches only
    some tiles, or a collage reusing regions all still match, which a
    whole-image hash misses.

    Physical shape is the inverted-index join (the image analog of
    ``jaccard_pairs_auto``'s full-index path): distinct (image,
    tile-digest) postings, an equi-join per digest (bucketed — candidate volume is Σ df(tile)²,
    never n²), one map-side-combined groupBy counting shared tiles.
    ``max_df`` drops digests present in more than that many images —
    flat-color tiles are the image analog of stopword shingles and the
    cap is what bounds the posting-list blowup at corpus scale
    (identical role to ``jaccard_pairs_auto(max_df=…)``). Payload never
    enters: the patch table carries 32-char digests only.
    """
    post = (
        patches.select(F.col(id_col), F.col(hash_col).alias("__h"))
        .distinct()
    )
    if max_df is not None:
        keep = (
            post.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= int(max_df))
            .select("__h")
        )
        post = post.join(keep, "__h")
    a = post.select(F.col(id_col).alias("id_a"), "__h")
    b = post.select(F.col(id_col).alias("id_b"), "__h")
    return (
        a.join(b, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_tiles"))
        .filter(F.col("shared_tiles") >= int(min_shared))
    )


def remove_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
) -> DataFrame:
    """Exact-substring dedup REMOVAL (Lee et al. 2022 — the surgery
    their suffix-array pipeline performs, relationalized;
    ``duplicate_spans`` is the detection half): every ``width``-token
    sliding window that occurs more than once in the corpus keeps its
    GLOBAL FIRST occurrence (min (doc_id, start) — a total order, so
    engines agree) and every other occurrence's token positions are
    cut; documents are reassembled from the surviving tokens in
    position order. Overlapping duplicate spans union their covered
    positions, so a long repeated passage disappears as a block.

    Output: (id, n_tokens, n_removed, clean_text) for EVERY input doc
    (a fully-boilerplate doc comes back with clean_text = '').

    Scale shape: span hashing is row-local behind ``fan_out``; the
    keeper decision is one window over the span-hash partition (cnt +
    row_number share the exchange); removal positions explode only
    from LOSER occurrences (bounded by duplicate volume, not corpus);
    reassembly is one groupBy(doc) with an in-group array_sort. A
    suffix array is the single-node tool; for fixed width this
    hash-group is the distributed equivalent."""
    from pyspark.sql import Window

    from lbf_spark.util import fan_out

    toks = F.split(F.col(text_col), " ")
    base = fan_out(docs.select(F.col(id_col), toks.alias("__toks")))
    spans = F.when(
        F.size("__toks") >= width,
        F.transform(
            F.sequence(F.lit(0), F.size("__toks") - width),
            lambda i: F.struct(
                (i + 1).alias("start"),
                F.md5(
                    F.concat_ws(" ", F.slice("__toks", i + 1, width))
                ).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,h:string>>"))
    occ = base.select(
        F.col(id_col), F.explode(spans).alias("s")
    ).select(id_col, F.col("s.start").alias("start"), F.col("s.h").alias("h"))
    wh = Window.partitionBy("h")
    wk = Window.partitionBy("h").orderBy(F.asc(id_col), F.asc("start"))
    losers = (
        occ.withColumn("__cnt", F.count(F.lit(1)).over(wh))
        .withColumn("__rk", F.row_number().over(wk))
        .filter((F.col("__cnt") >= 2) & (F.col("__rk") > 1))
    )
    removed = losers.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("start"), F.col("start") + F.lit(width - 1))
        ).alias("pos"),
    ).distinct()
    tokens = base.select(
        F.col(id_col), F.posexplode("__toks").alias("p0", "tok")
    ).select(id_col, (F.col("p0") + 1).alias("pos"), "tok")
    kept = tokens.join(removed, [id_col, "pos"], "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
    )
    sizes = base.select(
        F.col(id_col), F.size("__toks").cast("long").alias("n_tokens")
    )
    return sizes.join(agg, id_col, "left").select(
        F.col(id_col),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("__n_kept", F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def containment_pairs(
    probe_shingled: DataFrame,
    corpus_shingled: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT C(p, d) = |S(p) ∩ S(d)| / |S(p)|
    ≥ threshold — the quote/subset detector symmetric Jaccard misses:
    an eval question quoted verbatim inside a long training document
    scores near-zero Jaccard (the doc's shingle set dwarfs the
    probe's) but containment ≈ 1. This is the decontamination signal
    GPT-3/PaLM-style audits actually use; ``split_decontaminate``
    consumes the emitted pairs like any other pair source.

    Both inputs are ``with_shingles`` frames (probe = the SMALL side:
    eval set, canary list). Inverted-index equi-join on the shingle —
    only shingles the probes actually contain enter the index (the
    corpus-side explode is semi-joined down first), so corpus cost is
    O(postings matching probes), never O(corpus shingles). ``max_df``
    drops stopword-like shingles from the JOIN only; containment
    denominators stay exact (|S(p)| is measured before the cap) and
    the capped result is a LOWER bound per pair — a containment hit
    can only be missed if every shared shingle is hot, the same trade
    ``jaccard_pairs_auto`` documents.

    Output: (probe_id, corpus_id, n_common, n_probe, containment
    round(6)). One shuffle on the shingle key + one pair groupBy."""
    probe = probe_shingled.select(
        F.col(id_col).alias("probe_id"),
        F.col("shingles").alias("__ps"),
    ).withColumn("n_probe", F.size("__ps"))
    p_inv = probe.select(
        "probe_id", "n_probe", F.explode("__ps").alias("sh")
    )
    if max_df is not None:
        hot = (
            p_inv.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > int(max_df))
            .select("sh")
        )
        p_inv = p_inv.join(hot, "sh", "left_anti")
    c_inv = (
        corpus_shingled.select(
            F.col(id_col).alias("corpus_id"),
            F.explode("shingles").alias("sh"),
        )
        # corpus postings prune to shingles probes actually contain
        .join(p_inv.select("sh").distinct(), "sh", "left_semi")
    )
    pairs = (
        p_inv.join(c_inv, "sh")
        .groupBy("probe_id", "corpus_id", "n_probe")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    cont = F.round(
        F.col("n_common").cast("double") / F.col("n_probe"), 6
    )
    return (
        pairs.withColumn("containment", cont)
        .filter(
            F.col("containment")
            >= F.round(F.lit(float(threshold)), 6)
        )
        .select("probe_id", "corpus_id", "n_common", "n_probe",
                "containment")
    )
