"""Operator-family tests vs plain-python ground truth."""

import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from lbf_spark.operators import dedup, distributions as D, similarity as S, stats, text


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (4, "completely different content about der die und das nicht"),
    (5, "le chat est sur la table et les livres sont dans le sac"),
    (6, "el gato es una mascota que vive con los humanos para siempre"),
    (7, "numbers 123 symbols !!! only ??? 456"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    got = dedup.exact_dedup(docs, "doc_id", "text").toPandas()
    dup_groups = got[got.n_copies > 1]
    assert len(dup_groups) == 1
    assert dup_groups.iloc[0]["keeper_id"] == 1 and dup_groups.iloc[0]["n_copies"] == 2


def test_jaccard_pairs_exact(spark, docs):
    got = dedup.jaccard_pairs_auto(
        dedup.with_shingles(docs, "doc_id", "text", 3), threshold=0.5
    ).toPandas()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in got.itertuples()}
    assert pairs[(1, 3)] == 1.0
    # doc 2 differs in last word: shingles 7, shared 6 → 6/8 = 0.75
    assert abs(pairs[(1, 2)] - 0.75) < 1e-12
    assert (4, 5) not in pairs


def test_minhash_lsh_finds_near_dups(spark, docs):
    got = dedup.minhash_dedup_pairs(
        docs, num_hashes=16, bands=8, threshold=0.7
    ).toPandas()
    found = {(r.id_a, r.id_b) for r in got.itertuples()}
    assert (1, 3) in found and (1, 2) in found and (2, 3) in found
    assert all(a < b for a, b in found)


def test_simhash_dup_detection(spark, docs):
    fps = dedup.simhash64(docs, "doc_id", "text").toPandas().set_index("doc_id")
    assert fps.loc[1, "simhash"] == fps.loc[3, "simhash"]
    pairs = dedup.simhash_near_dup_pairs(docs, max_hamming=8, bands=9).toPandas()
    assert {(r.id_a, r.id_b) for r in pairs.itertuples()} >= {(1, 3)}


def test_lang_id(spark, docs):
    got = text.lang_id(docs).toPandas().set_index("doc_id")["lang_pred"]
    assert got[1] == "en" and got[4] == "de" and got[5] == "fr"
    assert got[6] == "es" and got[7] == "und"


def test_token_count(spark, docs):
    got = text.token_count(docs).toPandas().set_index("doc_id")
    assert got.loc[1, "n_tokens_ws"] == 9 and got.loc[1, "n_tokens_regex"] == 9
    assert got.loc[7, "n_tokens_ws"] == 7 and got.loc[7, "n_tokens_regex"] == 5


def test_quality_and_fingerprint_deterministic(spark, docs):
    q1 = text.quality_score(docs).toPandas().set_index("doc_id")["quality"]
    q2 = text.quality_score(docs).toPandas().set_index("doc_id")["quality"]
    assert (q1 == q2).all() and ((q1 >= 0) & (q1 <= 1)).all()
    fp = text.doc_fingerprint(docs).toPandas().set_index("doc_id")["fingerprint"]
    assert fp[1] == fp[3] and fp[1] != fp[4]


def test_entropy_matches_numpy(spark):
    pdf = pd.DataFrame(
        {"g": ["a"] * 4 + ["b"] * 3, "v": [1.0, 1.0, 2.0, 4.0, 5.0, 5.0, 0.0]}
    )
    got = (
        D.shannon_entropy(spark.createDataFrame(pdf), "v", "g")
        .toPandas()
        .set_index("g")["entropy"]
    )
    for g, grp in pdf.groupby("g"):
        p = grp.v.to_numpy() / grp.v.sum()
        exp = -np.sum([x * math.log(x) for x in p if x > 0])
        assert abs(got[g] - exp) < 1e-12


def test_band_ratio_and_binning(spark):
    pdf = pd.DataFrame(
        {"g": ["a"] * 6, "band": [100, 150, 200, 250, 300, 350], "v": [1.0] * 6}
    )
    df = spark.createDataFrame(pdf)
    r = D.band_ratio(df, "v", "band", (100, 200), (200, 400), "g").toPandas()
    assert abs(r.iloc[0]["ratio"] - 2 / 4) < 1e-12
    b = D.positional_binning(df, "band", "v", 100, "g").toPandas()
    assert dict(zip(b.bin, b.value)) == {1: 2.0, 2: 2.0, 3: 2.0}


def test_histogram2d(spark):
    pdf = pd.DataFrame({"x": [0, 5, 15, 15], "y": [0, 0, 10, 11]})
    got = D.histogram2d(spark.createDataFrame(pdf), "x", "y", 10, 10).toPandas()
    m = {(r.bin_x, r.bin_y): r.n for r in got.itertuples()}
    assert m == {(0, 0): 2, (1, 1): 2}


def test_multinomial_subsample_deterministic_and_total(spark):
    pdf = pd.DataFrame(
        {"g": ["a"] * 5 + ["b"] * 5, "k": list(range(5)) * 2,
         "n": [10, 20, 30, 40, 0, 1, 1, 1, 1, 96]}
    )
    df = spark.createDataFrame(pdf)
    a = D.multinomial_subsample(df, "n", 50, "g", ["k"]).toPandas()
    b = D.multinomial_subsample(df, "n", 50, "g", ["k"]).toPandas()
    assert a.sort_values(["g", "k"]).equals(b.sort_values(["g", "k"]))
    assert a.groupby("g")["subsampled"].sum().eq(50).all()


def test_kl_to_flanking_zero_for_uniform(spark):
    rows = [("a", p, k, 1.0) for p in range(10) for k in range(4)]
    df = spark.createDataFrame(rows, "g string, pos int, k int, v double")
    got = D.kl_to_flanking(df, "v", "pos", 10, 2, "k", "g").toPandas()
    assert np.allclose(got["kl"], 0.0, atol=1e-12)


def test_mwu_and_kw_sane():
    x = np.array([1.0, 2.0, 3.0, 4.0, 5.0] * 4)
    y = x + 10.0
    u, p = stats.mannwhitney_u(x, y)
    assert p < 1e-5
    _, p_same = stats.mannwhitney_u(x, x)
    assert p_same > 0.9
    h, pk = stats.kruskal_wallis([x, y, x + 20])
    assert pk < 1e-6
    assert abs(stats.chi2_sf(3.84, 1) - 0.05) < 2e-3  # textbook value


def test_bh_matches_known():
    p = np.array([0.01, 0.04, 0.03, 0.005])
    adj = stats.benjamini_hochberg(p)
    assert np.allclose(adj, [0.02, 0.04, 0.04, 0.02])


def test_group_tests_spark(spark):
    rows = []
    rng = np.random.default_rng(3)
    for interval in ["i1", "i2"]:
        for g, shift in [("ctrl", 0.0), ("case", 5.0 if interval == "i1" else 0.0)]:
            for v in rng.normal(shift, 1.0, 20):
                rows.append((interval, g, float(v)))
    df = spark.createDataFrame(rows, "interval string, grp string, v double")
    res = stats.group_test_2(df, "v", "grp", "interval").toPandas().set_index("interval")
    assert res.loc["i1", "p_value"] < 0.001 and res.loc["i2", "p_value"] > 0.05
    adj = stats.adjust_pvalues(stats.group_test_2(df, "v", "grp", "interval")).toPandas()
    assert "p_adj" in adj.columns and len(adj) == 2


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((30, 8)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(30), "embedding": list(vecs)})
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(pdf.vec_id, pdf.embedding)],
        "vec_id long, embedding array<float>",
    )
    got = S.brute_force_topk(df, df.filter("vec_id < 3"), k=4).toPandas()
    v64 = vecs.astype(np.float64)
    sims = (v64 @ v64.T) / (
        np.linalg.norm(v64, axis=1)[:, None] * np.linalg.norm(v64, axis=1)[None, :]
    )
    for pid in range(3):
        s = np.round(sims[pid], 4)
        order = sorted(
            [(float(-s[j]), j) for j in range(30) if j != pid]
        )[:4]
        exp = [j for _, j in order]
        g = got[got.probe_id == pid].sort_values("rnk")["neighbor_id"].tolist()
        assert g == exp, (pid, g, exp)


def test_iqr_clamp(spark):
    pdf = pd.DataFrame({"g": ["a"] * 6, "v": [1.0, 2.0, 3.0, 4.0, 5.0, 100.0]})
    got = stats.iqr_clamp(spark.createDataFrame(pdf), "v", "g", out="c").toPandas()
    assert got["c"].max() < 100.0 and got["c"].min() == 1.0


def test_amplitude(spark):
    rows = [("a", p, 10.0 if 4 <= p < 6 else 2.0) for p in range(10)]
    df = spark.createDataFrame(rows, "g string, pos int, v double")
    got = stats.amplitude(df, "v", "pos", 10, 2, "g").toPandas()
    assert abs(got.iloc[0]["amplitude"] - 8.0) < 1e-12


def test_flanking_normalize_zero_flank_rows_become_zero(spark):
    """Reference semantics (fextract/lib.py:226-229): the normalized
    array is pre-filled with zeros and only rows with nonzero flanking
    mean are assigned — a zero-flank group outputs all zeros, NOT the
    raw values."""
    from lbf_spark.operators.normalize import flanking_normalize

    rows = (
        # group a: nonzero flank (positions 8,9) → scaled by mean=2
        [("a", p, 4.0 if p < 8 else 2.0) for p in range(10)]
        # group b: zero flank → every output must be 0, even nonzero values
        + [("b", p, 7.0 if p < 8 else 0.0) for p in range(10)]
    )
    df = spark.createDataFrame(rows, "g string, pos int, v double")
    got = (
        flanking_normalize(df, "v", "pos", 10, 2, by="g", out="vn")
        .toPandas()
        .sort_values(["g", "pos"], ignore_index=True)
    )
    a = got[got.g == "a"]["vn"].to_numpy()
    b = got[got.g == "b"]["vn"].to_numpy()
    assert np.allclose(a, np.where(np.arange(10) < 8, 2.0, 1.0))
    assert np.all(b == 0.0)


def test_dunn_posthoc_closed_form():
    """Hand-derived ranks: a=[1,2,3] b=[4,5,6] c=[7,8,9] → mean ranks
    2/5/8, base_var 7.5, pair var 5; tie case a=[1,2,2] b=[2,3,4] →
    ranks 1,3,3,3,5,6, tie term 24/(12·5), base_var 3.1."""
    res = stats.dunn_posthoc(
        {"a": np.array([1.0, 2, 3]), "b": np.array([4.0, 5, 6]), "c": np.array([7.0, 8, 9])}
    )
    got = {(a, b): (z, p) for a, b, z, p in res}
    assert abs(got[("a", "b")][0] - (-1.341641)) < 1e-6
    assert abs(got[("a", "c")][0] - (-2.683282)) < 1e-6
    assert abs(got[("b", "c")][0] - (-1.341641)) < 1e-6
    assert abs(got[("a", "b")][1] - 0.179712) < 1e-6
    assert abs(got[("a", "c")][1] - 0.00729) < 1e-6
    (a, b, z, p) = stats.dunn_posthoc(
        {"a": np.array([1.0, 2, 2]), "b": np.array([2.0, 3, 4])}
    )[0]
    assert (a, b) == ("a", "b")
    assert abs(z - (-1.623086)) < 1e-6
    assert abs(p - 0.104571) < 1e-6


def test_group_test_k_dunn_spark(spark):
    rows = (
        [("k1", "g1", float(v)) for v in [1, 2, 3, 4]]
        + [("k1", "g2", float(v)) for v in [10, 11, 12, 13]]
        + [("k1", "g3", float(v)) for v in [20, 21, 22, 23]]
        + [("k2", "g1", float(v)) for v in [5, 5, 5]]  # k2: only one group → dropped
    )
    df = spark.createDataFrame(rows, "k string, g string, v double")
    got = stats.group_test_k_dunn(df, "v", "g", "k", alpha=1.0).toPandas()
    assert set(got["k"]) == {"k1"}
    assert len(got) == 3  # 3 pairs
    got = got.set_index(["group_a", "group_b"])
    # separated groups: z(g1,g3) most extreme, symmetric spacing
    assert got.loc[("g1", "g3"), "z"] < got.loc[("g1", "g2"), "z"] < 0
    exp = stats.dunn_posthoc(
        {
            "g1": np.array([1.0, 2, 3, 4]),
            "g2": np.array([10.0, 11, 12, 13]),
            "g3": np.array([20.0, 21, 22, 23]),
        }
    )
    for ga, gb, z, p in exp:
        assert abs(got.loc[(ga, gb), "z"] - z) < 1e-12
        assert abs(got.loc[(ga, gb), "p_dunn"] - p) < 1e-12
    # omnibus gate: tiny alpha → p_dunn NaN but z still reported
    gated = stats.group_test_k_dunn(df, "v", "g", "k", alpha=1e-9).toPandas()
    assert gated["p_dunn"].isna().all()
    assert gated["z"].notna().all()


def test_peter_ulz_coverage_hand_case(spark):
    """One event [0, 1000), rs=53 re=113, anchor at 1000, span=1000,
    bucket_w=100: sub1 [53,113) → ages 888..947 → buckets {8,9};
    sub2 [887,947) → ages 54..113 → buckets {0,1}."""
    from lbf_spark.operators.windows import peter_ulz_coverage

    ev = spark.createDataFrame(
        [("a", 0, 1000)], "entity string, ts long, duration long"
    )
    an = spark.createDataFrame(
        [("a", 1000, "x")], "entity string, anchor_ts long, name string"
    )
    got = (
        peter_ulz_coverage(ev, an, span=1000, bucket_w=100,
                           read_start=53, read_end=113)
        .toPandas().sort_values("bucket", ignore_index=True)
    )
    assert len(got) == 10
    exp = {0: 1.0, 1: 1.0, 8: 1.0, 9: 1.0}
    for _, r in got.iterrows():
        assert r["cov"] == exp.get(r["bucket"], 0.0), (r["bucket"], r["cov"])
    # gc-weighted variant: weight 0.25 scales every contribution
    evw = ev.withColumn("gw", F.lit(0.25))
    gotw = (
        peter_ulz_coverage(evw, an, span=1000, bucket_w=100,
                           read_start=53, read_end=113, weight_col="gw")
        .toPandas().sort_values("bucket", ignore_index=True)
    )
    for _, r in gotw.iterrows():
        assert r["cov"] == 0.25 * exp.get(r["bucket"], 0.0)


def test_jaccard_max_df_bounds_candidates_and_preserves_results(spark):
    """A planted hot shingle shared by ALL docs must not blow up the
    candidate set when max_df is active, and jaccard values of
    surviving pairs are exact (verification uses full shingle sets)."""
    hot = "zzz common everywhere"
    rows = [
        (i, f"{hot} unique{i} alpha{i} beta{i} gamma{i} delta{i}")
        for i in range(30)
    ] + [
        (100, f"{hot} shared body of text one two"),
        (101, f"{hot} shared body of text one three"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.with_shingles(df, "doc_id", "text", 3)
    uncapped = dedup.jaccard_pairs_auto(sh, threshold=0.3).toPandas()
    capped = dedup.jaccard_pairs_auto(sh, threshold=0.3, max_df=5).toPandas()
    # the only >=0.3 pair is (100, 101); both paths find it with the
    # exact jaccard despite the hot shingle being dropped from the index
    assert set(map(tuple, capped[["id_a", "id_b"]].values)) == {(100, 101)}
    u = uncapped.set_index(["id_a", "id_b"]).loc[(100, 101), "jaccard"]
    c = capped.set_index(["id_a", "id_b"]).loc[(100, 101), "jaccard"]
    assert abs(u - c) < 1e-12
    # bounded fan-out: capped candidate generation never touches the
    # hot shingle ⇒ no pair among the 30 filler docs even pre-threshold
    capped_all = dedup.jaccard_pairs_auto(sh, threshold=0.0, max_df=5).toPandas()
    filler_pairs = capped_all[(capped_all.id_a < 100) & (capped_all.id_b < 100)]
    assert len(filler_pairs) == 0
    uncapped_all = dedup.jaccard_pairs_auto(sh, threshold=0.0).toPandas()
    assert len(uncapped_all[(uncapped_all.id_a < 100) & (uncapped_all.id_b < 100)]) == 30 * 29 / 2


def test_group_tests_rm_outliers(spark):
    """rm_outliers applies the reference's per-group IQR trim
    (utils.py:12-26) before testing: a planted extreme value changes
    the untrimmed U but not the trimmed one."""
    base_a = [float(v) for v in range(1, 9)]
    base_b = [float(v) for v in range(11, 19)]
    rows = (
        [("k", "a", v) for v in base_a + [1000.0]]  # outlier in group a
        + [("k", "b", v) for v in base_b]
    )
    df = spark.createDataFrame(rows, "k string, g string, v double")
    trimmed = stats.group_test_2(df, "v", "g", "k", rm_outliers=True).toPandas()
    raw = stats.group_test_2(df, "v", "g", "k").toPandas()
    # manual expectation: trimmed == test on base_a vs base_b
    u_exp, _ = stats.mannwhitney_u(np.array(base_a), np.array(base_b))
    assert abs(trimmed.iloc[0]["u_stat"] - u_exp) < 1e-12
    assert raw.iloc[0]["u_stat"] != trimmed.iloc[0]["u_stat"]
    # numpy trim matches the reference's pandas-quantile semantics
    x = np.array(base_a + [1000.0])
    t = stats.remove_outliers_np(x)
    s = pd.Series(x)
    q1, q3 = s.quantile(0.25), s.quantile(0.75)
    lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
    assert np.array_equal(t, x[(x >= lo) & (x <= hi)])
    # kw + dunn variants accept the flag too
    kw = stats.group_test_k(df, "v", "g", "k", rm_outliers=True).toPandas()
    dn = stats.group_test_k_dunn(df, "v", "g", "k", alpha=1.0, rm_outliers=True).toPandas()
    assert len(kw) == 1 and len(dn) == 1
    assert abs(dn.iloc[0]["mean_a"] - np.mean(base_a)) < 1e-12


def test_dup_clusters_components(spark):
    """Hand-built graph: chain 1-2-3-4 (one component), pair (10,11),
    singleton-free (nodes only from edges). cluster_id = min id."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (7, 8), (8, 9), (9, 7)],
        "id_a long, id_b long",
    )
    got = dedup.dup_clusters(pairs).toPandas().sort_values("doc_id")
    exp = {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7, 9: 7, 10: 10, 11: 10}
    assert dict(zip(got["doc_id"], got["cluster_id"])) == exp


def test_dup_clusters_string_ids_long_chain(spark):
    """String doc ids over a diameter-4 path: the fixpoint probe must
    count changed labels (a label SUM would be NULL for strings and
    silently stop after one propagation round, mislabeling d/e)."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")],
        "id_a string, id_b string",
    )
    got = dedup.dup_clusters(pairs).toPandas().sort_values("doc_id")
    exp = {"a": "a", "b": "a", "c": "a", "d": "a", "e": "a", "x": "x", "y": "x"}
    assert dict(zip(got["doc_id"], got["cluster_id"])) == exp


def test_dup_clusters_reliable_checkpoint(spark, tmp_path):
    """A checkpoint_dir routes rounds through DFS checkpoint() files —
    same labels, blocks recoverable after executor loss at scale."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = dedup.dup_clusters(
        pairs, checkpoint_dir=str(tmp_path / "ckpt")
    ).toPandas().sort_values("doc_id")
    exp = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    assert dict(zip(got["doc_id"], got["cluster_id"])) == exp
    import os

    assert os.listdir(tmp_path / "ckpt")  # files actually landed there


def test_dup_clusters_nonconvergence_raises(spark):
    """A diameter-4 path cannot converge in one round: dup_clusters
    must raise instead of returning half-propagated labels."""
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
        "id_a string, id_b string",
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_clusters(pairs, max_iters=1)


def test_gopher_quality_and_repetition(spark):
    """Hand-checkable docs: a clean doc passes; a symbol-heavy doc and
    a hyper-repetitive doc fail the respective signals."""
    clean = " ".join(f"plain word number {i} runs along nicely here" for i in range(5))
    symbols = " ".join(["### ... ###"] * 30)
    repeat = " ".join(["spam spam spam"] * 30)
    df = spark.createDataFrame(
        [(1, clean), (2, symbols), (3, repeat)], "doc_id long, text string"
    )
    q = text.gopher_quality(df, min_words=10).toPandas().set_index("doc_id")
    assert bool(q.loc[1, "gopher_pass"])
    assert not bool(q.loc[2, "gopher_pass"])  # symbol ratio + alpha frac
    assert q.loc[2, "symbol_ratio"] > 0.1
    assert q.loc[2, "alpha_word_frac"] == 0.0
    r = text.ngram_repetition(df, n=3).toPandas().set_index("doc_id")
    # 'spam spam spam' x30: 88 trigrams, all identical -> dup frac 87/88
    assert r.loc[3, "top_ngram_frac"] == 1.0
    assert abs(r.loc[3, "dup_ngram_frac"] - (1 - 1 / 88)) < 1e-6
    assert r.loc[1, "dup_ngram_frac"] < r.loc[3, "dup_ngram_frac"]


def test_c4_quality_hand_cases(spark):
    """C4 line/page rules on hand-built pages: clean multi-sentence page
    passes; short-line page loses its lines; lorem-ipsum / brace /
    javascript / duplicate-line pages are flagged."""
    clean = "\n".join(
        f"This is a perfectly reasonable sentence number {i}." for i in range(5)
    )
    shorty = "\n".join(["ok."] * 10)                      # <3 words per line
    lorem = clean + "\nLorem Ipsum dolor sit amet."
    codey = clean + "\nif (x) { return 1; }"
    js = clean + "\nPlease enable javascript to continue browsing here."
    dupl = "\n".join(["A duplicated line appears here."] * 4)
    df = spark.createDataFrame(
        [(1, clean), (2, shorty), (3, lorem), (4, codey), (5, js), (6, dupl)],
        "doc_id long, text string",
    )
    r = text.c4_quality(df).toPandas().set_index("doc_id")
    assert r.loc[1, "c4_pass"] == 1 and r.loc[1, "n_lines_kept"] == 5
    assert r.loc[2, "n_lines_kept"] == 0 and r.loc[2, "c4_pass"] == 0
    assert r.loc[3, "has_lorem"] == 1 and r.loc[3, "c4_pass"] == 0
    assert r.loc[4, "has_brace"] == 1 and r.loc[4, "c4_pass"] == 0
    assert r.loc[5, "n_lines_kept"] == 5  # javascript line dropped
    assert abs(r.loc[6, "dup_line_frac"] - 0.75) < 1e-9
    # bad-words list: word-boundary match flags the page; entries are
    # regex-escaped ("c++" must not crash) and case-insensitive
    rb = text.c4_quality(
        df, bad_words=["Reasonable", "c++"]
    ).toPandas().set_index("doc_id")
    assert rb.loc[1, "has_bad_word"] == 1 and rb.loc[1, "c4_pass"] == 0
    assert rb.loc[2, "has_bad_word"] == 0
    # a word ENDING in regex metachars must actually match (\b would
    # fail between '+' and space — fixed via explicit delimiters)
    dfc = spark.createDataFrame(
        [(1, "I love c++ dearly."), (2, "comparing c to rust")],
        "doc_id long, text string",
    )
    rc = text.c4_quality(dfc, bad_words=["c++"]).toPandas().set_index("doc_id")
    assert rc.loc[1, "has_bad_word"] == 1
    assert rc.loc[2, "has_bad_word"] == 0  # 'c' alone is not 'c++'


def test_jvm_rolling_median_nulls_and_parity(spark):
    """The ≤64-window JVM median (array_sort middle pair) must equal
    pandas rolling(min_periods=1).median incl. null skipping, even and
    odd frame sizes, and all-null frames."""
    import numpy as np
    import pandas as pd

    from lbf_spark.operators.windows import rolling_median

    vals = [5.0, None, 3.0, 8.0, None, None, 1.0, 9.0, 2.0, None]
    rows = [("a", i, v) for i, v in enumerate(vals)] + [
        ("b", 0, None), ("b", 1, None)  # all-null entity
    ]
    df = spark.createDataFrame(rows, "entity string, ts long, v double")
    got = (
        rolling_median(df, "v", "m", 4)
        .toPandas().sort_values(["entity", "ts"], ignore_index=True)
    )
    exp = []
    for ent in ["a", "b"]:
        s = pd.Series([v for e, _, v in rows if e == ent], dtype="float64")
        exp.extend(s.rolling(4, min_periods=1).median().tolist())
    g = got["m"].astype(float).to_numpy()
    e = np.array(exp)
    assert np.all((g == e) | (np.isnan(g) & np.isnan(e)))


def test_vocab_stats_and_contamination(spark):
    """Hand case: counts/doc-freq/rank exact; contamination flags only
    docs sharing a 3-gram with the probe."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha"),
            (2, "alpha beta delta"),
            (3, "zeta eta theta iota"),
        ],
        "doc_id long, text string",
    )
    v = text.vocab_stats(df).toPandas().set_index("token")
    assert v.loc["alpha", "n_total"] == 3 and v.loc["alpha", "doc_freq"] == 2
    assert v.loc["beta", "n_total"] == 2
    assert v.loc["alpha", "rank"] == 1  # 3 occurrences, top
    # probe shares 'alpha beta gamma' with doc 1 only
    probe = spark.createDataFrame(
        [(99, "alpha beta gamma epsilon")], "doc_id long, text string"
    )
    c = text.contamination_flags(df, probe, n=3).toPandas().set_index("doc_id")
    assert c.loc[1, "contaminated"] == 1 and c.loc[1, "n_hits"] == 1
    assert c.loc[2, "contaminated"] == 0 and c.loc[3, "contaminated"] == 0


def test_resample_grid_hand_case(spark):
    """Entity with buckets {0, 3}: densified grid 0..3, means exact,
    ffill carries bucket-0 value through 1 and 2."""
    from lbf_spark.operators.windows import resample_grid

    rows = [("a", 5, 10.0), ("a", 7, 20.0), ("a", 35, 40.0)]
    df = spark.createDataFrame(rows, "entity string, ts long, v double")
    out = (
        resample_grid(df, step=10, value="v", fill="ffill")
        .toPandas().sort_values("bucket", ignore_index=True)
    )
    assert out["bucket"].tolist() == [0, 1, 2, 3]
    assert out["bucket_ts"].tolist() == [0, 10, 20, 30]
    assert out["v"].tolist() == [15.0, 15.0, 15.0, 40.0]
    raw = (
        resample_grid(df, step=10, value="v")
        .toPandas().sort_values("bucket", ignore_index=True)
    )
    assert raw["v"].isna().tolist() == [False, True, True, False]


def test_stratified_sample_exact_quota_and_determinism(spark, docs):
    df = docs.withColumn("src", (F.col("doc_id") % 2).cast("string"))
    s1 = D.stratified_sample_exact(df, 2, by="src", id_col="doc_id").toPandas()
    s2 = D.stratified_sample_exact(df, 2, by="src", id_col="doc_id").toPandas()
    assert sorted(s1["doc_id"]) == sorted(s2["doc_id"])  # deterministic
    assert s1.groupby("src")["doc_id"].count().tolist() == [2, 2]  # exact quota
    s3 = D.stratified_sample_exact(df, 2, by="src", id_col="doc_id", seed=7).toPandas()
    # a different seed picks a different subset (md5 re-ranks)
    assert sorted(s1["doc_id"]) != sorted(s3["doc_id"])


def test_chunk_tokens_windows(spark):
    """12-token doc, chunk=5/stride=4 -> starts 0,4,8: chunks of 5,5,4
    tokens; empty doc emits no chunks; chunk hashes join across dups."""
    words = " ".join(f"w{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, words), (2, ""), (3, words)], "doc_id long, text string"
    )
    out = (
        text.chunk_tokens(df, chunk_size=5, stride=4)
        .toPandas()
        .sort_values(["doc_id", "chunk_id"], ignore_index=True)
    )
    assert out[out.doc_id == 1]["n_tokens"].tolist() == [5, 5, 4]
    assert out[out.doc_id == 1]["chunk_id"].tolist() == [0, 1, 2]
    assert (out.doc_id != 2).all()
    # identical docs produce identical chunk hashes (chunk-level dedup key)
    assert (
        out[out.doc_id == 1]["chunk_hash"].tolist()
        == out[out.doc_id == 3]["chunk_hash"].tolist()
    )


def test_tfidf_topk_ranks_distinctive_terms(spark):
    """A term appearing in one doc only outranks corpus-wide terms."""
    df = spark.createDataFrame(
        [
            (1, "common zebra zebra zebra"),
            (2, "common words here"),
            (3, "common words there"),
        ],
        "doc_id long, text string",
    )
    out = text.tfidf_topk(df, k=1).toPandas().set_index("doc_id")
    # tf=3 with df=1 (idf 1.69) beats tf=1 with df=3 (idf 1.0)
    assert out.loc[1, "token"] == "zebra"
    n, dfreq, tf = 3, 1, 3
    expected = round(tf * (math.log((n + 1) / (dfreq + 1)) + 1.0), 6)
    assert abs(out.loc[1, "tfidf"] - expected) < 1e-9


def test_pii_scrub_counts_and_replacement(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at bob.smith@corp-site.example.org or 555-1234 now"),
            (2, "no pii here, just 12-34 and a@b (not an email)"),
        ],
        "doc_id long, text string",
    )
    out = text.pii_scrub(df).toPandas().set_index("doc_id")
    assert out.loc[1, "n_emails"] == 1 and out.loc[1, "n_phones"] == 1
    assert out.loc[1, "clean_text"] == "mail me at <EMAIL> or <PHONE> now"
    assert out.loc[2, "n_emails"] == 0 and out.loc[2, "n_phones"] == 0
    assert out.loc[2, "clean_text"] == df.toPandas().set_index("doc_id").loc[2, "text"]


def test_weighted_sample_topk_deterministic_and_biased(spark):
    """Same seed -> same sample; heavier rows are sampled more often
    (probabilistic bias checked on expectation over 60-bit md5 keys:
    weight 1000 vs 1 makes heavy rows ~certain in a 50-of-100 draw)."""
    rows = [(i, 1000.0 if i < 10 else 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, w double")
    s1 = D.weighted_sample_topk(df, "w", k=50, id_col="id").toPandas()
    s2 = D.weighted_sample_topk(df, "w", k=50, id_col="id").toPandas()
    assert sorted(s1["id"]) == sorted(s2["id"])
    heavy = (s1["id"] < 10).sum()
    assert heavy == 10  # P(miss) ~ (1/1000-scale keys) -> all heavy rows in
    assert len(s1) == 50 and s1["es_key"].is_monotonic_increasing
    # zero/negative weights are excluded outright
    df0 = spark.createDataFrame([(1, 0.0), (2, 5.0)], "id long, w double")
    assert D.weighted_sample_topk(df0, "w", k=5, id_col="id").count() == 1


def test_funnel_conversion_point_in_time(spark):
    """goal before start must NOT count; first goal after start wins;
    non-converting and no-start entities handled."""
    from lbf_spark.operators.windows import funnel_conversion

    rows = [
        # u1: purchase(5) BEFORE signup(10) ignored; converts at 30
        (1, 5, "purchase"), (1, 10, "signup"), (1, 30, "purchase"),
        # u2: signup, never purchases
        (2, 10, "signup"), (2, 20, "view"),
        # u3: no signup at all -> excluded
        (3, 1, "purchase"),
        # u4: goal exactly at start ts counts (>=)
        (4, 7, "signup"), (4, 7, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    out = (
        funnel_conversion(df, "signup", "purchase", by="user_id", ts="ts")
        .toPandas().set_index("user_id")
    )
    assert out.loc[1, "goal_ts"] == 30 and out.loc[1, "us_to_convert"] == 20
    assert out.loc[2, "converted"] == 0 and out.loc[2, "us_to_convert"] == -1
    assert 3 not in out.index
    assert out.loc[4, "converted"] == 1 and out.loc[4, "us_to_convert"] == 0


def test_bm25_scores_formula(spark):
    """Single-token query against 3 docs: score matches the closed-form
    BM25 with the exact same rounding; absent-token docs get no row."""
    from lbf_spark.operators.text import bm25_scores

    df = spark.createDataFrame(
        [(1, "apple apple pear"), (2, "apple"), (3, "pear plum")],
        "doc_id long, text string",
    )
    out = bm25_scores(df, ["apple"], k1=1.2, b=0.75).toPandas().set_index("doc_id")
    n, df_t, avgdl = 3, 2, (3 + 1 + 2) / 3
    idf = math.log((n - df_t + 0.5) / (df_t + 0.5) + 1.0)

    def score(tf, dl):
        return round(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)

    assert abs(out.loc[1, "bm25"] - score(2, 3)) < 1e-9
    assert abs(out.loc[2, "bm25"] - score(1, 1)) < 1e-9
    assert 3 not in out.index
    # length normalization: the 1-token doc outranks the 3-token doc
    # despite lower tf (b=0.75 penalizes dl > avgdl)
    assert out.loc[2, "bm25"] > out.loc[1, "bm25"]


def test_compaction_plan_greedy_groups(spark):
    from lbf_spark.sources.table import compaction_plan

    files = spark.createDataFrame(
        [("a", 60), ("b", 60), ("c", 60), ("d", 10), ("e", 200)],
        "path string, bytes long",
    )
    out = (
        compaction_plan(files, target_bytes=100)
        .toPandas().set_index("path")["group_id"]
    )
    # prefix sums (exclusive): a=0 b=60 c=120 d=180 e=190
    assert out.tolist() == [0, 0, 1, 1, 1]  # path order a..e
    # group 1 overshoots by at most its last file (greedy first-fit)


def test_zorder_key_interleave_and_locality(spark):
    from lbf_spark.sources.table import zorder_key

    df = spark.createDataFrame(
        [(1, 0, 0), (2, 1, 0), (3, 0, 1), (4, 3, 5), (5, 70000, -4)],
        "id long, x long, y long",
    )
    out = zorder_key(df, ["x", "y"], bits=16).toPandas().set_index("id")["z_value"]
    # hand-interleave: bit i of x -> 2i, of y -> 2i+1
    assert out[1] == 0 and out[2] == 1 and out[3] == 2
    # x=3 (0b11), y=5 (0b101): z = 1+2*0+4+8*1+16*0+32*1 = 0b101111? compute:
    # bits x: i0=1,i1=1; y: i0=1,i1=0,i2=1 -> z = 1 + 2 + 4 + 0 + 32 = 39
    assert out[4] == 39
    # clamping: x>=2^16 -> 65535; y<0 -> 0
    exp_clamped = sum(((65535 >> i) & 1) << (2 * i) for i in range(16))
    assert out[5] == exp_clamped


def test_nearest_centroid_join_matches_numpy(spark):
    from lbf_spark.operators.similarity import nearest_centroid_join

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((40, 8))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = df.filter("vec_id < 4").selectExpr("vec_id as cid", "embedding")
    got = (
        nearest_centroid_join(df, cents)
        .toPandas().set_index("vec_id").sort_index()
    )
    d2 = ((vecs[:, None, :] - vecs[None, :4, :]) ** 2).sum(axis=2).round(6)
    exp = d2.argmin(axis=1)
    assert (got["cluster_id"].to_numpy() == exp).all()
    assert np.allclose(got["dist2"].to_numpy(), d2.min(axis=1), atol=1e-9)


def test_ewma_matches_numpy_fold(spark):
    """Bounded EWMA equals the explicit weighted fold, including the
    renormalized head (fewer than `window` predecessors)."""
    from lbf_spark.operators.windows import ewma

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0]
    df = spark.createDataFrame(
        [("e", i, v) for i, v in enumerate(vals)], "entity string, ts long, v double"
    )
    got = (
        ewma(df, "v", alpha=0.5, window=3, by="entity", order="ts")
        .toPandas().sort_values("ts")["ewma"].tolist()
    )
    for t, g in enumerate(got):
        ks = range(min(t + 1, 3))
        num = sum(0.5**k * vals[t - k] for k in ks)
        den = sum(0.5**k for k in ks)
        assert abs(g - round(num / den, 6)) < 1e-9, t


def test_chi2_contingency_matches_closed_form(spark):
    from lbf_spark.operators.stats import chi2_contingency_stat

    # 2x2 with known chi2: [[10, 20], [20, 10]] -> chi2 = 60*(10*10-20*20)^2/(30*30*30*30)
    rows = (
        [("a", 0)] * 10 + [("a", 1)] * 20 + [("b", 0)] * 20 + [("b", 1)] * 10
    )
    df = spark.createDataFrame(rows, "r string, c int")
    got = chi2_contingency_stat(df, "r", "c").collect()[0]
    n, exp = 60, None
    chi2 = 0.0
    obs = {("a", 0): 10, ("a", 1): 20, ("b", 0): 20, ("b", 1): 10}
    for (r, c), o in obs.items():
        nr = sum(v for (rr, _), v in obs.items() if rr == r)
        nc = sum(v for (_, cc), v in obs.items() if cc == c)
        e = nr * nc / n
        chi2 += round((o - e) ** 2 / e, 6)
    assert abs(got["chi2"] - chi2) < 1e-9
    assert got["dof"] == 1


def test_inverted_index_df_cap(spark):
    """Above-cap (stopword-grade) tokens keep their exact df but skip
    posting collection (null head) — the OOM guard; under-cap tokens
    get the sorted head."""
    from lbf_spark.operators.text import inverted_index

    rows = [(i, "hot rare" + (" only" if i == 3 else "")) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        inverted_index(df, head=3, max_posting_df=5)
        .toPandas().set_index("token")
    )
    assert out.loc["hot", "df"] == 6 and out.loc["hot", "postings_head"] is None
    assert out.loc["rare", "df"] == 6 and out.loc["rare", "postings_head"] is None
    assert out.loc["only", "df"] == 1 and out.loc["only", "postings_head"] == "3"
    # uncapped: heads for everything, sorted ascending, truncated to 3
    out2 = inverted_index(df, head=3).toPandas().set_index("token")
    assert out2.loc["hot", "postings_head"] == "0,1,2"


def test_key_skew_profile_hand_case(spark):
    from lbf_spark.operators.profile import key_skew_profile

    rows = [("hot",)] * 6 + [("a",)] * 2 + [("b",)] * 2 + [("c",)] * 2
    df = spark.createDataFrame(rows, "k string")
    got = key_skew_profile(df, "k").collect()[0]
    assert got["n_keys"] == 4 and got["total_rows"] == 12
    assert got["hottest_key"] == "hot" and got["max_rows"] == 6
    assert got["skew_ratio"] == 2.0  # 6 / (12/4)
    assert got["p50_rows_per_key"] == 2.0


def test_table_profile_nulls_and_bounds(spark):
    from lbf_spark.operators.profile import table_profile

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "y"), (4, "x")], "a long, b string"
    )
    got = table_profile(df, ["a", "b"]).toPandas().set_index("column")
    assert got.loc["a", "null_frac"] == 0.0 and got.loc["a", "n_distinct"] == 4
    assert got.loc["a", "min_value"] == "1" and got.loc["a", "max_value"] == "4"
    assert got.loc["b", "null_frac"] == 0.25 and got.loc["b", "n_distinct"] == 2


def test_new_ops_empty_and_degenerate_inputs(spark):
    """Empty frames and degenerate groups must flow through, not crash:
    the 100-TB failure mode is a partition/filter producing zero rows."""
    from lbf_spark.operators.profile import key_skew_profile, table_profile
    from lbf_spark.operators.windows import ewma, funnel_conversion, session_paths

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert text.chunk_tokens(empty_docs).count() == 0
    assert text.tfidf_topk(empty_docs).count() == 0
    assert text.bm25_scores(empty_docs, ["x"]).count() == 0
    assert text.inverted_index(empty_docs).count() == 0

    empty_ev = spark.createDataFrame(
        [], "user_id long, ts long, event_type string, v double"
    )
    assert funnel_conversion(
        empty_ev, "signup", "purchase", by="user_id", ts="ts"
    ).count() == 0
    assert session_paths(empty_ev, 10, by="user_id", ts="ts").count() == 0
    assert ewma(empty_ev, "v", 0.5, 3, by="user_id", order="ts").count() == 0
    # single-row entity: ewma == the value itself
    one = spark.createDataFrame([(1, 5, 2.5)], "user_id long, ts long, v double")
    assert ewma(one, "v", 0.5, 3, by="user_id", order="ts").collect()[0]["ewma"] == 2.5
    # profile of a constant column: zero-range, one distinct
    const = spark.createDataFrame([(7,)] * 5, "k long")
    got = key_skew_profile(const, "k").collect()[0]
    assert got["n_keys"] == 1 and got["skew_ratio"] == 1.0
    prof = table_profile(const, ["k"]).collect()[0]
    assert prof["n_distinct"] == 1 and prof["min_value"] == prof["max_value"]


def test_quantize_int8_roundtrip_error(spark):
    """Quantized values stay in [-127, 127]; dequantized error is
    bounded by 0.5/scale; zero vectors survive with scale 1."""
    from lbf_spark.operators.similarity import quantize_int8

    rng = np.random.default_rng(13)
    vecs = [list(map(float, rng.standard_normal(8))) for _ in range(10)]
    vecs.append([0.0] * 8)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    out = quantize_int8(df).toPandas().set_index("vec_id")
    for i, v in enumerate(vecs):
        q, s = out.loc[i, "qvec"], out.loc[i, "scale"]
        assert max(abs(x) for x in q) <= 127
        for x, qx in zip(v, q):
            assert abs(x - qx / s) <= 0.5 / s + 1e-12
    assert out.loc[10, "scale"] == 1.0 and all(x == 0 for x in out.loc[10, "qvec"])


def test_random_projection_preserves_rough_geometry(spark):
    """JL projection: deterministic across runs; projected norms stay
    within a loose multiplicative band of the original (k=8 of 32)."""
    from lbf_spark.operators.similarity import random_projection

    rng = np.random.default_rng(17)
    vecs = rng.standard_normal((30, 32))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    out1, R1 = random_projection(df, out_dim=8)
    out2, R2 = random_projection(df, out_dim=8)
    p1 = out1.toPandas().set_index("vec_id").sort_index()
    assert R1 == R2 and p1.equals(out2.toPandas().set_index("vec_id").sort_index())
    Y = p1[[f"y{j}" for j in range(8)]].to_numpy()
    ratios = np.linalg.norm(Y, axis=1) / np.linalg.norm(vecs, axis=1)
    assert 0.3 < ratios.min() and ratios.max() < 2.5  # loose JL band
    # matches numpy R @ v exactly (mod rounding)
    exp = vecs @ np.array(R1).T
    assert np.allclose(Y, np.round(exp, 6), atol=1e-9)


def test_blocked_pairs_finds_within_cell_dups_only(spark):
    from lbf_spark.operators.similarity import blocked_pairs

    rng = np.random.default_rng(19)
    a = rng.standard_normal(16); b = rng.standard_normal(16)
    vecs = [a, a * 1.001, b, -a]  # 0~1 near-dup; 3 anti-parallel to 0
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = df.filter("vec_id in (0, 2)").selectExpr("vec_id as cid", "embedding")
    got = blocked_pairs(df, cents, threshold=0.99).toPandas()
    assert set(zip(got["id_a"], got["id_b"])) == {(0, 1)}


def test_char_bigram_stats_hand_case(spark):
    from lbf_spark.operators.text import char_bigram_stats

    df = spark.createDataFrame(
        [(1, "abab"), (2, "x"), (3, "")], "doc_id long, text string"
    )
    out = char_bigram_stats(df, top_k=10).toPandas().set_index("bigram")
    # "abab" -> ab, ba, ab ; single-char and empty docs contribute nothing
    assert out.loc["ab", "n"] == 2 and out.loc["ba", "n"] == 1
    assert out.loc["ab", "rank"] == 1 and len(out) == 2


def test_twap_step_integral_hand_case(spark):
    """value 10 for 3s then 20 for 1s -> TWAP (10*3+20*1)/4 = 12.5;
    the final observation carries no weight (no successor)."""
    from lbf_spark.queries import QUERIES
    import pandas as pd

    rows = [(1, 0, 10.0, 1), (1, 3_000_000, 20.0, 2), (1, 4_000_000, 99.0, 3)]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts_us", "value", "event_id"])
    # drive the same expression shape as q99 directly
    from pyspark.sql import Window, functions as F

    df = spark.createDataFrame(pdf)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seg = df.withColumn("dur", F.lead("ts_us").over(w) - F.col("ts_us")).filter(
        F.col("dur").isNotNull() & (F.col("dur") > 0)
    )
    got = seg.groupBy("user_id").agg(
        F.round(
            F.sum(F.col("value").cast("decimal(28,10)") * F.col("dur").cast("decimal(28,10)")).cast("double")
            / F.sum(F.col("dur").cast("decimal(28,10)")).cast("double"),
            6,
        ).alias("twap")
    ).collect()[0]
    assert got["twap"] == 12.5


def test_review_fixes_behaviors(spark):
    """Round-3 review fixes: mixed-case emails redact; stride >
    chunk_size is rejected; a dimension-mismatched centroid loses the
    argmin instead of winning with null distance."""
    from lbf_spark.operators.similarity import nearest_centroid_join

    df = spark.createDataFrame(
        [(1, "write Bob.Smith@Corp.COM today")], "doc_id long, text string"
    )
    out = text.pii_scrub(df).collect()[0]
    assert out["n_emails"] == 1 and "<EMAIL>" in out["clean_text"]

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="stride > chunk_size"):
        text.chunk_tokens(docs, chunk_size=4, stride=5)

    vecs = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [9.0, 9.0])], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0, 0.0])],  # cid 1 is malformed (3-dim)
        "cid long, embedding array<double>",
    )
    got = nearest_centroid_join(vecs, cents).toPandas().set_index("vec_id")
    assert (got["cluster_id"] == 0).all()  # null-dist centroid must not win


def test_ewma_all_null_window_emits_null(spark):
    """A window whose every lag is NULL (leading NULL run) must emit
    NULL, not NaN — consistent with the other window kernels."""
    import math

    from lbf_spark.operators.windows import ewma

    pdf = pd.DataFrame(
        {
            "entity": ["e"] * 5,
            "ts": list(range(5)),
            "v": [None, None, 1.0, None, 2.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        ewma(df, "v", alpha=0.5, window=2, by="entity", order="ts")
        .orderBy("ts")
        .collect()
    )
    vals = [r["ewma"] for r in out]
    assert vals[0] is None and vals[1] is None  # all-null windows
    assert vals[2] == 1.0
    assert vals[3] == 1.0  # renormalized over the one present lag
    assert vals[4] == 2.0
    assert not any(isinstance(v, float) and math.isnan(v) for v in vals)


def test_jaccard_release_caches_leaves_nothing_persisted(spark, docs):
    """Scoped cache ownership: after a dedup pass completes,
    release_caches() must leave zero persisted RDDs behind (and a
    released pass must still produce correct results on rerun)."""
    spark.catalog.clearCache()
    # other tests' localCheckpoint blocks are unreleasable by design —
    # assert return-to-baseline, not return-to-zero
    base = len(spark.sparkContext._jsc.getPersistentRDDs())
    got = dedup.jaccard_pairs_auto(
        dedup.with_shingles(docs, "doc_id", "text", 3), threshold=0.3, max_df=100
    )
    got.count()  # consume
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) > base
    released = dedup.release_caches()
    assert released >= 1
    # ≤, not ==: the ContextCleaner may concurrently GC earlier tests'
    # (by-design unreleasable) localCheckpoint blocks, dropping the
    # count BELOW the baseline — the invariant under test is only that
    # the dedup pass itself left nothing behind
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) <= base
    # rerun after release still correct
    again = dedup.jaccard_pairs_auto(
        dedup.with_shingles(docs, "doc_id", "text", 3), threshold=0.3
    ).toPandas()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in again.itertuples()}
    assert pairs[(1, 3)] == 1.0
    dedup.release_caches()


def test_dup_clusters_deep_chain_plan_stays_bounded(spark):
    """Regression for the exponential-plan bug: round k's plan
    referenced round k-1 twice, so 40 propagation rounds built a
    ~2^40-node logical plan and OOMed the driver stringifying it
    (hit at the 10x bench corpus). With per-round lineage truncation a
    40-round chain must converge quickly and label correctly."""
    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = dedup.dup_clusters(pairs, max_iters=n + 2).toPandas()
    assert len(got) == n + 1
    assert (got["cluster_id"] == 0).all()


def test_jaccard_prefix_equals_full_index(spark, docs):
    """PPJoin prefix filtering is EXACT: at t=0.8 the prefix-filtered
    pairs equal the full-inverted-index pairs bit-for-bit, including
    planted near-dup clones, while indexing strictly fewer postings."""
    import pandas as pd

    base = docs.toPandas()
    clones = base.iloc[:4].copy()
    clones["doc_id"] = clones["doc_id"] + 900_000
    clones["text"] = clones["text"] + " tinytail"
    all_docs = spark.createDataFrame(
        pd.concat([base, clones], ignore_index=True)
    )
    sh = dedup.with_shingles(all_docs, "doc_id", "text", 3)
    run = lambda frame: sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in frame.collect()
    )
    full = run(dedup._jaccard_pairs(sh, 0.8, "doc_id"))
    pref = run(dedup._jaccard_pairs_prefix(sh, 0.8))
    dedup.release_caches()
    assert pref == full
    assert len(pref) >= 4  # every clone found
    # the prefix index is a strict subset of the full posting list
    from pyspark.sql import functions as F

    inv_n = sh.select(F.explode("shingles")).count()
    ordered = (
        sh.select("doc_id", F.size("shingles").alias("n"))
        .withColumn("plen", (F.col("n") - F.ceil(0.8 * F.col("n")) + 1))
        .agg(F.sum("plen"))
        .first()[0]
    )
    assert ordered < inv_n * 0.45  # ≥ 55% fewer postings indexed at t=0.8


def test_jaccard_auto_dispatch(spark, docs, monkeypatch):
    """jaccard_pairs_auto routes by threshold — prefix path at t ≥ 0.5,
    full-index path below — and both routes return identical pairs."""
    routed = []
    real_prefix = dedup._jaccard_pairs_prefix
    real_full = dedup._jaccard_pairs

    def spy_prefix(*a, **k):
        routed.append("prefix")
        return real_prefix(*a, **k)

    def spy_full(*a, **k):
        routed.append("full")
        return real_full(*a, **k)

    monkeypatch.setattr(dedup, "_jaccard_pairs_prefix", spy_prefix)
    monkeypatch.setattr(dedup, "_jaccard_pairs", spy_full)
    sh = dedup.with_shingles(docs, "doc_id", "text", 3)
    hi = dedup.jaccard_pairs_auto(sh, threshold=0.5).toPandas()
    assert routed[0] == "prefix"
    routed.clear()
    lo = dedup.jaccard_pairs_auto(sh, threshold=0.1, max_df=100).toPandas()
    assert routed[0] == "full"
    monkeypatch.undo()

    # same threshold through both physical plans → identical pairs
    direct_hi = real_full(sh, 0.5, "doc_id").toPandas()
    key = lambda d: sorted(  # noqa: E731
        (int(r.id_a), int(r.id_b), round(float(r.jaccard), 9))
        for r in d.itertuples()
    )
    assert key(hi) == key(direct_hi)
    assert set(key(hi)) <= set(key(lo))  # hi-threshold pairs ⊂ lo's


def test_curation_jaccard_near_dedup(spark, docs):
    """curate_corpus(near_dup_method='jaccard') drops exact-Jaccard
    near-dups through the unified dispatcher; an unknown method
    raises."""
    from lbf_spark.plans.corpus import curate_corpus

    out = curate_corpus(
        docs, min_words=1, near_dup=True, near_dup_threshold=0.7,
        near_dup_method="jaccard",
    )
    kept = out["kept"].toPandas()
    # docs 1/2/3: 1≡3 exact (exact-dedup drops 3), J(1,2)=0.75 ≥ 0.7 →
    # near-dedup keeps min-id cluster keeper 1, drops 2
    ids = set(kept.doc_id)
    assert 1 in ids and 2 not in ids and 3 not in ids
    with pytest.raises(ValueError, match="near_dup_method"):
        curate_corpus(docs, near_dup=True, near_dup_method="bogus")


def test_shuffle_shards_deterministic_and_total(spark):
    """shuffle_shards: hashlib twin reproduces shard + position, shards
    are non-trivially balanced, positions are contiguous 1..n."""
    import hashlib

    n = 400
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    got = D.shuffle_shards(df, n_shards=8, id_col="doc_id").toPandas()
    assert len(got) == n

    def twin(i: int):
        k = hashlib.md5(f"42:{i}".encode()).hexdigest()
        return int(k[:13], 16) % 8, k

    exp_shard = {i: twin(i)[0] for i in range(n)}
    for r in got.itertuples():
        assert r.shard == exp_shard[r.doc_id]
    for s, grp in got.groupby("shard"):
        # contiguous 1..n positions, ordered by (md5, id)
        assert sorted(grp.shard_pos) == list(range(1, len(grp) + 1))
        order = grp.sort_values("shard_pos")
        keys = [twin(i)[1] for i in order.doc_id]
        assert keys == sorted(keys)
        assert len(grp) > n // 8 // 4  # no pathological emptiness
    got2 = D.shuffle_shards(df, n_shards=8, id_col="doc_id").toPandas()
    pd.testing.assert_frame_equal(
        got.sort_values("doc_id", ignore_index=True),
        got2.sort_values("doc_id", ignore_index=True),
    )
    # a different seed is a different permutation
    got3 = D.shuffle_shards(df, n_shards=8, id_col="doc_id", seed=7).toPandas()
    assert not got.sort_values("doc_id", ignore_index=True).equals(
        got3.sort_values("doc_id", ignore_index=True)
    )


def test_token_budget_sample_greedy_prefix(spark):
    """token_budget_sample == the plain-python greedy prefix fill per
    group; absent groups drop; oversized budgets keep whole groups."""
    import hashlib

    rows = [(i, "a" if i < 12 else "b", 5 + (i * 7) % 20)
            for i in range(24)]
    df = spark.createDataFrame(rows, "doc_id long, src string, n_tok long")
    budgets = {"a": 60, "b": 10_000}
    got = D.token_budget_sample(
        df, budgets, by="src", id_col="doc_id", token_col="n_tok"
    ).toPandas()

    def key(src, i):
        return hashlib.md5(f"42:{src}:{i}".encode()).hexdigest()

    for src, budget in budgets.items():
        grp = sorted(
            [r for r in rows if r[1] == src],
            key=lambda r: (key(src, r[0]), r[0]),
        )
        exp, cum = [], 0
        for i, _s, tok in grp:
            cum += tok
            if cum > budget:
                break
            exp.append(i)
        assert sorted(got[got.src == src].doc_id) == sorted(exp)
    assert set(got[got.src == "b"].doc_id) == {r[0] for r in rows if r[1] == "b"}

    # a group absent from the budget map is dropped entirely
    got2 = D.token_budget_sample(
        df, {"a": 60}, by="src", id_col="doc_id", token_col="n_tok"
    ).toPandas()
    assert set(got2.src) == {"a"}


def test_autocorr_matches_numpy(spark):
    from lbf_spark.operators import windows as W

    rng = np.random.default_rng(7)
    rows = []
    series = {}
    for ent, drift in (("a", 0.0), ("b", 0.8)):
        x = np.round(rng.normal(10, 2, 200) + drift * np.arange(200) / 50, 4)
        series[ent] = x
        rows += [(ent, i, int(i) * 1000, float(v)) for i, v in enumerate(x)]
    # degenerate entities: constant (zero variance) and single-row
    rows += [("const", i, i * 1000, 5.0) for i in range(20)]
    rows += [("single", 0, 0, 1.0)]
    df = spark.createDataFrame(
        rows, "entity string, event_id long, ts long, value double"
    )
    got = (
        W.autocorr(df, "value", lag=1, by="entity", order="ts",
                   tiebreak="event_id")
        .toPandas()
        .set_index("entity")
    )
    assert "const" not in got.index and "single" not in got.index
    for ent, x in series.items():
        exp = np.corrcoef(x[1:], x[:-1])[0, 1]
        assert got.loc[ent, "n_pairs"] == 199
        assert abs(got.loc[ent, "autocorr"] - exp) < 1e-9
    # the drifting series must be visibly more autocorrelated
    assert got.loc["b", "autocorr"] > got.loc["a", "autocorr"]


def test_cusum_drift_flags_mean_shift(spark):
    from lbf_spark.operators import windows as W

    # flat at 10 for 100 rows, then stepped to 14: the excursion must
    # flag after the shift and stay quiet in a stationary twin
    x = np.concatenate([np.full(100, 10.0), np.full(100, 14.0)])
    rows = [("shift", i, i * 1000, float(v)) for i, v in enumerate(x)]
    rows += [("flat", i, i * 1000, 10.0 + (i % 2) * 0.01) for i in range(200)]
    df = spark.createDataFrame(
        rows, "entity string, event_id long, ts long, value double"
    )
    got = W.cusum_drift(
        df, "value", by="entity", order="ts", tiebreak="event_id",
        h_sigmas=1.5,
    ).toPandas()
    sh = got[got.entity == "shift"].sort_values("seq")
    # ground truth in numpy
    mu, sig = x.mean(), x.std()
    c = np.cumsum(x - mu)
    t = np.arange(1, 201)
    exp_flag = np.abs(c) > 1.5 * sig * np.sqrt(t)
    assert np.allclose(sh["cum_dev"].to_numpy(), c, atol=1e-6)
    assert (sh["drift_flag"].to_numpy() == exp_flag).all()
    assert exp_flag.any()  # the shift IS flagged
    fl = got[got.entity == "flat"]
    assert not fl["drift_flag"].any()


def test_negative_sample_pairs_deterministic_and_complete(spark):
    df = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    a = D.negative_sample_pairs(df, "doc_id", k=3, pool_m=8, seed=1).toPandas()
    b = D.negative_sample_pairs(df, "doc_id", k=3, pool_m=8, seed=1).toPandas()
    assert len(a) == 40 * 3
    pd.testing.assert_frame_equal(
        a.sort_values(["anchor_id", "neg_rank"], ignore_index=True),
        b.sort_values(["anchor_id", "neg_rank"], ignore_index=True),
    )
    g = a.groupby("anchor_id")
    assert (g.size() == 3).all()                       # pool members too
    assert (a.anchor_id != a.neg_id).all()             # never self
    assert a.neg_id.nunique() <= 8                     # from the fixed pool
    assert all(sorted(v) == [1, 2, 3] for v in g.neg_rank.apply(list))
    # a different seed picks a different permutation for at least one anchor
    c = D.negative_sample_pairs(df, "doc_id", k=3, pool_m=8, seed=2).toPandas()
    merged = a.merge(c, on=["anchor_id", "neg_rank"], suffixes=("_a", "_c"))
    assert (merged.neg_id_a != merged.neg_id_c).any()


def test_dup_clusters_frees_checkpoint_blocks(spark):
    """Iterative rounds must not accumulate localCheckpoint storage:
    superseded label rounds and the edge checkpoint are freed as the
    algorithm proceeds, and release_caches() frees the returned labels
    frame — after a consumed pass + release, RDD storage returns to
    baseline (measured r7: the retained blocks grew a repeated q55@10x
    pair stage 246 -> 566 s CPU). Labels must be correct and the freed
    result must not be re-consumable-by-accident (callers respect the
    actions-before-release contract)."""
    from pyspark.sql import functions as F

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    base = len(jsc.getRDDStorageInfo())
    # chain of diameter 9 (many rounds) + triangle + isolated pair
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 19)]
        + [(1, 2), (2, 3), (1, 3), (100, 101)],
        "id_a long, id_b long",
    )
    labels = dedup.dup_clusters(pairs)
    got = sorted((r.doc_id, r.cluster_id) for r in labels.collect())
    want = sorted(
        [(i, 10) for i in range(10, 20)]
        + [(1, 1), (2, 1), (3, 1), (100, 100), (101, 100)]
    )
    assert got == want
    # while the result is live: at most ONE checkpoint frame beyond
    # baseline (the returned labels); every superseded round + the
    # edge list are already freed
    live = len(jsc.getRDDStorageInfo())
    assert live <= base + 1, (base, live)
    assert dedup.release_caches() >= 1
    assert len(jsc.getRDDStorageInfo()) <= base
    # a fresh pass after release is correct (nothing stale is reused)
    again = dedup.dup_clusters(pairs.filter(F.col("id_a") >= 100))
    assert sorted((r.doc_id, r.cluster_id) for r in again.collect()) == [
        (100, 100), (101, 100)
    ]
    dedup.release_caches()


def test_release_caches_scope_is_per_thread(spark, tmp_path):
    """A streaming micro-batch's release_caches() (foreachBatch runs on
    its own thread) must not free the dup_clusters labels a batch pass
    on another thread built but has not consumed yet — their local
    checkpoint blocks are unrecoverable once freed."""
    import threading

    from lbf_spark.streaming.stream_features import dedup_ingest_batch

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    built, released = threading.Event(), threading.Event()
    out = {}

    def batch_pass():
        try:
            labels = dedup.dup_clusters(pairs)
            built.set()
            if released.wait(300):
                out["labels"] = sorted(
                    (r.doc_id, r.cluster_id) for r in labels.collect()
                )
                out["freed"] = dedup.release_caches()
        except Exception as e:  # surfaced by the asserts below
            out["error"] = e
        finally:
            built.set()

    worker = threading.Thread(target=batch_pass)
    worker.start()
    assert built.wait(300)
    base = "the quick brown fox jumps over the lazy dog again tonight ok"
    batch = spark.createDataFrame(
        [(1, base + " one"), (2, base + " two"),
         (10, "completely different text about streaming ingest")],
        "doc_id long, text string",
    )
    stats = dedup_ingest_batch(batch, 0, str(tmp_path / "store"), threshold=0.5)
    released.set()
    worker.join(300)
    assert not worker.is_alive()
    assert stats["n_in"] == 3 and stats["n_kept"] == 2
    assert "error" not in out, out.get("error")
    assert out["labels"] == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]
    assert out["freed"] == 1  # the labels were still in the worker's scope


def test_train_bpe_frees_superseded_rounds(spark, tmp_path):
    """BPE training keeps at most the LIVE symbol frame in block
    storage — one frame per merge round would otherwise pile up for
    the session; merges must equal the single-process reference.
    free_local_checkpoint reports True only when it freed persisted
    blocks: a second free of the same frame, and a reliable
    checkpoint (DFS files, no blocks), report False."""
    from lbf_spark.operators import text as T

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    base = len(jsc.getRDDStorageInfo())
    wf = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    words = spark.createDataFrame(wf, "word string, freq long")
    merges, syms = T.train_bpe(words, 8)
    assert merges == T.train_bpe_reference(wf, 8)
    assert len(merges) == 8
    # only the final (returned) syms frame may remain
    assert len(jsc.getRDDStorageInfo()) <= base + 1
    from lbf_spark.util import free_local_checkpoint

    assert free_local_checkpoint(syms)
    assert len(jsc.getRDDStorageInfo()) <= base
    assert not free_local_checkpoint(syms)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    assert not free_local_checkpoint(words.checkpoint(eager=True))
