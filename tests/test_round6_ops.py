"""Round-6 second-batch operators: time-decay EWMA, OLS trend,
quantile normalization, duplicate spans, split decontamination,
retrieval recall, subsample CI."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


def test_time_decay_ewma_matches_numpy(spark):
    from lbf_spark.operators.windows import time_decay_ewma

    rng = np.random.default_rng(11)
    ts = np.cumsum(rng.integers(1, 5000, 60))  # irregular gaps
    x = np.round(rng.normal(5, 2, 60), 4)
    rows = [("e", int(i), int(t), float(v)) for i, (t, v) in enumerate(zip(ts, x))]
    df = spark.createDataFrame(
        rows, "entity string, event_id long, ts long, value double"
    )
    hl, k = 4000.0, 5
    got = (
        time_decay_ewma(df, "value", "ts", half_life=hl, window=k,
                        by="entity", tiebreak="event_id")
        .toPandas()
        .sort_values("event_id")
    )
    for i in range(len(x)):
        num = den = 0.0
        for j in range(max(0, i - k + 1), i + 1):
            w = math.exp(-math.log(2) * (ts[i] - ts[j]) / hl)
            num += x[j] * w
            den += w
        assert abs(got.decay_avg.iloc[i] - round(num / den, 6)) < 2e-6
    # half-life semantics: a lone lag exactly one half-life back weighs 1/2
    df2 = spark.createDataFrame(
        [("e", 0, 0, 0.0), ("e", 1, 4000, 3.0)],
        "entity string, event_id long, ts long, value double",
    )
    got2 = time_decay_ewma(
        df2, "value", "ts", half_life=4000.0, window=2,
        by="entity", tiebreak="event_id",
    ).toPandas().set_index("event_id")
    assert abs(got2.loc[1, "decay_avg"] - (3.0 * 1 + 0.0 * 0.5) / 1.5) < 1e-6


def test_trend_matches_numpy_ols(spark):
    from lbf_spark.operators.windows import trend

    rng = np.random.default_rng(3)
    rows = []
    truth = {}
    for ent, slope in (("up", 2.5), ("dn", -1.0)):
        t_s = np.sort(rng.integers(0, 10_000, 120))
        x = np.round(slope * t_s / 1000.0 + rng.normal(0, 0.5, 120) + 7, 4)
        truth[ent] = (t_s, x)
        rows += [
            (ent, i, int(tv) * 1_000_000, float(v))
            for i, (tv, v) in enumerate(zip(t_s, x))
        ]
    rows += [("const_t", i, 5_000_000, float(i)) for i in range(10)]  # zero time var
    rows += [("single", 0, 0, 1.0)]
    df = spark.createDataFrame(
        rows, "entity string, event_id long, ts long, value double"
    )
    got = trend(df, "value", "ts", by="entity").toPandas().set_index("entity")
    assert "const_t" not in got.index and "single" not in got.index
    for ent, (t_s, x) in truth.items():
        t0 = t_s - t_s.min()
        sl, ic = np.polyfit(t0.astype(float), x, 1)
        r = np.corrcoef(t0.astype(float), x)[0, 1]
        assert got.loc[ent, "n_obs"] == 120
        assert abs(got.loc[ent, "trend_slope"] - sl) < 1e-9
        assert abs(got.loc[ent, "trend_intercept"] - ic) < 1e-8
        assert abs(got.loc[ent, "trend_r2"] - r * r) < 1e-9


def test_quantile_normalize_forces_common_distribution(spark):
    from lbf_spark.operators.normalize import quantile_normalize

    rng = np.random.default_rng(5)
    rows = []
    for ent, (mu, sig) in (("a", (0, 1)), ("b", (50, 10)), ("c", (-3, 0.2))):
        for i, v in enumerate(np.round(rng.normal(mu, sig, 40), 4)):
            rows.append((ent, f"{ent}{i}", float(v)))
    df = spark.createDataFrame(rows, "entity string, event_id string, value double")
    got = quantile_normalize(df, "value", by="entity", tiebreak="event_id").toPandas()
    # every entity ends with the IDENTICAL sorted vector of qnorm values
    piv = {e: np.sort(g.qnorm.to_numpy()) for e, g in got.groupby("entity")}
    assert np.allclose(piv["a"], piv["b"]) and np.allclose(piv["a"], piv["c"])
    # qnorm at rank k is the cross-entity mean of the k-th smallest values
    k3 = got[got["rank"] == 3]
    exp = np.mean(
        [np.sort(g.value.to_numpy())[2] for _, g in got.groupby("entity")]
    )
    assert abs(k3.qnorm.iloc[0] - exp) < 1e-9
    # ranks are preserved within each entity
    ga = got[got.entity == "a"].sort_values("rank")
    assert (np.diff(ga.value.to_numpy()) >= 0).all()


def test_duplicate_spans_finds_planted_boilerplate(spark):
    from lbf_spark.operators.dedup import duplicate_spans

    boiler = "this content is licensed under the creative commons license"
    docs = [
        (1, f"alpha beta gamma {boiler} delta"),
        (2, f"{boiler} unrelated tail words here"),
        (3, "totally different text with no overlap at all whatsoever"),
        (4, f"prefix words then {boiler}"),
        (5, "short"),  # < width tokens → no spans, must not crash
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = duplicate_spans(df, width=8, min_docs=2).toPandas()
    # the 9-token boilerplate has 2 sliding 8-grams, each in docs {1,2,4}
    assert len(got) == 2
    assert (got.n_docs == 3).all()
    assert (got.n_occ == 3).all()
    assert (got.first_doc == 1).all()
    # doc 3 and doc 5 never appear
    got_w2 = duplicate_spans(df, width=100, min_docs=2).toPandas()
    assert got_w2.empty  # width longer than every doc → no spans


def test_split_decontaminate_drops_only_contaminated_train(spark):
    from lbf_spark.operators.dedup import split_decontaminate

    ids = spark.createDataFrame(
        [(1, "train"), (2, "train"), (3, "test"), (4, "test"), (5, "train")],
        "id long, split string",
    )
    pairs = spark.createDataFrame(
        [(1, 3), (2, 5), (4, 4)], "id_a long, id_b long"
    )  # 1↔3 crosses; 2↔5 train-train; 4↔4 test-test
    got = (
        split_decontaminate(ids, pairs, id_col="id")
        .toPandas()
        .set_index("id")
        .sort_index()
    )
    assert not got.loc[1, "kept"]          # train near-dup of test → dropped
    assert got.loc[2, "kept"] and got.loc[5, "kept"]  # train-train pair kept
    assert got.loc[3, "kept"] and got.loc[4, "kept"]  # eval never dropped
    assert len(got) == 5                    # no row loss, no duplication


def test_retrieval_recall_separable_space(spark):
    from lbf_spark.operators.similarity import retrieval_recall

    # 20 well-separated vectors (near-orthogonal axes): the squared
    # probe of axis-aligned e_i is e_i itself → recall@1 must be 1.
    dim = 24
    rows = []
    for i in range(20):
        v = [0.0] * dim
        v[i] = 1.0
        v[(i + 7) % dim] += 0.01  # break exact ties deterministically
        rows.append((i, v, i % 2))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    probes = emb.withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x * x)
    )
    got = retrieval_recall(emb, probes, k=1, group_col="label").toPandas()
    assert sorted(got.label) == [0, 1]
    assert (got.recall_at_k == 1.0).all()
    assert got.n_probes.sum() == 20 and got.n_hits.sum() == 20
    # global grouping path
    g2 = retrieval_recall(emb, probes, k=1).toPandas()
    assert len(g2) == 1 and g2.recall_at_k.iloc[0] == 1.0


def test_subsample_ci_brackets_true_mean(spark):
    from lbf_spark.operators.stats import subsample_ci

    rng = np.random.default_rng(9)
    rows = [
        ("g", int(i), float(v))
        for i, v in enumerate(np.round(rng.normal(100, 5, 4000), 4))
    ]
    df = spark.createDataFrame(rows, "grp string, event_id long, value double")
    got = subsample_ci(
        df, "value", by="grp", id_col="event_id", n_replicas=32, alpha=0.1
    ).toPandas()
    assert len(got) == 1
    lo, hi, m = got.ci_lo.iloc[0], got.ci_hi.iloc[0], got.n_replicas.iloc[0]
    mu = np.mean([r[2] for r in rows])
    assert m == 32
    assert lo < mu < hi                 # CI brackets the truth
    assert hi - lo < 1.0                # and is tight for n=4000, σ=5
    # determinism: identical on re-run
    again = subsample_ci(
        df, "value", by="grp", id_col="event_id", n_replicas=32, alpha=0.1
    ).toPandas()
    pd.testing.assert_frame_equal(got, again)


def test_heavy_hitters_mg_guarantee_and_cert(spark):
    from lbf_spark.operators.sketches import (
        heavy_hitter_violations,
        heavy_hitters_mg,
    )

    # Zipf-ish: item i appears ~N/i times — clear heavy head
    rows = []
    for i in range(1, 60):
        rows += [(f"item{i:02d}",)] * (3000 // i)
    df = spark.createDataFrame(rows, "k string").repartition(8)
    sketch, n = heavy_hitters_mg(df, "k", k=16)
    assert n == len(rows)
    est = dict(sketch)
    err = n / 17
    exact = {}
    for (v,) in rows:
        exact[v] = exact.get(v, 0) + 1
    for item, c in exact.items():
        e = est.get(item, 0)
        assert e <= c                      # never overestimates
        assert c - e <= err + 1e-9         # within the MG bound
        if c > err:
            assert item in est             # heavy items always present
    assert heavy_hitter_violations(spark, df, "k", k=16).count() == 0
    # uniform stream (no heavy hitters): guarantee still holds
    uni = spark.createDataFrame(
        [(f"u{i % 500}",) for i in range(5000)], "k string"
    ).repartition(8)
    assert heavy_hitter_violations(spark, uni, "k", k=16).count() == 0


def test_trimmed_winsorized_mean_matches_numpy(spark):
    from lbf_spark.operators.stats import trimmed_winsorized_mean

    rng = np.random.default_rng(13)
    x = np.round(np.concatenate([rng.normal(10, 1, 190), [500.0] * 5, [-400.0] * 5]), 4)
    rows = [("g", int(i), float(v)) for i, v in enumerate(x)]
    df = spark.createDataFrame(rows, "grp string, event_id long, value double")
    got = trimmed_winsorized_mean(
        df, "value", by="grp", trim=0.05, tiebreak="event_id"
    ).toPandas()
    xs = np.sort(x)
    c = int(np.ceil(0.05 * len(x)))
    core = xs[c : len(x) - c]
    exp_trim = core.mean()
    exp_wins = np.clip(x, core.min(), core.max()).mean()
    assert got.n_obs.iloc[0] == 200
    assert abs(got.trimmed_mean.iloc[0] - exp_trim) < 1e-9
    assert abs(got.winsor_mean.iloc[0] - exp_wins) < 1e-9
    # the outliers moved the raw mean but not the robust ones
    assert abs(got.trimmed_mean.iloc[0] - 10) < 0.5
    assert abs(x.mean() - 10) > 1.0


def test_pmi_cells_matches_numpy(spark):
    from lbf_spark.operators.stats import pmi_cells

    rows = (
        [("a", "x")] * 40 + [("a", "y")] * 10
        + [("b", "x")] * 10 + [("b", "y")] * 40
    )
    df = spark.createDataFrame(rows, "u string, v string")
    got = pmi_cells(df, "u", "v").toPandas().set_index(["u", "v"])
    n = 100
    for (a, b), n_ab in [(("a", "x"), 40), (("a", "y"), 10),
                         (("b", "x"), 10), (("b", "y"), 40)]:
        exp = math.log((n_ab * n) / (50 * 50))
        assert abs(got.loc[(a, b), "pmi"] - exp) < 1e-12
        assert got.loc[(a, b), "n_ab"] == n_ab
    # positively associated cells positive, negative negative
    assert got.loc[("a", "x"), "pmi"] > 0 > got.loc[("a", "y"), "pmi"]


def test_panel_corr_pairs_recovers_comovement(spark):
    from lbf_spark.operators.stats import panel_corr_pairs

    rng = np.random.default_rng(17)
    base = rng.normal(0, 1, 30)
    rows = []
    series = {
        "a": base + rng.normal(0, 0.05, 30),       # ≈ base
        "b": base + rng.normal(0, 0.05, 30),       # ≈ base → corr(a,b) ≈ 1
        "c": -base + rng.normal(0, 0.05, 30),      # anti-correlated
        "d": rng.normal(0, 1, 30),                 # independent
    }
    for ent, x in series.items():
        for day, v in enumerate(x):
            rows.append((ent, day * 86_400_000_000 + 1000, float(round(v, 4))))
    df = spark.createDataFrame(rows, "entity string, ts long, value double")
    got = (
        panel_corr_pairs(df, "value", by="entity", ts_col="ts",
                         bucket_us=86_400_000_000, min_common=10)
        .toPandas()
        .set_index(["entity_a", "entity_b"])
    )
    assert (got.n_common == 30).all()
    assert got.loc[("a", "b"), "corr"] > 0.99
    assert got.loc[("a", "c"), "corr"] < -0.99
    assert abs(got.loc[("a", "d"), "corr"]) < 0.5
    # numpy ground truth for one pair
    exp = np.corrcoef(np.round(series["a"], 4), np.round(series["b"], 4))[0, 1]
    assert abs(got.loc[("a", "b"), "corr"] - exp) < 1e-6


def test_stream_heavy_hitters_exactly_once_and_bound(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lbf_spark.streaming.stream_features import (
        heavy_hitter_batch_merge,
        read_heavy_hitter_state,
    )
    from tests.conftest import foreach_batch

    rng = np.random.default_rng(21)
    # Zipf-ish keys split over 3 files → 3 micro-batches
    keys = [f"k{min(int(v), 40):02d}" for v in rng.zipf(1.3, 3000)]
    src = tmp_path / "hh_src"
    src.mkdir()
    for i in range(3):
        pq.write_table(
            pa.Table.from_pydict({"k": keys[i * 1000 : (i + 1) * 1000]}),
            str(src / f"{i}.parquet"),
        )
    state = str(tmp_path / "hh_state")
    stream = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    foreach_batch(
        stream,
        lambda b, i: heavy_hitter_batch_merge(b, i, state, "k", k=16),
        str(tmp_path / "hh_ckpt"),
    )
    st = read_heavy_hitter_state(spark, state)
    assert st["n"] == 3000 and st["batch_hwm"] == 2
    exact = pd.Series(keys).value_counts().to_dict()
    err = 3000 / 17
    for item, c in exact.items():
        e = st["counters"].get(item, 0)
        assert e <= c and c - e <= err + 1e-9
        if c > err:
            assert item in st["counters"]
    # replayed delivery of the last batch: idempotent no-op
    replay = spark.createDataFrame([(x,) for x in keys[2000:]], "k string")
    assert heavy_hitter_batch_merge(replay, 2, state, "k", k=16) is None
    assert read_heavy_hitter_state(spark, state)["n"] == 3000
    # a NEW batch still folds in
    assert heavy_hitter_batch_merge(replay, 3, state, "k", k=16) is not None
    assert read_heavy_hitter_state(spark, state)["n"] == 4000
    # k mismatch is refused, not silently merged
    with pytest.raises(ValueError):
        heavy_hitter_batch_merge(replay, 4, state, "k", k=8)


def test_extract_patches_tiles_exactly(spark):
    from lbf_spark import fixtures
    from lbf_spark.functions.codec import decode_image
    from lbf_spark.operators.images import extract_patches, pixel_sums

    ev_pd = fixtures.generate_events(n_rows=40, n_entities=2)
    ev = fixtures.events_to_spark(spark, ev_pd).select("image_id", "bytes", "fmt")
    got = extract_patches(ev, patch=8).toPandas()
    whole = pixel_sums(ev).toPandas().set_index("image_id")
    for img_id, g in got.groupby("image_id"):
        w = whole.loc[img_id]
        assert g.p_n_px.sum() == w.n_px          # exact area coverage
        assert g.p_sum.sum() == w.px_sum         # exact pixel conservation
        assert g.patch_row.max() + 1 == -(-w.dec_h // 8)
        assert g.patch_col.max() + 1 == -(-w.dec_w // 8)
        assert len(g) == (g.patch_row.max() + 1) * (g.patch_col.max() + 1)
    # digest twin for one known patch
    row = ev.limit(1).collect()[0]
    img = decode_image(bytes(row["bytes"]), row["fmt"])
    import hashlib

    exp = hashlib.md5(np.ascontiguousarray(img[0:8, 0:8]).tobytes()).hexdigest()
    p00 = got[(got.image_id == row["image_id"]) & (got.patch_row == 0)
              & (got.patch_col == 0)]
    assert p00.patch_md5.iloc[0] == exp


def test_bpe_train_matches_reference_and_encodes(spark):
    from lbf_spark.operators.text import (
        train_bpe,
        train_bpe_reference,
        word_freqs,
    )

    docs = spark.createDataFrame(
        [
            (1, "low low low low low lower lower newest newest"),
            (2, "newest newest newest newest widest widest widest"),
            (3, "low lower newest widest new new new"),
        ],
        "doc_id long, text string",
    )
    words = word_freqs(docs)
    merges, syms = train_bpe(words, n_merges=12)
    wf = [(r["word"], r["freq"]) for r in words.collect()]
    ref = train_bpe_reference(wf, n_merges=12)
    assert merges == ref                      # identical merge sequence
    assert len(merges) > 3                    # actually learned something
    # the classic corpus learns the 'est</w>' family
    joined = ["".join(p) for p in merges]
    assert any("est" in m for m in joined)
    # determinism on re-run
    merges2, _ = train_bpe(words, n_merges=12)
    assert merges2 == merges
    # the trained symbol table encodes every training word losslessly:
    # concatenated symbols per word == word + </w>
    enc = {r["word"]: list(r["syms"]) for r in syms.collect()}
    assert set(enc) == {w for w, _ in wf}
    for w, sy in enc.items():
        assert "".join(sy) == w + "</w>"


def test_robust_scale_matches_numpy(spark):
    from lbf_spark.operators.stats import robust_scale

    rng = np.random.default_rng(29)
    x = np.round(np.concatenate([rng.normal(50, 3, 201), [5000.0] * 4]), 4)
    rows = [("g", int(i), float(v)) for i, v in enumerate(x)]
    df = spark.createDataFrame(rows, "grp string, event_id long, value double")
    got = robust_scale(df, "value", by="grp", tiebreak="event_id").toPandas()
    xs = np.sort(x)
    lower_med = xs[int(np.ceil(len(x) / 2)) - 1]     # rank ⌈n/2⌉, 1-based
    dev = np.sort(np.abs(x - lower_med))
    lower_mad = dev[int(np.ceil(len(x) / 2)) - 1]
    assert got.n_obs.iloc[0] == 205
    assert got["median"].iloc[0] == lower_med
    assert got["mad"].iloc[0] == lower_mad
    # robust to the planted outliers: median near 50, MAD near 2 (0.674σ·3)
    assert abs(got["median"].iloc[0] - 50) < 1
    assert got["mad"].iloc[0] < 5


def test_interpolate_linear_fills_gaps_time_weighted(spark):
    from lbf_spark.operators.windows import interpolate_linear

    rows = [
        # (entity, event_id, ts, value) — gap at ts=30 between (10,1.0)
        # and (50,5.0) → 1 + 4*(20/40) = 3.0; boundary nulls stay null
        ("e", 0, 0, None),
        ("e", 1, 10, 1.0),
        ("e", 2, 30, None),
        ("e", 3, 50, 5.0),
        ("e", 4, 60, None),
        ("f", 0, 0, 2.0),   # lone non-null neighbor series
        ("f", 1, 5, None),
    ]
    df = spark.createDataFrame(
        rows, "entity string, event_id long, ts long, value double"
    )
    got = (
        interpolate_linear(df, "value", "ts", by="entity",
                           tiebreak="event_id", out="vi")
        .toPandas()
        .set_index(["entity", "event_id"])
    )
    assert got.loc[("e", 2), "vi"] == 3.0            # time-weighted blend
    assert pd.isna(got.loc[("e", 0), "vi"])          # leading null stays
    assert pd.isna(got.loc[("e", 4), "vi"])          # trailing null stays
    assert got.loc[("e", 1), "vi"] == 1.0            # non-null passthrough
    assert pd.isna(got.loc[("f", 1), "vi"])          # no right neighbor


def test_augment_tokens_deterministic_and_valid(spark):
    from lbf_spark.operators.text import augment_tokens

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y"), (3, "lone"), (4, "p q r")],
        "doc_id long, text string",
    )
    got = augment_tokens(docs, "text", "doc_id", seed=0).toPandas().set_index("doc_id")
    again = augment_tokens(docs, "text", "doc_id", seed=0).toPandas().set_index("doc_id")
    pd.testing.assert_frame_equal(got, again)          # pure function of (id, seed)
    for i, txt in [(1, "a b c d e"), (2, "x y"), (4, "p q r")]:
        orig = txt.split(" ")
        d = got.loc[i, "aug_drop"].split(" ")
        s = got.loc[i, "aug_swap"].split(" ")
        assert len(d) == len(orig) - 1                 # exactly one token dropped
        assert sorted(s) == sorted(orig)               # swap is a permutation
        assert s != orig or len(orig) == 1             # and actually swapped
    assert got.loc[3, "aug_drop"] == "lone"            # singleton untouched
    assert got.loc[3, "aug_swap"] == "lone"
    # a different seed moves the positions for at least one doc
    other = augment_tokens(docs, "text", "doc_id", seed=5).toPandas().set_index("doc_id")
    assert (other.aug_drop != got.aug_drop).any() or (other.aug_swap != got.aug_swap).any()


def test_embedding_drift_detects_shift(spark):
    from lbf_spark.operators.similarity import embedding_drift

    rng = np.random.default_rng(31)
    dim = 16
    base = rng.normal(0, 1, (2, dim))  # one direction per label
    rows_ref, rows_cur = [], []
    for lab in (0, 1):
        for i in range(50):
            v = base[lab] + rng.normal(0, 0.05, dim)
            rows_ref.append((int(i), [float(x) for x in v], lab))
    # label 0 drifts hard in "current"; label 1 stays + doubles norm
    for lab, vec in ((0, -base[0]), (1, 2.0 * base[1])):
        for i in range(50):
            v = vec + rng.normal(0, 0.05, dim)
            rows_cur.append((int(i), [float(x) for x in v], lab))
    schema = "vec_id long, embedding array<float>, label int"
    ref = spark.createDataFrame(rows_ref, schema)
    cur = spark.createDataFrame(rows_cur, schema)
    got = embedding_drift(ref, cur, by="label").toPandas().set_index("label")
    assert got.loc[0, "centroid_cosine"] < -0.9      # flipped direction
    assert got.loc[1, "centroid_cosine"] > 0.99      # unchanged direction
    assert abs(got.loc[1, "norm_ratio"] - 2.0) < 0.1  # doubled magnitude
    assert (got.n_dims == dim).all()
    # numpy twin for the stable label (round-6 means like the engine)
    r_mean = np.round(np.mean([r[1] for r in rows_ref if r[2] == 1], axis=0), 6)
    c_mean = np.round(np.mean([r[1] for r in rows_cur if r[2] == 1], axis=0), 6)
    exp = float(r_mean @ c_mean / (np.linalg.norm(r_mean) * np.linalg.norm(c_mean)))
    assert abs(got.loc[1, "centroid_cosine"] - exp) < 1e-6


def test_aspect_bucket_pack_laws(spark):
    from lbf_spark.operators.images import aspect_bucket_pack

    rng = np.random.default_rng(7)
    rows = [
        (int(i), int(w), int(h))
        for i, (w, h) in enumerate(
            zip(rng.integers(32, 257, 400), rng.integers(32, 257, 400))
        )
    ]
    df = spark.createDataFrame(rows, "image_id long, w long, h long")
    out = aspect_bucket_pack(df, batch_size=8, n_shards=4, seed=3).toPandas()
    assert len(out) == 400  # lossless
    # bucket assignment == independent python argmin over exact fractions
    from lbf_spark.operators.images import DEFAULT_ASPECT_BUCKETS as B

    lcm = 144
    for _, r in out.sample(60, random_state=0).iterrows():
        keys = [
            (abs(r.w * q - p * r.h) * (lcm // q), i) for i, (p, q) in enumerate(B)
        ]
        assert r.bucket_id == min(keys)[1]
    # packing laws per (bucket, shard): positions are 0..B-1 per complete
    # batch, batch_no consecutive from 0, exactly floor(n/B) complete batches
    for (_, _), g in out.groupby(["bucket_id", "shard"]):
        n = len(g)
        assert set(g.batch_no) == set(range((n + 7) // 8))
        comp = g[g.is_complete]
        assert len(comp) == (n // 8) * 8
        for _, bg in comp.groupby("batch_no"):
            assert sorted(bg.pos) == list(range(8))
    # deterministic: same seed → identical frame
    again = aspect_bucket_pack(df, batch_size=8, n_shards=4, seed=3).toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values("image_id").reset_index(drop=True),
        again.sort_values("image_id").reset_index(drop=True),
    )
    # different seed reshuffles at least some shard assignments
    other = aspect_bucket_pack(df, batch_size=8, n_shards=4, seed=4).toPandas()
    assert (
        other.sort_values("image_id").shard.values
        != out.sort_values("image_id").shard.values
    ).any()


def test_bucket_fit_geometry_laws(spark):
    from lbf_spark.operators.images import bucket_fit

    tgts = [(512, 512), (576, 448), (448, 576), (640, 384), (384, 640)]
    rng = np.random.default_rng(11)
    rows = [
        (int(i), int(w), int(h))
        for i, (w, h) in enumerate(
            zip(rng.integers(96, 1537, 300), rng.integers(96, 1537, 300))
        )
    ] + [(300, 512, 512), (301, 1152, 896)]  # exact-aspect rows
    df = spark.createDataFrame(rows, "image_id long, w long, h long")

    cov = bucket_fit(df, tgts, mode="cover").toPandas().set_index("image_id")
    fit = bucket_fit(df, tgts, mode="fit").toPandas().set_index("image_id")
    assert len(cov) == len(fit) == 302

    # python twin: binding axis by exact cross product, floor-div scale
    for _, r in cov.sample(60, random_state=0).iterrows():
        tw, th = int(r.tgt_w), int(r.tgt_h)
        if tw * r.h >= th * r.w:
            rw, rh = tw, (r.h * tw) // r.w
        else:
            rw, rh = (r.w * th) // r.h, th
        assert (r.resize_w, r.resize_h) == (rw, rh)
        assert (r.off_x, r.off_y) == ((rw - tw) // 2, (rh - th) // 2)

    # cover: resize >= target on both axes, one axis exact, crop fits
    assert (cov.resize_w >= cov.tgt_w).all() and (cov.resize_h >= cov.tgt_h).all()
    assert ((cov.resize_w == cov.tgt_w) | (cov.resize_h == cov.tgt_h)).all()
    assert (cov.off_x + cov.tgt_w <= cov.resize_w).all()
    assert (cov.off_y + cov.tgt_h <= cov.resize_h).all()
    # fit: resize <= target on both axes, one axis exact, pad fits
    assert (fit.resize_w <= fit.tgt_w).all() and (fit.resize_h <= fit.tgt_h).all()
    assert ((fit.resize_w == fit.tgt_w) | (fit.resize_h == fit.tgt_h)).all()
    assert (fit.off_x + fit.resize_w <= fit.tgt_w).all()
    assert (fit.off_y + fit.resize_h <= fit.tgt_h).all()
    # exact-aspect rows: both modes land exactly on target, zero offsets
    for i in (300, 301):
        for g in (cov.loc[i], fit.loc[i]):
            assert (g.resize_w, g.resize_h) == (g.tgt_w, g.tgt_h)
            assert (g.off_x, g.off_y) == (0, 0)
    # bucket assignment matches aspect_bucket_pack's argmin rule
    lcm = 161280
    for _, r in cov.sample(40, random_state=1).iterrows():
        keys = [
            (abs(r.w * th - tw * r.h) * (lcm // th), i)
            for i, (tw, th) in enumerate(tgts)
        ]
        assert r.bucket_id == min(keys)[1]

    with pytest.raises(ValueError):
        bucket_fit(df, tgts, mode="stretch")
    with pytest.raises(ValueError):
        bucket_fit(df, [])


def test_apply_bucket_fit_executes_plan(spark):
    """The pixel executor realizes the integer plan exactly: cover
    output == composed gather from the original, fit output == gather
    pasted on a black canvas; null payloads pass through."""
    from lbf_spark.functions.codec import decode_image, encode_image
    from lbf_spark.operators.images import apply_bucket_fit, bucket_fit

    rng = np.random.default_rng(5)
    imgs = {
        "a": rng.integers(0, 256, (10, 30, 3), dtype=np.uint8),   # wide
        "b": rng.integers(0, 256, (28, 9, 3), dtype=np.uint8),    # tall
        "c": rng.integers(0, 256, (16, 16, 3), dtype=np.uint8),   # square
    }
    rows = [
        (k, encode_image(v, "png"), "png", v.shape[1], v.shape[0])
        for k, v in imgs.items()
    ] + [("nul", None, "png", 4, 4)]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, w long, h long"
    )
    tgts = [(16, 16), (24, 16), (16, 24)]
    for mode in ("cover", "fit"):
        out = {
            r["image_id"]: r
            for r in apply_bucket_fit(
                bucket_fit(df, tgts, mode=mode), mode=mode
            ).collect()
        }
        assert out["nul"]["bytes"] is None
        for k, src in imgs.items():
            r = out[k]
            h, w = src.shape[:2]
            rw, rh, tw, th = r["resize_w"], r["resize_h"], r["tgt_w"], r["tgt_h"]
            ox, oy = r["off_x"], r["off_y"]
            got = decode_image(bytes(r["bytes"]), "png")
            assert got.shape == (th, tw, 3)
            assert (r["w"], r["h"]) == (tw, th)  # metadata rewritten
            resized = src[np.arange(rh) * h // rh][:, np.arange(rw) * w // rw]
            if mode == "cover":
                exp = resized[oy:oy + th, ox:ox + tw]
            else:
                exp = np.zeros((th, tw, 3), dtype=np.uint8)
                exp[oy:oy + rh, ox:ox + rw] = resized
            assert np.array_equal(got, exp)
    # square 16x16 image lands in the (16,16) bucket untouched
    sq = apply_bucket_fit(bucket_fit(df, tgts, mode="cover"), mode="cover")
    r = {x["image_id"]: x for x in sq.collect()}["c"]
    assert np.array_equal(decode_image(bytes(r["bytes"]), "png"), imgs["c"])
    with pytest.raises(ValueError):
        apply_bucket_fit(df, mode="stretch")


def test_imageprep_job_chain(spark):
    """plans/imageprep.py:prep_images (the CLI imageprep chain) — plan + pack + execute: every output image sits at its
    bucket's target resolution, packing columns are present, and
    plan_only leaves pixels alone."""
    from lbf_spark.plans.imageprep import parse_targets, prep_images

    from lbf_spark import fixtures
    from lbf_spark.functions.codec import decode_image

    assert parse_targets("512x512, 24X16") == [(512, 512), (24, 16)]

    ev = fixtures.events_to_spark(
        spark, fixtures.generate_events(n_rows=40, n_entities=4)
    ).select("image_id", "bytes", "fmt", "w", "h")
    tgts = [(16, 16), (24, 16), (16, 24)]
    out = prep_images(
        ev, tgts, mode="cover", batch_size=4, n_shards=2, to_fmt="png"
    ).collect()
    assert len(out) == 40
    for r in out:
        assert (r["w"], r["h"]) == (r["tgt_w"], r["tgt_h"])
        img = decode_image(bytes(r["bytes"]), "png")
        assert img.shape[:2] == (r["tgt_h"], r["tgt_w"])
        assert r["batch_no"] >= 0 and 0 <= r["pos"] < 4
        # pack and plan agree on the bucket (same exact argmin)
        assert (r["tgt_w"], r["tgt_h"]) == tgts[r["bucket_id"]]
    plan = prep_images(
        ev, tgts, mode="cover", batch_size=4, n_shards=2, plan_only=True
    ).collect()
    orig = {r["image_id"]: bytes(r["bytes"]) for r in ev.collect()}
    assert all(bytes(r["bytes"]) == orig[r["image_id"]] for r in plan)


def test_aspect_bucket_exact_tie_break(spark):
    from lbf_spark.operators.images import aspect_bucket_pack

    # 128x128 is distance 0 from (1,1) only; 96x48 exactly matches (2,1);
    # a true tie (equidistant) breaks to the smaller index
    df = spark.createDataFrame(
        [(1, 128, 128), (2, 96, 48), (3, 48, 96)],
        "image_id long, w long, h long",
    )
    out = (
        aspect_bucket_pack(df, batch_size=2, n_shards=1)
        .toPandas()
        .set_index("image_id")
    )
    assert out.loc[1].bucket_id == 0
    assert out.loc[2].bucket_id == 5
    assert out.loc[3].bucket_id == 6


def test_mutual_information_matches_numpy(spark):
    from lbf_spark.operators.stats import mutual_information

    rng = np.random.default_rng(5)
    lab = rng.integers(0, 3, 500)
    dep = (lab * 10 + rng.integers(0, 2, 500)).astype(int)  # strongly informative
    ind = rng.integers(0, 4, 500)  # independent of label
    df = spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in zip(lab, dep, ind)],
        "label long, dep long, ind long",
    )
    got = (
        mutual_information(df, features=["dep", "ind"], label="label")
        .toPandas()
        .set_index("feature")
    )

    def mi_np(xs, ys):
        n = len(xs)
        from collections import Counter

        cxy, cx, cy = Counter(zip(xs, ys)), Counter(xs), Counter(ys)
        tot = 0.0
        for (x, y), nxy in cxy.items():
            tot += round(nxy / n * math.log(nxy * n / (cx[x] * cy[y])), 12)
        return round(tot, 6)

    assert got.loc["dep"].mi == pytest.approx(mi_np(dep, lab), abs=1e-9)
    assert got.loc["ind"].mi == pytest.approx(mi_np(ind, lab), abs=1e-9)
    # the informative feature ranks above the independent one, which is ~0
    assert got.loc["dep"].mi > got.loc["ind"].mi
    assert abs(got.loc["ind"].mi) < 0.05
    # perfect dependence: MI(label; label) == H(label)
    same = mutual_information(
        df.withColumn("copy", F.col("label")), features=["copy"], label="label"
    ).toPandas()
    n = len(lab)
    from collections import Counter

    h = -sum(c / n * math.log(c / n) for c in Counter(lab).values())
    assert same.mi.iloc[0] == pytest.approx(h, abs=1e-5)
    assert int(got.loc["dep"].n_rows) == 500


def test_crossmodal_alignment_known_and_numpy(spark):
    from lbf_spark.operators.similarity import crossmodal_alignment

    rows = [
        (1, [1.0, 0.0, 0.0], [1.0, 0.0, 0.0]),   # identical → 1.0
        (2, [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),   # orthogonal → 0.0
        (3, [1.0, 2.0, 3.0], [-1.0, -2.0, -3.0]),  # opposite → −1.0
    ]
    df = spark.createDataFrame(
        rows, "pair_id long, ea array<double>, eb array<double>"
    )
    got = (
        crossmodal_alignment(df, "ea", "eb", threshold=0.5)
        .toPandas()
        .set_index("pair_id")
    )
    assert got.loc[1].alignment == 1.0 and bool(got.loc[1].keep)
    assert got.loc[2].alignment == 0.0 and not got.loc[2].keep
    assert got.loc[3].alignment == -1.0 and not got.loc[3].keep
    # boundary decided on the ROUNDED score: 0.49996 rounds to 0.5 → kept
    near = spark.createDataFrame(
        [(4, [1.0, 0.0], [0.49996, math.sqrt(1 - 0.49996**2)])],
        "pair_id long, ea array<double>, eb array<double>",
    )
    row = crossmodal_alignment(near, "ea", "eb", threshold=0.5).collect()[0]
    assert row.alignment == 0.5 and row.keep
    # numpy twin on random floats (float32 storage, double math)
    rng = np.random.default_rng(9)
    a = rng.normal(size=(40, 8)).astype(np.float32)
    b = rng.normal(size=(40, 8)).astype(np.float32)
    df2 = spark.createDataFrame(
        [(int(i), x.tolist(), y.tolist()) for i, (x, y) in enumerate(zip(a, b))],
        "pair_id long, ea array<float>, eb array<float>",
    )
    got2 = (
        crossmodal_alignment(df2, "ea", "eb")
        .toPandas()
        .sort_values("pair_id")
    )
    ad, bd = a.astype(np.float64), b.astype(np.float64)
    want = (ad * bd).sum(1) / (
        np.sqrt((ad * ad).sum(1)) * np.sqrt((bd * bd).sum(1))
    )
    assert np.allclose(got2.alignment.values, np.round(want, 4), atol=1e-9)
    assert (got2.keep.values == (got2.alignment.values >= 0.0)).all()


def test_select_representatives_laws(spark):
    from lbf_spark.operators.dedup import select_representatives

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (4, 7), (5, 50)],
        "doc_id long, score long",
    )
    # cluster A = {1,2,3} (2 and 3 tie on score → min id 2 wins);
    # cluster B = {4}; doc 5 is in no cluster (singleton keeper)
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "doc_id long, cluster_id long"
    )
    out = (
        select_representatives(docs, clusters, score_col="score")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert len(out) == 5  # lossless: every doc gets a verdict
    assert list(out.is_keeper) == [False, True, False, True, True]
    assert list(out.cluster_id) == [1, 1, 1, 4, 5]
    # exactly one keeper per cluster
    kept = out[out.is_keeper].groupby("cluster_id").size()
    assert (kept == 1).all()
    # keeper is the argmax(score) of its cluster
    assert out[out.is_keeper].loc[2].score == 99


def test_semantic_dedup_laws(spark):
    """Planted two-cell geometry: near-dups are dropped only within
    their cell, the farther-from-centroid member survives (SemDeDup
    diversity rule), dist2 ties keep the lower id, singletons and
    cross-cell lookalikes are untouched."""
    from lbf_spark.operators.similarity import semantic_dedup

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "cid long, embedding array<double>",
    )
    rows = [
        # cell 0: 10/11 near-dup (cos≈1), 11 farther from centroid -> keeps
        (10, [1.0, 0.0, 0.0]),
        (11, [0.9, 0.1, 0.0]),
        # cell 0 singleton, orthogonal-ish to the pair
        (12, [0.7, 0.0, 0.7]),
        # cell 1: same direction as 10/11's dup axis but in the OTHER
        # cell -- never compared against cell 0 members
        (20, [0.1, 0.9, 0.0]),
        # cell 1: exact dist2 tie pair (identical vectors, cos<0.9 to
        # row 20 so only the tie law decides them) -> lower id kept
        (21, [0.0, 0.8, 0.6]),
        (22, [0.0, 0.8, 0.6]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, cents, threshold=0.9).toPandas().set_index("vec_id")

    assert out.loc[10, "cluster_id"] == 0 and out.loc[20, "cluster_id"] == 1
    # diversity rule: 11 (farther from centroid 0) survives, 10 drops
    assert bool(out.loc[11, "is_kept"]) and not bool(out.loc[10, "is_kept"])
    # singleton untouched
    assert bool(out.loc[12, "is_kept"])
    # cross-cell lookalike untouched (scoping law)
    assert bool(out.loc[20, "is_kept"])
    # exact tie -> lower id survives
    assert bool(out.loc[21, "is_kept"]) and not bool(out.loc[22, "is_kept"])
    # every input row is present with an explicit decision
    assert len(out) == len(rows) and out["is_kept"].notna().all()


def test_semantic_dedup_matches_brute_force_within_cells(spark):
    """The cell-scoped plan equals the definitionally-direct recompute:
    drop set == rows dominated in the (same-cell, cos>=t) graph."""
    import numpy as np
    from lbf_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 8)).round(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(4)],
        "cid long, embedding array<double>",
    )
    out = semantic_dedup(df, cents, threshold=0.5).toPandas().set_index("vec_id")

    cvec = vecs[:4]
    d2 = np.round(((vecs[:, None, :] - cvec[None, :, :]) ** 2).sum(-1), 6)
    cell = d2.argmin(1)  # ties impossible at this precision w/ rng data
    dist2 = d2[np.arange(60), cell]
    norms = np.sqrt((vecs**2).sum(-1))
    cos = np.round(vecs @ vecs.T / np.outer(norms, norms), 4)
    dropped = set()
    for a in range(60):
        for b in range(a + 1, 60):
            if cell[a] == cell[b] and cos[a, b] >= 0.5:
                dropped.add(a if dist2[b] > dist2[a] else b)
    assert dropped, "fixture must actually produce near-dups"
    for i in range(60):
        assert bool(out.loc[i, "is_kept"]) == (i not in dropped)
        assert out.loc[i, "cluster_id"] == cell[i]


def test_temperature_mixture_laws(spark):
    """Largest-remainder quotas: exact total, python-twin equality,
    alpha=0 -> near-uniform, alpha=1 -> proportional, quota > group
    size keeps the whole group."""
    from decimal import Decimal
    from lbf_spark.operators.distributions import temperature_mixture

    counts = {"a": 100, "b": 40, "c": 30, "d": 20}
    rows = [(f"{s}{i}", s) for s, n in counts.items() for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, src string")

    def twin_quota(alpha, total):
        w = {s: round(math.pow(n, alpha), 6) for s, n in counts.items()}
        W = float(sum(Decimal(str(v)).quantize(Decimal("0.000001"))
                      for v in w.values()))
        ideal = {s: float(total) * w[s] / W for s in counts}
        fl = {s: math.floor(ideal[s]) for s in counts}
        leftover = total - sum(fl.values())
        order = sorted(counts, key=lambda s: (-(ideal[s] - fl[s]), s))
        return {
            s: fl[s] + (1 if order.index(s) < leftover else 0)
            for s in counts
        }

    for alpha, total in [(0.5, 50), (1.0, 50), (0.0, 50)]:
        out = temperature_mixture(
            df, by="src", id_col="doc_id", alpha=alpha, total_n=total
        ).toPandas()
        got = out.groupby("src").size().to_dict()
        assert sum(got.values()) == total
        exp = twin_quota(alpha, total)
        assert {s: n for s, n in exp.items() if n} == got
        assert (out.groupby("src")["quota"].first().to_dict()
                == {s: n for s, n in exp.items() if n})
    # proportional sanity at alpha=1: head source ~100/190 of 50,
    # bonus seats go to the largest fractional parts (c then b)
    q1 = twin_quota(1.0, 50)
    assert q1 == {"a": 26, "b": 11, "c": 8, "d": 5}
    # quota above group size: keep whole group, undershoot documented
    out = temperature_mixture(
        df, by="src", id_col="doc_id", alpha=0.0, total_n=200
    ).toPandas()
    # alpha=0: equal 50-per-source ideals; b, c and d cap at their sizes
    got = out.groupby("src").size().to_dict()
    assert got == {"a": 50, "b": 40, "c": 30, "d": 20}


def test_tile_overlap_pairs_laws(spark):
    """Shared-tile counting over a hand-built patch table: intra-image
    repeats count once (distinct postings), max_df drops flat tiles,
    min_shared thresholds pairs."""
    from lbf_spark.operators.dedup import tile_overlap_pairs

    rows = [
        # img A and B share t1, t2; A repeats t1 internally
        ("A", "t1"), ("A", "t1"), ("A", "t2"), ("A", "t3"),
        ("B", "t1"), ("B", "t2"), ("B", "t9"),
        # img C shares only t3 with A
        ("C", "t3"), ("C", "t8"),
        # 'flat' tile in every image (the stopword analog)
        ("A", "flat"), ("B", "flat"), ("C", "flat"), ("D", "flat"),
        ("D", "t7"),
    ]
    pt = spark.createDataFrame(rows, "image_id string, patch_md5 string")

    got = tile_overlap_pairs(pt, min_shared=2, max_df=3).toPandas()
    got = {(r.id_a, r.id_b): r.shared_tiles for r in got.itertuples()}
    # flat (df=4 > 3) is capped out; A-B share {t1,t2} = 2 (t1 once!)
    assert got == {("A", "B"): 2}
    # without the cap, flat joins everything: A-B=3, A-C=2, others via flat only
    got2 = tile_overlap_pairs(pt, min_shared=2, max_df=None).toPandas()
    got2 = {(r.id_a, r.id_b): r.shared_tiles for r in got2.itertuples()}
    assert got2[("A", "B")] == 3 and got2[("A", "C")] == 2
    assert ("C", "D") not in got2  # only flat shared -> below min_shared
    # min_shared=1 admits single-tile matches
    got3 = tile_overlap_pairs(pt, min_shared=1, max_df=3).toPandas()
    assert (("A", "C") in {(r.id_a, r.id_b) for r in got3.itertuples()})


def test_tile_overlap_survives_grid_crop(spark):
    """End-to-end crop resistance on real decoded tiles: a verbatim
    copy missing its first tile row still pairs with its source, and
    phash-unrelated images do not pair."""
    from lbf_spark import fixtures
    from lbf_spark.operators.dedup import tile_overlap_pairs
    from lbf_spark.operators.images import extract_patches

    ev = fixtures.events_to_spark(
        spark, fixtures.generate_events(n_rows=40, n_entities=4)
    ).select("image_id", "bytes", "fmt")
    copy = ev.limit(6).withColumn(
        "image_id", F.concat(F.col("image_id"), F.lit("_c"))
    )
    pt = extract_patches(ev.unionByName(copy), patch=8)
    pt = pt.filter(
        ~(F.col("image_id").endswith("_c") & (F.col("patch_row") == 0))
    )
    pairs = tile_overlap_pairs(pt, min_shared=2).toPandas()
    matched = {
        (r.id_a, r.id_b) for r in pairs.itertuples()
    }
    # every copy with >=2 surviving tiles finds its source
    surv = (
        pt.filter(F.col("image_id").endswith("_c"))
        .groupBy("image_id").count().toPandas()
    )
    for cid, nt in zip(surv.image_id, surv["count"]):
        if nt >= 2:
            assert (cid[:-2], cid) in matched or (cid, cid[:-2]) in matched


def test_diversity_sample_laws(spark):
    """Quota ∝ |cell|^alpha by largest remainder; within-cell picks are
    the farthest-from-centroid prefix; exact total when quotas fit."""
    from lbf_spark.operators.similarity import diversity_sample

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cid long, embedding array<double>",
    )
    rows = []
    # cell 0: 16 rows at increasing offsets from the centroid
    for i in range(16):
        rows.append((i, [1.0, 0.01 * i]))
    # cell 1: 4 rows
    for i in range(4):
        rows.append((100 + i, [0.02 * i, 1.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = diversity_sample(df, cents, total_n=10, alpha=0.5).toPandas()
    assert len(out) == 10
    by_cell = out.groupby("cluster_id").size().to_dict()
    # sqrt weights: w0=4, w1=2 -> ideals 6.67/3.33 -> floors 6/3,
    # leftover 1 -> frac .667 > .333 -> cell 0 gets it: 7/3
    assert by_cell == {0: 7, 1: 3}
    # farthest-first: cell 0's picks are the 7 largest offsets (ids 9..15)
    got0 = sorted(out[out.cluster_id == 0].vec_id)
    assert got0 == list(range(9, 16))
    # cell 1's picks are its 3 largest offsets (ids 101..103)
    got1 = sorted(out[out.cluster_id == 1].vec_id)
    assert got1 == [101, 102, 103]
    # alpha=1 proportional: 16/20 vs 4/20 of 10 -> 8/2
    out1 = diversity_sample(df, cents, total_n=10, alpha=1.0).toPandas()
    assert out1.groupby("cluster_id").size().to_dict() == {0: 8, 1: 2}


def test_curate_pairs_chain(spark):
    """Multimodal curation chain: alignment gate drops misaligned
    pairs, semantic dedup drops the centroid-nearest twin, rebalance
    hits the exact total; stages report in order."""
    from lbf_spark.plans.corpus import curate_pairs

    rows = [
        # (pair_id, label, img, txt): aligned identical-embedding dups
        (1, 0, [1.0, 0.0], [1.0, 0.0]),
        (2, 0, [0.98, 0.05], [0.98, 0.05]),
        # aligned, far from the dup pair
        (3, 0, [0.0, 1.0], [0.0, 1.0]),
        (4, 1, [0.6, 0.8], [0.6, 0.8]),  # cell 1, cos(3,4)=0.8 < 0.9
        # misaligned: orthogonal image/text -> alignment 0 < threshold
        (5, 1, [1.0, 0.0], [0.0, 1.0]),
    ]
    pairs = spark.createDataFrame(
        rows,
        "pair_id long, label int, ea array<double>, eb array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cid long, embedding array<double>",
    )
    out = curate_pairs(
        pairs, "ea", "eb", align_threshold=0.5,
        centroids=cents, semdedup_threshold=0.9,
        by="label", alpha=0.5, total_n=3,
    )
    assert [s[0] for s in out["stages"]] == [
        "input", "alignment_gate", "semantic_dedup",
        "temperature_rebalance",
    ]
    got = out["kept"].toPandas()
    ids = set(got.pair_id)
    assert 5 not in ids                 # alignment gate
    assert not ({1, 2} <= ids)          # semantic dedup kept only one
    assert 2 in ids                     # ... the farther-from-centroid one
    assert len(got) == 3                # exact rebalance total
    assert "alignment" in got.columns
    # chain without optional stages = alignment gate only
    out2 = curate_pairs(pairs, "ea", "eb", align_threshold=0.5)
    assert [s[0] for s in out2["stages"]] == ["input", "alignment_gate"]
    assert out2["kept"].count() == 4


def test_cluster_atomic_split_laws(spark):
    """All members of a near-dup cluster share one split; singletons
    key on their own id (== plain hash_split); append stability."""
    from lbf_spark.operators.encoding import cluster_atomic_split, hash_split

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    # three clusters with scattered members + 194 singletons
    clusters = spark.createDataFrame(
        [(1, 1), (50, 1), (199, 1), (7, 7), (8, 7), (20, 20), (21, 20)],
        "doc_id long, cluster_id long",
    )
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = cluster_atomic_split(docs, clusters, w).toPandas().set_index("doc_id")
    # atomicity
    for members in ([1, 50, 199], [7, 8], [20, 21]):
        assert len({got.loc[m, "split"] for m in members}) == 1
    # singletons == row-level hash_split on their own id
    plain = (
        hash_split(docs, "doc_id", w).toPandas().set_index("doc_id")
    )
    cluster_members = {1, 50, 199, 7, 8, 20, 21}
    for i in range(200):
        if i not in cluster_members:
            assert got.loc[i, "split"] == plain.loc[i, "split"]
            assert got.loc[i, "cluster_id"] == i
    # every split present at these weights over 200 keys
    assert set(got.split.unique()) == {"train", "val", "test"}
    # no row loss/duplication through the left join
    assert len(got) == 200


def test_curriculum_interleave_laws(spark):
    """Round-robin law: sorted by sched_pos, every window of K rows has
    one item per bucket while buckets last; positions are unique;
    within-bucket order is the md5 shuffle; edge cases (no edges)."""
    import hashlib
    from lbf_spark.operators.distributions import curriculum_interleave

    rows = [(i, float(i)) for i in range(30)]  # scores 0..29
    df = spark.createDataFrame(rows, "doc_id long, score double")
    got = (
        curriculum_interleave(df, "score", edges=[10.0, 20.0], id_col="doc_id")
        .toPandas()
        .sort_values("sched_pos")
    )
    assert got.sched_pos.is_unique and len(got) == 30
    # equal 10-row buckets: every consecutive window of 3 covers {0,1,2}
    seq = got.bucket.to_numpy()
    for w in range(0, 30, 3):
        assert set(seq[w : w + 3]) == {0, 1, 2}
    # bucketing law
    assert (got[got.score < 10].bucket == 0).all()
    assert (got[(got.score >= 10) & (got.score < 20)].bucket == 1).all()
    assert (got[got.score >= 20].bucket == 2).all()
    # within-bucket order is md5(42:id)
    b0 = got[got.bucket == 0]
    exp = sorted(
        b0.doc_id, key=lambda i: hashlib.md5(f"42:{i}".encode()).hexdigest()
    )
    assert list(b0.sort_values("sched_pos").doc_id) == exp
    # unequal buckets: exhausted bucket's slots vanish but order holds
    got2 = (
        curriculum_interleave(df, "score", edges=[3.0], id_col="doc_id")
        .toPandas()
        .sort_values("sched_pos")
    )
    assert got2.sched_pos.is_unique
    head = got2.head(6).bucket.to_numpy()  # both buckets alive early on
    assert set(head) == {0, 1}
    # no edges -> single bucket, pure md5 shuffle, consecutive even pos
    got3 = curriculum_interleave(df, "score", edges=[], id_col="doc_id").toPandas()
    assert (got3.bucket == 0).all() and got3.sched_pos.is_unique


def test_pixel_moments_and_quality_gate(spark):
    """Moments match a direct numpy decode; the gate's reasons follow
    the documented priority order; keep == no reason; transcode
    roundtrip preserves every moment."""
    import numpy as np
    from lbf_spark import fixtures
    from lbf_spark.functions.codec import decode_image
    from lbf_spark.operators.images import (
        image_quality_gate, pixel_moments, transcode,
    )

    pdf = fixtures.generate_events(n_rows=24, n_entities=4)
    ev = fixtures.events_to_spark(spark, pdf).select(
        "image_id", "bytes", "fmt"
    )
    got = pixel_moments(ev).toPandas().set_index("image_id")
    for iid, data, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
        img = decode_image(bytes(data), fmt).astype(np.int64)
        r = got.loc[iid]
        assert r.n_px == img.size and r.px_sum == img.sum()
        assert r.px_sum2 == (img * img).sum()
        assert r.n_low == (img < 8).sum() and r.n_high == (img > 247).sum()
    # roundtrip invariance (the q169 law, spot-checked here)
    rt = pixel_moments(transcode(ev, "png")).toPandas().set_index("image_id")
    for c in ("n_px", "px_sum", "px_sum2", "n_low", "n_high"):
        assert (got[c].sort_index() == rt[c].sort_index()).all()

    # gate semantics on a hand-built moments frame
    mrows = [
        # (id, n_px, px_sum, px_sum2, n_low, n_high)
        ("ok",      1000, 128_000, 21_000_000, 10, 10),
        ("dark",    1000,  10_000, 21_000_000,  0,  0),
        ("bright",  1000, 250_000, 63_000_000,  0,  0),
        # mean inside, variance ~0 -> flat
        ("flat",    1000, 128_000, 1000 * 128 * 128, 0, 0),
        # dark AND clipped: priority order reports 'dark' first
        ("darkclip", 1000, 10_000, 21_000_000, 600, 0),
        ("clipped", 1000, 128_000, 21_000_000, 400, 200),
    ]
    m = spark.createDataFrame(
        mrows,
        "image_id string, n_px long, px_sum long, px_sum2 long,"
        " n_low long, n_high long",
    )
    g = image_quality_gate(
        m, min_mean=16.0, max_mean=240.0, min_std=4.0,
        max_extreme_frac=0.5,
    ).toPandas().set_index("image_id")
    assert bool(g.loc["ok", "keep"]) and g.loc["ok", "reason"] is None
    assert g.loc["dark", "reason"] == "dark"
    assert g.loc["bright", "reason"] == "bright"
    assert g.loc["flat", "reason"] == "flat"
    assert g.loc["darkclip", "reason"] == "dark"  # priority order
    assert g.loc["clipped", "reason"] == "clipped"
    assert not g.loc["clipped", "keep"]


def test_pq_codes_matches_numpy(spark):
    """PQ codes equal the numpy per-subspace argmin; distortion is the
    per-subspace squared error; self-coding of codebook rows is exact;
    indivisible dim raises."""
    import numpy as np
    from lbf_spark.operators.similarity import pq_codes

    rng = np.random.default_rng(13)
    dim, m, k, n = 24, 3, 4, 40
    vecs = rng.normal(size=(n, dim)).round(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    books = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(k)],
        "cid long, embedding array<double>",
    )
    got = (
        pq_codes(df, books, dim=dim, m=m)
        .toPandas()
        .set_index(["vec_id", "subspace"])
        .sort_index()
    )
    sub = dim // m
    for i in range(n):
        for j in range(m):
            sv = vecs[i, j * sub : (j + 1) * sub]
            d = np.round(
                ((vecs[:k, j * sub : (j + 1) * sub] - sv) ** 2).sum(1), 6
            )
            code = int(np.argmin(d))  # ties break to lowest cid = argmin
            assert got.loc[(i, j), "code"] == code
            assert abs(got.loc[(i, j), "dist2"] - d[code]) < 1e-9
    # codebook rows code to themselves with zero distortion
    for i in range(k):
        for j in range(m):
            assert got.loc[(i, j), "code"] == i
            assert got.loc[(i, j), "dist2"] == 0.0
    with pytest.raises(ValueError):
        pq_codes(df, books, dim=25, m=m)


def test_pq_adc_topk_matches_numpy(spark):
    """ADC distances equal the numpy lookup-table sum; ranking is the
    (dist, id) total order; a probe that IS a codebook row ranks its
    own exact-coded corpus rows by true subspace distance."""
    import numpy as np
    from lbf_spark.operators.similarity import pq_adc_topk, pq_codes

    rng = np.random.default_rng(21)
    dim, m, k, n = 24, 3, 4, 30
    vecs = rng.normal(size=(n, dim)).round(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    books = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(k)],
        "cid long, embedding array<double>",
    )
    probes = spark.createDataFrame(
        [(100 + i, [float(x) for x in vecs[i] * 0.5]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    codes = pq_codes(df, books, dim=dim, m=m).select(
        "vec_id", "subspace", "code"
    )
    got = (
        pq_adc_topk(codes, books, probes, dim=dim, m=m, k_top=n)
        .toPandas()
        .set_index(["probe_id", "vec_id"])
        .sort_index()
    )
    sub = dim // m
    pvecs = {100 + i: vecs[i] * 0.5 for i in range(3)}
    # numpy twin: codes then LUT sums
    np_codes = np.empty((n, m), dtype=int)
    for i in range(n):
        for j in range(m):
            d = np.round(
                ((vecs[:k, j*sub:(j+1)*sub] - vecs[i, j*sub:(j+1)*sub]) ** 2).sum(1), 6
            )
            np_codes[i, j] = int(np.argmin(d))
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x):  # Spark F.round is HALF_UP; np.round is half-even
        return Decimal(repr(float(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )

    def seqd2(a, b):  # engine folds LEFT-TO-RIGHT; numpy .sum is pairwise
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    for pid, pv in pvecs.items():
        lut = [
            [r6(seqd2(vecs[c, j*sub:(j+1)*sub], pv[j*sub:(j+1)*sub]))
             for c in range(k)]
            for j in range(m)
        ]  # (m, k) exact decimals
        for i in range(n):
            exp = float(sum(lut[j][np_codes[i, j]] for j in range(m)))
            assert abs(got.loc[(pid, i), "adc_dist2"] - exp) < 1e-9
        # rank law: sorted by (dist, id)
        g = got.loc[pid].reset_index().sort_values("rnk")
        pairs = list(zip(g.adc_dist2, g.vec_id))
        assert pairs == sorted(pairs)


def test_ivfpq_topk_laws(spark):
    """Candidates come only from the probe's nprobe nearest cells;
    with nprobe = all cells the ranking degenerates to plain PQ-ADC;
    a probe sitting on a cell centroid retrieves that cell's members."""
    import numpy as np
    from lbf_spark.operators.similarity import (
        ivfpq_topk, pq_adc_topk, pq_codes,
    )

    rng = np.random.default_rng(31)
    dim, m = 12, 3
    # three well-separated cells along different axes
    base = np.zeros((3, dim))
    base[0, 0] = base[1, 4] = base[2, 8] = 10.0
    vecs = np.vstack([
        base[i] + rng.normal(0, 0.3, (8, dim)) for i in range(3)
    ]).round(3)  # 24 vectors, 8 per cell
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    coarse = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(3)],
        "cid long, embedding array<double>",
    )
    books = spark.createDataFrame(
        [(i, [float(x) for x in vecs[8 * i]]) for i in range(3)],
        "cid long, embedding array<double>",
    )
    probes = spark.createDataFrame(
        [(100, [float(x) for x in base[1]])],
        "vec_id long, embedding array<double>",
    )
    got = ivfpq_topk(
        df, coarse, books, probes, dim=dim, m=m, nprobe=1, k_top=8
    ).toPandas()
    # nprobe=1 at centroid 1: every hit from cell 1 = vectors 8..15
    assert (got.cluster_id == 1).all()
    assert set(got.vec_id) <= set(range(8, 16)) and len(got) == 8
    # nprobe = all cells ==> identical to flat PQ-ADC over all codes
    codes = pq_codes(df, books, dim=dim, m=m).select(
        "vec_id", "subspace", "code"
    )
    flat = pq_adc_topk(
        codes, books, probes, dim=dim, m=m, k_top=10
    ).toPandas().sort_values("rnk")
    full = ivfpq_topk(
        df, coarse, books, probes, dim=dim, m=m, nprobe=3, k_top=10
    ).toPandas().sort_values("rnk")
    assert list(full.vec_id) == list(flat.vec_id)
    assert np.allclose(full.adc_dist2, flat.adc_dist2)
