"""Engine vs numpy-oracle allclose gates for the flagship pipeline."""

import numpy as np
import pandas as pd
import pytest

from lbf_spark import fixtures, oracle
from lbf_spark.plans import pipeline as P


CFG = P.FeatureConfig(span=2000, bucket_w=100, flank_n=5, rolling_w=16, session_gap=1000)


@pytest.fixture(scope="module")
def spark_inputs(spark, tiny_events, tiny_anchors):
    ev = fixtures.events_to_spark(spark, tiny_events)
    an = fixtures.anchors_to_spark(spark, tiny_anchors)
    return ev, an


@pytest.fixture(scope="module")
def engine(spark_inputs):
    ev, an = spark_inputs
    return P.extract_features(ev, an, CFG)


@pytest.fixture(scope="module")
def golden(tiny_events, tiny_anchors):
    return oracle.extract_features_oracle(tiny_events, tiny_anchors, CFG)


def test_event_features_allclose(engine, golden):
    got = (
        engine["event_features"]
        .toPandas()
        .sort_values(["entity", "ts"], ignore_index=True)
    )
    exp = golden["event_features"].sort_values(["entity", "ts"], ignore_index=True)
    assert len(got) == len(exp)
    for col in ["pixel_mean", "pixel_std", "r_mean", "g_mean", "b_mean", "roll_mean"]:
        assert np.allclose(got[col], exp[col], rtol=1e-9, atol=1e-12), col
    assert np.array_equal(got["roll_count"], exp["roll_count"])
    assert np.array_equal(got["session_id"], exp["session_id"])
    assert np.allclose(
        got["phash_drift"].astype(float), exp["phash_drift"], equal_nan=True
    )


def test_point_in_time_allclose(engine, golden):
    keys = ["entity", "anchor_ts", "name"]
    got = engine["point_in_time"].toPandas().sort_values(keys, ignore_index=True)
    exp = golden["point_in_time"].sort_values(keys, ignore_index=True)
    assert len(got) == len(exp)
    for col in ["pixel_mean", "roll_mean", "ts"]:
        assert np.allclose(
            got[col].astype(float), exp[col].astype(float),
            rtol=1e-9, atol=1e-12, equal_nan=True,
        ), col


def test_matrix_allclose(engine, golden):
    keys = ["entity", "anchor_ts", "name", "bucket"]
    got = engine["matrix"].toPandas().sort_values(keys, ignore_index=True)
    exp = golden["matrix"].sort_values(keys, ignore_index=True)
    assert len(got) == len(exp)
    for col in ["cov", "val_mean", "cov_norm"]:
        assert np.allclose(got[col], exp[col], rtol=1e-9, atol=1e-12), col


def test_summary_vectors_allclose(engine, golden):
    got = engine["vectors"].toPandas().sort_values(["entity", "name"], ignore_index=True)
    exp = golden["vectors"].sort_values(["entity", "name"], ignore_index=True)
    assert len(got) == len(exp)
    for gv, ev_ in zip(got["vector"], exp["vector"]):
        assert np.allclose(np.asarray(gv, dtype=float), ev_, rtol=1e-9, atol=1e-12)


def test_zero_temporal_leakage_full_pipeline(spark, tiny_events, tiny_anchors, golden):
    """Append strictly-future events; every summary vector must be
    unchanged (north_rule zero-leakage gate)."""
    future = tiny_events.copy()
    future["ts"] = future["ts"] + int(tiny_anchors["anchor_ts"].max()) + 50_000
    future["image_id"] = "future_" + future["image_id"]
    both = pd.concat([tiny_events, future], ignore_index=True)
    ev = fixtures.events_to_spark(spark, both)
    an = fixtures.anchors_to_spark(spark, tiny_anchors)
    got = (
        P.extract_features(ev, an, CFG)["vectors"]
        .toPandas()
        .sort_values(["entity", "name"], ignore_index=True)
    )
    exp = golden["vectors"].sort_values(["entity", "name"], ignore_index=True)
    assert len(got) == len(exp)
    for gv, ev_ in zip(got["vector"], exp["vector"]):
        assert np.allclose(np.asarray(gv, dtype=float), ev_, rtol=1e-9, atol=1e-12)


def test_median_summary_allclose(spark_inputs, tiny_events, tiny_anchors):
    cfg = P.FeatureConfig(summary="median")
    ev, an = spark_inputs
    got = (
        P.extract_features(ev, an, cfg)["summary"]
        .toPandas()
        .sort_values(["entity", "name", "bucket"], ignore_index=True)
    )
    exp = (
        oracle.extract_features_oracle(tiny_events, tiny_anchors, cfg)["summary"]
        .sort_values(["entity", "name", "bucket"], ignore_index=True)
    )
    assert np.allclose(got["signal"], exp["signal"], rtol=1e-9, atol=1e-12)


def test_run_id_stable():
    assert P.run_id(CFG) == P.run_id(P.FeatureConfig(**CFG.__dict__))
    assert P.run_id(CFG) != P.run_id(P.FeatureConfig(span=4000))


def test_batch_multi_anchor_equals_per_set(spark, tiny_events, tiny_anchors):
    """One batched pass over N anchor sets (their name-tagged union)
    must equal N separate runs (scan-sharing correctness, §3.2)."""
    ev = fixtures.events_to_spark(spark, tiny_events)
    sets = {
        name: fixtures.anchors_to_spark(
            spark, tiny_anchors[tiny_anchors.name == name].drop(columns=["name"]).assign(name=name)[
                ["entity", "anchor_ts", "name", "score", "strand"]
            ]
        )
        for name in ("setA", "setB")
    }
    tagged = sets["setA"].unionByName(sets["setB"])
    batched = (
        P.extract_features(ev, tagged, CFG)["summary"]
        .toPandas()
        .sort_values(["entity", "name", "bucket"], ignore_index=True)
    )
    per_set = []
    for name, an in sets.items():
        out = P.extract_features(ev, an, CFG)["summary"].toPandas()
        per_set.append(out)
    separate = (
        pd.concat(per_set, ignore_index=True)
        .sort_values(["entity", "name", "bucket"], ignore_index=True)
    )
    assert len(batched) == len(separate)
    assert np.allclose(batched["signal"], separate["signal"], rtol=1e-9, atol=1e-12)


def test_summary_min_max_and_value_col_override(spark_inputs, tiny_events, tiny_anchors):
    """Remaining summary modes + a non-default value column (r_mean)."""
    for summary in ("min", "max"):
        cfg = P.FeatureConfig(summary=summary, value_col="r_mean")
        ev, an = spark_inputs
        got = (
            P.extract_features(ev, an, cfg)["summary"]
            .toPandas()
            .sort_values(["entity", "name", "bucket"], ignore_index=True)
        )
        exp = (
            oracle.extract_features_oracle(tiny_events, tiny_anchors, cfg)["summary"]
            .sort_values(["entity", "name", "bucket"], ignore_index=True)
        )
        assert np.allclose(got["signal"], exp["signal"], rtol=1e-9, atol=1e-12), summary


def test_summary_skip_end_to_end(spark_inputs, tiny_events, tiny_anchors):
    """summary='skip' = identity summarizer: one cov_norm vector per
    anchor row (reference lib.py:218), usable end-to-end."""
    cfg = P.FeatureConfig(summary="skip")
    ev, an = spark_inputs
    keys = ["entity", "anchor_ts", "name", "strand"]
    got = (
        P.extract_features(ev, an, cfg)["vectors"]
        .toPandas()
        .sort_values(keys, ignore_index=True)
    )
    exp = (
        oracle.extract_features_oracle(tiny_events, tiny_anchors, cfg)["vectors"]
        .sort_values(keys, ignore_index=True)
    )
    assert len(got) == len(exp) and len(got) > 0
    for gv, ev_ in zip(got["vector"], exp["vector"]):
        assert np.allclose(np.asarray(gv, dtype=float), ev_, rtol=1e-9, atol=1e-12)


def test_duplicate_anchor_rows_preserved_in_sliced_asof(spark):
    """asof_join_sliced emits one row per anchor ROW, duplicates
    included, matching the union-strategy asof_join exactly."""
    from lbf_spark import fixtures
    from lbf_spark.operators.asof import asof_join, asof_join_sliced

    ev_pd = (
        fixtures.generate_events(n_rows=400, n_entities=3)
        .drop_duplicates(subset=["entity", "ts"])  # unique (by, ts) precondition
    )
    an_pd = fixtures.generate_anchors(ev_pd, n_per_entity=5)
    an_dup = pd.concat([an_pd, an_pd.iloc[:4]], ignore_index=True)  # 4 dups
    ev = fixtures.events_to_spark(spark, ev_pd).select("entity", "ts", "duration")
    an = fixtures.anchors_to_spark(spark, an_dup)
    kw = dict(select=["duration"], tolerance=5_000)
    a = asof_join(ev, an, **kw).toPandas()
    b = asof_join_sliced(ev, an, **kw).toPandas()
    assert len(b) == len(an_dup) == len(a)
    keys = ["entity", "anchor_ts", "name"]
    a = a.sort_values(keys + ["duration"], ignore_index=True)
    b = b.sort_values(keys + ["duration"], ignore_index=True)
    assert np.allclose(
        a["duration"].astype(float), b["duration"].astype(float), equal_nan=True
    )


def test_gc_weighted_coverage_allclose(spark, tiny_events, tiny_anchors):
    """A1 weighted coverage: cov = sum(1 * gc_coef) per bucket
    (signal_transformer.py:41-46), with a deterministic non-unit weight
    derived from phash; val_mean stays count-based."""
    ev_pd = tiny_events.copy()
    ev_pd["gc_w"] = 0.5 + (ev_pd["phash"].abs() % 100) / 100.0
    cfg = P.FeatureConfig(weight_col="gc_w")
    ev = fixtures.events_to_spark(spark, ev_pd)
    an = fixtures.anchors_to_spark(spark, tiny_anchors)
    got = P.extract_features(ev, an, cfg)
    exp = oracle.extract_features_oracle(ev_pd, tiny_anchors, cfg)
    keys = ["entity", "anchor_ts", "name", "bucket"]
    gm = got["matrix"].toPandas().sort_values(keys, ignore_index=True)
    em = exp["matrix"].sort_values(keys, ignore_index=True)
    assert len(gm) == len(em)
    # weights are non-unit: weighted cov must differ from plain count
    plain = oracle.extract_features_oracle(ev_pd, tiny_anchors, P.FeatureConfig())
    assert not np.allclose(
        em["cov"], plain["matrix"].sort_values(keys, ignore_index=True)["cov"]
    )
    for col in ["cov", "val_mean", "cov_norm"]:
        assert np.allclose(gm[col], em[col], rtol=1e-9, atol=1e-12), col
    gv = got["vectors"].toPandas().sort_values(["entity", "name"], ignore_index=True)
    evv = exp["vectors"].sort_values(["entity", "name"], ignore_index=True)
    for g, e in zip(gv["vector"], evv["vector"]):
        assert np.allclose(np.asarray(g, dtype=float), e, rtol=1e-9, atol=1e-12)


def test_curate_corpus_stages_and_near_dup(spark):
    """The curation funnel drops the right docs at the right stage:
    a short doc at the quality gate, a hyper-repetitive doc at the
    repetition gate, an exact copy at dedup, a near-copy at near-dup;
    stage_counts reports the funnel monotonically."""
    from lbf_spark.plans.corpus import curate_corpus, stage_counts

    good = (
        "the quick brown fox jumps over one lazy dog while seven green "
        "turtles swim under bright stars and many curious birds watch "
        "from tall ancient trees near quiet rivers"
    )  # 28 distinct words -> zero repeated trigrams
    near = good.replace("curious", "inquisitive")        # near-dup of good
    rep = " ".join(["spam spam spam"] * 20)              # repetition gate
    other = (
        "deep beneath rolling waves silver fish drift past coral towers "
        "where gentle currents carry tiny seeds toward warm northern "
        "shores every single morning"
    )
    rows = [
        (1, good, "web"), (2, "too short", "web"), (3, rep, "web"),
        (4, good, "web"),                                 # exact dup of 1
        (5, near, "web"),                                 # near dup of 1
        (6, other, "books"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    res = curate_corpus(docs, near_dup=True, near_dup_threshold=0.5)
    kept = sorted(r["doc_id"] for r in res["kept"].select("doc_id").collect())
    assert kept == [1, 6]
    funnel = {r["stage"]: r["n_docs"] for r in stage_counts(res["stages"]).collect()}
    assert funnel["input"] == 6
    assert funnel["quality_gate"] == 5          # drops 2 (too short)
    assert funnel["repetition_gate"] == 4       # drops 3 (spam trigrams)
    assert funnel["exact_dedup"] == 3           # drops 4 (copy of 1)
    assert funnel["near_dedup"] == 2            # drops 5 (near-copy of 1)
    # quotas stage: exact per-source caps
    res2 = curate_corpus(docs, quotas={"web": 1}, near_dup=True,
                         near_dup_threshold=0.5)
    kept2 = [r["doc_id"] for r in res2["kept"].collect()]
    assert len(kept2) == 1 and kept2[0] == 1    # only 'web' listed; 1 survives


def test_stage_counts_failed_count_releases_stage_caches(spark):
    """stage_counts persists every stage frame; when counting them
    fails the persists must still be released (persisted-RDD set back
    at its baseline)."""
    from pyspark.sql import functions as F

    from lbf_spark.plans.corpus import stage_counts

    jsc = spark.sparkContext._jsc
    base = len(jsc.getPersistentRDDs())
    df = spark.range(32)
    broken = df.select(F.assert_true(F.col("id") < 0, "stage broke"))
    with pytest.raises(Exception, match="stage broke"):
        stage_counts([("input", df), ("broken", broken)])
    assert len(jsc.getPersistentRDDs()) <= base


def test_curate_corpus_quality_ranked_keeper(spark):
    """rep_score_col flips the near-dup keeper from min-id to
    argmax(score): the LONGER near-copy survives even with the larger
    id; default (no score col) still keeps the min id."""
    from pyspark.sql import functions as F

    from lbf_spark.plans.corpus import curate_corpus

    base = (
        "the quick brown fox jumps over one lazy dog while seven green "
        "turtles swim under bright stars and many curious birds watch "
        "from tall ancient trees near quiet rivers"
    )
    longer = base + " during calm violet evenings full of soft light"
    rows = [(1, base, "web"), (2, longer, "web")]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).withColumn("n_chars", F.length("text"))
    # default: min-id keeper → doc 1
    res = curate_corpus(docs, near_dup=True, near_dup_threshold=0.5)
    assert [r.doc_id for r in res["kept"].collect()] == [1]
    # quality-ranked: longest keeper → doc 2
    res2 = curate_corpus(
        docs, near_dup=True, near_dup_threshold=0.5, rep_score_col="n_chars"
    )
    assert [r.doc_id for r in res2["kept"].collect()] == [2]
    assert res2["kept"].columns == docs.columns  # schema preserved
