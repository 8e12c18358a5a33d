"""Plan-quality, resumability, WPS, and spark-submit packaging tests."""

import glob
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from lbf_spark import fixtures
from lbf_spark.operators import windows as W
from lbf_spark.operators.asof import asof_join, interval_join
from lbf_spark.plans import pipeline as P


def _explain_str(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_scan(spark):
    """Predicates and column pruning must reach the parquet scan."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_quantity") < 25).select("l_orderkey", "l_quantity")
    plan = _explain_str(q)
    assert "PushedFilters" in plan and "LessThan(l_quantity" in plan
    # pruned read schema: only the two referenced columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_interval_join_is_hash_not_nested_loop(spark, tiny_events, tiny_anchors):
    """Range binning must turn the interval join into a hash join —
    BroadcastNestedLoopJoin is O(events × anchors) and unusable at scale."""
    ev = fixtures.events_to_spark(spark, tiny_events).select("entity", "ts")
    an = fixtures.anchors_to_spark(spark, tiny_anchors)
    plan = _explain_str(interval_join(ev, an, lower=-999, upper=0))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_asof_union_strategy_is_pure_jvm(spark, tiny_events, tiny_anchors):
    """The default as-of strategy must contain no Python evaluation."""
    ev = fixtures.events_to_spark(spark, tiny_events).select(
        "entity", "ts", "duration"
    )
    an = fixtures.anchors_to_spark(spark, tiny_anchors)
    plan = _explain_str(asof_join(ev, an, select=["ts", "duration"]))
    for python_node in ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert python_node not in plan, python_node
    assert "Window" in plan


def test_event_features_single_window_exchange(spark, tiny_events):
    """All four window features must share ONE hash exchange + sort."""
    ev = fixtures.events_to_spark(spark, tiny_events)
    plan = _explain_str(P.event_features(ev, P.FeatureConfig()))
    # exactly one exchange introduced by the window stage (hash on entity);
    # the round-robin decode repartition is the only other exchange
    assert plan.count("hashpartitioning(entity") == 1


def test_checkpoint_resume_reuses_stages(spark, tiny_events, tiny_anchors, tmp_path):
    """Kill/resume: a re-run with the same config must reuse every
    finished stage (north_rule resumability); changing the config gets
    a fresh run_id and recomputes."""
    ev = fixtures.events_to_spark(spark, tiny_events)
    an = fixtures.anchors_to_spark(spark, tiny_anchors)
    cfg = P.FeatureConfig(span=1000, bucket_w=100)
    ckdir = str(tmp_path / "ckpt")

    m1 = P.run_pipeline(ev, an, cfg, ckdir, spark)
    assert not any(s["reused"] for s in m1["stages"].values())
    assert os.path.exists(m1["metrics_path"])

    # simulate a crash after stage 1: delete downstream checkpoints
    rid = P.run_id(cfg)
    for stage in ("point_in_time", "vectors"):
        subprocess.run(["rm", "-rf", os.path.join(ckdir, rid, stage)], check=True)

    m2 = P.run_pipeline(ev, an, cfg, ckdir, spark)
    assert m2["stages"]["event_features"]["reused"]          # survived the crash
    assert not m2["stages"]["point_in_time"]["reused"]       # recomputed
    assert m2["n_vectors"] == m1["n_vectors"]

    m3 = P.run_pipeline(ev, an, cfg, ckdir, spark)           # full resume
    assert all(s["reused"] for s in m3["stages"].values())
    # a reused stage reads its checkpoint lazily: no generated code
    assert all(s["codegen_compiles"] == 0 for s in m3["stages"].values())
    assert all(s["codegen_compile_ms"] == 0 for s in m3["stages"].values())
    with open(m3["metrics_path"]) as fh:
        assert json.load(fh)["stages"] == m3["stages"]

    m4 = P.run_pipeline(ev, an, P.FeatureConfig(span=1500, bucket_w=100), ckdir, spark)
    assert m4["run_id"] != m1["run_id"]
    assert not m4["stages"]["event_features"]["reused"]


def test_checkpoint_manifest_lineage(spark, tiny_events, tmp_path):
    ev = fixtures.events_to_spark(spark, tiny_events).select("entity", "ts")
    df = P.checkpoint(ev, str(tmp_path), "ridx", "stage1", spark)
    man = P.load_manifest(str(tmp_path), "ridx", "stage1")
    assert man["run_id"] == "ridx" and man["files"]
    assert df.count() == len(tiny_events)


def test_run_pipeline_file_uri_checkpoint_dir(spark, tiny_events, tiny_anchors, tmp_path):
    """A scheme-prefixed checkpoint_dir (file:// standing in for
    hdfs://, s3a://) must work end-to-end: write, manifest, resume."""
    ev = fixtures.events_to_spark(spark, tiny_events)
    an = fixtures.anchors_to_spark(spark, tiny_anchors)
    cfg = P.FeatureConfig(span=1000, bucket_w=100)
    ckdir = "file://" + str(tmp_path / "ckpt_uri")
    m1 = P.run_pipeline(ev, an, cfg, ckdir, spark)
    assert not any(s["reused"] for s in m1["stages"].values())
    m2 = P.run_pipeline(ev, an, cfg, ckdir, spark)
    assert all(s["reused"] for s in m2["stages"].values())
    assert m2["n_vectors"] == m1["n_vectors"]


def test_wps_matches_numpy_oracle(spark, tiny_events, tiny_anchors):
    """A7 windowed protection score vs a direct numpy reimplementation."""
    ev = fixtures.events_to_spark(spark, tiny_events)
    an = fixtures.anchors_to_spark(spark, tiny_anchors)
    got = (
        W.wps(ev, an, window=300, max_duration=400, median_window=10)
        .toPandas()
        .sort_values(["entity", "anchor_ts"], ignore_index=True)
    )
    rows = []
    for a in tiny_anchors.itertuples(index=False):
        g = tiny_events[tiny_events.entity == a.entity]
        s = g.ts.to_numpy()
        e = (g.ts + g.duration).to_numpy()
        lo, hi = a.anchor_ts - 150, a.anchor_ts + 150
        span = int(((s <= lo) & (e >= hi)).sum())
        ep = int((((s >= lo) & (s <= hi)) | ((e >= lo) & (e <= hi))).sum())
        rows.append((a.entity, a.anchor_ts, span - ep))
    exp = pd.DataFrame(rows, columns=["entity", "anchor_ts", "wps_raw"]).sort_values(
        ["entity", "anchor_ts"], ignore_index=True
    )
    med = exp.groupby("entity")["wps_raw"].transform(
        lambda x: x.rolling(10, min_periods=1).median()
    )
    assert np.array_equal(got["wps_raw"].to_numpy(), exp["wps_raw"].to_numpy())
    assert np.allclose(got["wps"], exp["wps_raw"] - med)


@pytest.mark.slow
def test_spark_submit_pyfiles_job(tmp_path):
    """End-to-end spark-submit --py-files run of the packaged pipeline
    through the CLI's spark-submit target, from OUTSIDE the repo (the
    north_rule packaging requirement)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = fixtures.generate_events(800, 2)
    an = fixtures.generate_anchors(ev, n_per_entity=5)
    ev_p, an_p = str(tmp_path / "ev.parquet"), str(tmp_path / "an.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), ev_p)
    pq.write_table(pa.Table.from_pandas(an, preserve_index=False), an_p)

    from lbf_spark.packaging import build_pyfiles_zip

    zip_path = build_pyfiles_zip()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--py-files", zip_path,
            "--conf", "spark.ui.enabled=false",
            os.path.join(repo, "jobs", "submit.py"),
            "extract",
            "--events", ev_p,
            "--anchors", an_p,
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--span", "1000",
        ],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    metrics = json.loads(out.stdout.strip().splitlines()[-1])
    assert metrics["n_vectors"] > 0 and metrics["total_wall_sec"] > 0
    assert glob.glob(str(tmp_path / "ckpt" / "*" / "metrics.json"))


@pytest.mark.slow
def test_spark_submit_launcher_settings_win(tmp_path):
    """Under spark-submit the launcher's --master and --conf win over
    get_spark's defaults, which still fill in every key it left unset
    but the driver memory: the running driver JVM cannot take it."""
    from lbf_spark import session
    from lbf_spark.packaging import build_pyfiles_zip

    probe = tmp_path / "probe.py"
    probe.write_text(
        "import json\n"
        "from lbf_spark.session import get_spark\n"
        "conf = get_spark().sparkContext.getConf()\n"
        "print(json.dumps({k: conf.get(k) for k in (\n"
        "    'spark.master', 'spark.sql.shuffle.partitions',\n"
        "    'spark.sql.codegen.cache.maxEntries', 'spark.driver.memory')}))\n"
    )
    out = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=3",
            "--conf", "spark.ui.enabled=false",
            "--py-files", build_pyfiles_zip(),
            str(probe),
        ],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == {
        "spark.master": "local[2]",
        "spark.sql.shuffle.partitions": "3",
        "spark.sql.codegen.cache.maxEntries": str(session.CODEGEN_CACHE_ENTRIES),
        "spark.driver.memory": None,
    }


def test_peter_ulz_plan_is_jvm_hash_join(spark, tiny_events, tiny_anchors):
    """A4 coverage must compile to a hash join (never nested-loop) with
    zero Python nodes."""
    from lbf_spark.operators.windows import peter_ulz_coverage

    ev = fixtures.events_to_spark(spark, tiny_events).select(
        "entity", "ts", "duration"
    )
    an = fixtures.anchors_to_spark(spark, tiny_anchors)
    plan = _explain_str(
        peter_ulz_coverage(ev, an, span=1000, bucket_w=100)
    )
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan
    for python_node in ("InPandas", "EvalPython"):
        assert python_node not in plan, python_node


def test_text_filters_are_pure_jvm(spark):
    """Gopher gates + repetition filters must contain no Python nodes
    (they run inside whole-stage codegen / hash aggregates)."""
    from lbf_spark.operators import text

    df = spark.createDataFrame(
        [(1, "some words here for the test runs fine")],
        "doc_id long, text string",
    )
    for out in (text.gopher_quality(df), text.ngram_repetition(df)):
        plan = _explain_str(out)
        for python_node in ("InPandas", "EvalPython"):
            assert python_node not in plan, python_node


def test_curation_gates_run_once_and_no_python_rdd(spark, tmp_path):
    """q87's final executed plan evaluates the trigram explode once
    (exact dedup is the repetition gate's only consumer) and holds no
    Python RDD scan (the quota table is a LocalRelation)."""
    from lbf_spark.queries import QUERIES

    rng = np.random.default_rng(7)
    vocab = [f"{w}word" for w in "abcdefghijklmnopqrstuvwxyz"]
    texts = [" ".join(rng.choice(vocab, 30)) for _ in range(48)]
    texts += texts[:8]  # exact duplicates under new ids
    pd.DataFrame({
        "doc_id": np.arange(len(texts), dtype="int64"),
        "text": texts,
        "source": [f"src{i % 4}" for i in range(len(texts))],
    }).to_parquet(tmp_path / "documents.parquet")
    df = QUERIES["q87_curation_pipeline"][0](spark, str(tmp_path))
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # the final plan, query stages inlined
    plan = plan.toString()
    assert plan.count("Generate explode") == 1, plan
    assert "ExistingRDD" not in plan, plan


def test_hybrid_event_features_keeps_fused_exchange_for_cold_entities(
    spark, tiny_events
):
    """With hot_slice_width set, the non-hot branch must still be the
    fused single-exchange window plan (the hybrid does not tax cold
    entities), and the hot branch must group by (entity, _slice)."""
    ev = fixtures.events_to_spark(spark, tiny_events)
    cfg = P.FeatureConfig(hot_slice_width=4000)
    plan = _explain_str(P.event_features(ev, cfg))
    assert "Union" in plan              # two branches
    assert "_slice" in plan             # sliced branch present


def test_hot_entities_counts_pass_auto_threshold(spark):
    """Hot entities come from one counts pass with the auto threshold
    2·total // shuffle_partitions: 800 rows over 8 partitions → 200, so
    only the 600-row entity is hot, not the 20 ten-row ones."""
    rows = [("hot_e", 1000 + i) for i in range(600)]
    rows += [
        (f"bg_{j:02d}", 5000 + j * 100 + i) for j in range(20) for i in range(10)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["entity", "ts"])
    ).withColumn("v", F.lit(1.0))
    assert P._hot_entities(df) == ["hot_e"]


def test_tfidf_and_bm25_broadcast_small_sides(spark):
    """The vocab-df and corpus-scalar sides must broadcast — a
    SortMergeJoin against a |vocab|-row side would shuffle the whole
    exploded corpus twice."""
    from lbf_spark.operators.text import bm25_scores, tfidf_topk

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * (i % 4 + 1)) for i in range(30)],
        "doc_id long, text string",
    )
    for df in (tfidf_topk(docs), bm25_scores(docs, ["alpha", "beta"])):
        plan = _explain_str(df)
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        for python_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert python_node not in plan, python_node


def test_nearest_centroid_broadcasts_k_rows(spark):
    """Centroid side is k rows — must be the broadcast build side (BNLJ
    over k rows is the k·n distance matrix, the intended cost); the
    vector side must never shuffle for the join itself."""
    from lbf_spark.operators.similarity import nearest_centroid_join

    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    cents = df.filter("vec_id < 3").selectExpr("vec_id as cid", "embedding")
    plan = _explain_str(nearest_centroid_join(df, cents))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    for python_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert python_node not in plan, python_node


def test_jaccard_prefix_plan_is_hash_joins_no_python(spark):
    """The prefix-filtered jaccard plan must be JVM joins end-to-end:
    no cartesian product, no BroadcastNestedLoopJoin, and no Python
    eval nodes anywhere (shingling, df ranking, prefix slicing,
    candidate join, and verify are all column expressions)."""
    from lbf_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"some shared words plus tail token{i}") for i in range(8)],
        "doc_id long, text string",
    )
    sh = dedup.with_shingles(docs, "doc_id", "text", 3)
    plan = _explain_str(dedup.jaccard_pairs_auto(sh, 0.8))
    dedup.release_caches()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" in plan


def test_shuffle_shards_plan_single_exchange_no_python(spark):
    """shuffle_shards: exactly one hashpartitioning(shard) exchange
    (the exporter's one legitimate shuffle) + a per-shard sort; pure
    JVM (md5/conv/row_number are column expressions)."""
    from lbf_spark.operators import distributions as D

    df = spark.range(200).withColumnRenamed("id", "doc_id")
    plan = _explain_str(D.shuffle_shards(df, n_shards=8, id_col="doc_id"))
    tree = plan.split("\n\n")[0]  # operator tree (details repeat names)
    assert tree.count("Exchange") == 1
    assert "hashpartitioning(shard" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan


def test_token_budget_plan_broadcasts_budgets_one_window_exchange(spark):
    """token_budget_sample: the budget map joins as a broadcast (never
    a shuffle of the corpus onto a 20-row map) and the prefix-sum
    window adds exactly one hashpartitioning(by) exchange; pure JVM."""
    from lbf_spark.operators import distributions as D

    df = spark.createDataFrame(
        [(i, f"s{i % 4}", 10 + i) for i in range(64)],
        "doc_id long, src string, n_tok long",
    )
    budgets = {f"s{k}": 100 for k in range(4)}
    plan = _explain_str(D.token_budget_sample(
        df, budgets, by="src", id_col="doc_id", token_col="n_tok"
    ))
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(src" in plan
    # one data exchange (the window) + the broadcast exchange only
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_series_feature_plans_single_entity_exchange(spark):
    """The round-6 per-series family (time-decay EWMA, trend,
    autocorr) must each cost exactly ONE hashpartitioning(entity)
    exchange — window and groupBy reuse the same partitioning — and
    stay pure JVM (no Python eval in the plan)."""
    df = spark.createDataFrame(
        [("e%d" % (i % 4), i, i * 1000, float(i % 7)) for i in range(256)],
        "entity string, event_id long, ts long, value double",
    )
    tde = W.time_decay_ewma(
        df, "value", "ts", half_life=5e3, window=4,
        by="entity", tiebreak="event_id",
    )
    plan = _explain_str(tde)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "hashpartitioning(entity" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    tr = W.trend(df, "value", "ts", by="entity")
    plan = _explain_str(tr)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1       # min-ts window + groupBy fused
    assert "hashpartitioning(entity" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_panel_corr_plan_joins_aggregates_not_raw_rows(spark):
    """panel_corr_pairs must self-join the (entity, bucket) AGGREGATE
    frame, never raw events: the join keys are the gridded frame's
    bucket column and every exchange is on aggregate output."""
    from lbf_spark.operators.stats import panel_corr_pairs

    df = spark.createDataFrame(
        [("e%d" % (i % 4), i * 10_000_000, float(i % 5)) for i in range(512)],
        "entity string, ts long, value double",
    )
    out = panel_corr_pairs(df, "value", by="entity", ts_col="ts",
                           bucket_us=50_000_000, min_common=2)
    plan = _explain_str(out)
    # the pair stats aggregate over the join of two aggregated sides:
    # at least two pre-join HashAggregates and a join on __bk
    assert plan.count("HashAggregate") >= 2
    assert "__bk" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_subsample_ci_plan_map_side_partials(spark):
    """subsample_ci: the ×32 explode feeds ONE map-side-combined
    groupBy (partial_ aggregation before the exchange), and the final
    per-group pass runs over ≤32 rows each — no second scan of the
    exploded frame."""
    from lbf_spark.operators.stats import subsample_ci

    df = spark.createDataFrame(
        [("g%d" % (i % 3), i, float(i % 11)) for i in range(300)],
        "grp string, event_id long, value double",
    )
    plan = _explain_str(subsample_ci(df, "value", by="grp", id_col="event_id"))
    assert "partial_" in plan                # map-side combine present
    assert "Generate explode" in plan or "explode" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
