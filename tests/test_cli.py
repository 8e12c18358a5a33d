"""CLI front-end (lbf_spark/cli.py — the reference's click-command
analog, and through jobs/submit.py the spark-submit target): every
subcommand drives the engine's public functions; these tests run them
end-to-end on tiny inputs."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from lbf_spark.cli import main


def test_stages_and_queries_listing(capsys):
    assert main(["stages", "-v"]) == 0
    out = capsys.readouterr().out
    assert "event_features" in out and "point_in_time" in out
    assert "--span" in out  # verbose shows config fields

    assert main(["queries", "--oracled-only"]) == 0
    out = capsys.readouterr().out
    assert "q01_filter_project" in out and "rows-only" not in out
    assert main(["queries"]) == 0
    assert "rows-only" in capsys.readouterr().out


def test_cli_dedup_and_curate(spark, tmp_path, capsys):
    docs = pd.DataFrame({
        "doc_id": range(6),
        "text": [
            "the quick brown fox jumps over the lazy dog and runs away",
            "the quick brown fox jumps over the lazy dog and runs away",
            "the quick brown fox jumps over the lazy dog and walks away",
            "completely different text about der die und das nicht mehr",
            "le chat est sur la table et les livres sont dans le sac bleu",
            "el gato es una mascota que vive con los humanos para siempre",
        ],
        "source": ["web"] * 3 + ["books"] * 3,
    })
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(docs).write.parquet(src)

    out_dir = str(tmp_path / "dedup_out")
    assert main(["dedup", "--documents", src, "--out", out_dir,
                 "--exact-jaccard", "--threshold", "0.6"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs"] == 6
    clusters = spark.read.parquet(f"{out_dir}/clusters").toPandas()
    assert len(clusters) == 6
    # docs 0/1 exact dups and 2 near-dup → one keeper for {0,1,2}
    c012 = clusters[clusters.doc_id.isin([0, 1, 2])]
    assert c012.cluster_id.nunique() == 1 and c012.is_keeper.sum() == 1

    cur_dir = str(tmp_path / "curate_out")
    assert main(["curate", "--documents", src, "--out", cur_dir,
                 "--min-words", "1", "--near-dup",
                 "--near-dup-method", "jaccard",
                 "--threshold", "0.6"]) == 0
    funnel = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert funnel["input"] == 6
    assert funnel["near_dedup"] < funnel["input"]
    kept = spark.read.parquet(f"{cur_dir}/kept")
    assert kept.count() == funnel[list(funnel)[-1]] or kept.count() > 0


def test_cli_dedup_checkpoint_dir_is_reliable(spark, tmp_path, capsys):
    """--checkpoint-dir runs dup_clusters' reliable arm: its rounds land
    as checkpoint files in that dir, and the clusters match the default
    local-checkpoint run."""
    import glob

    docs = pd.DataFrame({
        "doc_id": range(4),
        "text": ["alpha beta gamma delta epsilon zeta eta theta"] * 3
        + ["completely different words in this last document here"],
    })
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(docs).write.parquet(src)
    got = {}
    for name, extra in (("local", []),
                        ("reliable", ["--checkpoint-dir", str(tmp_path / "ck")])):
        assert main(["dedup", "--documents", src, "--out",
                     str(tmp_path / name), *extra]) == 0
        assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == {
            "docs": 4, "keepers": 2,
        }
        got[name] = (
            spark.read.parquet(str(tmp_path / name / "clusters"))
            .toPandas().sort_values("doc_id", ignore_index=True)
        )
    assert got["reliable"].equals(got["local"])
    assert glob.glob(str(tmp_path / "ck" / "*" / "rdd-*"))


def test_cli_table_commands(spark, tmp_path, tiny_events, capsys):
    from lbf_spark import fixtures

    df = fixtures.events_to_spark(spark, tiny_events).select(
        "image_id", "entity", "ts", "caption", "phash"
    )
    path = str(tmp_path / "cli_tbl")
    from lbf_spark.sources import table as TBL

    TBL.write_table(df.limit(400), path, mode="overwrite",
                    n_buckets=2, ts_unit_day=10_000)
    TBL.write_table(df.subtract(df.limit(400)), path, mode="append",
                    n_buckets=2, ts_unit_day=10_000)

    assert main(["table", "snapshots", path]) == 0
    lines = [json.loads(x) for x in
             capsys.readouterr().out.strip().splitlines()]
    assert [s["snapshot_id"] for s in lines] == [1, 2]

    assert main(["table", "export-iceberg", path]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["snapshots"] == 2

    assert main(["table", "expire", path, "--keep-last", "1"]) == 0
    capsys.readouterr()
    assert main(["table", "orphans", path]) == 0
    capsys.readouterr()
    from lbf_spark.sources.table import scan
    assert scan(spark, path).count() == df.count()


def test_cli_plot(spark, tmp_path, capsys):
    rows = [(f"s{k}", p, 1.0 + (k if 3 <= p < 5 else 0))
            for k in range(4) for p in range(8)]
    src = str(tmp_path / "summary.parquet")
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["entity", "bucket", "signal"])
    ).write.parquet(src)
    out = str(tmp_path / "sig.svg")
    assert main(["plot", "signal", "--summary", src, "--out", out,
                 "--n-positions", "8", "--center-n", "2",
                 "--top", "1", "--bottom", "1",
                 "--smooth-window", "5"]) == 0
    assert open(out).read().count("<polyline") == 2

    out2 = str(tmp_path / "heat.svg")
    assert main(["plot", "heatmap", "--summary", src, "--out", out2,
                 "--n-positions", "8", "--center-n", "2",
                 "--top", "1", "--bottom", "1"]) == 0
    assert "<rect" in open(out2).read()


def test_cli_unknown_stage_config_rejected(spark, tmp_path):
    """extract's --config-json goes through validate_config — an
    unknown key is a loud error, not a silent ignore."""
    from lbf_spark.plans.registry import InvalidStageConfigError

    with pytest.raises(InvalidStageConfigError):
        main(["extract", "--events", "x", "--anchors", "y",
              "--checkpoint-dir", "z",
              "--config-json", '{"not_a_field": 1}'])


def test_cli_dedup_semantic_and_tile(spark, tmp_path, capsys):
    """--method semantic clusters near-identical embeddings; --method
    tile clusters an image with its verbatim copy."""
    import pandas as pd

    # seeds are the FIRST n-cells ids, so ids 0/1 must be the two
    # distinct directions; near-dups of each follow.
    emb = pd.DataFrame({
        "doc_id": range(6),
        "embedding": [
            [1.0, 0.0], [0.0, 1.0],              # diverse cell seeds
            [0.99, 0.05], [0.05, 0.99],          # near-dups of 0 / 1
            [0.7, 0.7], [-1.0, 0.2],             # loners
        ],
    })
    src = str(tmp_path / "emb.parquet")
    spark.createDataFrame(emb).write.parquet(src)
    out_dir = str(tmp_path / "sem_out")
    assert main(["dedup", "--documents", src, "--out", out_dir,
                 "--method", "semantic", "--threshold", "0.95",
                 "--n-cells", "2"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs"] == 6 and rep["keepers"] < 6
    cl = spark.read.parquet(f"{out_dir}/clusters").toPandas()
    c02 = cl[cl.doc_id.isin([0, 2])]
    assert c02.cluster_id.nunique() == 1 and c02.is_keeper.sum() == 1

    from lbf_spark import fixtures
    ev = fixtures.generate_events(n_rows=12, n_entities=3)
    ev = ev[["image_id", "bytes", "fmt"]]
    dup = ev.head(3).copy()
    dup["image_id"] = dup["image_id"] + "_c"
    img_src = str(tmp_path / "imgs.parquet")
    spark.createDataFrame(pd.concat([ev, dup])).write.parquet(img_src)
    tile_dir = str(tmp_path / "tile_out")
    assert main(["dedup", "--documents", img_src, "--out", tile_dir,
                 "--method", "tile", "--id-col", "image_id",
                 "--min-shared", "1"]) == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["docs"] == 15 and rep2["keepers"] == 12


def test_cli_imageprep(spark, tmp_path, capsys):
    from lbf_spark import fixtures

    ev = fixtures.generate_events(n_rows=24, n_entities=3)
    ev = ev[["image_id", "bytes", "fmt", "w", "h"]]
    src = str(tmp_path / "imgs.parquet")
    spark.createDataFrame(ev).write.parquet(src)
    out_dir = str(tmp_path / "prep_out")
    assert main(["imageprep", "--images", src, "--out", out_dir,
                 "--targets", "16x16,24x16,16x24", "--mode", "cover",
                 "--batch-size", "4", "--n-shards", "2",
                 "--to-fmt", "png"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == json.load(open(f"{out_dir}/report.json"))
    assert rep["n_images"] == 24
    assert sum(b["n"] for b in rep["buckets"].values()) == 24
    got = spark.read.parquet(f"{out_dir}/prepared").toPandas()
    assert ((got.w == got.tgt_w) & (got.h == got.tgt_h)).all()
    full = got[got.is_complete].drop_duplicates(["bucket_id", "shard", "batch_no"])
    n_full = full.groupby("bucket_id").size()
    assert {b: v["complete_batches"] for b, v in rep["buckets"].items()} == {
        str(b): int(n_full.get(b, 0)) for b in got.bucket_id.unique()
    }


def test_cli_ingest_two_batches(spark, tmp_path):
    """`ingest` runs consecutive batches against the standing store:
    ids advance from the hwm, near-dups of the corpus drop, stats come
    back as the JSON line."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lbf_spark.cli import main

    base = "shared boilerplate sentence that repeats across batches fully"
    b1 = tmp_path / "in1"
    b2 = tmp_path / "in2"
    for d, rows in (
        (b1, [(1, base + " one"), (2, "totally unique first text here")]),
        (b2, [(3, base + " two"), (4, "another unique second text here")]),
    ):
        d.mkdir()
        pq.write_table(
            pa.Table.from_pydict(
                {"doc_id": [r[0] for r in rows],
                 "text": [r[1] for r in rows]}
            ),
            str(d / "part.parquet"),
        )
    store = str(tmp_path / "store")
    rc1 = main([
        "ingest", "--input", str(b1), "--store", store,
        "--threshold", "0.5", "--master", "local[2]",
    ])
    rc2 = main([
        "ingest", "--input", str(b2), "--store", store,
        "--threshold", "0.5", "--master", "local[2]",
    ])
    assert rc1 == 0 and rc2 == 0
    state = json.load(open(f"{store}/state.json"))
    assert state["batch_hwm"] == 1
    corpus = spark.read.parquet(f"{store}/corpus/batch-*")
    kept = {r["doc_id"] for r in corpus.collect()}
    assert kept == {1, 2, 4}  # 3 near-dups 1 across batches


def test_cli_ingest_corrupt_state_raises(spark, tmp_path):
    """A corrupt state.json is an error, never a fresh store: read as
    "fresh" it would ingest the next batch as batch 0 against no corpus
    and overwrite the committed batch-00000."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    store = tmp_path / "store"
    committed = store / "corpus" / "batch-00000" / "part-0.parquet"
    committed.parent.mkdir(parents=True)
    pq.write_table(
        pa.Table.from_pydict({"doc_id": [1], "text": ["the committed doc"]}),
        str(committed),
    )
    (store / "state.json").write_text('{"batch_hwm": 0')  # torn write
    batch = tmp_path / "in"
    batch.mkdir()
    pq.write_table(
        pa.Table.from_pydict({"doc_id": [2], "text": ["a new doc"]}),
        str(batch / "part.parquet"),
    )
    before = committed.read_bytes()
    with pytest.raises(ValueError, match="state.json"):
        main(["ingest", "--input", str(batch), "--store", str(store)])
    assert sorted(p.name for p in committed.parent.iterdir()) == ["part-0.parquet"]
    assert committed.read_bytes() == before


def test_cli_queries_explain(spark, capsys):
    """queries --explain prints the formatted physical plan (pushdown
    visible) for a catalog entry."""
    from lbf_spark.cli import main

    rc = main([
        "queries", "--explain", "q01_filter_project",
        "--sf-dir", "/root/testdata/sf0.001", "--master", "local[2]",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "PushedFilters" in out and "Scan parquet" in out
