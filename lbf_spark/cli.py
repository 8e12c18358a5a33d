"""Command-line front-end over the engine — the reference's CLI analog.

The reference generates one click command per extraction hook with
shell autocompletion and a textual TUI (``src/lbfextract/cli.py``,
``autocompletion.py``, ``fextract/tui/app.py``). The engine analog is
one stdlib-argparse command tree, run from Python or, on a cluster,
through the spark-submit shim ``jobs/submit.py`` with the same
arguments (``spark-submit … jobs/submit.py extract --events …``):

    python -m lbf_spark stages                     # discover stages
    python -m lbf_spark queries [--oracled-only]   # catalog listing
    python -m lbf_spark extract --events E --anchors A --checkpoint-dir C
    python -m lbf_spark curate  --documents D --out O [--near-dup ...]
    python -m lbf_spark dedup   --documents D --out O [--threshold ...]
                                [--method minhash|jaccard|semantic|tile]
                                [--checkpoint-dir DFS_DIR]
    python -m lbf_spark ingest  --input B --store S [--threshold ...]
    python -m lbf_spark imageprep --images I --out O [--targets 512x512,...]
    python -m lbf_spark table snapshots|compact|expire|evolve-spec|orphans|export-iceberg PATH
    python -m lbf_spark plot signal|heatmap --summary S --out O.svg ...

Every subcommand is a thin adapter: parse/validate flags (stage configs
go through ``plans.registry.validate_config``, the voluptuous analog),
build or join a SparkSession through ``session.get_spark``, and call
the engine's public functions. ``--master`` and ``--shuffle-partitions``
default to ``get_spark``'s choice; under spark-submit the launcher's
settings win. Shell completion is available when ``argcomplete`` is
installed (``eval "$(register-python-argcomplete lbf-spark)"``) and is
a silent no-op otherwise — no hard dependency, matching the
environment's no-new-packages rule.
"""

from __future__ import annotations

import argparse
import json
import sys


def _session(args):
    from lbf_spark.session import get_spark

    return get_spark(
        "lbf_cli",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def _add_session_flags(p: argparse.ArgumentParser) -> None:
    # None = get_spark's default; under spark-submit the launcher's
    # --master and --conf win over both flags
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)


def _cmd_stages(args) -> int:
    from lbf_spark.plans import registry

    registry._register_defaults()
    for name in sorted(registry.STAGES):
        spec = registry.STAGES[name]
        print(f"{name:20s} {spec.description}")
        if args.verbose and spec.config_cls is not None:
            import dataclasses

            for f in dataclasses.fields(spec.config_cls):
                print(f"    --{f.name}: {getattr(f.type, '__name__', f.type)}"
                      f" = {f.default!r}")
    return 0


def _cmd_queries(args) -> int:
    from lbf_spark.queries import QUERIES

    if args.explain:
        fn, _oracle = QUERIES[args.explain]
        spark = _session(args)
        df = fn(spark, args.sf_dir)
        print(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ))
        return 0
    for name, (_fn, oracle) in QUERIES.items():
        if args.oracled_only and oracle is None:
            continue
        tag = "oracled" if oracle is not None else "rows-only"
        print(f"{name:36s} {tag}")
    return 0


def _cmd_extract(args) -> int:
    from lbf_spark.plans.pipeline import FeatureConfig, run_pipeline
    from lbf_spark.plans.registry import validate_config

    overrides = json.loads(args.config_json) if args.config_json else {}
    for k in ("span", "bucket_w", "flank_n", "rolling_w", "session_gap"):
        v = getattr(args, k)
        if v is not None:
            overrides.setdefault(k, v)
    cfg = validate_config("event_features", FeatureConfig, overrides)
    spark = _session(args)
    metrics = run_pipeline(
        spark.read.parquet(args.events),
        spark.read.parquet(args.anchors),
        cfg, args.checkpoint_dir, spark=spark,
    )
    print(json.dumps(metrics, default=str))
    return 0


def _cmd_curate(args) -> int:
    from lbf_spark import fsio
    from lbf_spark.plans.corpus import curate_corpus, stage_counts

    spark = _session(args)
    docs = spark.read.parquet(args.documents)
    res = curate_corpus(
        docs,
        quotas=json.loads(args.quotas) if args.quotas else None,
        id_col=args.id_col, text_col=args.text_col,
        source_col=args.source_col, min_words=args.min_words,
        max_dup_ngram_frac=args.max_dup_ngram_frac,
        near_dup=args.near_dup, near_dup_threshold=args.threshold,
        near_dup_method=args.near_dup_method, seed=args.seed,
    )
    res["kept"].write.mode("overwrite").parquet(fsio.join(args.out, "kept"))
    funnel = {
        r["stage"]: int(r["n_docs"])
        for r in stage_counts(res["stages"]).collect()
    }
    fsio.write_text_atomic(
        spark, fsio.join(args.out, "funnel.json"), json.dumps(funnel, indent=1)
    )
    print(json.dumps(funnel))
    return 0


def _cmd_dedup(args) -> int:
    from pyspark.sql import functions as F

    from lbf_spark import fsio
    from lbf_spark.operators import dedup

    spark = _session(args)
    docs = spark.read.parquet(args.documents)
    method = args.method or ("jaccard" if args.exact_jaccard else "minhash")
    if method == "jaccard":
        sh = dedup.with_shingles(docs, args.id_col, args.text_col, args.ngram)
        pairs = dedup.jaccard_pairs_auto(
            sh, threshold=args.threshold, id_col=args.id_col
        ).select("id_a", "id_b")
    elif method == "semantic":
        from lbf_spark.operators.similarity import semantic_dedup

        cents = (
            docs.orderBy(args.id_col).limit(args.n_cells)
            .select(F.col(args.id_col).alias("cid"), args.vec_col)
        )
        verdict = semantic_dedup(
            docs, cents, threshold=args.threshold,
            id_col=args.id_col, vec_col=args.vec_col,
            cent_vec=args.vec_col,
        )
        # dropped rows cluster under their cell's kept argmin-id member;
        # simplest faithful pairing: loser -> (cell, keeper) join
        keep = verdict.filter(F.col("is_kept")).groupBy("cluster_id").agg(
            F.min(args.id_col).alias("id_a")
        )
        pairs = (
            verdict.filter(~F.col("is_kept"))
            .join(keep, "cluster_id")
            .select("id_a", F.col(args.id_col).alias("id_b"))
        )
    elif method == "tile":
        from lbf_spark.operators.images import extract_patches
        from lbf_spark.util import fan_out

        pt = extract_patches(fan_out(docs), patch=8, id_col=args.id_col)
        pairs = dedup.tile_overlap_pairs(
            pt, min_shared=args.min_shared, id_col=args.id_col,
            max_df=args.max_df,
        ).select("id_a", "id_b")
    else:
        pairs = dedup.minhash_dedup_pairs(
            docs, id_col=args.id_col, text_col=args.text_col,
            n=args.ngram, num_hashes=args.num_hashes, bands=args.bands,
            threshold=args.threshold,
        ).select("id_a", "id_b")
    clusters = dedup.dup_clusters(pairs, checkpoint_dir=args.checkpoint_dir)
    out = (
        docs.select(F.col(args.id_col).alias("doc_id"))
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
        .withColumn("is_keeper", F.col("cluster_id") == F.col("doc_id"))
    )
    out.write.mode("overwrite").parquet(fsio.join(args.out, "clusters"))
    # counts are consuming actions on the cluster plan — they must run
    # BEFORE release_caches() (which now also frees the dup_clusters
    # label checkpoint blocks, unrecoverable by lineage)
    summary = {"docs": docs.count(),
               "keepers": out.filter("is_keeper").count()}
    dedup.release_caches()
    print(json.dumps(summary))
    return 0


def _cmd_imageprep(args) -> int:
    from pyspark.sql import functions as F

    from lbf_spark import fsio
    from lbf_spark.plans.imageprep import parse_targets, prep_images

    spark = _session(args)
    df = spark.read.parquet(args.images)
    out = prep_images(
        df, parse_targets(args.targets), mode=args.mode,
        batch_size=args.batch_size, n_shards=args.n_shards, seed=args.seed,
        to_fmt=args.to_fmt, plan_only=args.plan_only,
        id_col=args.id_col, w_col=args.w_col, h_col=args.h_col,
    )
    out.write.mode("overwrite").parquet(fsio.join(args.out, "prepared"))
    prepared = spark.read.parquet(fsio.join(args.out, "prepared"))
    report = {
        "n_images": prepared.count(),
        "buckets": {
            str(r["bucket_id"]): {"n": r["n"], "complete_batches": r["cb"]}
            for r in prepared.groupBy("bucket_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(
                    F.when(F.col("is_complete"),
                           F.concat_ws(":", "shard", "batch_no"))
                ).alias("cb"),
            ).collect()
        },
    }
    fsio.write_text_atomic(
        spark, fsio.join(args.out, "report.json"), json.dumps(report, indent=1)
    )
    print(json.dumps(report))
    return 0


def _cmd_ingest(args) -> int:
    from lbf_spark.streaming.stream_features import (
        dedup_ingest_batch, read_ingest_hwm,
    )

    spark = _session(args)
    batch = spark.read.parquet(args.input)
    stats = dedup_ingest_batch(
        batch, read_ingest_hwm(spark, args.store) + 1, args.store,
        threshold=args.threshold, n=args.ngram,
        num_hashes=args.num_hashes, bands=args.bands,
        id_col=args.id_col, text_col=args.text_col,
    )
    print(json.dumps(stats))
    return 0


def _cmd_table(args) -> int:
    from lbf_spark.sources import table as TBL

    spark = _session(args)
    if args.table_cmd == "snapshots":
        snaps = TBL._read_snaps(spark, f"{args.path}/metadata")
        for s in snaps:
            print(json.dumps({
                "snapshot_id": s["snapshot_id"], "mode": s["mode"],
                "added_files": len(s.get("added_files", [])),
                "batch_id": s.get("batch_id"),
            }))
    elif args.table_cmd == "compact":
        print(json.dumps(TBL.compact_table(
            spark, args.path, target_bytes=args.target_bytes
        )))
    elif args.table_cmd == "expire":
        print(json.dumps(TBL.expire_snapshots(
            spark, args.path, keep_last=args.keep_last
        )))
    elif args.table_cmd == "tag":
        if args.delete:
            TBL.delete_tag(spark, args.path, args.name)
            print(json.dumps({"deleted": args.name}))
        else:
            print(json.dumps(TBL.create_tag(
                spark, args.path, args.name,
                snapshot_id=args.snapshot_id, replace=args.replace,
            )))
    elif args.table_cmd == "tags":
        print(json.dumps(TBL.list_tags(spark, args.path)))
    elif args.table_cmd == "evolve-spec":
        snap = TBL.evolve_partition_spec(
            spark, args.path, n_buckets=args.n_buckets,
            ts_unit_day=args.ts_unit_day,
        )
        print(json.dumps({
            "snapshot_id": snap["snapshot_id"],
            "partition_spec": snap["partition_spec"],
        }))
    elif args.table_cmd == "orphans":
        print(json.dumps(TBL.remove_orphan_files(spark, args.path)))
    elif args.table_cmd == "export-iceberg":
        from lbf_spark.sources.iceberg_interop import write_iceberg_metadata

        txt = write_iceberg_metadata(spark, args.path)
        print(json.dumps({"written": f"{args.path}/metadata/"
                          "iceberg.metadata.json",
                          "snapshots": len(json.loads(txt)["snapshots"])}))
    return 0


def _cmd_plot(args) -> int:
    from lbf_spark.functions import plots as PL

    spark = _session(args)
    summary = spark.read.parquet(args.summary)
    kw = dict(
        n_positions=args.n_positions, center_n=args.center_n,
        top=args.top, bottom=args.bottom, by=args.by,
        value=args.value, position=args.position,
    )
    if args.plot_cmd == "signal":
        PL.plot_signal(summary, args.out,
                       smooth_window=args.smooth_window, **kw)
    else:
        PL.plot_heatmap(summary, args.out, **kw)
    print(json.dumps({"written": args.out}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="lbf-spark",
        description="PySpark-native feature-engineering engine CLI",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("stages", help="list registered pipeline stages")
    p.add_argument("-v", "--verbose", action="store_true",
                   help="show each stage's config fields")
    p.set_defaults(fn=_cmd_stages)

    p = sub.add_parser("queries", help="list the query catalog")
    p.add_argument("--explain", default=None, metavar="QNAME",
                   help="print the formatted physical plan of one entry")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--oracled-only", action="store_true")
    _add_session_flags(p)
    p.set_defaults(fn=_cmd_queries)

    p = sub.add_parser("extract", help="run the feature pipeline")
    p.add_argument("--events", required=True)
    p.add_argument("--anchors", required=True)
    p.add_argument("--checkpoint-dir", required=True)
    for flag in ("span", "bucket-w", "flank-n", "rolling-w", "session-gap"):
        p.add_argument(f"--{flag}", type=int, default=None)
    p.add_argument("--config-json", default=None,
                   help="FeatureConfig overrides (validated + coerced)")
    _add_session_flags(p)
    p.set_defaults(fn=_cmd_extract)

    p = sub.add_parser("curate", help="corpus curation pipeline")
    p.add_argument("--documents", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--source-col", default="source")
    p.add_argument("--quotas", default=None)
    p.add_argument("--min-words", type=int, default=20)
    p.add_argument("--max-dup-ngram-frac", type=float, default=0.3)
    p.add_argument("--near-dup", action="store_true")
    p.add_argument("--near-dup-method", default="minhash",
                   choices=["minhash", "jaccard"])
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--seed", type=int, default=42)
    _add_session_flags(p)
    p.set_defaults(fn=_cmd_curate)

    p = sub.add_parser("dedup", help="near-dup clustering")
    p.add_argument("--documents", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--ngram", type=int, default=3)
    p.add_argument("--num-hashes", type=int, default=16)
    p.add_argument("--bands", type=int, default=8)
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--exact-jaccard", action="store_true",
                   help="exact recall via jaccard_pairs_auto instead of LSH")
    p.add_argument(
        "--method",
        choices=["minhash", "jaccard", "semantic", "tile"],
        default=None,
        help="pair source: minhash LSH (default), exact jaccard, "
        "SemDeDup over an embedding column (--vec-col, --n-cells), or "
        "crop-resistant tile overlap over image payloads "
        "(--min-shared, --max-df)",
    )
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--n-cells", type=int, default=16,
                   help="semantic: k-means cells = first n ids as seeds")
    p.add_argument("--min-shared", type=int, default=2,
                   help="tile: shared 8x8 digests required per pair")
    p.add_argument("--max-df", type=int, default=1024,
                   help="tile: drop digests present in more images")
    p.add_argument(
        "--checkpoint-dir", default=None,
        help="DFS dir (hdfs://, s3a://, file:) for reliable per-round "
        "checkpoints of the connected-components labels. Set it on a "
        "multi-executor cluster: the default local checkpoints live on "
        "executors, and losing one fails the run.",
    )
    _add_session_flags(p)
    p.set_defaults(fn=_cmd_dedup)

    p = sub.add_parser("imageprep", help="aspect-bucket image training prep")
    p.add_argument("--images", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--targets", default="512x512,576x448,448x576",
                   help="comma-separated WxH bucket target resolutions")
    p.add_argument("--mode", choices=["cover", "fit"], default="cover")
    p.add_argument("--batch-size", type=int, default=32)
    p.add_argument("--n-shards", type=int, default=64)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--to-fmt", default=None,
                   help="normalize every payload to this codec first")
    p.add_argument("--plan-only", action="store_true",
                   help="export the integer resize/crop plan without "
                   "touching pixels")
    p.add_argument("--id-col", default="image_id")
    p.add_argument("--w-col", default="w")
    p.add_argument("--h-col", default="h")
    _add_session_flags(p)
    p.set_defaults(fn=_cmd_imageprep)

    p = sub.add_parser(
        "ingest", help="near-dup-filtered ingest into a standing store"
    )
    p.add_argument("--input", required=True, help="parquet batch to ingest")
    p.add_argument("--store", required=True,
                   help="standing store dir (corpus/ postings/ state.json)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--ngram", type=int, default=3)
    p.add_argument("--num-hashes", type=int, default=16)
    p.add_argument("--bands", type=int, default=8)
    p.add_argument("--threshold", type=float, default=0.5)
    _add_session_flags(p)
    p.set_defaults(fn=_cmd_ingest)

    p = sub.add_parser("table", help="table maintenance")
    tsub = p.add_subparsers(dest="table_cmd", required=True)
    for name, hlp in [
        ("snapshots", "print the snapshot chain"),
        ("compact", "rewrite small files (one snapshot)"),
        ("expire", "expire old snapshots"),
        ("evolve-spec", "change the partition spec (metadata-only)"),
        ("tag", "create/retarget/delete a named snapshot tag"),
        ("tags", "list snapshot tags"),
        ("orphans", "delete unreachable files"),
        ("export-iceberg", "write Iceberg v2 metadata translation"),
    ]:
        tp = tsub.add_parser(name, help=hlp)
        tp.add_argument("path")
        if name == "compact":
            tp.add_argument("--target-bytes", type=int, default=128 << 20)
        if name == "expire":
            tp.add_argument("--keep-last", type=int, required=True)
        if name == "evolve-spec":
            tp.add_argument("--n-buckets", type=int, default=None)
            tp.add_argument("--ts-unit-day", type=int, default=None)
        if name == "tag":
            tp.add_argument("name")
            tp.add_argument("--snapshot-id", type=int, default=None)
            tp.add_argument("--replace", action="store_true")
            tp.add_argument("--delete", action="store_true")
        _add_session_flags(tp)
        tp.set_defaults(fn=_cmd_table, table_cmd=name)

    p = sub.add_parser("plot", help="render SVG plots from a summary")
    psub = p.add_subparsers(dest="plot_cmd", required=True)
    for name in ("signal", "heatmap"):
        pp = psub.add_parser(name)
        pp.add_argument("--summary", required=True,
                        help="parquet of (series, position, value) rows")
        pp.add_argument("--out", required=True)
        pp.add_argument("--n-positions", type=int, required=True)
        pp.add_argument("--center-n", type=int, required=True)
        pp.add_argument("--top", type=int, default=5)
        pp.add_argument("--bottom", type=int, default=5)
        pp.add_argument("--by", default="entity")
        pp.add_argument("--value", default="signal")
        pp.add_argument("--position", default="bucket")
        if name == "signal":
            pp.add_argument("--smooth-window", type=int, default=None)
        _add_session_flags(pp)
        pp.set_defaults(fn=_cmd_plot, plot_cmd=name)

    try:  # optional shell completion (reference: autocompletion.py)
        import argcomplete

        argcomplete.autocomplete(ap)
    except ImportError:
        pass
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
