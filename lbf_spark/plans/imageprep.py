"""Image training-prep chain: aspect-bucket plan + pack + execute.

The composition behind ``python -m lbf_spark imageprep``: optional
codec normalization (transcode) → ``bucket_fit`` integer resize/crop
PLAN per image (q173) → ``aspect_bucket_pack`` reproducible batch
assembly over the same exact bucket argmin (q158) →
``apply_bucket_fit`` pixel execution (q174;
skipped with ``plan_only``, which exports the metadata-only plan for a
downstream loader to execute).

Every stage is payload-local: pixels decode/re-encode inside single
Arrow stages, only the (bucket_id, shard) packing window shuffles —
and that carries metadata columns, never bytes. Reference analog: none
(LBF has no image step); this is the training-data counterpart of the
reference's batch extraction driver (``lbfextract/cli.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def parse_targets(spec: str) -> list[tuple[int, int]]:
    """``"512x512, 576x448"`` → ``[(512, 512), (576, 448)]``."""
    out = []
    for part in spec.split(","):
        w, _, h = part.strip().lower().partition("x")
        out.append((int(w), int(h)))
    return out


def prep_images(
    df: DataFrame,
    targets: list[tuple[int, int]],
    mode: str = "cover",
    batch_size: int = 32,
    n_shards: int = 64,
    seed: int = 42,
    to_fmt: str | None = None,
    plan_only: bool = False,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
    cost_shards: int | None = None,
) -> DataFrame:
    """Plan, pack and (unless ``plan_only``) pixel-execute the corpus
    into training batches at the bucket target resolutions.

    ``cost_shards=N`` additionally load-balances the pixel-execution
    stage: rows take a cost-balanced shard on payload BYTES (snake
    over the cost rank, ``distributions.cost_balanced_shards``) and the
    frame range-repartitions on it before ``apply_bucket_fit``, so
    Zipf-sized payloads can't serialize the decode stage onto a few
    md5-unlucky tasks. Batch composition (bucket_id/shard/batch_id) is
    untouched — only the physical placement of the decode work moves;
    output rows are bit-identical (law-tested).
    """
    from lbf_spark.operators.images import (
        apply_bucket_fit, aspect_bucket_pack, bucket_fit, transcode,
    )

    if to_fmt:
        df = transcode(df, to_fmt)
    planned = bucket_fit(df, targets, mode=mode, w_col=w_col, h_col=h_col)
    # aspect_bucket_pack recomputes the SAME exact-integer argmin over
    # the same (tw, th) pairs, so its bucket_id overwrite is identical
    packed = aspect_bucket_pack(
        planned, batch_size=batch_size, n_shards=n_shards, buckets=targets,
        id_col=id_col, w_col=w_col, h_col=h_col, seed=seed,
    )
    if plan_only:
        return packed
    if cost_shards:
        from pyspark.sql import functions as F

        from lbf_spark.operators.distributions import cost_balanced_shards

        packed = (
            cost_balanced_shards(
                packed.withColumn("__bytes", F.length("bytes")),
                n_shards=cost_shards,
                cost_col="__bytes",
                id_col=id_col,
                out_shard="__cshard",
                out_rank="__crank",
            )
            .repartitionByRange(cost_shards, "__cshard", id_col)
            .drop("__bytes", "__cshard", "__crank")
        )
    return apply_bucket_fit(packed, mode=mode, w_col=w_col, h_col=h_col)
