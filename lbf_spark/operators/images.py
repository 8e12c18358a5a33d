"""Multimodal (image) column operators.

Images travel as opaque ``binary`` columns with typed metadata
(``w, h, fmt``) — the input_hint schema. All pixel work happens inside
``mapInPandas`` (Arrow batches of ~10k rows, one Python invocation per
batch — never row-at-a-time Python UDFs). The codec itself is
``lbf_spark.functions.codec``: real PNG, deterministic fake lossy codec
standing in for JPEG (no libjpeg in this container — see codec module
docstring; the Spark-side plumbing — schema, batching, UDF signatures —
is exactly what production would use with PIL/libjpeg swapped in).

Audio/video use the same plumbing over ``lbf_spark.functions.audio``:
a REAL minimal WAV (PCM16) codec plus deterministic fake lossy codecs
(FLA1 audio, FVC1 length-prefixed video container) standing in for
mp3/mp4 — swap the codec bodies for libsndfile/ffmpeg and the operators
below are unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from lbf_spark.functions.codec import decode_image, encode_image, psnr

STATS_FIELDS = [
    T.StructField("pixel_mean", T.DoubleType(), True),
    T.StructField("pixel_std", T.DoubleType(), True),
    T.StructField("r_mean", T.DoubleType(), True),
    T.StructField("g_mean", T.DoubleType(), True),
    T.StructField("b_mean", T.DoubleType(), True),
]


def decode_stats(df: DataFrame, keep_bytes: bool = False) -> DataFrame:
    """Decode each image and append per-channel pixel statistics.

    The graft analog of the reference's per-read signal extraction
    (``signal_transformer.py:31-47``): the decoded scalar stream that
    the windowed feature stages aggregate. Dropping ``bytes`` right
    here (default) keeps the heavy payload out of every downstream
    shuffle — only the few-bytes stats columns move.
    """
    out_cols = [c for c in df.columns if keep_bytes or c != "bytes"]
    schema = T.StructType(
        [f for f in df.schema.fields if f.name in out_cols] + STATS_FIELDS
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            means = np.full(n, np.nan)
            stds = np.full(n, np.nan)
            chan = np.full((n, 3), np.nan)
            # decode row-by-row (zlib is inherently per-payload) but
            # batch the statistics: stack same-shaped images and reduce
            # once — cuts ~40 µs/row of numpy call overhead to ~10 µs
            by_shape: dict[tuple[int, int], tuple[list[int], list[np.ndarray]]] = {}
            for i, (data, fmt) in enumerate(zip(pdf["bytes"], pdf["fmt"])):
                if data is None:
                    continue
                img = decode_image(bytes(data), fmt)
                idxs, imgs = by_shape.setdefault(img.shape[:2], ([], []))
                idxs.append(i)
                imgs.append(img)
            for (_h, _w), (idxs, imgs) in by_shape.items():
                stack = np.stack(imgs).astype(np.float64)  # (k, h, w, 3)
                ii = np.asarray(idxs)
                means[ii] = stack.mean(axis=(1, 2, 3))
                stds[ii] = stack.std(axis=(1, 2, 3))
                chan[ii] = stack.mean(axis=(1, 2))
            out = pdf[out_cols].copy()
            out["pixel_mean"] = means
            out["pixel_std"] = stds
            out["r_mean"] = chan[:, 0]
            out["g_mean"] = chan[:, 1]
            out["b_mean"] = chan[:, 2]
            yield out

    return df.mapInPandas(batches, schema)


def transcode(df: DataFrame, to_fmt: str) -> DataFrame:
    """Re-encode every image into ``to_fmt`` (decode → encode inside one
    Arrow batch stage — the payload never moves between stages). The
    ingest-normalization step of an image pipeline: heterogeneous
    formats in, one format out; pair with ``image_fidelity`` to certify
    the codec's PSNR floor after conversion."""
    schema = df.schema

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            new_bytes = []
            for data, fmt in zip(pdf["bytes"], pdf["fmt"]):
                if data is None:
                    new_bytes.append(None)
                    continue
                new_bytes.append(encode_image(decode_image(bytes(data), fmt), to_fmt))
            out = pdf.copy()
            out["bytes"] = new_bytes
            out["fmt"] = to_fmt
            yield out

    return df.mapInPandas(batches, schema)


def image_fidelity(df: DataFrame, ref: DataFrame, key: str = "image_id") -> DataFrame:
    """Row-level fidelity vs a reference table: decoded-pixel PSNR and
    exact caption equality (the per-row invariant in BASELINE.json
    input_hint: PSNR ≥ 40 dB for lossy rows, ∞ for lossless)."""
    r = ref.select(
        F.col(key),
        F.col("bytes").alias("ref_bytes"),
        F.col("fmt").alias("ref_fmt"),
        F.col("caption").alias("ref_caption"),
    )
    joined = df.select(key, "bytes", "fmt", "caption").join(r, key)
    schema = T.StructType(
        [
            T.StructField(key, T.StringType(), False),
            T.StructField("psnr_db", T.DoubleType(), True),
            T.StructField("caption_equal", T.BooleanType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vals = []
            for row in pdf.itertuples(index=False):
                a = decode_image(bytes(row.bytes), row.fmt)
                b = decode_image(bytes(row.ref_bytes), row.ref_fmt)
                p = psnr(a, b) if a.shape == b.shape else 0.0
                vals.append((getattr(row, key), p, row.caption == row.ref_caption))
            yield pd.DataFrame(vals, columns=[key, "psnr_db", "caption_equal"])

    return joined.mapInPandas(batches, schema)


def audio_frame_features(
    df: DataFrame, frame: int = 2048, id_col: str = "audio_id"
) -> DataFrame:
    """Audio decode → per-frame features: one output row per
    non-overlapping ``frame``-sample window with (rms, zcr,
    spectral_centroid_hz) — the audio twin of ``decode_stats``.

    Input: (``id_col``, bytes: binary, fmt: string['wav'|'mp3']).
    Decode + feature math live in ``functions.audio`` (real WAV
    parser; FLA1 deterministic fake for lossy); the operator owns only
    the Spark shape: Arrow-batched ``mapInPandas``, payload bytes
    dropped before the exploded rows leave the stage, all outputs
    rounded (6) so results are engine-stable. Fan the input out first
    (``util.fan_out``) — clips are row-local work."""
    from lbf_spark.functions.audio import decode_audio, frame_features

    schema = T.StructType(
        [
            T.StructField(id_col, T.StringType(), True),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("rms", T.DoubleType(), False),
            T.StructField("zcr", T.DoubleType(), False),
            T.StructField("centroid_hz", T.DoubleType(), False),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fidx, feats = [], [], []
            for _id, data, fmt in zip(pdf[id_col], pdf["bytes"], pdf["fmt"]):
                if data is None:
                    continue
                sr, samples = decode_audio(bytes(data), fmt)
                ff = frame_features(samples, sr, frame=frame)
                ids.extend([_id] * len(ff))
                fidx.extend(range(len(ff)))
                feats.append(ff)
            stacked = (
                np.concatenate(feats) if feats else np.zeros((0, 3))
            ).round(6)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "frame_idx": np.asarray(fidx, dtype=np.int32),
                    "rms": stacked[:, 0],
                    "zcr": stacked[:, 1],
                    "centroid_hz": stacked[:, 2],
                }
            )

    return df.mapInPandas(batches, schema)


def phash_band_features(
    df: DataFrame, col: str = "phash", bands: int = 4, out_prefix: str = "phash_band"
) -> DataFrame:
    """Split a 64-bit perceptual hash into `bands` integer bands — the
    LSH building block for near-duplicate bucketing (band-join)."""
    width = 64 // bands
    mask = (1 << width) - 1
    for b in range(bands):
        df = df.withColumn(
            f"{out_prefix}{b}",
            F.shiftright(F.col(col), b * width).bitwiseAND(F.lit(mask)),
        )
    return df


_AUG_OPS = ("identity", "flip_h", "flip_v", "rot90", "rot180", "rot270")


def _apply_aug(img: np.ndarray, op: str) -> np.ndarray:
    if op == "identity":
        return img
    if op == "flip_h":
        return img[:, ::-1]
    if op == "flip_v":
        return img[::-1]
    if op == "rot90":
        return np.rot90(img, 1)
    if op == "rot180":
        return np.rot90(img, 2)
    if op == "rot270":
        return np.rot90(img, 3)
    raise ValueError(f"unknown augmentation op {op!r} (have {_AUG_OPS})")


def augment_images(
    df: DataFrame,
    op: str | None = None,
    ops: list[str] | None = None,
    seed: int = 0,
    id_col: str = "image_id",
    out_op_col: str | None = None,
) -> DataFrame:
    """Deterministic geometric augmentation over the binary image
    column — the training-data augmentation stage of an image pipeline.

    Either ONE fixed ``op`` for every row, or a per-row op drawn from
    ``ops`` by ``md5(id, seed)`` — seeded content hashing, never an RNG,
    so the choice is a pure function of (row identity, seed):
    reproducible across runs, retries, partitionings and cluster sizes
    (the same determinism law as the multinomial subsampler,
    distributions.py). Pixels transform in numpy inside ONE Arrow
    ``mapInPandas`` stage (decode → transform → re-encode in the row's
    own format); ``w``/``h`` metadata swap for the 90°/270° rotations.
    Group structure is exact even through the fake lossy codec: its
    uniform quantization is idempotent, so flip∘flip and rot90⁴ are
    pixel-identical to the original (certified by q136).

    Row-local — no shuffle; the payload never leaves the stage."""
    import hashlib

    if (op is None) == (ops is None):
        raise ValueError("pass exactly one of op= or ops=")
    if op is not None and op not in _AUG_OPS:
        raise ValueError(f"unknown augmentation op {op!r} (have {_AUG_OPS})")
    if ops is not None:
        for o in ops:
            if o not in _AUG_OPS:
                raise ValueError(f"unknown augmentation op {o!r} (have {_AUG_OPS})")
    schema = T.StructType(
        list(df.schema.fields)
        + ([T.StructField(out_op_col, T.StringType(), False)] if out_op_col else [])
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            new_bytes, new_w, new_h, chosen = [], [], [], []
            for rid, data, fmt, w0, h0 in zip(
                pdf[id_col], pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"]
            ):
                if op is not None:
                    o = op
                else:
                    dig = hashlib.md5(f"{rid}|{seed}".encode()).hexdigest()
                    o = ops[int(dig[:8], 16) % len(ops)]
                chosen.append(o)
                if data is None:
                    new_bytes.append(None)
                    new_w.append(w0)
                    new_h.append(h0)
                    continue
                img = _apply_aug(decode_image(bytes(data), fmt), o)
                h, w, _ = img.shape
                new_bytes.append(encode_image(np.ascontiguousarray(img), fmt))
                new_w.append(w)
                new_h.append(h)
            out = pdf.copy()
            out["bytes"] = new_bytes
            out["w"] = np.asarray(new_w, dtype=np.int32)
            out["h"] = np.asarray(new_h, dtype=np.int32)
            if out_op_col:
                out[out_op_col] = chosen
            yield out

    return df.mapInPandas(batches, schema)


def pixel_digest(df: DataFrame, id_col: str = "image_id") -> DataFrame:
    """md5 of the DECODED pixel array (+ decoded shape) per row — the
    encoding-independent content fingerprint: two rows with the same
    digest are pixel-identical regardless of container format or
    encoder settings (exact cross-format dedup; also the comparison
    primitive of the augmentation-group certificate q136). md5 per the
    determinism rules — identical in every engine and on every
    executor. Payload is dropped on output, so everything downstream
    shuffles a 32-char string, never megabytes of pixels."""
    keep = [c for c in df.columns if c != "bytes"]
    schema = T.StructType(
        [f for f in df.schema.fields if f.name != "bytes"]
        + [
            T.StructField("dec_w", T.IntegerType(), True),
            T.StructField("dec_h", T.IntegerType(), True),
            T.StructField("pix_md5", T.StringType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            ws, hs, digs = [], [], []
            for data, fmt in zip(pdf["bytes"], pdf["fmt"]):
                if data is None:
                    ws.append(None)
                    hs.append(None)
                    digs.append(None)
                    continue
                img = decode_image(bytes(data), fmt)
                h, w, _ = img.shape
                ws.append(w)
                hs.append(h)
                digs.append(hashlib.md5(np.ascontiguousarray(img).tobytes()).hexdigest())
            out = pdf[keep].copy()
            out["dec_w"] = pd.array(ws, dtype="Int32")
            out["dec_h"] = pd.array(hs, dtype="Int32")
            out["pix_md5"] = digs
            yield out

    return df.mapInPandas(batches, schema)


def pixel_sums(df: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Exact integer pixel totals per image: decoded (dec_w, dec_h,
    n_px = dec_w·dec_h·channels, px_sum = Σ uint8 values as bigint) —
    the arithmetic fingerprint that, unlike ``pixel_digest``'s md5,
    COMPOSES across tilings (a sum of parts equals the whole), which is
    what the patch-extraction certificate (q152) checks. Payload
    dropped on output."""
    keep = [c for c in df.columns if c != "bytes"]
    schema = T.StructType(
        [f for f in df.schema.fields if f.name != "bytes"]
        + [
            T.StructField("dec_w", T.IntegerType(), True),
            T.StructField("dec_h", T.IntegerType(), True),
            T.StructField("n_px", T.LongType(), True),
            T.StructField("px_sum", T.LongType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ws, hs, ns, ss = [], [], [], []
            for data, fmt in zip(pdf["bytes"], pdf["fmt"]):
                if data is None:
                    ws.append(None); hs.append(None)
                    ns.append(None); ss.append(None)
                    continue
                img = decode_image(bytes(data), fmt)
                h, w, c = img.shape
                ws.append(w); hs.append(h)
                ns.append(int(h * w * c))
                ss.append(int(img.astype(np.int64).sum()))
            out = pdf[keep].copy()
            out["dec_w"] = pd.array(ws, dtype="Int32")
            out["dec_h"] = pd.array(hs, dtype="Int32")
            out["n_px"] = pd.array(ns, dtype="Int64")
            out["px_sum"] = pd.array(ss, dtype="Int64")
            yield out

    return df.mapInPandas(batches, schema)


def extract_patches(
    df: DataFrame,
    patch: int = 8,
    id_col: str = "image_id",
) -> DataFrame:
    """ViT-style patch extraction: decode each image once and emit one
    row per ``patch×patch`` grid cell — (patch_row, patch_col, p_w,
    p_h, p_n_px, p_sum, patch_md5). Edge cells are CLIPPED (p_w/p_h <
    patch at the right/bottom rim), so the grid tiles the image
    exactly — Σ p_n_px = dec area and Σ p_sum = the whole-image pixel
    sum, the invariants q152 certifies.

    Scale shape: ONE Arrow decode per image (never per patch), output
    rows carry 32-char digests + small ints — the megapixel payload is
    dropped in-stage and never shuffles; the row fan-out is the grid
    size, bounded by (⌈w/p⌉·⌈h/p⌉). Patch digests are md5 of the
    C-contiguous patch array (determinism rules), reusable directly as
    patch-level dedup keys or downstream tokenizer inputs."""
    keep = [c for c in df.columns if c != "bytes"]
    schema = T.StructType(
        [f for f in df.schema.fields if f.name != "bytes"]
        + [
            T.StructField("patch_row", T.IntegerType(), False),
            T.StructField("patch_col", T.IntegerType(), False),
            T.StructField("p_w", T.IntegerType(), False),
            T.StructField("p_h", T.IntegerType(), False),
            T.StructField("p_n_px", T.LongType(), False),
            T.StructField("p_sum", T.LongType(), False),
            T.StructField("patch_md5", T.StringType(), False),
        ]
    )
    p = int(patch)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            recs: list[dict] = []
            for idx in range(len(pdf)):
                data, fmt = pdf["bytes"].iloc[idx], pdf["fmt"].iloc[idx]
                if data is None:
                    continue
                img = decode_image(bytes(data), fmt)
                h, w, c = img.shape
                base = {k: pdf[k].iloc[idx] for k in keep}
                for pr in range((h + p - 1) // p):
                    for pc in range((w + p - 1) // p):
                        tile = img[pr * p : (pr + 1) * p, pc * p : (pc + 1) * p]
                        th, tw, _ = tile.shape
                        recs.append(
                            {
                                **base,
                                "patch_row": pr,
                                "patch_col": pc,
                                "p_w": tw,
                                "p_h": th,
                                "p_n_px": int(th * tw * c),
                                "p_sum": int(tile.astype(np.int64).sum()),
                                "patch_md5": hashlib.md5(
                                    np.ascontiguousarray(tile).tobytes()
                                ).hexdigest(),
                            }
                        )
            yield pd.DataFrame(
                recs, columns=[*keep, *[f.name for f in schema.fields if f.name not in keep]]
            )

    return df.mapInPandas(batches, schema)


DEFAULT_ASPECT_BUCKETS: list[tuple[int, int]] = [
    (1, 1), (4, 3), (3, 4), (16, 9), (9, 16), (2, 1), (1, 2),
]


def aspect_bucket_pack(
    df: DataFrame,
    batch_size: int,
    n_shards: int,
    buckets: list[tuple[int, int]] | None = None,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
    seed: int = 42,
) -> DataFrame:
    """Aspect-ratio bucketing + deterministic batch assembly — the
    image-training batch-prep step (SDXL-style training groups images
    of similar aspect ratio so a batch can share one crop shape
    instead of square-cropping everything).

    Each image joins the bucket minimizing |w/h − p_i/q_i|, compared
    EXACTLY in integers: |w·q_i − p_i·h| scaled by lcm(q)/q_i puts all
    candidate distances on one common denominator, so the argmin is a
    pure bigint comparison (no float ratios — engines would disagree
    on ties near the midpoint of two buckets). Ties break to the
    smallest bucket index via lexicographic struct min.

    Batches are reproducible: shard = first 52 bits of md5(seed:id)
    mod n_shards (uniform, row-local); within (bucket, shard) rows
    order by (md5 draw, id) — a total order — and pack greedily into
    consecutive batches of ``batch_size``. ``is_complete`` marks
    batches with a full complement (training loaders drop ragged
    tails; marking instead of dropping keeps the operator lossless).

    Shape at 100 TB: bucket assignment and the shard draw are
    row-local JVM expressions; the only exchange is hashpartitioning
    (bucket_id, shard) for the packing window — n_buckets × n_shards
    independent partitions, so parallelism is controlled by n_shards
    exactly like ``distributions.shuffle_shards``. No global sort, no
    driver state. Reference analog: LBF has no training-batch step;
    this extends the corpus-export family (shuffle_shards, q108
    sequence packing) to the image modality.
    """
    from pyspark.sql import Window

    bks = list(buckets) if buckets is not None else list(DEFAULT_ASPECT_BUCKETS)
    if not bks or batch_size <= 0 or n_shards <= 0:
        raise ValueError("buckets, batch_size and n_shards must be non-empty/positive")
    lcm = 1
    for _, q in bks:
        g, a = lcm, q
        while a:
            g, a = a, g % a
        lcm = lcm * q // g
    w = F.col(w_col).cast("long")
    h = F.col(h_col).cast("long")
    cands = [
        F.struct(
            (F.abs(w * F.lit(int(q)) - F.lit(int(p)) * h) * F.lit(lcm // int(q))).alias("k"),
            F.lit(i).alias("i"),
        )
        for i, (p, q) in enumerate(bks)
    ]
    best = F.array_min(F.array(*cands))
    draw = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string")))
    shard = (
        F.conv(F.substring(F.col("__draw"), 1, 13), 16, 10).cast("long")
        % F.lit(int(n_shards))
    ).cast("int")
    pack_w = Window.partitionBy("bucket_id", "shard").orderBy(
        F.col("__draw"), F.col(id_col)
    )
    grp_w = Window.partitionBy("bucket_id", "shard")
    rn = F.row_number().over(pack_w) - F.lit(1)
    return (
        df.withColumn("__draw", draw)
        .withColumn("bucket_id", best.getField("i"))
        .withColumn("shard", shard)
        .withColumn("__rn", rn)
        .withColumn("batch_no", (F.col("__rn") / F.lit(int(batch_size))).cast("long"))
        .withColumn("pos", (F.col("__rn") % F.lit(int(batch_size))).cast("int"))
        .withColumn(
            "is_complete",
            F.col("batch_no")
            < (F.count(F.lit(1)).over(grp_w) / F.lit(int(batch_size))).cast("long"),
        )
        .drop("__draw", "__rn")
    )


def bucket_fit(
    df: DataFrame,
    targets: list[tuple[int, int]],
    mode: str = "cover",
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """Exact resize + crop/pad geometry for bucketed image training —
    the step downstream of ``aspect_bucket_pack``: once an image is
    assigned an aspect bucket, the loader must resize it to the
    bucket's TARGET RESOLUTION and either center-crop the overhang
    (``mode="cover"``, the SDXL training path) or letterbox-pad the
    shortfall (``mode="fit"``, the eval/inference path). Emitting the
    geometry as columns makes the decode stage a pure executor of
    precomputed integer plans — no per-image float math at decode
    time, and two engines (or two loader versions) provably agree on
    every pixel boundary.

    All arithmetic is exact bigint. Bucket assignment reuses the
    ``aspect_bucket_pack`` argmin (|w·th_i − tw_i·h| on one common
    denominator, tie → smallest index). The binding axis is decided
    by the integer cross-product test tw·h ≥ th·w (cover: the axis
    that must OVERSHOOT; fit: tw·h ≤ th·w, the axis that must fit),
    the scaled length is a single bigint ``div``, and offsets are
    centered by ``div 2``:

    - cover: resize ≥ target on both axes (one exact); ``off_x`` /
      ``off_y`` are CROP offsets into the resized image.
    - fit: resize ≤ target on both axes (one exact); ``off_x`` /
      ``off_y`` are PAD offsets into the target canvas.

    Shape at 100 TB: entirely row-local JVM expressions — zero
    shuffle, zero Python; folds into whatever scan already reads the
    (w, h) metadata columns. Reference analog: LBF has no image
    training prep; this completes the q158 batch-assembly family.
    """
    tgts = [(int(a), int(b)) for a, b in targets]
    if not tgts or any(a <= 0 or b <= 0 for a, b in tgts):
        raise ValueError("targets must be non-empty positive (w, h) pairs")
    if mode not in ("cover", "fit"):
        raise ValueError("mode must be 'cover' or 'fit'")
    lcm = 1
    for _, q_ in tgts:
        g, a = lcm, q_
        while a:
            g, a = a, g % a
        lcm = lcm * q_ // g
    w = F.col(w_col).cast("long")
    h = F.col(h_col).cast("long")
    cands = [
        F.struct(
            (F.abs(w * F.lit(int(th)) - F.lit(int(tw)) * h)
             * F.lit(lcm // int(th))).alias("k"),
            F.lit(i).alias("i"),
        )
        for i, (tw, th) in enumerate(tgts)
    ]
    tw_arr = F.array(*[F.lit(int(a)) for a, _ in tgts])
    th_arr = F.array(*[F.lit(int(b)) for _, b in tgts])
    tw = F.col("tgt_w")
    th = F.col("tgt_h")
    # binding-axis test: cover must overshoot the SLACK axis, fit must
    # land inside it — same cross product, opposite comparison
    wb = (tw * h >= th * w) if mode == "cover" else (tw * h <= th * w)
    out = (
        df.withColumn("bucket_id", F.array_min(F.array(*cands)).getField("i"))
        .withColumn(
            "tgt_w", F.element_at(tw_arr, F.col("bucket_id") + 1).cast("long")
        )
        .withColumn(
            "tgt_h", F.element_at(th_arr, F.col("bucket_id") + 1).cast("long")
        )
        .withColumn("__wb", wb)
        .withColumn("__num", F.when(F.col("__wb"), h * tw).otherwise(w * th))
        .withColumn("__den", F.when(F.col("__wb"), w).otherwise(h))
        .withColumn("__q", F.expr("__num div __den"))
        .withColumn(
            "resize_w",
            F.when(F.col("__wb"), tw).otherwise(F.col("__q")).cast("long"),
        )
        .withColumn(
            "resize_h",
            F.when(F.col("__wb"), F.col("__q")).otherwise(th).cast("long"),
        )
    )
    if mode == "cover":
        out = out.withColumn(
            "off_x", F.expr("(resize_w - tgt_w) div 2")
        ).withColumn("off_y", F.expr("(resize_h - tgt_h) div 2"))
    else:
        out = out.withColumn(
            "off_x", F.expr("(tgt_w - resize_w) div 2")
        ).withColumn("off_y", F.expr("(tgt_h - resize_h) div 2"))
    return out.drop("__wb", "__num", "__den", "__q")


def apply_bucket_fit(
    df: DataFrame,
    mode: str = "cover",
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """Execute a ``bucket_fit`` plan on the pixels: one Arrow decode
    per image, exact nearest-neighbor gather to (resize_w, resize_h)
    (index map ``i·src div dst`` — the same integer arithmetic the
    planner used, so two engines agree on every source pixel picked),
    then center-crop the overhang (``cover``) or paste onto a black
    target canvas (``fit``); re-encode in the row's own format.

    The input frame must carry ``bytes``/``fmt`` plus the geometry
    columns ``bucket_fit`` emitted (resize_w/resize_h, tgt_w/tgt_h,
    off_x/off_y). Decode, transform and re-encode happen inside ONE
    ``mapInPandas`` stage — the payload never shuffles — and the
    output ``w_col``/``h_col`` are rewritten to the target resolution
    so downstream stages see consistent metadata. q174 certifies the
    executor against a direct composed-gather twin (out[i,j] ==
    orig[(off_y+i)·h div rh, (off_x+j)·w div rw] for cover) plus
    pad-conservation laws. Reference analog: none (LBF has no image
    step); completes the q158/q173 training-prep family.
    """
    if mode not in ("cover", "fit"):
        raise ValueError("mode must be 'cover' or 'fit'")
    schema = df.schema
    cover = mode == "cover"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            new_bytes = []
            for data, fmt, rw, rh, tw, th, ox, oy in zip(
                pdf["bytes"], pdf["fmt"], pdf["resize_w"], pdf["resize_h"],
                pdf["tgt_w"], pdf["tgt_h"], pdf["off_x"], pdf["off_y"],
            ):
                if data is None:
                    new_bytes.append(None)
                    continue
                img = decode_image(bytes(data), fmt)
                h, w, c = img.shape
                rw, rh, tw, th, ox, oy = (
                    int(rw), int(rh), int(tw), int(th), int(ox), int(oy)
                )
                yi = np.arange(rh) * h // rh
                xi = np.arange(rw) * w // rw
                resized = img[yi][:, xi]
                if cover:
                    out = resized[oy:oy + th, ox:ox + tw]
                else:
                    out = np.zeros((th, tw, c), dtype=img.dtype)
                    out[oy:oy + rh, ox:ox + rw] = resized
                new_bytes.append(encode_image(out, fmt))
            out_pdf = pdf.copy()
            out_pdf["bytes"] = new_bytes
            if w_col in out_pdf.columns:
                out_pdf[w_col] = pdf["tgt_w"].astype(out_pdf[w_col].dtype)
            if h_col in out_pdf.columns:
                out_pdf[h_col] = pdf["tgt_h"].astype(out_pdf[h_col].dtype)
            yield out_pdf

    return df.mapInPandas(batches, schema)


def pixel_moments(df: DataFrame, low: int = 8, high: int = 247) -> DataFrame:
    """Exact integer pixel MOMENTS per image: ``pixel_sums`` plus
    Σ x² (``px_sum2``) and the clipped-pixel tallies ``n_low``
    (values < ``low`` — crushed blacks) / ``n_high`` (values >
    ``high`` — blown-out highlights). All int64 (255²·n_px overflows
    nothing at real image sizes), so every statistic downstream —
    mean, variance, extreme-pixel fraction — is a closed-form IEEE
    expression over exact integers: partial-agg order can never touch
    it, and the tallies COMPOSE across tilings like px_sum does
    (the q169 certificate's conservation law). Payload dropped on
    output; one decode per image."""
    keep = [c for c in df.columns if c != "bytes"]
    schema = T.StructType(
        [f for f in df.schema.fields if f.name != "bytes"]
        + [
            T.StructField("dec_w", T.IntegerType(), True),
            T.StructField("dec_h", T.IntegerType(), True),
            T.StructField("n_px", T.LongType(), True),
            T.StructField("px_sum", T.LongType(), True),
            T.StructField("px_sum2", T.LongType(), True),
            T.StructField("n_low", T.LongType(), True),
            T.StructField("n_high", T.LongType(), True),
        ]
    )
    lo, hi = int(low), int(high)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols: dict[str, list] = {
                k: [] for k in
                ("dec_w", "dec_h", "n_px", "px_sum", "px_sum2",
                 "n_low", "n_high")
            }
            for data, fmt in zip(pdf["bytes"], pdf["fmt"]):
                if data is None:
                    for k in cols:
                        cols[k].append(None)
                    continue
                img = decode_image(bytes(data), fmt)
                h, w, c = img.shape
                a = img.astype(np.int64)
                cols["dec_w"].append(w)
                cols["dec_h"].append(h)
                cols["n_px"].append(int(h * w * c))
                cols["px_sum"].append(int(a.sum()))
                cols["px_sum2"].append(int((a * a).sum()))
                cols["n_low"].append(int((a < lo).sum()))
                cols["n_high"].append(int((a > hi).sum()))
            out = pdf[keep].copy()
            out["dec_w"] = pd.array(cols["dec_w"], dtype="Int32")
            out["dec_h"] = pd.array(cols["dec_h"], dtype="Int32")
            for k in ("n_px", "px_sum", "px_sum2", "n_low", "n_high"):
                out[k] = pd.array(cols[k], dtype="Int64")
            yield out

    return df.mapInPandas(batches, schema)


def image_quality_gate(
    moments: DataFrame,
    min_mean: float = 16.0,
    max_mean: float = 240.0,
    min_std: float = 4.0,
    max_extreme_frac: float = 0.5,
) -> DataFrame:
    """Perceptual-quality curation gate over the EXACT moments frame
    (``pixel_moments`` output) — the LAION-style junk-image filters
    (too dark / too bright / near-constant / clipped) as pure
    relational arithmetic, decode-free and reusable on stored moment
    columns:

      mean   = px_sum / n_px            (one IEEE div over exact ints)
      var    = (n·Σx² − (Σx)²) / n²     (exact bigint numerator)
      ext    = (n_low + n_high) / n_px

    each round(4)ed before comparison so the keep/drop boundary is
    engine-identical (the q160 rounded-threshold rule). ``reason`` is
    the FIRST failing check ('dark','bright','flat','clipped') or
    null — ordered, so the verdict is deterministic. Row-local: zero
    shuffles, folds into the moments scan."""
    n = F.col("n_px").cast("double")
    mean = F.round(F.col("px_sum") / F.col("n_px"), 4)
    var_num = (
        F.col("n_px") * F.col("px_sum2") - F.col("px_sum") * F.col("px_sum")
    ).cast("double")
    var = F.round(var_num / (n * n), 4)
    ext = F.round((F.col("n_low") + F.col("n_high")) / F.col("n_px"), 4)
    reason = (
        F.when(mean < F.lit(float(min_mean)), F.lit("dark"))
        .when(mean > F.lit(float(max_mean)), F.lit("bright"))
        .when(var < F.lit(float(min_std) ** 2), F.lit("flat"))
        .when(ext > F.lit(float(max_extreme_frac)), F.lit("clipped"))
    )
    return (
        moments.withColumn("pix_mean", mean + F.lit(0.0))
        .withColumn("pix_var", var + F.lit(0.0))
        .withColumn("extreme_frac", ext + F.lit(0.0))
        .withColumn("reason", reason)
        .withColumn("keep", F.col("reason").isNull())
    )


def _paired(
    df: DataFrame,
    key: str,
    id_col: str,
    w_col: str,
    h_col: str,
    group_cols: tuple | list = (),
):
    """Deterministic within-(w,h[,group]) pairing: rows order by
    md5(key:id) and rank 2i−1 marries rank 2i (odd tail unpaired —
    omitted, callers union identity rows if they want them). Pixel
    blending needs identical canvases, hence the dims in the group
    key. ONE hash exchange on the group columns."""
    from pyspark.sql import Window

    grp = [w_col, h_col, *group_cols]
    draw = F.md5(F.concat_ws(":", F.lit(key), F.col(id_col).cast("string")))
    w = Window.partitionBy(*grp).orderBy(F.col("__draw"), F.col(id_col))
    ranked = (
        df.withColumn("__draw", draw)
        .withColumn("__rk", F.row_number().over(w))
    )
    a = ranked.filter(F.col("__rk") % 2 == 1).select(
        *[F.col(c) for c in grp],
        F.col(id_col).alias("id_a"),
        ((F.col("__rk") + 1) / 2).cast("long").alias("__pair"),
    )
    b = ranked.filter(F.col("__rk") % 2 == 0).select(
        *[F.col(c) for c in grp],
        F.col(id_col).alias("id_b"),
        (F.col("__rk") / 2).cast("long").alias("__pair"),
    )
    return a.join(b, [*grp, "__pair"]).drop("__pair")


def _hx(key, pos: int):
    """Hex byte ``pos`` (0-based) of an md5 column → int 0..255."""
    return F.conv(F.substring(key, 2 * pos + 1, 2), 16, 10).cast("int")


def mixup_plan(
    df: DataFrame,
    seed: int = 42,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
    group_cols: tuple | list = (),
) -> DataFrame:
    """Mixup augmentation PLAN (Zhang et al. 2018, deterministic):
    same-dimension images pair via the md5 draw and each pair carries
    an exact-rational blend weight ``lam_num``/256 — the executor
    computes ``(lam·A + (256−lam)·B + 128) div 256`` in pure integer
    arithmetic, so the augmented pixels are bit-reproducible on any
    engine (no float Beta draw; the md5 byte is the λ source).
    ``keep_a`` names the dominant side (λ ≥ ½ — caption/label of the
    output, the standard hard-label convention).

    Metadata-only: ids and dims, never pixels — export it to a loader
    or feed ``pair_payloads`` + ``apply_mixup``. One exchange on the
    (w, h) group, one pair equi-join."""
    pairs = _paired(df, f"mx{seed}", id_col, w_col, h_col, group_cols)
    lam_key = F.md5(
        F.concat_ws(
            ":", F.lit(f"lam{seed}"),
            F.col("id_a").cast("string"), F.col("id_b").cast("string"),
        )
    )
    return pairs.withColumn("lam_num", _hx(lam_key, 0)).withColumn(
        "keep_a", F.col("lam_num") >= 128
    )


def cutmix_plan(
    df: DataFrame,
    seed: int = 42,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
    group_cols: tuple | list = (),
) -> DataFrame:
    """CutMix augmentation PLAN (Yun et al. 2019, deterministic): the
    md5-paired partner donates a rectangular patch. Box geometry is
    exact integer arithmetic over four md5 bytes b0..b3 of the pair
    key: ``box_w = w·b0 div 256``, ``box_h = h·b1 div 256`` (0 allowed
    — degenerate box = pure A), offsets ``off_x = (w−box_w)·b2 div
    255`` (b2=255 reaches the right edge exactly), ``off_y``
    analogous. ``keep_a`` = the side covering ≥ half the area
    (``2·box_w·box_h ≤ w·h`` — integer compare, no float λ).

    Metadata-only plan; ``apply_mixup(mode="cutmix")`` executes it.
    Same shuffle shape as ``mixup_plan``."""
    pairs = _paired(df, f"cut{seed}", id_col, w_col, h_col, group_cols)
    box_key = F.md5(
        F.concat_ws(
            ":", F.lit(f"box{seed}"),
            F.col("id_a").cast("string"), F.col("id_b").cast("string"),
        )
    )
    wc, hc = F.col(w_col).cast("long"), F.col(h_col).cast("long")
    # div() everywhere: a double `/` then truncate would mis-round at
    # /255 (not a binary scale), flipping an offset by one pixel
    out = (
        pairs.withColumn("__k", box_key)
        .withColumn("__b0", _hx(F.col("__k"), 0).cast("long"))
        .withColumn("__b1", _hx(F.col("__k"), 1).cast("long"))
        .withColumn("__b2", _hx(F.col("__k"), 2).cast("long"))
        .withColumn("__b3", _hx(F.col("__k"), 3).cast("long"))
        .withColumn(
            "box_w",
            F.expr(f"div(cast(`{w_col}` as bigint) * __b0, 256)")
            .cast("int"),
        )
        .withColumn(
            "box_h",
            F.expr(f"div(cast(`{h_col}` as bigint) * __b1, 256)")
            .cast("int"),
        )
    )
    return (
        out.withColumn(
            "off_x",
            F.expr(
                f"div((cast(`{w_col}` as bigint) - box_w) * __b2, 255)"
            ).cast("int"),
        )
        .withColumn(
            "off_y",
            F.expr(
                f"div((cast(`{h_col}` as bigint) - box_h) * __b3, 255)"
            ).cast("int"),
        )
        .withColumn(
            "keep_a",
            2 * F.col("box_w").cast("long") * F.col("box_h") <= wc * hc,
        )
        .drop("__k", "__b0", "__b1", "__b2", "__b3")
    )


def pair_payloads(
    df: DataFrame,
    plan: DataFrame,
    id_col: str = "image_id",
    payload_cols: tuple | list = ("bytes", "fmt"),
) -> DataFrame:
    """Attach both sides' payloads to a mixup/cutmix plan: two equi
    joins on id. Blending is the ONE operator family whose semantics
    force pixels through an exchange (two rows meet in one task);
    bound the cost by projecting everything but id+payload away first
    — done here — and note the pairing already grouped by (w, h), so
    partners co-locate after one hash exchange each."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in payload_cols],
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in payload_cols],
    )
    return plan.join(a, "id_a").join(b, "id_b")


def apply_mixup(pairs: DataFrame, mode: str = "mixup") -> DataFrame:
    """Execute a mixup/cutmix plan on pixels: decode both sides, blend
    with EXACT integer arithmetic, re-encode in side A's format.

    ``mixup``: ``out = (lam·A + (256−lam)·B + 128) div 256`` per
    channel value (round-half-up of the rational blend — pure int32,
    bit-reproducible; the λ byte came from the plan's md5).
    ``cutmix``: A with the plan's (off_x, off_y, box_w, box_h) window
    replaced by B's. Decoded canvases must match the plan dims —
    mismatches raise rather than silently mis-blend. One
    ``mapInPandas`` stage; output carries ``bytes``/``fmt`` (side A's
    codec) next to the plan columns, payload never re-shuffles."""
    if mode not in ("mixup", "cutmix"):
        raise ValueError("mode must be 'mixup' or 'cutmix'")
    keep = [
        c for c in pairs.columns
        if c not in ("bytes_a", "fmt_a", "bytes_b", "fmt_b")
    ]
    schema = T.StructType(
        [f for f in pairs.schema.fields if f.name in keep]
        + [
            T.StructField("bytes", T.BinaryType(), True),
            T.StructField("fmt", T.StringType(), True),
        ]
    )
    mix = mode == "mixup"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blended = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                if r["bytes_a"] is None or r["bytes_b"] is None:
                    blended.append(None)
                    continue
                a = decode_image(bytes(r["bytes_a"]), r["fmt_a"])
                b = decode_image(bytes(r["bytes_b"]), r["fmt_b"])
                if a.shape != b.shape:
                    raise ValueError(
                        f"pair {r['id_a']}/{r['id_b']}: canvas mismatch "
                        f"{a.shape} vs {b.shape}"
                    )
                if mix:
                    lam = int(r["lam_num"])
                    out = (
                        (
                            lam * a.astype(np.int32)
                            + (256 - lam) * b.astype(np.int32)
                            + 128
                        )
                        // 256
                    ).astype(a.dtype)
                else:
                    ox, oy = int(r["off_x"]), int(r["off_y"])
                    bw, bh = int(r["box_w"]), int(r["box_h"])
                    out = a.copy()
                    out[oy:oy + bh, ox:ox + bw] = b[oy:oy + bh, ox:ox + bw]
                blended.append(encode_image(out, r["fmt_a"]))
            out_pdf = pdf[keep].copy()
            out_pdf["bytes"] = blended
            out_pdf["fmt"] = pdf["fmt_a"]
            yield out_pdf

    return pairs.mapInPandas(batches, schema)


def audio_activity_segments(
    frames: DataFrame,
    rms_min: float,
    max_gap: int = 0,
    id_col: str = "audio_id",
) -> DataFrame:
    """VAD-style activity segmentation over an ``audio_frame_features``
    frame: frames with ``rms ≥ rms_min`` are active, and consecutive
    active frames (bridging silences of ≤ ``max_gap`` frames) merge
    into segments — the speech/music region detector every audio
    curation pipeline runs before transcription or clip extraction.
    Output: one row per (clip, segment) with frame extent and a
    DECIMAL-stable mean rms (q93 rule).

    The threshold compares the operator's already-round(6)ed rms, so
    the active/silent verdict is engine-deterministic (q160 rule).
    Relational all the way: one window + one groupBy per clip — the
    frames frame already dropped payload bytes, so nothing heavy
    shuffles. Segmentation math is the sessionize pattern (q10) on the
    frame axis."""
    from pyspark.sql import Window

    active = frames.filter(F.col("rms") >= F.round(F.lit(float(rms_min)), 6))
    w = Window.partitionBy(id_col).orderBy("frame_idx")
    seg = active.withColumn(
        "__new",
        F.when(
            F.col("frame_idx") - F.lag("frame_idx").over(w)
            > int(max_gap) + 1,
            1,
        )
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "seg_no",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("int"),
    )
    return seg.groupBy(id_col, "seg_no").agg(
        F.min("frame_idx").alias("start_frame"),
        F.max("frame_idx").alias("end_frame"),
        F.count(F.lit(1)).alias("n_frames"),
        F.round(
            F.sum(F.col("rms").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("rms_mean"),
    )


def video_frame_diffs(
    df: DataFrame,
    every_n: int = 1,
    id_col: str = "video_id",
) -> DataFrame:
    """Consecutive-sampled-frame difference signal: one row per sampled
    frame with ``mad`` = round(mean |frame − previous sampled frame|,
    6) (null for a clip's first sample) — the scene-change detector's
    input. The pixel comparison happens INSIDE the decode stage
    (``mapInPandas`` over the FVC1 container's cheap frame seeks);
    only (id, frame_idx, mad) scalars leave, payload never shuffles —
    at 10^12 clips the decoded frames would dominate every downstream
    exchange."""
    from lbf_spark.functions.audio import video_decode_frame, video_info

    schema = T.StructType(
        [
            T.StructField(id_col, T.StringType(), True),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("mad", T.DoubleType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _id, data in zip(pdf[id_col], pdf["bytes"]):
                if data is None:
                    continue
                blob = bytes(data)
                n, _fps = video_info(blob)
                prev = None
                for k in range(0, n, every_n):
                    img = video_decode_frame(blob, k).astype(np.int64)
                    mad = (
                        None
                        if prev is None
                        else round(
                            float(np.abs(img - prev).mean()), 6
                        )
                    )
                    rows.append((_id, np.int32(k), mad))
                    prev = img
            yield pd.DataFrame(
                rows, columns=[id_col, "frame_idx", "mad"]
            )

    return df.mapInPandas(batches, schema)


def video_scene_segments(
    diffs: DataFrame,
    mad_min: float,
    id_col: str = "video_id",
) -> DataFrame:
    """Scene segmentation over ``video_frame_diffs`` output: a sampled
    frame whose ``mad`` meets the (round(6)-compared) threshold opens
    a new scene; scenes aggregate to (start_frame, end_frame,
    n_sampled). The q10 sessionize pattern on the frame axis — one
    window + one groupBy per clip over scalar rows."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("frame_idx")
    cut = (
        F.when(
            F.col("mad") >= F.round(F.lit(float(mad_min)), 6), 1
        )
        .otherwise(0)
        .cast("int")
    )
    seg = diffs.withColumn(
        "scene_no",
        F.sum(cut).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("int"),
    )
    return seg.groupBy(id_col, "scene_no").agg(
        F.min("frame_idx").alias("start_frame"),
        F.max("frame_idx").alias("end_frame"),
        F.count(F.lit(1)).alias("n_sampled"),
    )


def color_histogram(
    df: DataFrame,
    bins: int = 16,
    id_col: str = "image_id",
) -> DataFrame:
    """Exact per-channel color histogram: one row per (image, channel,
    bin) with the INTEGER pixel count (bin = value·bins div 256 —
    exact arithmetic, 256 divisible by any power-of-two ``bins``).
    The color-distribution feature behind dedup blocking, stylistic
    clustering and white/black-frame detection; integer counts COMPOSE
    across tilings exactly like ``pixel_sums`` (the q152 conservation
    law), and they are codec-path invariant for lossless transcodes —
    both certified by q195. Long-form output stays relational
    (pivot downstream if a vector is wanted); payload dropped
    in-stage."""
    if bins < 1 or 256 % bins:
        raise ValueError("bins must divide 256")
    keep = [c for c in df.columns if c != "bytes"]
    schema = T.StructType(
        [f for f in df.schema.fields if f.name != "bytes"]
        + [
            T.StructField("channel", T.IntegerType(), False),
            T.StructField("bin", T.IntegerType(), False),
            T.StructField("n_px", T.LongType(), False),
        ]
    )
    width = 256 // bins

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_rows = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                if r["bytes"] is None:
                    continue
                img = decode_image(bytes(r["bytes"]), r["fmt"])
                base = [r[c] for c in keep]
                for ch in range(img.shape[2]):
                    counts = np.bincount(
                        img[:, :, ch].ravel() // width, minlength=bins
                    )
                    out_rows.extend(
                        base + [ch, b, int(counts[b])]
                        for b in range(bins)
                        if counts[b] > 0
                    )
            yield pd.DataFrame(
                out_rows, columns=keep + ["channel", "bin", "n_px"]
            ).astype({"channel": "int32", "bin": "int32", "n_px": "int64"})

    return df.mapInPandas(batches, schema)
