"""Deterministic synthetic fixtures: the image+caption event table + anchors.

Mirrors the reference's seeded ``DummyDatasetGenerator``
(``/root/reference/src/lbfextract/data/dummy_dataset_generator.py:9-13``,
seed=42) recast onto the ``input_hint`` schema of BASELINE.json:
``(image_id, bytes, w, h, fmt, caption, phash)`` plus the engine keys
``(entity, ts, duration)``. Everything is a pure function of the seed —
no wall clock, no unseeded RNG (the reference's unseeded ``np.random``
in dyad sampling is exactly what we avoid, SURVEY.md §4 fidelity list).

Skew: one hot entity carries ≥20 % of rows (Zipf tail for the rest) so
the salting / AQE-skew paths are actually exercised. Sessions: ~5 % of
intra-entity gaps exceed ``session_gap`` (dyad-segmentation analog,
``signal_transformer.py:50-113``).
"""

from __future__ import annotations


import numpy as np
import pandas as pd

from lbf_spark.functions.codec import encode_image

SEED = 42
SESSION_GAP = 1000  # ts units; gaps larger than this start a new session

EVENT_COLUMNS = [
    "image_id",
    "bytes",
    "w",
    "h",
    "fmt",
    "caption",
    "phash",
    "entity",
    "ts",
    "duration",
]


def _entity_ids(n_rows: int, n_entities: int, rng: np.random.Generator) -> np.ndarray:
    """Zipf-skewed entity assignment; entity 0 gets ≥20 % of rows."""
    ranks = np.arange(1, n_entities + 1, dtype=np.float64)
    p = 1.0 / ranks
    p /= p.sum()
    p[0] = max(p[0], 0.22)  # force a hot entity
    p[1:] *= (1.0 - p[0]) / p[1:].sum()
    return rng.choice(n_entities, size=n_rows, p=p)


def _pixels(entity_id: int, ts: int, w: int, h: int) -> np.ndarray:
    """Deterministic pixel content = f(entity, ts); uint8 (h, w, 3)."""
    idx = np.arange(h * w * 3, dtype=np.int64)
    vals = (entity_id * 2654435761 + ts * 40503 + idx * 97 + (idx % 3) * 31) % 256
    return vals.astype(np.uint8).reshape(h, w, 3)


def generate_events(
    n_rows: int = 5000,
    n_entities: int = 8,
    seed: int = SEED,
    session_gap: int = SESSION_GAP,
    with_payload: bool = True,
    size_probs: tuple[float, float, float] = (0.7, 0.2, 0.1),
) -> pd.DataFrame:
    """The main input table (FIXTURES.md §1). Sorted by (entity, ts)."""
    rng = np.random.default_rng(seed)
    ent = np.sort(_entity_ids(n_rows, n_entities, rng))

    # strictly-increasing per-entity ts with occasional session-sized gaps
    gaps = rng.integers(1, 50, size=n_rows).astype(np.int64)
    big = rng.random(n_rows) < 0.05
    gaps[big] += session_gap * rng.integers(2, 6, size=int(big.sum()))
    ts = pd.Series(gaps).groupby(ent).cumsum().to_numpy() + 10_000

    # bimodal duration in [100, 400) — fragment-length-band analog
    # (fextract_fragment_length_distribution/plugin.py:296-299 defaults)
    mode = rng.random(n_rows) < 0.5
    dur = np.where(
        mode,
        rng.normal(150.0, 20.0, n_rows),
        rng.normal(330.0, 25.0, n_rows),
    )
    duration = np.clip(dur, 100, 399).astype(np.int64)

    # phash: per-entity random walk with small Hamming drift
    r = rng.integers(0, 2**63, size=(4, n_rows), dtype=np.int64)
    flips = r[0] & r[1] & r[2] & r[3]  # ~8 bits set on average
    base = np.array(
        [np.int64(((e + 1) * 0x9E3779B97F4A7C15) & 0x7FFFFFFFFFFFFFFF) for e in range(n_entities)]
    )
    phash = np.empty(n_rows, dtype=np.int64)
    start = 0
    for e, cnt in zip(*np.unique(ent, return_counts=True)):
        seg = flips[start : start + cnt].copy()
        seg[0] = base[e]
        phash[start : start + cnt] = np.bitwise_xor.accumulate(seg)
        start += cnt

    w = rng.choice(np.array([8, 16, 32], dtype=np.int32), size=n_rows, p=list(size_probs))
    h = rng.choice(np.array([8, 16, 32], dtype=np.int32), size=n_rows, p=list(size_probs))
    fmt = np.where(rng.random(n_rows) < 0.9, "png", "jpeg")

    k_in_entity = pd.Series(np.ones(n_rows)).groupby(ent).cumsum().astype(int) - 1
    entity = np.array([f"e{e:04d}" for e in ent])
    df = pd.DataFrame(
        {
            "image_id": [f"img_{i:012d}" for i in range(n_rows)],
            "w": w.astype(np.int32),
            "h": h.astype(np.int32),
            "fmt": fmt,
            "caption": [
                f"caption {en} {k}" for en, k in zip(entity, k_in_entity.to_numpy())
            ],
            "phash": phash,
            "entity": entity,
            "ts": ts,
            "duration": duration,
        }
    )
    if with_payload:
        df.insert(
            1,
            "bytes",
            [
                encode_image(_pixels(e, t, ww, hh), f)
                for e, t, ww, hh, f in zip(ent, ts, w, h, fmt)
            ],
        )
    else:
        df.insert(1, "bytes", None)
    return df[EVENT_COLUMNS]


def generate_anchors(
    events: pd.DataFrame,
    n_per_entity: int = 20,
    seed: int = SEED + 1,
    names: tuple[str, ...] = ("setA", "setB"),
) -> pd.DataFrame:
    """Point-in-time query table (FIXTURES.md §2) — BED-interval analog
    (``/root/reference/src/lbfextract/utils.py:238-288``).

    Includes anchors before any event and after the last event of an
    entity (empty-window / backward-match edge cases).
    """
    rng = np.random.default_rng(seed)
    rows = []
    for entity, grp in events.groupby("entity", sort=True):
        ts_vals = grp["ts"].to_numpy()
        picks = rng.choice(ts_vals, size=min(n_per_entity, len(ts_vals)), replace=False)
        jitter = rng.integers(-5, 6, size=len(picks))
        anchor_ts = np.sort(picks + jitter)
        for i, a in enumerate(anchor_ts):
            rows.append((entity, int(a), names[i % len(names)]))
        # edge cases: before first event, after last event
        rows.append((entity, int(ts_vals.min() - 500), names[0]))
        rows.append((entity, int(ts_vals.max() + 500), names[1]))
    df = pd.DataFrame(rows, columns=["entity", "anchor_ts", "name"])
    df["score"] = rng.integers(0, 1000, size=len(df)).astype(np.int32)
    df["strand"] = np.where(rng.random(len(df)) < 0.5, "+", "-")
    return df.sort_values(["entity", "anchor_ts"], ignore_index=True)


def events_spark_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("caption", T.StringType()),
            T.StructField("phash", T.LongType()),
            T.StructField("entity", T.StringType()),
            T.StructField("ts", T.LongType()),
            T.StructField("duration", T.LongType()),
        ]
    )


def anchors_spark_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("entity", T.StringType()),
            T.StructField("anchor_ts", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.IntegerType()),
            T.StructField("strand", T.StringType()),
        ]
    )


def events_to_spark(spark, events: pd.DataFrame):
    """Fixed event schema + pass-through of any extra columns (e.g. a
    per-event coverage weight, the GC-tag analog) appended at the end."""
    from pyspark.sql import types as T

    schema = events_spark_schema()
    base = {f.name for f in schema.fields}
    extra = [c for c in events.columns if c not in base]
    if extra:
        types = {
            "f": T.DoubleType(), "i": T.LongType(),
            "u": T.LongType(), "b": T.BooleanType(),
        }
        fields = list(schema.fields)
        for c in extra:
            fields.append(
                T.StructField(c, types.get(events[c].dtype.kind, T.StringType()))
            )
        # createDataFrame(pandas, schema) binds by position: keep the
        # base column order, extras last
        cols = [f.name for f in schema.fields] + extra
        return spark.createDataFrame(events[cols], schema=T.StructType(fields))
    return spark.createDataFrame(events, schema=schema)


def anchors_to_spark(spark, anchors: pd.DataFrame):
    return spark.createDataFrame(anchors, schema=anchors_spark_schema())
