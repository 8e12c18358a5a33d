"""Property-based tests (hypothesis): the JVM as-of join and window
kernels must match pandas/numpy on arbitrary adversarial inputs —
duplicate timestamps, empty sides, single-row entities, negative ts."""

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from lbf_spark.operators.asof import asof_join

SETTINGS = settings(max_examples=12, deadline=None)


events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),            # entity
        st.integers(min_value=-1000, max_value=1000),  # ts (dups allowed)
        st.integers(min_value=0, max_value=99),        # value
    ),
    min_size=0,
    max_size=40,
)

anchors_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c", "d"]),       # entity (d: no events)
        st.integers(min_value=-1100, max_value=1100),
    ),
    min_size=1,
    max_size=15,
)


def _pandas_asof(ev: pd.DataFrame, an: pd.DataFrame, tolerance=None) -> pd.DataFrame:
    outs = []
    for entity, a in an.groupby("entity"):
        e = ev[ev.entity == entity].sort_values(["ts", "value"], kind="mergesort")
        if e.empty:
            m = a.copy()
            m["ts"] = np.nan
            m["value"] = np.nan
        else:
            m = pd.merge_asof(
                a.sort_values("anchor_ts", kind="mergesort"),
                e[["ts", "value"]],
                left_on="anchor_ts",
                right_on="ts",
                direction="backward",
                tolerance=tolerance,
            )
        outs.append(m)
    return (
        pd.concat(outs)
        .sort_values(["entity", "anchor_ts", "aid"], ignore_index=True)
    )


@given(events=events_strategy, anchors=anchors_strategy,
       tolerance=st.sampled_from([None, 50, 500]))
@SETTINGS
def test_asof_union_matches_pandas(spark, events, anchors, tolerance):
    ev = pd.DataFrame(events, columns=["entity", "ts", "value"])
    # union strategy resolves equal-ts ties to the LAST event, like
    # merge_asof — make ties deterministic by deduping to max value
    ev = ev.sort_values(["entity", "ts", "value"]).groupby(
        ["entity", "ts"], as_index=False
    ).last()
    an = pd.DataFrame(anchors, columns=["entity", "anchor_ts"])
    an["aid"] = range(len(an))

    ev_s = spark.createDataFrame(
        ev if len(ev) else pd.DataFrame({"entity": pd.Series(dtype=str),
                                         "ts": pd.Series(dtype="int64"),
                                         "value": pd.Series(dtype="int64")}),
        "entity string, ts long, value long",
    )
    an_s = spark.createDataFrame(an, "entity string, anchor_ts long, aid long")
    got = (
        asof_join(ev_s, an_s, select=["ts", "value"], tolerance=tolerance)
        .toPandas()
        .sort_values(["entity", "anchor_ts", "aid"], ignore_index=True)
    )
    exp = _pandas_asof(ev, an, tolerance)
    assert len(got) == len(exp)
    for col in ("ts", "value"):
        g = got[col].astype("float64").to_numpy()
        x = exp[col].astype("float64").to_numpy()
        assert np.allclose(g, x, equal_nan=True), (col, got, exp)


@given(
    ts_lists=st.lists(
        st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=30),
        min_size=1, max_size=3,
    ),
    gap=st.integers(min_value=1, max_value=500),
)
@SETTINGS
def test_sessionize_matches_numpy(spark, ts_lists, gap):
    from lbf_spark.operators.windows import sessionize

    rows = []
    for i, ts in enumerate(ts_lists):
        ent = f"e{i}"
        for j, t in enumerate(sorted(set(ts))):
            rows.append((ent, t))
    pdf = pd.DataFrame(rows, columns=["entity", "ts"])
    got = (
        sessionize(spark.createDataFrame(pdf, "entity string, ts long"), gap)
        .toPandas()
        .sort_values(["entity", "ts"], ignore_index=True)
    )
    exp = []
    for _, grp in pdf.groupby("entity", sort=True):
        t = np.sort(grp.ts.to_numpy())
        exp.extend(np.cumsum(np.diff(t, prepend=t[0]) > gap))
    assert got["session_id"].tolist() == [int(x) for x in exp]


@given(
    ts_lists=st.lists(
        st.lists(st.integers(min_value=0, max_value=3000), min_size=1, max_size=60),
        min_size=1, max_size=4,
    ),
    window=st.integers(min_value=1, max_value=9),
    slice_w=st.integers(min_value=7, max_value=900),
    gap=st.integers(min_value=1, max_value=500),
)
@SETTINGS
def test_fused_bounded_sliced_property(spark, ts_lists, window, slice_w, gap):
    """Random timestamps / window sizes / slice widths (window=1
    included): the ONE-exchange fused kernel must equal the three
    unsliced operators — rolling mean, lag-1 hamming drift, sessionize."""
    from lbf_spark.operators import sliced_windows as SW, windows as W

    rows = []
    for i, ts in enumerate(ts_lists):
        for t in sorted(set(ts)):
            rows.append((f"e{i}", t, float((t * 31 + i) % 97), (t * 2654435761 + i) % (1 << 62)))
    pdf = pd.DataFrame(rows, columns=["entity", "ts", "v", "phash"])
    df = spark.createDataFrame(pdf, "entity string, ts long, v double, phash long")
    exp = (
        W.sessionize(
            W.hamming_to_prev(W.rolling_mean(df, "v", "roll_mean", window), "phash", "phash_drift"),
            gap, out="session_id",
        )
        .toPandas().sort_values(["entity", "ts"], ignore_index=True)
    )
    got = (
        SW.fused_bounded_sliced(df, "v", window, gap, slice_width=slice_w)
        .toPandas().sort_values(["entity", "ts"], ignore_index=True)
    )
    assert np.allclose(got["roll_mean"], exp["roll_mean"], rtol=0, atol=0)
    g = got["phash_drift"].astype("float64").to_numpy()
    e = exp["phash_drift"].astype("float64").to_numpy()
    assert np.all((g == e) | (np.isnan(g) & np.isnan(e)))
    assert got["session_id"].tolist() == exp["session_id"].tolist()


@given(
    ts_lists=st.lists(
        st.lists(st.integers(min_value=0, max_value=3000), min_size=1, max_size=60),
        min_size=1, max_size=4,
    ),
    window=st.integers(min_value=2, max_value=9),
    slice_w=st.integers(min_value=7, max_value=900),
    gap=st.integers(min_value=1, max_value=500),
)
@SETTINGS
def test_sliced_windows_match_unsliced_property(spark, ts_lists, window, slice_w, gap):
    """Random timestamps / window sizes / slice widths: the halo-sliced
    rolling mean and sessionize must equal the unsliced operators."""
    from lbf_spark.operators import sliced_windows as SW, windows as W

    rows = []
    for i, ts in enumerate(ts_lists):
        for t in sorted(set(ts)):
            rows.append((f"e{i}", t, float((t * 31 + i) % 97), t * 7 + i))
    pdf = pd.DataFrame(rows, columns=["entity", "ts", "v", "phash"])
    df = spark.createDataFrame(pdf, "entity string, ts long, v double, phash long")
    exp_r = (
        W.rolling_mean(df, "v", "r", window)
        .toPandas().sort_values(["entity", "ts"], ignore_index=True)
    )
    exp_s = (
        W.sessionize(df, gap, out="s")
        .toPandas().sort_values(["entity", "ts"], ignore_index=True)
    )
    got = (
        SW.fused_bounded_sliced(df, "v", window, gap, slice_width=slice_w)
        .toPandas().sort_values(["entity", "ts"], ignore_index=True)
    )
    assert np.allclose(got["roll_mean"], exp_r["r"], rtol=0, atol=0)
    assert got["session_id"].tolist() == exp_s["s"].tolist()


@given(
    n_tokens=st.integers(min_value=0, max_value=40),
    chunk=st.integers(min_value=1, max_value=10),
    stride_delta=st.integers(min_value=0, max_value=9),
)
@SETTINGS
def test_chunk_tokens_coverage_invariants(spark, n_tokens, chunk, stride_delta):
    """For any (chunk_size, stride<=chunk_size): every token lands in at
    least one chunk, chunk count == ceil(n/stride) for non-empty docs,
    and concatenated chunk sizes == n + overlap duplication."""
    from lbf_spark.operators.text import chunk_tokens

    stride = max(1, chunk - stride_delta)  # stride in [1, chunk]
    words = " ".join(f"w{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, words)], "doc_id long, text string")
    out = chunk_tokens(df, chunk_size=chunk, stride=stride).toPandas()
    if n_tokens == 0:
        assert len(out) == 0
        return
    import math

    assert len(out) == math.ceil(n_tokens / stride)
    sizes = out.sort_values("chunk_id")["n_tokens"].tolist()
    # each start covers tokens [start, start+chunk); union covers all n
    # tokens because stride <= chunk
    covered = set()
    for cid, sz in zip(out.sort_values("chunk_id")["chunk_id"], sizes):
        start = cid * stride
        covered.update(range(start, start + sz))
    assert covered == set(range(n_tokens))


@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=1, max_size=25,
    ),
    alpha=st.floats(min_value=0.05, max_value=0.95),
    window=st.integers(min_value=1, max_value=6),
)
@SETTINGS
def test_ewma_bounded_by_window_extrema(spark, vals, alpha, window):
    """EWMA is a convex combination of the window's values, so it must
    lie within [min, max] of the last `window` observations."""
    from lbf_spark.operators.windows import ewma

    df = spark.createDataFrame(
        [("e", i, float(v)) for i, v in enumerate(vals)],
        "entity string, ts long, v double",
    )
    got = (
        ewma(df, "v", alpha=alpha, window=window, by="entity", order="ts")
        .toPandas().sort_values("ts")["ewma"].tolist()
    )
    for t, g in enumerate(got):
        w = vals[max(0, t - window + 1): t + 1]
        assert min(w) - 1e-6 <= g <= max(w) + 1e-6, (t, g, w)


# --------------------------------------------------------------------
# round-5 additions: prefix-filtered jaccard exactness; seeded
# probabilistic dyads vs the hashlib twin — over adversarial inputs
# --------------------------------------------------------------------

docs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),     # doc_id (dups dropped)
        st.lists(
            st.sampled_from(
                ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
            ),
            min_size=0,
            max_size=12,
        ),
    ),
    min_size=0,
    max_size=12,
)


@given(docs=docs_strategy, threshold=st.sampled_from([0.5, 0.7, 0.8, 0.95]))
@settings(max_examples=8, deadline=None)
def test_prefix_jaccard_equals_full_property(spark, docs, threshold):
    """For ANY document set and high threshold, the prefix-filtered
    pairs equal the full-inverted-index pairs exactly (pigeonhole
    guarantee) — including duplicate token lists, empty docs, and
    heavy shared-token overlap."""
    from pyspark.sql import functions as F

    from lbf_spark.operators import dedup

    seen = {}
    for did, toks in docs:
        seen[did] = " ".join(toks)
    pdf = pd.DataFrame(
        [(k, v) for k, v in seen.items()], columns=["doc_id", "text"]
    )
    if pdf.empty:
        return
    frame = spark.createDataFrame(pdf)
    sh = dedup.with_shingles(frame, "doc_id", "text", 2).filter(
        F.size("shingles") > 0
    )
    run = lambda f: sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in f.collect()
    )
    assert run(dedup._jaccard_pairs_prefix(sh, threshold)) == run(
        dedup._jaccard_pairs(sh, threshold, "doc_id")
    )
    dedup.release_caches()


dyad_strategy = st.lists(
    st.tuples(
        st.sampled_from(["e0", "e1"]),                    # entity
        st.integers(min_value=0, max_value=10**9),        # ts
        st.integers(min_value=1, max_value=5_000_000),    # duration
        st.integers(min_value=0, max_value=10**6),        # event_id
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[3],
)


@given(rows=dyad_strategy, spacing=st.sampled_from([1_000, 250_000, 1_000_000]))
@settings(max_examples=8, deadline=None)
def test_prob_dyad_matches_twin_property(spark, rows, spacing):
    """dyad_centers_prob == the hashlib/int twin for arbitrary
    durations (shorter than, equal to, and many multiples of spacing),
    arbitrary ts, and duplicate (entity, ts) rows."""
    import hashlib

    from lbf_spark.operators import windows as W

    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["entity", "ts", "duration", "event_id"])
    )
    got = sorted(
        (r["event_id"], r["center_ts"])
        for r in W.dyad_centers_prob(
            df, spacing, by="entity", on="ts", id_col="event_id"
        ).select("event_id", "center_ts").collect()
    )
    exp = []
    for entity, ts, duration, event_id in rows:
        blob = f"42:{entity}:{event_id}".encode()
        u = int(hashlib.md5(blob).hexdigest()[:13], 16) / float(1 << 52)
        k = max(1, duration // spacing + (1 if u < (duration % spacing) / spacing else 0))
        est = ts + duration // 2 - (k * spacing) // 2
        for i in range(k):
            exp.append((event_id, est + spacing // 2 + i * spacing))
    assert got == sorted(exp)


@given(
    costs=st.lists(
        st.integers(min_value=0, max_value=1 << 40), min_size=1, max_size=60
    ),
    n_shards=st.sampled_from([1, 3, 8]),
)
@SETTINGS
def test_cost_balanced_shards_property(spark, costs, n_shards):
    """Arbitrary costs (zeros, huge values, ties): banded global rank
    + snake ≡ the python replay, every rank 1..n appears once."""
    from lbf_spark.operators.distributions import cost_balanced_shards

    df = spark.createDataFrame(
        [(i, int(c)) for i, c in enumerate(costs)], "id long, cost long"
    )
    got = {
        r["id"]: (r["cost_rank"], r["shard"])
        for r in cost_balanced_shards(
            df, n_shards=n_shards, cost_col="cost", id_col="id"
        ).collect()
    }
    order = sorted(range(len(costs)), key=lambda i: (-costs[i], i))
    for r0, i in enumerate(order):
        rnd, pos = divmod(r0, n_shards)
        exp_shard = pos if rnd % 2 == 0 else n_shards - 1 - pos
        assert got[i] == (r0 + 1, exp_shard), (i, got[i])
    assert sorted(rk for rk, _s in got.values()) == list(
        range(1, len(costs) + 1)
    )


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 12) - 1),
            st.integers(min_value=0, max_value=(1 << 12) - 1),
        ),
        min_size=1,
        max_size=50,
    )
)
@SETTINGS
def test_hilbert_key_property(spark, pts):
    """Arbitrary 12-bit points: the JVM fold equals the classical xy2d
    and distinct points get distinct keys (injectivity)."""
    from lbf_spark.sources.table import hilbert_key

    from tests.test_round6b_ops import _xy2d

    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in pts], "x long, y long"
    )
    got = {
        (r["x"], r["y"]): r["h"]
        for r in hilbert_key(df, ["x", "y"], bits=12, out="h").collect()
    }
    for (x, y), h in got.items():
        assert h == _xy2d(12, x, y)
    assert len(set(got.values())) == len(got)


@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=2,
        max_size=60,
    )
)
@SETTINGS
def test_ks_2samp_property(spark, vals):
    """Arbitrary two-sample splits (ties across sides, degenerate
    sides): D matches the numpy ECDF twin at round-6; both labels must
    be present or the operator refuses (checked by construction)."""
    from lbf_spark.operators import stats as ST

    if len({s for s, _ in vals}) < 2:
        vals = vals + [("a", 0), ("b", 0)]
    df = spark.createDataFrame(
        [(s, float(v)) for s, v in vals], "side string, v double"
    )
    [row] = ST.ks_2samp(df, "v", "side").collect()
    x = np.sort([v for s, v in vals if s == "a"])
    y = np.sort([v for s, v in vals if s == "b"])
    allv = np.unique(np.concatenate([x, y]))
    fa = np.searchsorted(x, allv, side="right") / len(x)
    fb = np.searchsorted(y, allv, side="right") / len(y)
    assert row["ks_d"] == round(float(np.abs(fa - fb).max()), 6)
    assert (row["n_a"], row["n_b"]) == (len(x), len(y))
