"""Round-6 continuation operators: cost-balanced sharding and friends."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from lbf_spark.operators import distributions as D


def _snake_twin(costs: dict, n: int) -> dict:
    """Pure-python replay: (cost desc, id asc) rank → snake shard."""
    order = sorted(costs, key=lambda i: (-costs[i], i))
    out = {}
    for r0, i in enumerate(order):
        rnd, pos = divmod(r0, n)
        out[i] = (r0 + 1, pos if rnd % 2 == 0 else n - 1 - pos)
    return out


def test_cost_balanced_shards_matches_twin(spark):
    """Banded global rank + snake assignment ≡ the plain python replay
    row-for-row — including ties (id asc) and zero costs (band edge:
    conv(0) has bit-length 1, shared with cost 1)."""
    rng = np.random.default_rng(7)
    costs = {i: int(v) for i, v in enumerate(rng.zipf(1.6, 300) * 100)}
    costs[0] = 0  # band-edge pin
    costs[1] = 1
    costs[2] = costs[3] = 4096  # exact power boundary + tie
    df = spark.createDataFrame(
        [(i, c) for i, c in costs.items()], "id long, cost long"
    )
    got = {
        r["id"]: (r["cost_rank"], r["shard"])
        for r in D.cost_balanced_shards(
            df, n_shards=8, cost_col="cost", id_col="id"
        ).collect()
    }
    assert got == _snake_twin(costs, 8)


def test_cost_balanced_shards_balance_law(spark):
    """On Zipf costs every snake round gives each shard exactly one
    row, so loads stay within ~one max-item of each other — while md5
    sharding (shuffle_shards) leaves a strictly larger spread on the
    same data."""
    rng = np.random.default_rng(11)
    vals = (rng.zipf(1.5, 2000).clip(max=10_000) * 37).astype(int)
    df = spark.createDataFrame(
        [(int(i), int(v)) for i, v in enumerate(vals)], "id long, cost long"
    )
    n = 16
    snake = (
        D.cost_balanced_shards(df, n_shards=n, cost_col="cost", id_col="id")
        .groupBy("shard")
        .agg(F.sum("cost").alias("load"))
        .collect()
    )
    loads = {r["shard"]: r["load"] for r in snake}
    assert set(loads) == set(range(n))  # every shard used
    spread = max(loads.values()) - min(loads.values())
    assert spread <= int(vals.max())
    md5_loads = (
        D.shuffle_shards(df, n_shards=n, id_col="id")
        .groupBy("shard")
        .agg(F.sum("cost").alias("load"))
        .collect()
    )
    md5_spread = max(r["load"] for r in md5_loads) - min(
        r["load"] for r in md5_loads
    )
    assert spread < md5_spread


def test_cost_balanced_shards_plan_no_global_window(spark):
    """The corpus-sized rank must come from per-band windows: the plan
    may sort/partition on __band but must NOT contain a corpus-wide
    single-partition window (the empty partitionBy marker), and no
    Python appears in the plan."""
    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 97).alias("cost")
    )
    out = D.cost_balanced_shards(
        df, n_shards=8, cost_col="cost", id_col="id"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__band" in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    # the only SinglePartition exchange feeds the ≤64-row band-offset
    # frame (its window sorts by __band), never the corpus rank window
    for frag in plan.split("Exchange"):
        if frag.startswith(" SinglePartition"):
            assert "__bn" in frag or "__band" in frag


def test_prep_images_cost_shards_identical_rows(spark):
    """prep_images(cost_shards=N) only moves WHERE decode work runs —
    output rows are bit-identical to the unbalanced chain."""
    from lbf_spark import fixtures
    from lbf_spark.plans.imageprep import prep_images

    ev = fixtures.events_to_spark(
        spark, fixtures.generate_events(n_rows=40, n_entities=4)
    ).select("image_id", "bytes", "fmt", "w", "h")
    tgts = [(16, 16), (24, 16)]
    base = {
        r["image_id"]: (bytes(r["bytes"]), r["w"], r["h"], r["batch_no"],
                        r["pos"])
        for r in prep_images(
            ev, tgts, mode="cover", batch_size=4, n_shards=2
        ).collect()
    }
    balanced = {
        r["image_id"]: (bytes(r["bytes"]), r["w"], r["h"], r["batch_no"],
                        r["pos"])
        for r in prep_images(
            ev, tgts, mode="cover", batch_size=4, n_shards=2, cost_shards=3
        ).collect()
    }
    assert balanced == base


def _md5(s: str) -> str:
    import hashlib

    return hashlib.md5(s.encode()).hexdigest()


def test_mixup_plan_matches_twin(spark):
    """Pairing (md5 draw, rank 2i−1 ↔ 2i within (w,h)) and the λ byte
    reproduce a pure-python replay; odd tails are omitted."""
    from lbf_spark.operators.images import mixup_plan

    rows = [(i, 16 if i % 3 else 32, 16) for i in range(21)]
    df = spark.createDataFrame(rows, "image_id long, w long, h long")
    got = {
        (r["id_a"], r["id_b"]): (r["w"], r["lam_num"], r["keep_a"])
        for r in mixup_plan(df, seed=7).collect()
    }
    exp = {}
    for dims in {(w, h) for _, w, h in rows}:
        members = sorted(
            (i for i, w, h in rows if (w, h) == dims),
            key=lambda i: (_md5(f"mx7:{i}"), i),
        )
        for a, b in zip(members[::2], members[1::2]):
            lam = int(_md5(f"lam7:{a}:{b}")[:2], 16)
            exp[(a, b)] = (dims[0], lam, lam >= 128)
    assert got == exp
    n_groups_odd = sum(
        len([i for i, w, h in rows if (w, h) == d]) % 2
        for d in {(w, h) for _, w, h in rows}
    )
    assert 2 * len(got) + n_groups_odd == len(rows)


def test_cutmix_plan_geometry_laws(spark):
    """Boxes stay inside the canvas for every pair, keep_a is the
    ≥-half-area law, and the arithmetic matches a python replay
    (including the /255 offsets — the float-truncate trap)."""
    from lbf_spark.operators.images import cutmix_plan

    df = spark.createDataFrame(
        [(i, 64, 48) for i in range(40)], "image_id long, w long, h long"
    )
    for r in cutmix_plan(df, seed=3).collect():
        k = _md5(f"box3:{r['id_a']}:{r['id_b']}")
        b0, b1, b2, b3 = (int(k[j:j + 2], 16) for j in (0, 2, 4, 6))
        assert r["box_w"] == 64 * b0 // 256
        assert r["box_h"] == 48 * b1 // 256
        assert r["off_x"] == (64 - r["box_w"]) * b2 // 255
        assert r["off_y"] == (48 - r["box_h"]) * b3 // 255
        assert 0 <= r["off_x"] and r["off_x"] + r["box_w"] <= 64
        assert 0 <= r["off_y"] and r["off_y"] + r["box_h"] <= 48
        assert r["keep_a"] == (2 * r["box_w"] * r["box_h"] <= 64 * 48)


def test_apply_mixup_known_values(spark):
    """Uniform canvases make the blend checkable by hand: mixup value
    = (lam·a + (256−lam)·b + 128) div 256 everywhere; cutmix = a
    outside the box, b inside."""
    import numpy as np

    from lbf_spark.functions.codec import decode_image, encode_image
    from lbf_spark.operators.images import (
        apply_mixup, cutmix_plan, mixup_plan, pair_payloads,
    )

    a = encode_image(np.full((8, 8, 3), 200, np.uint8), "png")
    b = encode_image(np.full((8, 8, 3), 40, np.uint8), "png")
    df = spark.createDataFrame(
        [(1, a, "png", 8, 8), (2, b, "png", 8, 8)],
        "image_id long, bytes binary, fmt string, w long, h long",
    )
    plan = mixup_plan(df, seed=1)
    [p] = plan.collect()
    va, vb = (200, 40) if p["id_a"] == 1 else (40, 200)
    [out] = apply_mixup(pair_payloads(df, plan), "mixup").collect()
    img = decode_image(bytes(out["bytes"]), "png")
    expect = (p["lam_num"] * va + (256 - p["lam_num"]) * vb + 128) // 256
    assert img.min() == img.max() == expect

    cplan = cutmix_plan(df, seed=1)
    [c] = cplan.collect()
    ca, cb = (200, 40) if c["id_a"] == 1 else (40, 200)
    [cout] = apply_mixup(pair_payloads(df, cplan), "cutmix").collect()
    cimg = decode_image(bytes(cout["bytes"]), "png")
    box = cimg[c["off_y"]:c["off_y"] + c["box_h"],
               c["off_x"]:c["off_x"] + c["box_w"]]
    outside = cimg.copy()
    outside[c["off_y"]:c["off_y"] + c["box_h"],
            c["off_x"]:c["off_x"] + c["box_w"]] = ca
    assert (box == cb).all() if box.size else True
    assert (outside == ca).all()


def test_apply_mixup_canvas_mismatch_raises(spark):
    """Decoded dims that disagree with the plan group must raise, not
    silently mis-blend."""
    import numpy as np
    import pytest as _pytest

    from lbf_spark.functions.codec import encode_image
    from lbf_spark.operators.images import (
        apply_mixup, mixup_plan, pair_payloads,
    )

    # metadata says 8x8 for both, but payload 2 is really 4x4
    a = encode_image(np.full((8, 8, 3), 9, np.uint8), "png")
    b = encode_image(np.full((4, 4, 3), 9, np.uint8), "png")
    df = spark.createDataFrame(
        [(1, a, "png", 8, 8), (2, b, "png", 8, 8)],
        "image_id long, bytes binary, fmt string, w long, h long",
    )
    paired = pair_payloads(df, mixup_plan(df, seed=1))
    with _pytest.raises(Exception, match="canvas mismatch"):
        apply_mixup(paired, "mixup").collect()


def test_trigram_backoff_all_branches(spark):
    """Tiny held-out corpus exercises every backoff level; scores match
    a pure-python stupid-backoff twin to the same rounding."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from lbf_spark.operators.text import trigram_backoff_score

    model = ["the cat sat on the mat", "the cat ate the fish"]
    score = [
        "the cat sat on the mat",   # all trigrams seen
        "the cat sat on the fish",  # backoff to bigram/unigram
        "a dog barked at the cat",  # OOV words → alpha^2 floor
    ]
    docs = spark.createDataFrame(
        [(i + 100, s) for i, s in enumerate(score)], "doc_id long, text string"
    )
    mdocs = spark.createDataFrame(
        [(i, s) for i, s in enumerate(model)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_scored"], r["lp_avg"])
        for r in trigram_backoff_score(docs, model_docs=mdocs).collect()
    }

    toks = [m.split() for m in model]
    c3 = Counter(tuple(t[i - 2:i + 1]) for t in toks for i in range(2, len(t)))
    c2 = Counter(tuple(t[i - 1:i + 1]) for t in toks for i in range(1, len(t)))
    c1 = Counter(w for t in toks for w in t)
    nn = sum(c1.values())
    exp = {}
    for i, s in enumerate(score):
        ws = s.split()
        lps = []
        for j in range(2, len(ws)):
            p2, p1, w = ws[j - 2], ws[j - 1], ws[j]
            if (p2, p1, w) in c3:
                v = math.log((1.0 * c3[(p2, p1, w)]) / c2[(p2, p1)])
            elif (p1, w) in c2:
                v = math.log((0.4 * c2[(p1, w)]) / c1[p1])
            else:
                v = math.log((0.4 * 0.4 * max(c1.get(w, 0), 1)) / nn)
            lps.append(
                Decimal(repr(v)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
        mean = float(sum(lps)) / len(lps)
        exp[i + 100] = (
            len(lps),
            float(
                Decimal(repr(mean)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            ),
        )
    assert got == exp
    # the three docs really hit distinct branches: strictly ordered scores
    assert got[100][1] > got[101][1] > got[102][1]


def test_lsh_incremental_equals_full_run(spark):
    """lsh_incremental_pairs over (indexed corpus, ingest batch) finds
    exactly the batch-touching pairs a from-scratch minhash_dedup_pairs
    over corpus ∪ batch finds — same ids, same jaccard — and returns
    only the batch's postings for the index append."""
    from lbf_spark.operators import dedup

    base = [
        "the quick brown fox jumps over the lazy dog tonight",
        "a completely different sentence about training data pipelines",
        "numbers and symbols one two three four five six seven",
        "el gato es una mascota que vive con los humanos",
    ]
    rows = []
    for i in range(40):
        s = base[i % 4]
        if i >= 36:  # planted near-dups of the first family
            s = s.replace("tonight", f"tonight{i}")
        rows.append((i, s + f" tail{i % 4}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.filter("doc_id % 2 = 0")
    batch = docs.filter("doc_id % 2 = 1")

    full = dedup.minhash_dedup_pairs(
        docs, num_hashes=16, bands=8, threshold=0.5
    ).toPandas()
    want = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in full.itertuples()
        if r.id_a % 2 == 1 or r.id_b % 2 == 1
    }

    index = dedup.lsh_index(corpus, num_hashes=16, bands=8)
    out = dedup.lsh_incremental_pairs(
        corpus, index, batch, threshold=0.5, num_hashes=16, bands=8
    )
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in out["pairs"].toPandas().itertuples()
    }
    assert got == want and len(got) > 0
    post_ids = {r.doc_id for r in out["postings"].toPandas().itertuples()}
    assert post_ids == {i for i in range(40) if i % 2 == 1}
    dedup.release_caches()


def test_asof_topk_leakage_and_rank_laws(spark):
    """asof_topk: never returns an event after its anchor, respects the
    lookback bound, ranks most-recent-first with id tiebreak, and
    returns at most k rows per anchor (fewer when history is thin)."""
    from lbf_spark.operators.asof import asof_topk

    events = spark.createDataFrame(
        [(i, "e1", 100 * i, float(i)) for i in range(1, 11)]
        + [(100, "e2", 500, 9.9), (101, "e2", 500, 8.8)],  # ts tie
        "event_id long, entity string, ts long, value double",
    )
    anchors = spark.createDataFrame(
        [(1, "e1", 550), (2, "e1", 100), (3, "e2", 510), (4, "e1", 50)],
        "anchor_id long, entity string, anchor_ts long",
    )
    got = asof_topk(
        events, anchors, k=3, lookback=400, on="ts",
    ).toPandas()
    assert (got.ts <= got.anchor_ts).all()
    assert (got.ts >= got.anchor_ts - 400).all()
    by_anchor = {
        a: g.sort_values("lag_rank")
        for a, g in got.groupby("anchor_id")
    }
    # anchor 1 at 550: events 200..500 in window, top3 = 500,400,300
    assert by_anchor[1].ts.tolist() == [500, 400, 300]
    assert by_anchor[1].lag_rank.tolist() == [1, 2, 3]
    # anchor 2 at 100: only event ts=100 qualifies (thin history)
    assert by_anchor[2].ts.tolist() == [100]
    # anchor 3: ts tie at 500 breaks on event_id asc
    assert by_anchor[3].event_id.tolist() == [100, 101]
    # anchor 4 at 50: nothing before it
    assert 4 not in by_anchor


def test_remove_duplicate_spans_planted_boilerplate(spark):
    """Planted license boilerplate across docs: first occurrence
    survives verbatim, later occurrences vanish as a block (overlap
    union), unique text is untouched, and a fully-boilerplate doc
    comes back empty."""
    from lbf_spark.operators import dedup

    bp = "licensed under creative commons attribution share alike"
    rows = [
        (1, f"alpha beta gamma {bp} delta epsilon"),
        (2, f"{bp} unrelated words here again"),
        (3, "totally unique sentence with nothing repeated anywhere"),
        (4, bp),  # fully boilerplate
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in dedup.remove_duplicate_spans(docs, width=4).collect()
    }
    # doc 1 holds the global first occurrence -> fully intact
    assert got[1]["clean_text"] == rows[0][1] and got[1]["n_removed"] == 0
    # docs 2/4: the 7-token boilerplate block is gone entirely
    assert got[2]["clean_text"] == "unrelated words here again"
    assert got[2]["n_removed"] == 7
    assert got[4]["clean_text"] == "" and got[4]["n_removed"] == 7
    assert got[3]["clean_text"] == rows[2][1] and got[3]["n_removed"] == 0
    # token conservation: kept + removed == original
    for i, text in rows:
        assert got[i]["n_tokens"] == len(text.split())
        kept = got[i]["clean_text"].split() if got[i]["clean_text"] else []
        assert got[i]["n_tokens"] - got[i]["n_removed"] == len(kept)


def test_merge_rollups_monoid_laws(spark):
    """merge(rollup(A), rollup(B)) == rollup(A ∪ B) exactly; empty
    delta is the identity; disjoint cells pass through both ways."""
    from lbf_spark.operators.incremental import (
        additive_rollup, merge_rollups,
    )

    rows = [
        ("a", 1, 1.25), ("a", 1, -2.5), ("a", 2, 0.125),
        ("b", 1, 7.0), ("b", 3, -0.000001),
    ]
    df = spark.createDataFrame(rows, "k string, day long, value double")
    a = df.filter("value > 0")
    b = df.filter("value <= 0")

    def snap(frame):
        return {
            (r["k"], r["day"]): (r["n"], r["vsum"], r["vmin"], r["vmax"])
            for r in frame.collect()
        }

    full = snap(additive_rollup(df, ["k", "day"]))
    merged = snap(
        merge_rollups(
            additive_rollup(a, ["k", "day"]),
            additive_rollup(b, ["k", "day"]),
            ["k", "day"],
        )
    )
    assert merged == full
    # identity: merging an empty delta changes nothing
    empty = additive_rollup(df.filter("value > 1e9"), ["k", "day"])
    ident = snap(merge_rollups(additive_rollup(df, ["k", "day"]), empty,
                               ["k", "day"]))
    assert ident == full
    # ("b", 3) exists only in b: passes through with its own min/max
    assert merged[("b", 3)][0] == 1 and merged[("b", 3)][2] == -0.000001


def test_rolling_quantile_jvm_equals_pandas_path(spark):
    """The ≤64 JVM selection and the large-window Arrow kernel define
    the SAME statistic (rank div(n·pct+99, 100)) — forcing both paths
    on the same data must agree element-for-element; pct bounds
    validated; median (pct=50) matches rolling_median on odd windows."""
    import numpy as np
    import pytest as _pytest

    from lbf_spark.operators import windows as W

    rng = np.random.default_rng(3)
    rows = [
        ("e" + str(i % 3), i, float(v))
        for i, v in enumerate(rng.normal(size=300))
    ]
    df = spark.createDataFrame(rows, "entity string, ts long, value double")
    jvm = {
        (r["entity"], r["ts"]): r["q"]
        for r in W.rolling_quantile(
            df, "value", "q", window=11, pct=30
        ).collect()
    }

    # monkeypatch-free forcing of the pandas path: window 65 > 64 on a
    # frame padded so the trailing-11 answer is recoverable? Instead
    # compare a direct numpy replay of the SAME definition.
    def twin(vals, w, pct):
        out = []
        for i in range(len(vals)):
            win = sorted(vals[max(0, i - w + 1):i + 1])
            out.append(win[(len(win) * pct + 99) // 100 - 1])
        return out

    for ent in ("e0", "e1", "e2"):
        vals = [v for e, _t, v in rows if e == ent]
        ts = [t for e, t, _v in rows if e == ent]
        exp = twin(vals, 11, 30)
        assert [jvm[(ent, t)] for t in ts] == exp

    big = {
        (r["entity"], r["ts"]): r["q"]
        for r in W.rolling_quantile(
            df, "value", "q", window=70, pct=30
        ).collect()
    }
    for ent in ("e0",):
        vals = [v for e, _t, v in rows if e == ent]
        ts = [t for e, t, _v in rows if e == ent]
        exp = twin(vals, 70, 30)
        got = [big[(ent, t)] for t in ts]
        assert np.allclose(got, exp) and got == exp

    with _pytest.raises(ValueError, match="pct"):
        W.rolling_quantile(df, "value", "q", window=5, pct=0)


def test_curate_corpus_lm_gate_stage(spark):
    """lm_min_lp adds the LM-quality stage: survivors are a subset of
    the repetition gate's, gibberish drops while fluent text survives,
    and the stage list names it."""
    from lbf_spark.plans.corpus import curate_corpus

    fluent = (
        "the model trains on clean web text with consistent phrasing "
        "and the usual grammar that a language model expects to see "
        "in ordinary sentences about ordinary things every day"
    )
    gibberish = (
        "zxq vbnk wqpr lmno qqzz xkcd plugh xyzzy frobnitz quux "
        "garply waldo fred thud corge grault wibble wobble wubble "
        "flob blorb zonk"
    )
    rows = [(1, fluent, "a"), (2, fluent + " extra tokens", "a"),
            (3, gibberish, "a")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    model = spark.createDataFrame(
        [(10, fluent, "a")], "doc_id long, text string, source string"
    )
    out = curate_corpus(
        docs, min_words=5, max_dup_ngram_frac=0.9,
        lm_min_lp=-4.0, lm_model_docs=model,
    )
    names = [n for n, _ in out["stages"]]
    assert "lm_gate" in names
    kept = {r["doc_id"] for r in out["kept"].collect()}
    assert 1 in kept and 3 not in kept


def _xy2d(bits: int, x: int, y: int) -> int:
    """Classical Hilbert xy2d (Wikipedia form) — the independent twin."""
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_twin_and_is_bijective(spark):
    """The JVM fold reproduces the classical xy2d on every cell of an
    8×8 grid (a bijection onto 0..63) and on random 16-bit points;
    clamping and arity errors behave."""
    import pytest as _pytest

    from lbf_spark.sources.table import hilbert_key

    grid = spark.range(64).select(
        (F.col("id") % 8).alias("x"), (F.col("id") / 8).cast("long").alias("y")
    )
    got = {
        (r["x"], r["y"]): r["h"]
        for r in hilbert_key(grid, ["x", "y"], bits=3, out="h").collect()
    }
    assert got == {(x, y): _xy2d(3, x, y) for x in range(8) for y in range(8)}
    assert sorted(got.values()) == list(range(64))  # bijection

    rng = np.random.default_rng(9)
    pts = [(int(a), int(b)) for a, b in rng.integers(0, 1 << 16, (200, 2))]
    df = spark.createDataFrame(pts, "x long, y long")
    got16 = {
        (r["x"], r["y"]): r["h"]
        for r in hilbert_key(df, ["x", "y"], bits=16, out="h").collect()
    }
    assert got16 == {(x, y): _xy2d(16, x, y) for x, y in set(pts)}

    with _pytest.raises(ValueError, match="2-D"):
        hilbert_key(df, ["x"], bits=4)


def test_hilbert_continuity_vs_morton_jumps(spark):
    """The exact locality law: walking cells in KEY order, Hilbert
    steps are ALWAYS Manhattan distance 1 (the curve is continuous),
    while Morton's walk jumps across power-of-two seams — so a
    contiguous Hilbert key range is a spatially compact region and
    file min/max stats stay tight."""
    from lbf_spark.sources.table import hilbert_key, zorder_key

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    rows = zorder_key(
        hilbert_key(grid, ["x", "y"], bits=6, out="h"),
        ["x", "y"], bits=6, out="z",
    ).collect()
    by_h = sorted(rows, key=lambda r: r["h"])
    steps_h = [
        abs(a["x"] - b["x"]) + abs(a["y"] - b["y"])
        for a, b in zip(by_h, by_h[1:])
    ]
    assert set(steps_h) == {1}  # continuity: every step is one cell
    by_z = sorted(rows, key=lambda r: r["z"])
    steps_z = [
        abs(a["x"] - b["x"]) + abs(a["y"] - b["y"])
        for a, b in zip(by_z, by_z[1:])
    ]
    assert max(steps_z) > 1 and sum(steps_z) > sum(steps_h)


def test_stream_dedup_ingest_e2e(spark, tmp_path):
    """Real writeStream run through the standing near-dup filter:
    batch-internal clusters collapse to min id, later batches drop
    docs near-dupping the surviving corpus, unique docs pass, the
    final corpus carries NO surviving near-dup pair, and a replayed
    batch is a no-op (exactly-once)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lbf_spark.operators import dedup
    from lbf_spark.streaming.stream_features import dedup_ingest_batch
    from tests.conftest import foreach_batch

    base = "the quick brown fox jumps over the lazy dog again tonight ok"
    uniq = [
        "completely different text about streaming ingest pipelines",
        "another unrelated document mentioning parquet and shuffles",
        "el gato es una mascota que vive con los humanos siempre",
    ]
    b1 = [(1, base + " one"), (2, base + " two"), (10, uniq[0])]
    b2 = [(20, base + " three"), (21, uniq[1]), (22, uniq[2])]
    src = tmp_path / "dd_src"
    src.mkdir()
    for i, (name, rows) in enumerate((("a", b1), ("b", b2))):
        p = src / f"{name}.parquet"
        pq.write_table(
            pa.Table.from_pydict(
                {"doc_id": [r[0] for r in rows],
                 "text": [r[1] for r in rows]}
            ),
            str(p),
        )
        # FileStreamSource orders micro-batches by file modification
        # time; near-simultaneous writes can tie (coarse mtime under
        # load) and process b before a, which flips which cluster
        # member survives. Pin strictly increasing mtimes so batch
        # order (and the asserted keeper set) is deterministic.
        import os as _os

        _os.utime(p, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))
    store = str(tmp_path / "dd_store")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    foreach_batch(
        stream,
        lambda b, i: dedup_ingest_batch(b, i, store, threshold=0.5),
        str(tmp_path / "dd_ckpt"),
    )
    corpus = spark.read.parquet(f"{store}/corpus/batch-*")
    kept = {r["doc_id"] for r in corpus.collect()}
    # batch 1: 1/2 cluster -> keeper 1; batch 2: 20 near-dups corpus 1
    assert 1 in kept and 2 not in kept and 20 not in kept
    assert {10, 21, 22} <= kept
    # invariant: no surviving near-dup pair anywhere
    assert dedup.minhash_dedup_pairs(
        corpus, threshold=0.5, num_hashes=16, bands=8
    ).count() == 0
    dedup.release_caches()
    # replay: re-running an already-committed batch id is a no-op
    n_before = corpus.count()
    replay = spark.createDataFrame(b1, "doc_id long, text string")
    assert dedup_ingest_batch(replay, 0, store, threshold=0.5) is None
    assert spark.read.parquet(f"{store}/corpus/batch-*").count() == n_before


def test_audio_activity_segments_known_envelope(spark):
    """Hand-built clip (frames ON ON off ON): threshold splits it into
    [0,1] and [3,3]; max_gap=1 bridges the single silent frame into
    one [0,3] segment."""
    import numpy as np

    from lbf_spark.functions import audio as AU
    from lbf_spark.operators.images import (
        audio_activity_segments, audio_frame_features,
    )

    FRAME = 2048
    pcm = AU.synth_pcm(5, FRAME * 4)
    env = np.repeat(np.asarray([1, 1, 0, 1], dtype=np.int16), FRAME)
    df = spark.createDataFrame(
        [("c1", AU.encode_audio(pcm * env, 16_000, "wav"), "wav")],
        "audio_id string, bytes binary, fmt string",
    )
    frames = audio_frame_features(df, frame=FRAME, id_col="audio_id")
    segs = {
        (r["seg_no"], r["start_frame"], r["end_frame"], r["n_frames"])
        for r in audio_activity_segments(frames, rms_min=0.01).collect()
    }
    assert segs == {(0, 0, 1, 2), (1, 3, 3, 1)}
    merged = audio_activity_segments(frames, rms_min=0.01, max_gap=1)
    [m] = merged.collect()
    assert (m["start_frame"], m["end_frame"], m["n_frames"]) == (0, 3, 3)


def test_video_scene_segments_known_cut(spark):
    """Two-scene hand-built clip: segments split exactly at the base
    change; a sky-high threshold collapses to one scene."""
    import numpy as np

    from lbf_spark.functions import audio as AU
    from lbf_spark.operators.images import (
        video_frame_diffs, video_scene_segments,
    )

    a = np.full((24, 32, 3), 30, np.uint8)
    b = np.full((24, 32, 3), 200, np.uint8)
    clip = AU.video_encode([a, a, a, b, b])
    df = spark.createDataFrame(
        [("v1", clip)], "video_id string, bytes binary"
    )
    diffs = video_frame_diffs(df, every_n=1)
    segs = {
        (r["scene_no"], r["start_frame"], r["end_frame"], r["n_sampled"])
        for r in video_scene_segments(diffs, mad_min=50.0).collect()
    }
    assert segs == {(0, 0, 2, 3), (1, 3, 4, 2)}
    [one] = video_scene_segments(diffs, mad_min=1e9).collect()
    assert (one["start_frame"], one["end_frame"], one["n_sampled"]) == (0, 4, 5)


def test_ivfpq_residual_zero_centroid_equals_flat_adc(spark):
    """With a single all-zero coarse centroid the residual IS the
    vector, so residual IVF-PQ must reduce exactly to the flat PQ-ADC
    search — the same equivalence law q172's family uses, now for the
    by_residual=True path."""
    import numpy as np

    from lbf_spark.operators import similarity as S

    rng = np.random.default_rng(21)
    vecs = rng.normal(size=(40, 8)).astype(np.float32)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    zero = spark.createDataFrame(
        [(0, [0.0] * 8)], "cid long, embedding array<float>"
    )
    books = emb.filter("vec_id < 4").select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    probes = emb.filter("vec_id >= 36")
    res = {
        (r["probe_id"], r["rnk"]): (r["vec_id"], r["adc_dist2"])
        for r in S.ivfpq_residual_topk(
            emb, zero, books, probes, dim=8, m=2, nprobe=1, k_top=3
        ).collect()
    }
    flat_codes = S.pq_codes(emb, books, dim=8, m=2)
    flat = {
        (r["probe_id"], r["rnk"]): (r["vec_id"], r["adc_dist2"])
        for r in S.pq_adc_topk(
            flat_codes, books, probes, dim=8, m=2, k_top=3
        ).collect()
    }
    assert res == flat and len(res) == 12


def test_interval_overlap_join_laws(spark):
    """Hand-built intervals: overlap set and lengths are exact, a
    multi-slice-spanning pair appears exactly ONCE, min_overlap
    filters, disjoint entities never pair, and slice_width is
    mandatory."""
    import pytest as _pytest

    from lbf_spark.operators.asof import interval_overlap_join

    left = spark.createDataFrame(
        [(1, "e1", 0, 25), (2, "e1", 30, 31), (3, "e1", 90, 95),
         (4, "e2", 0, 100)],
        "lid long, entity string, start long, end long",
    )
    right = spark.createDataFrame(
        [(10, "e1", 20, 40), (11, "e1", 96, 99), (12, "e3", 0, 100)],
        "rid long, entity string, r_start long, r_end long",
    )
    got = {
        (r["lid"], r["rid"]): r["overlap_len"]
        for r in interval_overlap_join(
            left, right, by="entity", slice_width=10
        ).collect()
    }
    # (1,10): [20,25] len 6 — spans slices but counted once;
    # (2,10): [30,31] len 2; 3/11 disjoint; e2×e3 never pair
    assert got == {(1, 10): 6, (2, 10): 2}
    got5 = {
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, by="entity", slice_width=10, min_overlap=5
        ).collect()
    }
    assert got5 == {(1, 10)}
    with _pytest.raises(ValueError, match="slice_width"):
        interval_overlap_join(left, right, by="entity")


def test_ks_2samp_matches_scipy_free_twin(spark):
    """ks_2samp equals a plain numpy ECDF twin (identical samples → 0,
    disjoint supports → 1, shifted normals → the known D), and refuses
    a third label."""
    import numpy as np
    import pytest as _pytest

    from lbf_spark.operators import stats

    rng = np.random.default_rng(13)
    a = np.round(rng.normal(0, 1, 400), 6)
    b = np.round(rng.normal(0.5, 1, 300), 6)
    rows = (
        [("g", "a", float(v)) for v in a]
        + [("g", "b", float(v)) for v in b]
        + [("same", "a", float(v)) for v in a]
        + [("same", "b", float(v)) for v in a]
        + [("far", "a", float(v)) for v in a]
        + [("far", "b", float(v + 100.0)) for v in b]
    )
    df = spark.createDataFrame(rows, "grp string, side string, v double")
    got = {
        r["grp"]: (r["n_a"], r["n_b"], r["ks_d"])
        for r in stats.ks_2samp(df, "v", "side", by="grp").collect()
    }

    def twin(x, y):
        allv = np.sort(np.unique(np.concatenate([x, y])))
        fa = np.searchsorted(np.sort(x), allv, side="right") / len(x)
        fb = np.searchsorted(np.sort(y), allv, side="right") / len(y)
        return np.abs(fa - fb).max()

    assert got["same"] == (400, 400, 0.0)
    assert got["far"] == (400, 300, 1.0)
    assert got["g"][2] == round(float(twin(a, b)), 6)

    bad = spark.createDataFrame(
        [("x", "a", 1.0), ("x", "b", 2.0), ("x", "c", 3.0)],
        "grp string, side string, v double",
    )
    with _pytest.raises(ValueError, match="exactly two"):
        stats.ks_2samp(bad, "v", "side", by="grp")


def test_rolling_corr_matches_pandas(spark):
    """rolling_corr ≈ pandas rolling corr on well-conditioned data
    (1e-9), exact ±1 on perfectly (anti)correlated series, null under
    2 rows and on zero variance."""
    import numpy as np
    import pandas as pd

    from lbf_spark.operators import windows as W

    rng = np.random.default_rng(17)
    xs = np.round(rng.normal(10, 2, 120), 6)
    noise = np.round(rng.normal(0, 0.5, 120), 6)
    rows = (
        [("g", i, float(xs[i]), float(2 * xs[i] + noise[i]))
         for i in range(120)]
        + [("lin", i, float(i), float(3 * i + 1)) for i in range(20)]
        + [("anti", i, float(i), float(-i)) for i in range(20)]
        + [("flat", i, 5.0, float(i)) for i in range(20)]
    )
    df = spark.createDataFrame(rows, "g string, ts long, x double, y double")
    got = (
        W.rolling_corr(df, "x", "y", "c", window=7, by="g", order="ts")
        .toPandas()
        .set_index(["g", "ts"])["c"]
    )
    pdf = pd.DataFrame(
        [(t, x, y) for g, t, x, y in rows if g == "g"],
        columns=["ts", "x", "y"],
    ).sort_values("ts")
    exp = pdf["x"].rolling(7, min_periods=2).corr(pdf["y"])
    for i in range(2, 120):
        assert abs(got[("g", i)] - exp.iloc[i]) < 6e-7  # round(6) grid
    assert got[("g", 0)] is None or np.isnan(got[("g", 0)])
    for i in range(2, 20):
        assert got[("lin", i)] == 1.0
        assert got[("anti", i)] == -1.0
        assert got[("flat", i)] is None or np.isnan(got[("flat", i)])


def test_color_histogram_known_image(spark):
    """Hand-built image: counts land in the exact bins (value·16 div
    256), zero bins are omitted, totals conserve, bad bins raise."""
    import numpy as np
    import pytest as _pytest

    from lbf_spark.functions.codec import encode_image
    from lbf_spark.operators.images import color_histogram

    img = np.zeros((4, 4, 3), np.uint8)
    img[:, :, 0] = 10      # bin 0
    img[:, :, 1] = 130     # bin 8
    img[:2, :, 2] = 255    # bin 15 (8 px)
    img[2:, :, 2] = 16     # bin 1  (8 px)
    df = spark.createDataFrame(
        [("i1", encode_image(img, "png"), "png")],
        "image_id string, bytes binary, fmt string",
    )
    got = {
        (r["channel"], r["bin"]): r["n_px"]
        for r in color_histogram(df, bins=16).collect()
    }
    assert got == {(0, 0): 16, (1, 8): 16, (2, 15): 8, (2, 1): 8}
    with _pytest.raises(ValueError, match="divide"):
        color_histogram(df, bins=3)


def test_containment_vs_jaccard_asymmetry(spark):
    """A short quote inside a long doc: containment ≈ 1 while Jaccard
    stays tiny — the case the asymmetric detector exists for; unrelated
    probes emit nothing; max_df keeps denominators exact."""
    from lbf_spark.operators import dedup

    quote = "the five boxing wizards jump quickly tonight"
    filler = " ".join(f"filler{i} word{i} more{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote + " " + filler), (2, filler.replace("filler", "other"))],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, quote), (101, "completely unrelated probe text here now")],
        "doc_id long, text string",
    )
    ps = dedup.with_shingles(probes, "doc_id", "text", 3)
    cs = dedup.with_shingles(docs, "doc_id", "text", 3)
    got = {
        (r["probe_id"], r["corpus_id"]): (
            r["containment"], r["n_common"], r["n_probe"]
        )
        for r in dedup.containment_pairs(ps, cs, threshold=0.8).collect()
    }
    assert set(got) == {(100, 1)}
    c, n_common, n_probe = got[(100, 1)]
    assert c == 1.0 and n_common == n_probe
    # symmetric jaccard on the same pair is tiny (quote ≪ doc)
    both = ps.unionByName(cs)
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs_auto(both, threshold=0.0).collect()
        if {r["id_a"], r["id_b"]} == {1, 100}
    }
    assert all(v < 0.1 for v in jac.values())
    dedup.release_caches()


def test_streaks_known_pattern(spark):
    """Hand-built flag sequence (T T F T T T F(null) T): streaks count
    1,2,0,1,2,3,0,1 — nulls break like false; one window exchange."""
    from lbf_spark.operators import windows as W

    flags = [True, True, False, True, True, True, None, True]
    df = spark.createDataFrame(
        [("e", i, flags[i]) for i in range(8)],
        "entity string, ts long, ok boolean",
    )
    got = [
        r["streak_len"]
        for r in W.streaks(df, "ok").orderBy("ts").collect()
    ]
    assert got == [1, 2, 0, 1, 2, 3, 0, 1]
    plan = W.streaks(df, "ok")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("hashpartitioning(entity") >= 1
    assert "BatchEvalPython" not in plan


def test_cramers_v_known_tables(spark):
    """Perfect association → V = 1; independence → V ≈ 0; 2×2
    hand-computable table matches the closed form."""
    from lbf_spark.operators import stats

    perfect = spark.createDataFrame(
        [("a", 0)] * 30 + [("b", 1)] * 30, "r string, c long"
    )
    [p] = stats.cramers_v(perfect, "r", "c").collect()
    assert p["v"] == 1.0 and p["dof"] == 1 and p["n_obs"] == 60
    indep = spark.createDataFrame(
        [("a", 0)] * 15 + [("a", 1)] * 15 + [("b", 0)] * 15 + [("b", 1)] * 15,
        "r string, c long",
    )
    [i] = stats.cramers_v(indep, "r", "c").collect()
    assert i["v"] == 0.0
    # 2x2 with counts 20/10/10/20: chi2 = 60*(20*20-10*10)^2/(30^4)
    skewed = spark.createDataFrame(
        [("a", 0)] * 20 + [("a", 1)] * 10 + [("b", 0)] * 10 + [("b", 1)] * 20,
        "r string, c long",
    )
    [s] = stats.cramers_v(skewed, "r", "c").collect()
    import math
    chi2 = 60 * (20 * 20 - 10 * 10) ** 2 / (30 * 30 * 30 * 30)
    assert abs(s["chi2"] - chi2) < 3e-6  # 4 cells x round(6) quantization
    assert s["v"] == round(math.sqrt(s["chi2"] / 60), 6)


def test_time_since_event_leakage_convention(spark):
    """Strictly-preceding (default): a matching row measures to the
    PREVIOUS match, not itself; include_current=True reads 0; rows
    before the first match carry null."""
    from lbf_spark.operators import windows as W

    rows = [("e", 10, False), ("e", 20, True), ("e", 35, False),
            ("e", 50, True), ("e", 60, False)]
    df = spark.createDataFrame(rows, "entity string, ts long, hit boolean")
    strict = {
        r["ts"]: r["since_us"]
        for r in W.time_since_event(df, "hit").collect()
    }
    assert strict == {10: None, 20: None, 35: 15, 50: 30, 60: 10}
    incl = {
        r["ts"]: r["since_us"]
        for r in W.time_since_event(df, "hit", include_current=True).collect()
    }
    assert incl == {10: None, 20: 0, 35: 15, 50: 0, 60: 10}


def test_canary_scan_positions_counts_and_metachars(spark):
    """Known plants: first position and occurrence count exact,
    regex metacharacters in a canary are inert, misses emit nothing,
    empty canary list refuses."""
    import pytest as _pytest

    from lbf_spark.operators import text as TX

    docs = spark.createDataFrame(
        [
            (1, "xx SECRET-A yy SECRET-A zz"),
            (2, "nothing here"),
            (3, "meta c.n*ry| inside"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["canary"]): (r["first_pos"], r["n_occ"])
        for r in TX.canary_scan(
            docs, ["SECRET-A", "c.n*ry|", "absent"]
        ).collect()
    }
    assert got == {(1, "SECRET-A"): (4, 2), (3, "c.n*ry|"): (6, 1)}
    with _pytest.raises(ValueError, match="empty"):
        TX.canary_scan(docs, [])


def test_centroid_state_monoid_and_means(spark):
    """State is a per-(cell, dim) monoid: init over two halves merged
    with the raw full-outer add equals init over the whole (same
    assignment centroids), and reconstructed means match numpy."""
    import numpy as np

    from lbf_spark.operators import similarity as S

    rng = np.random.default_rng(23)
    vecs = np.round(rng.normal(size=(60, 8)), 6)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    seeds = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("cid"), "embedding"
    )

    def snap(st):
        return {
            (r["cid"], r["d"]): (r["s"], r["n"]) for r in st.collect()
        }

    whole = snap(S.centroid_state_init(emb, seeds, dim=8))
    a = S.centroid_state_init(emb.filter("vec_id % 2 = 0"), seeds, dim=8)
    b = S.centroid_state_init(emb.filter("vec_id % 2 = 1"), seeds, dim=8)
    from collections import defaultdict

    merged = defaultdict(lambda: (0, 0))
    for part in (snap(a), snap(b)):
        for k, (s, n) in part.items():
            ps, pn = merged[k]
            merged[k] = (ps + s, pn + n)
    assert dict(merged) == whole

    # means reconstruction == numpy group means of quantized components
    means = {
        r["cid"]: r["embedding"]
        for r in S.centroid_state_means(
            S.centroid_state_init(emb, seeds, dim=8), dim=8
        ).collect()
    }
    asg = {
        r["vec_id"]: r["cluster_id"]
        for r in S.nearest_centroid_join(emb, seeds).collect()
    }
    for cid in means:
        members = np.array(
            [vecs[i] for i in range(60) if asg[i] == cid]
        )
        exp = members.sum(axis=0) / len(members)
        assert np.allclose(means[cid], exp, atol=1e-9)


def test_ngram_novelty_bounds_and_known_values(spark):
    """Doc identical to the reference → novelty 0; fully disjoint
    vocabulary → 1; short docs (< n tokens) emit null."""
    from lbf_spark.operators import text as TX

    ref = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),  # all seen
            (11, "one two three four five six"),          # all new
            (12, "hi"),                                   # too short
            (13, "alpha beta gamma NEW1 NEW2 NEW3"),      # mixed
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_new"], r["novelty"])
        for r in TX.ngram_novelty(docs, ref, n=3).collect()
    }
    assert got[10] == (4, 0, 0.0)
    assert got[11] == (4, 4, 1.0)
    assert got[12] == (0, 0, None)
    # doc 13: 4 shingles, only "alpha beta gamma" is seen -> 3 new
    assert got[13] == (4, 3, 0.75)


def test_cumulative_distinct_known_sequence(spark):
    """Known sequence a,b,a,c,b,null,null → 1,2,2,3,3,4,4 (null is one
    distinct group); independent entities never mix."""
    from lbf_spark.operators import windows as W

    seq = ["a", "b", "a", "c", "b", None, None]
    rows = [("e1", i, v) for i, v in enumerate(seq)] + [("e2", 0, "a")]
    df = spark.createDataFrame(rows, "entity string, ts long, v string")
    got = {
        (r["entity"], r["ts"]): r["n_distinct_so_far"]
        for r in W.cumulative_distinct(df, "v").collect()
    }
    assert [got[("e1", i)] for i in range(7)] == [1, 2, 2, 3, 3, 4, 4]
    assert got[("e2", 0)] == 1
