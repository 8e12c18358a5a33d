"""Seeded benchmark inputs and their references.

Every input is a pure function of ``(workload, seed)``. Inputs are
written as parquet under the benchmark cache; the program under test
only ever reads those files. The reference each output is checked
against is computed once per seed by an independent engine (the pandas
oracle or DuckDB), cached beside the inputs, and never timed.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. BENCHMARK.json states them in each workload's `why`.
FEATURES = {"events": 12_000, "entities": 16, "anchors_per_entity": 40}
DEDUP = {"docs": 150, "copies": 3}
TABLE_RW = {"rows": 20_000, "entities": 32, "batches": 2, "changes": 2_000,
            "scans": 2, "n_buckets": 4, "ts_unit_day": 500_000}

# the catalog documents' vocabulary, sources and languages
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
N_SOURCES = 20
LANGS = ("en", "zh", "es", "fr", "de")


def cache_root() -> str:
    """The benchmark cache, at the root of the checkout."""
    return os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        ".perfbench_cache")


def _write(df: pd.DataFrame, path: str, row_group_size: int | None = None) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp,
                   row_group_size=row_group_size)
    os.replace(tmp, path)


def digest(paths: list[str]) -> str:
    """sha256 over the named input files, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


# ------------------------------------------------------------- features


def features_frames(seed: int, sizes: dict = FEATURES) -> dict[str, pd.DataFrame]:
    from lbf_spark import fixtures

    ev = fixtures.generate_events(sizes["events"], sizes["entities"], seed=seed,
                                  size_probs=(0.1, 0.2, 0.7))
    an = fixtures.generate_anchors(ev, n_per_entity=sizes["anchors_per_entity"],
                                   seed=seed + 1)
    return {"events": ev, "anchors": an}


def features_reference(frames: dict[str, pd.DataFrame]) -> dict[str, pd.DataFrame]:
    from lbf_spark import oracle

    ref = oracle.extract_features_oracle(frames["events"], frames["anchors"])
    return {"point_in_time": ref["point_in_time"], "vectors": ref["vectors"]}


# ---------------------------------------------------------------- dedup


def documents(seed: int, sizes: dict = DEDUP) -> pd.DataFrame:
    """A documents table shaped like the catalog's: originals of 8-100
    words (some trigram-repetitive or symbol-heavy, so they fail the
    quality gates; the shortest fail the word-count gate), plus exact
    copies and one-token near copies of originals. The base corpus is
    tiled ``copies`` times; copy k appends k seeded marker tokens, so
    every base document anchors a near-duplicate cluster.

    Counts and the multiset of original lengths are fixed; the seed
    picks words, order and which originals are copied, so every seed
    asks for about the same work."""
    rng = np.random.default_rng(seed)
    n = sizes["docs"]
    n_exact = n_near = n // 20
    n_orig = n - n_exact - n_near
    lengths = rng.permutation(np.linspace(8, 100, n_orig).round().astype(int))
    vocab = np.array(VOCAB)
    texts = []
    for i, length in enumerate(lengths):
        words = list(vocab[rng.integers(0, len(vocab), length)])
        if i < n_orig * 3 // 100:  # repetitive: one trigram over and over
            words = (words[:3] * 34)[:max(length, 24)]
        elif i < n_orig * 5 // 100:  # symbol-heavy
            words = ["#" + w if j % 3 == 0 else w for j, w in enumerate(words)]
        texts.append(" ".join(words))
    src = rng.integers(0, n_orig, n_exact + n_near)
    texts += [texts[j] for j in src[:n_exact]]
    texts += [texts[j] + " dup" for j in src[n_exact:]]
    texts = [texts[j] for j in rng.permutation(n)]
    base = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{j}" for j in rng.integers(0, N_SOURCES, n)],
    })
    frames = []
    for k in range(sizes["copies"]):
        c = base.copy()
        c["doc_id"] = c["doc_id"] + k * 10_000_000
        if k:
            c["text"] = c["text"] + "".join(f" m{seed % 9973}v{k}t{j}" for j in range(k))
        frames.append(c)
    docs = pd.concat(frames, ignore_index=True)
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    return docs


def dedup_reference(docs_dir: str) -> dict[str, pd.DataFrame]:
    """q87 and q55 answered by their DuckDB oracle SQL."""
    import duckdb

    from lbf_spark.queries import QUERIES

    con = duckdb.connect()
    try:
        con.execute("create view documents as select * from "
                    f"read_parquet('{docs_dir}/documents.parquet')")
        return {name: con.execute(QUERIES[name][1]).fetchdf()
                for name in ("q87_curation_pipeline", "q55_dup_clusters")}
    finally:
        con.close()


# ------------------------------------------------------------- table_rw


def table_frames(seed: int, sizes: dict = TABLE_RW) -> dict[str, pd.DataFrame]:
    """Payload-free events cut into ``batches`` appends, plus one CDC
    changelog of updates, deletes and inserts (some keys changed twice;
    the newest ``ts`` wins)."""
    from lbf_spark import fixtures

    ev = fixtures.generate_events(sizes["rows"], sizes["entities"], seed=seed,
                                  with_payload=False).drop(columns=["bytes"])
    rng = np.random.default_rng(seed + 2)
    ev["batch"] = rng.integers(0, sizes["batches"], len(ev))
    m = sizes["changes"]
    picked = ev.iloc[rng.choice(len(ev), size=m, replace=False)].drop(columns=["batch"])
    kind = rng.random(m)
    upd = picked[kind < 0.6].copy()
    upd["duration"] = upd["duration"] + 1000
    upd["caption"] = upd["caption"] + " v2"
    upd["deleted"] = False
    dele = picked[kind >= 0.6].copy()
    dele["deleted"] = True
    # a second, newer change to some updated keys: the reduce keeps it
    again = upd.iloc[: len(upd) // 4].copy()
    again["ts"] = again["ts"] + 3
    again["duration"] = again["duration"] + 1000
    ins = ev.iloc[rng.choice(len(ev), size=m // 3, replace=False)].drop(columns=["batch"])
    ins = ins.assign(image_id=[f"new_{seed}_{i:09d}" for i in range(len(ins))],
                     deleted=False)
    changes = pd.concat([upd, dele, again, ins], ignore_index=True)
    changes = changes.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    return {"events": ev, "changes": changes}


def table_reference(in_dir: str) -> pd.DataFrame:
    """The table's final live rows, recomputed by DuckDB: every appended
    row whose key the changelog does not touch, plus the newest change
    per key unless it is a delete."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(f"""
            with ev as (select * exclude (batch)
                        from read_parquet('{in_dir}/events.parquet')),
            ch as (select * from read_parquet('{in_dir}/changes.parquet')),
            latest as (select * from ch qualify row_number() over (
                         partition by image_id order by ts desc) = 1)
            select * from ev where image_id not in (select image_id from ch)
            union all
            select * exclude (deleted) from latest where not deleted
        """).fetchdf()
    finally:
        con.close()


# ---------------------------------------------------------------- cache


SIZES = {"features": FEATURES, "dedup": DEDUP, "table_rw": TABLE_RW}


def input_rows(workload: str, sizes: dict) -> int:
    """Rows the program reads in one pass: the numerator of rows_per_s."""
    if workload == "features":
        return sizes["events"]
    if workload == "dedup":
        return sizes["docs"] * sizes["copies"]
    return sizes["rows"] + sizes["changes"]


FILES = {"features": ["events", "anchors"], "dedup": ["documents"],
         "table_rw": ["events", "changes"]}
REFS = {"features": ["point_in_time", "vectors"],
        "dedup": ["q87_curation_pipeline", "q55_dup_clusters"],
        "table_rw": ["final"]}


def write_inputs(workload: str, seed: int, sizes: dict, d: str) -> list[str]:
    """Generate the inputs of one seed as parquet files under ``d``."""
    os.makedirs(d, exist_ok=True)
    paths = [os.path.join(d, f"{f}.parquet") for f in FILES[workload]]
    if workload == "features":
        frames = features_frames(seed, sizes)
        # many row groups, so the scan splits over every core
        _write(frames["events"], paths[0], row_group_size=2_000)
        _write(frames["anchors"], paths[1])
    elif workload == "dedup":
        _write(documents(seed, sizes), paths[0])
    else:
        frames = table_frames(seed, sizes)
        _write(frames["events"], paths[0])
        _write(frames["changes"], paths[1])
    return paths


def references(workload: str, d: str) -> dict[str, pd.DataFrame]:
    """The expected outputs, computed from the input files under ``d``."""
    if workload == "features":
        return features_reference({f: pd.read_parquet(os.path.join(d, f"{f}.parquet"))
                                   for f in FILES[workload]})
    if workload == "dedup":
        return dedup_reference(d)
    return {"final": table_reference(d)}


# a workload made of parts runs each part's inputs in one pass
PARTS = {"dedup_table": ("dedup", "table_rw")}


def prepare(workload: str, seed: int, sizes: dict | None = None) -> dict:
    """Inputs and references for one seed, generated on first use.

    Returns ``{"dir", "files", "ref", "sizes", "rows", "digest"}``; the
    parquet files under ``dir`` are the only thing the program reads. A
    workload made of parts returns each part's dict under its name, with
    ``rows`` and ``digest`` over all parts."""
    if workload in PARTS:
        parts = {p: prepare(p, seed, (sizes or {}).get(p)) for p in PARTS[workload]}
        return {**parts, "sizes": {p: v["sizes"] for p, v in parts.items()},
                "rows": sum(v["rows"] for v in parts.values()),
                "digest": hashlib.sha256("".join(
                    v["digest"] for v in parts.values()).encode()).hexdigest()}
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}")
    sizes = sizes or SIZES[workload]
    key = hashlib.sha1(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:8]
    d = os.path.join(cache_root(), "inputs", f"{workload}-{key}-s{seed}")
    out = {"dir": d, "sizes": sizes, "rows": input_rows(workload, sizes),
           "files": [os.path.join(d, f"{f}.parquet") for f in FILES[workload]],
           "ref": {r: os.path.join(d, f"ref_{r}.parquet") for r in REFS[workload]}}
    done = os.path.join(d, "DIGEST")
    if not os.path.exists(done):
        write_inputs(workload, seed, sizes, d)
        for name, df in references(workload, d).items():
            _write(df, out["ref"][name])
        with open(done + ".tmp", "w") as fh:
            fh.write(digest(out["files"]))
        os.replace(done + ".tmp", done)
    with open(done) as fh:
        out["digest"] = fh.read()
    return out
