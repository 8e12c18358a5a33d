"""The workloads: ``features`` and ``dedup_table``.

``dedup_table`` runs the dedup part (q87 + q55) and then the table part
(ingest, merge, pruned reads) in one pass. They would be two workloads,
but each run pays a cold JVM start of about 25 s on a 4-core host, and
a full check (22 seeds per workload) has to fit in under an hour.
Their layers are traced separately.

Each workload has
- ``run_pass(spark)``: one pass through the public entry points (the
  caller times it);
- ``outputs(spark, out)``: the pass's outputs as pandas frames, read
  after the timer stopped (by default the pass returned them already);
- ``traced_pass(spark, tracer)``: the same work with each layer's public
  output materialized (persist + count) at its boundary, under the
  layer's own job group; returns the outputs like ``outputs``;
- ``check(got)``: mismatches against the seed's reference (empty list
  when correct).

Per-layer metric names are ``<layer>.<field>`` for every field in
``probe.LAYER_FIELDS`` plus the layer's extra counts in ``EXTRAS``.
"""

from __future__ import annotations

import os
import shutil
import types

import numpy as np
import pandas as pd

import inputs
import probe

# layers by workload, named after the module or function they time
LAYERS = {
    "features": ["images.decode_stats", "windows", "asof.asof_join",
                 "asof.interval_join", "pipeline.summarize"],
    "dedup_table": ["corpus.quality_gate", "corpus.repetition_gate",
                    "dedup.exact_dedup", "distributions.mixture_sample",
                    "dedup.minhash_dedup_pairs", "dedup.dup_clusters",
                    "table.write_table", "table.merge_upsert", "table.scan"],
}
EXTRAS = {
    "corpus.quality_gate": ["survivors_frac"],
    "corpus.repetition_gate": ["survivors_frac"],
    "dedup.exact_dedup": ["survivors_frac"],
    "distributions.mixture_sample": ["survivors_frac"],
    "dedup.minhash_dedup_pairs": ["pairs"],
    "dedup.dup_clusters": ["jobs", "freed", "resident_mb"],
    "table.write_table": ["land_s", "stats_s", "commit_s", "files_added"],
    "table.merge_upsert": ["files_rewritten", "stored_bytes_per_input_byte"],
    "table.scan": ["files_read_frac"],
}


def _compare(name: str, got: pd.DataFrame, ref_path: str) -> list[str]:
    from lbf_spark.parity import compare

    # parity.compare takes a Spark frame and calls toPandas() on it
    res = compare(types.SimpleNamespace(toPandas=lambda: got), pd.read_parquet(ref_path))
    return [] if res["values_match"] else [f"{name}: {res}"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _materialize(df, cache: list):
    """Persist and fill ``df``; return (df, rows). The caller unpersists
    everything in ``cache`` when the pass ends."""
    df = df.persist()
    cache.append(df)
    return df, df.count()


def _unpersist(cache: list) -> None:
    for df in cache:
        df.unpersist(blocking=True)


class Workload:
    name = ""
    passes = 2  # timed passes per run, at least

    def __init__(self, inp: dict, seed: int):
        self.inp = inp
        self.sizes = inp["sizes"]
        self.notes: dict[str, list[float]] = {}  # extra per-pass figures

    def before_pass(self) -> None:
        """Untimed preparation of the next pass."""

    def close(self) -> None:
        """Remove what the passes left on disk."""

    def outputs(self, spark, out) -> dict:
        return out


# ------------------------------------------------------------- features


class Features(Workload):
    """``plans.pipeline.extract_features(persist_features=True)``, its
    ``point_in_time`` and ``vectors`` collected (a few hundred rows)."""

    name = "features"
    passes = 4  # cheap passes: a median of four rides out one slow pass

    def _read(self, spark):
        ev_path, an_path = self.inp["files"]
        return spark.read.parquet(ev_path), spark.read.parquet(an_path)

    def run_pass(self, spark):
        from lbf_spark.plans import pipeline as P

        ev, an = self._read(spark)
        out = P.extract_features(ev, an, P.FeatureConfig(), persist_features=True)
        try:
            return {"point_in_time": out["point_in_time"].toPandas(),
                    "vectors": out["vectors"].toPandas()}
        finally:
            _unpersist([out["event_features"]])

    def traced_pass(self, spark, tr) -> dict:
        from lbf_spark.operators.images import decode_stats
        from lbf_spark.plans import pipeline as P

        cfg, cache = P.FeatureConfig(), []
        ev, an = self._read(spark)
        try:
            with tr.layer("images.decode_stats") as x:
                dec, x["rows_out"] = _materialize(decode_stats(ev), cache)
            with tr.layer("windows") as x:
                feats, x["rows_out"] = _materialize(P.event_features(dec, cfg), cache)
            with tr.layer("asof.asof_join") as x:
                pit, x["rows_out"] = _materialize(
                    P.anchor_point_in_time(feats, an, cfg), cache)
            with tr.layer("asof.interval_join") as x:
                mat, x["rows_out"] = _materialize(
                    P.anchor_window_matrix(feats, an, cfg), cache)
            with tr.layer("pipeline.summarize") as x:
                vec, x["rows_out"] = _materialize(
                    P.summary_vectors(P.summarize(mat, cfg)), cache)
            return {"point_in_time": pit.toPandas(), "vectors": vec.toPandas()}
        finally:
            _unpersist(cache)

    def check(self, got: dict) -> list[str]:
        ref = {k: pd.read_parquet(p) for k, p in self.inp["ref"].items()}
        # the tolerance of the engine-vs-oracle tests (tests/test_pipeline.py)
        tol = {"rtol": 1e-9, "atol": 1e-12, "equal_nan": True}
        bad = []
        keys = ["entity", "anchor_ts", "name", "strand", "score"]
        g = got["point_in_time"].sort_values(keys, ignore_index=True)
        e = ref["point_in_time"].sort_values(keys, ignore_index=True)
        if len(g) != len(e) or not (g[keys].astype(str) == e[keys].astype(str)).all(None):
            return [f"point_in_time: {len(g)} rows, {len(e)} expected, or keys differ"]
        for col in ["pixel_mean", "roll_mean", "roll_count", "phash_drift",
                    "session_id", "ts"]:
            if not np.allclose(g[col].astype(float), e[col].astype(float), **tol):
                bad.append(f"point_in_time.{col} differs")
        keys = ["entity", "name"]
        g = got["vectors"].sort_values(keys, ignore_index=True)
        e = ref["vectors"].sort_values(keys, ignore_index=True)
        if len(g) != len(e) or not (g[keys] == e[keys]).all(None):
            return bad + [f"vectors: {len(g)} rows, {len(e)} expected, or keys differ"]
        for gv, ev_ in zip(g["vector"], e["vector"]):
            if len(gv) != len(ev_) or not np.allclose(
                    np.asarray(gv, float), np.asarray(ev_, float), **tol):
                return bad + ["vectors differ"]
        return bad


# ---------------------------------------------------------------- dedup


class Dedup(Workload):
    """q87 (curation) then q55 (near-dup clusters) from the catalog,
    then ``dedup.release_caches()``."""

    name = "dedup"
    QUERIES = ("q87_curation_pipeline", "q55_dup_clusters")

    def run_pass(self, spark):
        from lbf_spark.operators import dedup
        from lbf_spark.queries import QUERIES

        out = {q: QUERIES[q][0](spark, self.inp["dir"]).toPandas() for q in self.QUERIES}
        dedup.release_caches()
        return out

    def traced_pass(self, spark, tr) -> dict:
        """q87 and q55 taken apart at their public calls, with the
        arguments those catalog entries pass."""
        from lbf_spark.operators import dedup
        from lbf_spark.plans.corpus import curate_corpus
        from lbf_spark.queries import _CURATE_QUOTAS

        docs = spark.read.parquet(os.path.join(self.inp["dir"], "documents.parquet"))
        stages = dict(curate_corpus(docs, quotas=_CURATE_QUOTAS, min_words=20,
                                    max_dup_ngram_frac=0.3, seed=7)["stages"])
        cache: list = []
        try:
            prev = self.inp["rows"]
            for stage, layer in [("quality_gate", "corpus.quality_gate"),
                                 ("repetition_gate", "corpus.repetition_gate"),
                                 ("exact_dedup", "dedup.exact_dedup"),
                                 ("mixture_sample", "distributions.mixture_sample")]:
                with tr.layer(layer) as x:
                    _, n = _materialize(stages[stage], cache)
                    x["rows_out"], x["survivors_frac"] = n, n / max(prev, 1)
                prev = n
            q87 = stages["mixture_sample"].select("doc_id", "source").toPandas()
            with tr.layer("dedup.minhash_dedup_pairs") as x:
                pairs, x["pairs"] = _materialize(dedup.minhash_dedup_pairs(
                    docs, num_hashes=16, bands=8, threshold=0.1), cache)
                x["rows_out"] = x["pairs"]
            with tr.layer("dedup.dup_clusters") as clusters:
                q55 = dedup.dup_clusters(pairs).select("doc_id", "cluster_id").toPandas()
                clusters["rows_out"] = len(q55)
        finally:
            _unpersist(cache)
        clusters["freed"] = dedup.release_caches()
        clusters["resident_mb"] = probe.resident_mb(spark)
        return {"q87_curation_pipeline": q87, "q55_dup_clusters": q55}

    def check(self, got: dict) -> list[str]:
        return [m for q in self.QUERIES for m in _compare(q, got[q], self.inp["ref"][q])]


# ------------------------------------------------------------- table_rw


class TableRW(Workload):
    """Ingest-then-read on a fresh table: K appends through
    ``table_batch_commit``, one CDC changelog through ``cdc_batch_apply``
    (``table.merge_upsert``), then pruned ``table.scan`` reads."""

    name = "table_rw"

    def __init__(self, inp: dict, seed: int):
        super().__init__(inp, seed)
        self.path = os.path.join(inputs.cache_root(), "tables", f"t{os.getpid()}")
        # reads of the 2nd and 3rd largest entities (by rows) over a
        # seeded one-day window of their span: about the same share of
        # the table for every seed
        ev = pd.read_parquet(inp["files"][0], columns=["entity", "ts"])
        ents = ev["entity"].value_counts().sort_index().sort_values(
            ascending=False, kind="stable").index[1:3].tolist()
        ts = ev.loc[ev["entity"].isin(ents), "ts"]
        lo, day = int(ts.min()), self.sizes["ts_unit_day"]
        rng = np.random.default_rng(seed + 3)
        self.scans = []  # (entities, ts_min, ts_max) per read
        for _ in range(self.sizes["scans"]):
            t0 = int(rng.integers(lo, max(lo + 1, int(ts.max()) - day)))
            self.scans.append((sorted(ents), t0, t0 + day))

    def before_pass(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)

    close = before_pass

    def _commits(self, spark) -> list[dict]:
        from lbf_spark.streaming.stream_features import table_batch_commit

        ev = spark.read.parquet(self.inp["files"][0])
        return [table_batch_commit(ev.filter(ev["batch"] == k).drop("batch"), k, self.path,
                                   n_buckets=self.sizes["n_buckets"],
                                   ts_unit_day=self.sizes["ts_unit_day"])
                for k in range(self.sizes["batches"])]

    def _merge(self, spark) -> dict:
        from lbf_spark.streaming.stream_features import cdc_batch_apply

        return cdc_batch_apply(spark.read.parquet(self.inp["files"][1]),
                               self.sizes["batches"], self.path, keys=["image_id"],
                               ts_col="ts", delete_col="deleted",
                               n_buckets=self.sizes["n_buckets"],
                               ts_unit_day=self.sizes["ts_unit_day"])

    def _scans(self, spark) -> list:
        from lbf_spark.sources import table as TBL

        return [TBL.scan(spark, self.path, entities=e, ts_min=a, ts_max=b)
                for e, a, b in self.scans]

    def run_pass(self, spark):
        self._commits(spark)
        self._merge(spark)
        for df in self._scans(spark):
            _noop(df)

    def stored_bytes_per_input_byte(self) -> float:
        """Bytes under the table's data/ over the bytes of its final
        live rows written once by pyarrow (the cached reference)."""
        data = os.path.join(self.path, "data")
        stored = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(data) for f in fs if f.endswith(".parquet"))
        return stored / os.path.getsize(self.inp["ref"]["final"])

    def outputs(self, spark, out) -> dict:
        from lbf_spark.sources import table as TBL

        self.notes.setdefault("stored_bytes_per_input_byte", []).append(
            self.stored_bytes_per_input_byte())
        final = TBL.scan(spark, self.path).drop("entity_bucket", "ts_day")
        return {"final": final.toPandas()}

    def traced_pass(self, spark, tr) -> dict:
        from lbf_spark.sources import table as TBL

        TBL.reset_write_profile()
        with tr.layer("table.write_table") as x:
            snaps = self._commits(spark)
        prof = dict(TBL.WRITE_PROFILE_TOTALS)
        x.update(land_s=prof.get("land", 0.0), stats_s=prof.get("stats", 0.0),
                 commit_s=prof.get("commit", 0.0),
                 files_added=sum(len(s["added_files"]) for s in snaps))
        with tr.layer("table.merge_upsert") as x:
            snap = self._merge(spark)
        x["files_rewritten"] = len(snap["removed_files"])
        x["stored_bytes_per_input_byte"] = self.stored_bytes_per_input_byte()
        cache: list = []
        try:
            with tr.layer("table.scan") as x:
                x["rows_out"] = sum(_materialize(df, cache)[1] for df in self._scans(spark))
        finally:
            _unpersist(cache)
        # after the release: the plan of a cached frame lists no files
        live = len(TBL.scan(spark, self.path).inputFiles())
        read = sum(len(df.inputFiles()) for df in self._scans(spark))
        x["files_read_frac"] = read / max(1, live * len(self.scans))
        return self.outputs(spark, None)

    def check(self, got: dict) -> list[str]:
        return _compare("final table", got["final"], self.inp["ref"]["final"])


class DedupTable(Workload):
    """A ``Dedup`` pass, then a ``TableRW`` pass, on their own inputs."""

    name = "dedup_table"

    def __init__(self, inp: dict, seed: int):
        super().__init__(inp, seed)
        self.parts = [Dedup(inp["dedup"], seed), TableRW(inp["table_rw"], seed)]
        self.notes = self.parts[1].notes

    def before_pass(self) -> None:
        for p in self.parts:
            p.before_pass()

    def close(self) -> None:
        for p in self.parts:
            p.close()

    def run_pass(self, spark):
        return [p.run_pass(spark) for p in self.parts]

    def outputs(self, spark, out) -> dict:
        return {k: v for p, o in zip(self.parts, out) for k, v in p.outputs(spark, o).items()}

    def traced_pass(self, spark, tr) -> dict:
        return {k: v for p in self.parts for k, v in p.traced_pass(spark, tr).items()}

    def check(self, got: dict) -> list[str]:
        return [m for p in self.parts for m in p.check(got)]


WORKLOADS = {w.name: w for w in (Features, DedupTable)}
