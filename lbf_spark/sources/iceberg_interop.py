"""Iceberg metadata interop — a documented, testable translation from
this table layer's snapshot manifests to Apache Iceberg's (public)
table-metadata spec, so the layout can be adopted by real engines the
day Iceberg jars are available. Pure metadata translation: no jars, no
data IO, no Avro (Iceberg's JSON metadata shape per the spec at
https://iceberg.apache.org/spec/ — manifest CONTENT is emitted as
plain dicts an adopter would re-serialize to Avro).

Field-by-field mapping (``to_iceberg_metadata``):

===========================  ==========================================
this layer (snap-N.json)     Iceberg v2 table metadata
===========================  ==========================================
snapshot_id (1-based seq)    snapshots[].snapshot-id (long)
parent (manifest filename)   snapshots[].parent-snapshot-id
schema (Spark StructType     schemas[] (Iceberg schema JSON; field-ids
  JSON)                        assigned 1..n in declaration order —
                               stable because evolution is add-only)
partition_spec               partition-specs[0]:
  bucket(n, entity)            bucket[n](entity)   — SHAPE-compatible;
                               hash-INcompatible (xxhash64 here,
                               murmur3 in Iceberg) → flagged in
                               properties as
                               'compat.bucket-hash'='xxhash64'
  floor(ts / unit)             truncate[unit](ts)  — Iceberg truncate
                               stores ts − ts % unit (a multiple);
                               this layer stores the QUOTIENT, so
                               partition values are translated as
                               quotient × unit on export
added_files + file_stats     one manifest entry per data file:
  [ts_min, ts_max, n_rows]     record-count, lower/upper bounds for
                               the ts field; partition tuple parsed
                               from the Hive-style relative path
mode append/overwrite/merge  snapshots[].summary.operation
                               append / overwrite / replace
===========================  ==========================================

``from_iceberg_metadata`` inverts the translation back to the engine's
view (snapshot chain, visible files at head, schema names/types,
quotient partition values) — the round-trip test pins both directions.

Reference analog: the reference persists per-run coverage caches and
reuses them across runs (``fextract/lib.py:79-123``); an open table
format is that idea done right at warehouse scale.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import SparkSession

# Spark simpleString → Iceberg primitive type names (public spec §Schemas)
_TYPE_MAP = {
    "boolean": "boolean",
    "integer": "int",
    "int": "int",
    "short": "int",
    "byte": "int",
    "long": "long",
    "bigint": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
}


def _field_to_iceberg(field: dict, ids: dict) -> dict:
    """One Spark StructField (parsed JSON) → Iceberg field dict with a
    stable field-id from ``ids`` (name → id, assigned in order)."""
    ftype = field["type"]
    if isinstance(ftype, dict):
        t = ftype.get("type")
        if t == "array":
            el = ftype["elementType"]
            el_name = el if isinstance(el, str) else "struct"
            inner = _TYPE_MAP.get(el_name)
            if inner is None:
                raise ValueError(
                    f"unsupported array element type for Iceberg export: {el}"
                )
            ids["__next"] += 1
            ice_type = {
                "type": "list",
                "element-id": ids["__next"],
                "element": inner,
                "element-required": not ftype.get("containsNull", True),
            }
        else:
            raise ValueError(
                f"unsupported nested type for Iceberg export: {t}"
            )
    else:
        ice_type = _TYPE_MAP.get(ftype)
        if ice_type is None:
            raise ValueError(
                f"unsupported Spark type for Iceberg export: {ftype}"
            )
    return {
        "id": ids[field["name"]],
        "name": field["name"],
        "required": not field.get("nullable", True),
        "type": ice_type,
    }


def schema_to_iceberg(schema_json: str) -> dict:
    """Spark StructType JSON → Iceberg schema JSON (schema-id 0).
    Field-ids are assigned 1..n in declaration order — deterministic
    and append-stable because the table layer's evolution is
    add-column-only (new columns always get fresh trailing ids)."""
    schema = json.loads(schema_json)
    fields = schema["fields"]
    ids = {f["name"]: i + 1 for i, f in enumerate(fields)}
    ids["__next"] = len(fields)
    return {
        "type": "struct",
        "schema-id": 0,
        "fields": [_field_to_iceberg(f, ids) for f in fields],
    }


_SPEC_RE = re.compile(r"bucket\((\d+), entity\)")
_DAY_RE = re.compile(r"floor\(ts / (\d+)\)")


def spec_to_iceberg(
    partition_spec: dict, schema_ice: dict, spec_id: int = 0
) -> dict:
    """This layer's partition_spec dict → Iceberg partition-spec JSON.
    Source-ids reference the Iceberg schema's field-ids; partition
    field-ids start at 1000 per the spec convention, and each spec
    GENERATION (``evolve_partition_spec``) allocates fresh field-ids
    (1000+2·g, 1001+2·g) exactly as Iceberg's partition evolution
    does — a changed transform is a new partition field, never a
    reuse of the old id."""
    by_name = {f["name"]: f["id"] for f in schema_ice["fields"]}
    n_buckets = int(_SPEC_RE.match(partition_spec["entity_bucket"]).group(1))
    ts_unit = int(_DAY_RE.match(partition_spec["ts_day"]).group(1))
    return {
        "spec-id": int(spec_id),
        "fields": [
            {
                "name": "entity_bucket",
                "transform": f"bucket[{n_buckets}]",
                "source-id": by_name["entity"],
                "field-id": 1000 + 2 * int(spec_id),
            },
            {
                "name": "ts_day",
                "transform": f"truncate[{ts_unit}]",
                "source-id": by_name["ts"],
                "field-id": 1001 + 2 * int(spec_id),
            },
        ],
    }


_PART_RE = re.compile(r"entity_bucket=(\d+)/ts_day=(-?\d+)/")


def _tags(spark, path: str) -> dict:
    from lbf_spark.sources.table import list_tags

    return list_tags(spark, path)


def _data_file_entry(rel_path: str, stats, ts_unit: int, ts_field_id: int) -> dict:
    """One relative data-file path + its manifest stats → an Iceberg
    manifest data_file record (dict shape of the Avro record)."""
    m = _PART_RE.match(rel_path)
    bucket_v, day_q = (int(m.group(1)), int(m.group(2))) if m else (None, None)
    entry = {
        "content": 0,  # DATA
        "file_path": f"data/{rel_path}",
        "file_format": "PARQUET",
        "partition": {
            "entity_bucket": bucket_v,
            # Iceberg truncate stores the multiple, we store the quotient
            "ts_day": day_q * ts_unit if day_q is not None else None,
        },
    }
    if stats:
        entry["record_count"] = int(stats[2])
        if stats[0] is not None:
            entry["lower_bounds"] = {ts_field_id: int(stats[0])}
            entry["upper_bounds"] = {ts_field_id: int(stats[1])}
    return entry


_OP_MAP = {"append": "append", "overwrite": "overwrite", "merge": "replace",
           "compact": "replace"}


def to_iceberg_metadata(spark: SparkSession, path: str) -> dict:
    """Translate the table at ``path`` into an Iceberg v2
    table-metadata dict (plus inline manifest entries under the
    non-spec key ``x-manifest-entries`` — an adopter re-serializes
    those to Avro manifest files; keeping them inline keeps this
    module IO-free and the translation inspectable)."""
    from lbf_spark import fsio
    from lbf_spark.sources.table import _read_snaps, _replay_files

    snaps = _read_snaps(spark, fsio.join(path, "metadata"))
    if not snaps:
        raise ValueError(f"no snapshots at {path}")
    head = snaps[-1]
    schema_ice = schema_to_iceberg(head["schema"])
    # every spec generation the chain carried, in first-seen order —
    # evolve_partition_spec maps onto Iceberg's partition-specs LIST
    # with default-spec-id = the head's generation
    def _key(ps: dict) -> tuple:
        return (
            int(_SPEC_RE.match(ps["entity_bucket"]).group(1)),
            int(_DAY_RE.match(ps["ts_day"]).group(1)),
        )

    gen_specs: list[dict] = []
    gen_ids: dict = {}
    for s in snaps:
        for ps in [*(s.get("spec_history") or []), s["partition_spec"]]:
            k = _key(ps)
            if k not in gen_ids:
                gen_ids[k] = len(gen_specs)
                gen_specs.append(ps)
    specs_ice = [
        spec_to_iceberg(ps, schema_ice, spec_id=i)
        for i, ps in enumerate(gen_specs)
    ]
    ts_fid = {f["name"]: f["id"] for f in schema_ice["fields"]}["ts"]
    name_to_id = {s["snapshot_id"]: s for s in snaps}
    snapshots = []
    for s in snaps:
        ts_unit = _key(s["partition_spec"])[1]
        parent = s.get("parent")
        parent_id = None
        if parent:  # manifest filename snap-00007.json → id 7
            pid = int(parent.split("-")[1].split(".")[0])
            parent_id = pid if pid in name_to_id else None
        stats = s.get("file_stats") or {}
        entries = [
            _data_file_entry(rel, stats.get(rel), ts_unit, ts_fid)
            for rel in s.get("added_files", [])
        ]
        snap_ice = {
            "snapshot-id": s["snapshot_id"],
            "sequence-number": s["snapshot_id"],
            "timestamp-ms": 0,  # this layer records no wall clock
            "summary": {
                "operation": _OP_MAP.get(s["mode"], "overwrite"),
                "added-data-files": str(len(entries)),
                "added-records": str(
                    sum(e.get("record_count", 0) for e in entries)
                ),
            },
            "schema-id": 0,
            "x-spec-id": gen_ids[_key(s["partition_spec"])],
            "x-manifest-entries": entries,
        }
        if parent_id is not None:
            snap_ice["parent-snapshot-id"] = parent_id
        if s.get("removed_files"):
            snap_ice["x-removed-files"] = [
                f"data/{r}" for r in s["removed_files"]
            ]
        snapshots.append(snap_ice)
    visible = _replay_files(snaps)["visible"]
    return {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000000",
        "location": path,
        "last-sequence-number": head["snapshot_id"],
        "last-updated-ms": 0,
        "last-column-id": max(f["id"] for f in schema_ice["fields"]),
        "current-schema-id": 0,
        "schemas": [schema_ice],
        "default-spec-id": gen_ids[_key(head["partition_spec"])],
        "partition-specs": specs_ice,
        "last-partition-id": 1001 + 2 * (len(specs_ice) - 1),
        "current-snapshot-id": head["snapshot_id"],
        "refs": {
            **{
                name: {"snapshot-id": sid, "type": "tag"}
                for name, sid in _tags(spark, path).items()
            },
            "main": {
                "snapshot-id": head["snapshot_id"], "type": "branch"
            },
        },
        "snapshots": snapshots,
        "properties": {
            "compat.bucket-hash": "xxhash64",  # NOT murmur3: layout kept,
            # bucket transform is shape-only until files are rewritten
            "compat.ts-day-storage": "quotient",
            "write.format.default": "parquet",
        },
        "x-visible-files": [f"data/{v}" for v in visible],
    }


def write_iceberg_metadata(spark: SparkSession, path: str,
                           out_path: str | None = None) -> str:
    """Serialize ``to_iceberg_metadata`` next to the table
    (``metadata/iceberg.metadata.json`` by default) via fsio
    (DFS-safe, atomic). Returns the JSON string."""
    from lbf_spark import fsio

    meta = to_iceberg_metadata(spark, path)
    txt = json.dumps(meta, indent=1, sort_keys=True)
    dest = out_path or fsio.join(path, "metadata", "iceberg.metadata.json")
    fsio.write_text_atomic(spark, dest, txt)
    return txt


def from_iceberg_metadata(meta: dict) -> dict:
    """Invert the translation back to the engine's view — the
    round-trip half: returns ``{"snapshot_ids": [...], "parents":
    {id: parent_id}, "visible_files": [rel, ...], "schema_fields":
    [(name, iceberg_type, required)], "partition_quotients":
    {file_rel: (bucket, ts_day_quotient)}}``. Raises on a metadata
    document this layer didn't produce (missing inline entries)."""
    if "x-visible-files" not in meta:
        raise ValueError(
            "not a lbf_spark-exported Iceberg metadata document "
            "(missing x-visible-files)"
        )
    by_spec_id = {sp["spec-id"]: sp for sp in meta["partition-specs"]}
    default_id = meta.get("default-spec-id", 0)

    def _unit(spec_id: int) -> int:
        sp = by_spec_id[spec_id]
        return int(sp["fields"][1]["transform"].split("[")[1].rstrip("]"))

    parents = {}
    quotients = {}
    for s in meta["snapshots"]:
        if "parent-snapshot-id" in s:
            parents[s["snapshot-id"]] = s["parent-snapshot-id"]
        ts_unit = _unit(s.get("x-spec-id", default_id))
        for e in s.get("x-manifest-entries", []):
            rel = e["file_path"][len("data/"):]
            p = e["partition"]
            q = (p["ts_day"] // ts_unit) if p["ts_day"] is not None else None
            quotients[rel] = (p["entity_bucket"], q)
    schema = meta["schemas"][0]
    return {
        "snapshot_ids": [s["snapshot-id"] for s in meta["snapshots"]],
        "parents": parents,
        "visible_files": [
            v[len("data/"):] for v in meta["x-visible-files"]
        ],
        "schema_fields": [
            (f["name"],
             f["type"] if isinstance(f["type"], str) else "list",
             f["required"])
            for f in schema["fields"]
        ],
        "partition_quotients": quotients,
        "default_spec_id": default_id,
        "n_partition_specs": len(by_spec_id),
    }
