"""Export a frozen tableformat snapshot as an Apache Iceberg v2 table.

The second open-ecosystem bridge (``delta_export`` is the first): the
Iceberg table spec (iceberg.apache.org/spec/) is public — a table is a
``metadata/vN.metadata.json`` pointer file, an Avro *manifest list* per
snapshot, and Avro *manifest* files naming the data files with per-file
stats. Like the Delta bridge, the export moves ZERO data: the snapshot's
existing immutable parquet files are referenced in place.

Column resolution: Iceberg selects columns by FIELD ID stored in parquet
footers. Files written by engines that don't stamp footer ids (Spark's
default, hence ours) are covered by the spec's *name mapping*
(``schema.name-mapping.default`` property): a JSON list assigning each
field id the footer NAMES that carry it. Name mapping allows MULTIPLE
names per id — so a renamed-then-appended snapshot (old files say ``v``,
new files ``value``; inexpressible in a Delta log, which allows one
physicalName per column) exports faithfully here: the tableformat naming
epochs supply exactly the name set per id. The one refusal is the same
erased-data hazard the Delta bridge refuses: a referenced file whose
footer carries a live mapping name under a DIFFERENT (dead) field id —
name mapping would resurrect the dropped column's bytes.

Layout written (HadoopCatalog discovery convention):

- ``metadata/v1.metadata.json``  — format-version 2, one schema, the
  unpartitioned spec, one snapshot, the name mapping property;
- ``metadata/version-hint.text`` — "1";
- ``metadata/snap-<id>-1-<uuid>.avro``  — manifest list (1 manifest);
- ``metadata/<uuid>-m0.avro``  — the manifest: one ADDED entry per data
  file with record_count, file_size, and lower/upper bounds for the
  manifest's tracked stats columns in Iceberg single-value binary
  serialization (little-endian ints/longs/doubles, UTF-8 strings) so
  Iceberg readers data-skip on the same ranges ``read_where`` prunes by.

Avro container plumbing is ``avro_ocf`` (spec-subset, codec null).
The snapshot is FROZEN, exactly like the Delta export.

Reference scope: the reference's outputs are open-ecosystem BigQuery
tables (monday_etl_automated.py:571-590); this bridge gives our engine
the equivalent handoff surface in the Iceberg ecosystem.
"""

from __future__ import annotations

import json
import os
import struct
import urllib.parse
import uuid

from .avro_ocf import write_ocf
from .tableformat import (
    _commit_dir_of,
    _publish,
    _read_manifest,
    current_version,
)

_META_DIR = "metadata"

# Snapshot ids span [10**18, 2**62): every id has 19 decimal digits in
# metadata JSON and a 9-byte zigzag varint in Avro, so metadata sizes do
# not depend on which id was drawn (the spec asks only for a unique long).
_SNAPSHOT_ID_LO, _SNAPSHOT_ID_HI = 10**18, 1 << 62


def _snapshot_id(source: int) -> int:
    """Map a 128-bit source (a uuid's ``.int``) to a snapshot id."""
    return _SNAPSHOT_ID_LO + source % (_SNAPSHOT_ID_HI - _SNAPSHOT_ID_LO)


# Spark schema-JSON type name -> Iceberg primitive type
_TYPES = {
    "long": "long", "integer": "int", "short": "int", "byte": "int",
    "double": "double", "float": "float", "string": "string",
    "boolean": "boolean", "date": "date", "timestamp": "timestamptz",
    "binary": "binary",
}


class IcebergExportError(RuntimeError):
    pass


def _iceberg_type(t, mint) -> object:
    """Map a Spark schema-JSON type to an Iceberg schema type, recursing
    into struct / list / map. ``mint()`` allocates the fresh field ids the
    Iceberg schema requires on EVERY nested field (struct fields, list
    elements, map keys/values); allocation follows traversal order, so
    re-exports of the same snapshot mint identical ids (idempotency)."""
    if isinstance(t, str):
        if t in _TYPES:
            return _TYPES[t]
        if t.startswith("decimal("):
            return "decimal" + t[len("decimal"):].replace(",", ", ")
        raise IcebergExportError(f"type {t!r}: no Iceberg mapping")
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "array":
            eid = mint()
            return {
                "type": "list",
                "element-id": eid,
                "element": _iceberg_type(t["elementType"], mint),
                "element-required": not t.get("containsNull", True),
            }
        if kind == "struct":
            fields = []
            for f in t["fields"]:
                nid = mint()
                fields.append({
                    "id": nid, "name": f["name"],
                    "required": not f.get("nullable", True),
                    "type": _iceberg_type(f["type"], mint),
                })
            return {"type": "struct", "fields": fields}
        if kind == "map":
            kid, vid = mint(), mint()
            return {
                "type": "map",
                "key-id": kid, "key": _iceberg_type(t["keyType"], mint),
                "value-id": vid,
                "value": _iceberg_type(t["valueType"], mint),
                "value-required": not t.get("valueContainsNull", True),
            }
    raise IcebergExportError(f"type {t!r}: no Iceberg mapping")


def _nested_mapping(ice_type) -> list | None:
    """name-mapping ``fields`` entries for a nested type, so id-less
    footers resolve NESTED fields too (spec: the list element maps under
    the name ``element``, map entries under ``key``/``value``). Nested
    renames don't exist in tableformat, so each nested field maps its
    single current name."""
    if not isinstance(ice_type, dict):
        return None
    kind = ice_type["type"]
    if kind == "struct":
        out = []
        for f in ice_type["fields"]:
            m = {"field-id": f["id"], "names": [f["name"]]}
            sub = _nested_mapping(f["type"])
            if sub:
                m["fields"] = sub
            out.append(m)
        return out
    if kind == "list":
        m = {"field-id": ice_type["element-id"], "names": ["element"]}
        sub = _nested_mapping(ice_type["element"])
        if sub:
            m["fields"] = sub
        return [m]
    if kind == "map":
        k = {"field-id": ice_type["key-id"], "names": ["key"]}
        ksub = _nested_mapping(ice_type["key"])
        if ksub:
            k["fields"] = ksub
        v = {"field-id": ice_type["value-id"], "names": ["value"]}
        vsub = _nested_mapping(ice_type["value"])
        if vsub:
            v["fields"] = vsub
        return [k, v]
    return None


def _name_sets(man: dict, rel_files: list[str]) -> dict[str, set]:
    """{live logical name: every footer name carrying its field id across
    the REFERENCED naming epochs} — the name-mapping content. Raises on
    the erased-data case (a referenced file carries one of those names
    under a different, dead id)."""
    fid: dict[str, int] = man.get("field_ids") or {}
    if not fid:
        if man.get("aliases"):
            raise IcebergExportError(
                "legacy snapshot has rename aliases but no field ids: "
                "nothing to build a name mapping from. Rewrite the files "
                "under current names first (compact after rename)."
            )
        return {f["name"]: {f["name"]}
                for f in json.loads(man["schema"])["fields"]}

    epochs: dict[str, dict[str, int]] = man.get("epochs") or {}
    ref_epochs = []
    for d in sorted({_commit_dir_of(f) for f in rel_files}):
        emap = epochs.get(d)
        if emap is None:
            raise ValueError(
                f"no naming epoch recorded for commit dir {d!r} — manifest "
                "corruption (every file-writing commit records one)"
            )
        ref_epochs.append((d, emap))

    live = [f["name"] for f in json.loads(man["schema"])["fields"]]
    out: dict[str, set] = {}
    for name in live:
        ident = fid[name]
        names = {
            phys
            for _d, emap in ref_epochs
            for phys, i in emap.items() if i == ident
        }
        names.add(name)  # current name always maps (future-proof, harmless)
        out[name] = names
    for name in live:
        ident = fid[name]
        for d, emap in ref_epochs:
            for phys in out[name]:
                other = emap.get(phys)
                if other is not None and other != ident:
                    raise IcebergExportError(
                        f"referenced files in commit {d!r} physically "
                        f"carry column {phys!r} under retired field id "
                        f"{other} (name later reused by live column "
                        f"{name!r}, field id {ident}): name mapping would "
                        "resurrect the dropped column's erased bytes. "
                        "Rewrite the old files first (compact_versioned)."
                    )
    return out


# --------------------------------------------- single-value serialization


def _bound_bytes(value, ice_type: str) -> bytes | None:
    """Iceberg single-value binary serialization for min/max bounds."""
    if value is None:
        return None
    if ice_type == "long":
        return struct.pack("<q", int(value))
    if ice_type == "int":
        return struct.pack("<i", int(value))
    if ice_type == "double":
        return struct.pack("<d", float(value))
    if ice_type == "float":
        return struct.pack("<f", float(value))
    if ice_type == "string":
        return str(value).encode("utf-8")
    return None  # unsupported bound type: omit (bounds are optional)


# ----------------------------------------------------------- avro schemas


def _kv_map(name: str, kid: int, vid: int) -> dict:
    """Iceberg's int-keyed maps are Avro arrays of key/value records."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record", "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": kid},
                {"name": "value", "type": "bytes", "field-id": vid},
            ],
        },
    }


_DATA_FILE = {
    "type": "record", "name": "r2",
    "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition",
         "type": {"type": "record", "name": "r102", "fields": []},
         "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        {"name": "lower_bounds",
         "type": ["null", _kv_map("k126_v127", 126, 127)],
         "default": None, "field-id": 125},
        {"name": "upper_bounds",
         "type": ["null", _kv_map("k129_v130", 129, 130)],
         "default": None, "field-id": 128},
        {"name": "equality_ids",
         "type": ["null", {"type": "array", "items": "int",
                           "element-id": 136}],
         "default": None, "field-id": 135},
    ],
}

_MANIFEST_ENTRY = {
    "type": "record", "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"],
         "default": None, "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 4},
        {"name": "data_file", "type": _DATA_FILE, "field-id": 2},
    ],
}

_MANIFEST_FILE = {
    "type": "record", "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {"name": "partitions", "type": ["null", {
            "type": "array",
            "items": {
                "type": "record", "name": "r508",
                "fields": [
                    {"name": "contains_null", "type": "boolean",
                     "field-id": 509},
                    {"name": "contains_nan", "type": ["null", "boolean"],
                     "default": None, "field-id": 518},
                    {"name": "lower_bound", "type": ["null", "bytes"],
                     "default": None, "field-id": 510},
                    {"name": "upper_bound", "type": ["null", "bytes"],
                     "default": None, "field-id": 511},
                ],
            }}], "default": None, "field-id": 507},
    ],
}


# ------------------------------------------------------------------ export


def export_iceberg(path: str, version: int | None = None) -> str:
    """Write Iceberg v2 metadata describing tableformat ``version``
    (default latest) beside the table's data files; returns the
    ``metadata.json`` path. Published through ``tableformat._publish``:
    the same snapshot exported again is an idempotent no-op
    (byte-identical metadata), a DIFFERENT snapshot already exported there
    raises ``ConcurrentCommitError`` (a ``FileExistsError``). Remove
    ``metadata/`` explicitly to re-export."""
    import pyarrow.parquet as pq

    version = version if version is not None else current_version(path)
    if version is None:
        raise FileNotFoundError(f"no committed version at {path}")
    man = _read_manifest(path, version)
    rel_files = sorted(f for fs in man["buckets"].values() for f in fs)
    name_sets = _name_sets(man, rel_files)

    spark_fields = json.loads(man["schema"])["fields"]
    fid: dict[str, int] = man.get("field_ids") or {
        f["name"]: i + 1 for i, f in enumerate(spark_fields)
    }
    next_id = max(
        man.get("next_field_id", 0), max(fid.values(), default=0) + 1
    )

    def mint() -> int:
        nonlocal next_id
        next_id += 1
        return next_id - 1

    ice_fields, type_of = [], {}
    for f in spark_fields:
        t = _iceberg_type(f["type"], mint)
        type_of[f["name"]] = t
        ice_fields.append({
            "id": fid[f["name"]], "name": f["name"],
            "required": False, "type": t,
        })
    name_mapping = []
    for name, names in name_sets.items():
        m = {"field-id": fid[name], "names": sorted(names)}
        sub = _nested_mapping(type_of[name])
        if sub:
            m["fields"] = sub
        name_mapping.append(m)

    committed_ms = int(float(man.get("committed_at", 0)) * 1000)
    table_loc = os.path.abspath(path)
    token = str(uuid.uuid5(
        uuid.NAMESPACE_URL,
        f"monday-etl-spark-iceberg:{table_loc}@v{version}",
    ))
    snapshot_id = _snapshot_id(uuid.UUID(token).int)
    meta_dir = os.path.join(path, _META_DIR)
    os.makedirs(meta_dir, exist_ok=True)

    # ---- manifest: one ADDED entry per referenced data file
    stats_map = man.get("stats", {}) or {}
    entries, total_rows = [], 0
    for rel in rel_files:
        absf = os.path.join(path, rel)
        nrec = pq.ParquetFile(absf).metadata.num_rows
        total_rows += nrec
        lower, upper = [], []
        for col, (mn, mx) in (stats_map.get(rel) or {}).items():
            t = type_of.get(col)
            if not isinstance(t, str):
                continue
            lo, hi = _bound_bytes(mn, t), _bound_bytes(mx, t)
            if lo is not None and hi is not None:
                lower.append({"key": fid[col], "value": lo})
                upper.append({"key": fid[col], "value": hi})
        entries.append({
            "status": 1,  # ADDED
            "snapshot_id": snapshot_id,
            "sequence_number": 1,
            "file_sequence_number": 1,
            "data_file": {
                "content": 0,
                "file_path": "file://" + urllib.parse.quote(
                    os.path.join(table_loc, rel).replace(os.sep, "/"),
                    safe="/=%-._~"),
                "file_format": "PARQUET",
                "partition": {},
                "record_count": nrec,
                "file_size_in_bytes": os.path.getsize(absf),
                "lower_bounds": lower or None,
                "upper_bounds": upper or None,
            },
        })

    schema_obj = {"type": "struct", "schema-id": 0, "fields": ice_fields}
    manifest_name = f"{token}-m0.avro"
    manifest_path = os.path.join(meta_dir, manifest_name)
    write_ocf(
        manifest_path, _MANIFEST_ENTRY, entries,
        metadata={
            "schema": json.dumps(schema_obj),
            "schema-id": "0",
            "partition-spec": "[]",
            "partition-spec-id": "0",
            "format-version": "2",
            "content": "data",
        },
    )

    # ---- manifest list
    list_name = f"snap-{snapshot_id}-1-{token}.avro"
    list_path = os.path.join(meta_dir, list_name)
    write_ocf(
        list_path, _MANIFEST_FILE,
        [{
            "manifest_path": "file://" + manifest_path.replace(os.sep, "/"),
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": 1,
            "min_sequence_number": 1,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": total_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": None,
        }],
        metadata={"format-version": "2",
                  "snapshot-id": str(snapshot_id),
                  "sequence-number": "1",
                  "parent-snapshot-id": "null"},
    )

    # ---- table metadata + version hint
    metadata = {
        "format-version": 2,
        "table-uuid": token,
        "location": "file://" + table_loc.replace(os.sep, "/"),
        "last-sequence-number": 1,
        "last-updated-ms": committed_ms,
        "last-column-id": next_id - 1,
        "current-schema-id": 0,
        "schemas": [schema_obj],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "schema.name-mapping.default": json.dumps(name_mapping),
        },
        "current-snapshot-id": snapshot_id,
        "refs": {"main": {"snapshot-id": snapshot_id, "type": "branch"}},
        "snapshots": [{
            "snapshot-id": snapshot_id,
            "sequence-number": 1,
            "timestamp-ms": committed_ms,
            "manifest-list": "file://" + list_path.replace(os.sep, "/"),
            "summary": {"operation": "append",
                        "added-data-files": str(len(entries)),
                        "added-records": str(total_rows)},
            "schema-id": 0,
        }],
        "snapshot-log": [{"snapshot-id": snapshot_id,
                          "timestamp-ms": committed_ms}],
        "metadata-log": [],
    }
    _publish_version(path, 1, metadata)
    return os.path.join(meta_dir, "v1.metadata.json")


def _publish_version(path: str, version: int, meta: dict) -> int:
    """Publish ``meta`` as ``v{version}.metadata.json`` through
    ``tableformat._publish`` (one winner per version; a lost race raises
    ``ConcurrentCommitError``, a lost acknowledgement of our own put is a
    success), then advance ``version-hint.text``, best-effort: readers
    take the newest listed version, so the hint is only ever a lower
    bound. The publish step of every Iceberg metadata version the bridges
    write, the export's included."""
    meta_dir = os.path.join(path, _META_DIR)
    _publish(os.path.join(meta_dir, f"v{version}.metadata.json"),
             json.dumps(meta, indent=2),
             hint=(os.path.join(meta_dir, "version-hint.text"), str(version)))
    return version


# ----------------------------------------------------------------- reading


def read_iceberg_meta(path: str) -> dict:
    """The current metadata.json, resolved like every Iceberg read here
    (``iceberg_import.read_metadata``: the newest listed version)."""
    # lazy: iceberg_import imports this module
    from .iceberg_import import read_metadata

    return read_metadata(path)


def _from_uri(p: str) -> str:
    if p.startswith("file://"):
        return urllib.parse.unquote(p[len("file://"):])
    return p


def iceberg_files(path: str) -> list[dict]:
    """Walk metadata -> manifest list -> manifests; returns the live
    data_file records (the verification surface a reader-less environment
    checks the bridge with)."""
    from .avro_ocf import read_ocf

    meta = read_iceberg_meta(path)
    snap = next(s for s in meta["snapshots"]
                if s["snapshot-id"] == meta["current-snapshot-id"])
    _, _, manifests = read_ocf(_from_uri(snap["manifest-list"]))
    out: list[dict] = []
    for m in manifests:
        _, _, entries = read_ocf(_from_uri(m["manifest_path"]))
        for e in entries:
            if e["status"] in (0, 1):  # EXISTING / ADDED
                out.append(e["data_file"])
    return out


def read_iceberg(spark, path: str):
    """Materialize the exported snapshot the way a name-mapping-aware
    Iceberg reader would: the metadata's schema gives the logical columns,
    the name mapping gives each field's candidate footer names, and every
    data file resolves each field to whichever candidate it physically
    contains (at most one, by the export-time guard). Verification twin
    for environments without an Iceberg runtime."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    meta = read_iceberg_meta(path)
    schema = next(s for s in meta["schemas"]
                  if s["schema-id"] == meta["current-schema-id"])
    mapping = {
        m["field-id"]: m["names"]
        for m in json.loads(
            meta["properties"]["schema.name-mapping.default"])
    }
    # the import bridge owns the full (nested-capable) type mapping;
    # lazy import avoids the module cycle (iceberg_import imports us)
    from .iceberg_import import _spark_type as spark_type

    files = [_from_uri(d["file_path"]) for d in iceberg_files(path)]
    read_fields, exprs = [], []
    for f in schema["fields"]:
        dt = spark_type(f["type"])
        names = mapping.get(f["id"], [f["name"]])
        for n in names:
            read_fields.append(StructField(n, dt, True))
        exprs.append(F.coalesce(*[F.col(f"`{n}`") for n in names])
                     .alias(f["name"])
                     if len(names) > 1 else F.col(f"`{names[0]}`")
                     .alias(f["name"]))
    raw = spark.read.schema(StructType(read_fields)).parquet(*files)
    return raw.select(*exprs)
