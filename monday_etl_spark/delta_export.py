"""Export a frozen tableformat snapshot as a Delta Lake table.

The interop bridge the r06 verdict asked for (TODO.md #1, reduced scope):
``tableformat`` has Delta-grade semantics but a private manifest format,
so no external engine can read it. delta-spark isn't in this container —
but the Delta *protocol* is a public spec (github.com/delta-io/delta
PROTOCOL.md): a ``_delta_log/`` directory of newline-delimited JSON
actions beside plain parquet data files. A snapshot export therefore
needs ZERO data movement: the table's existing immutable parquet files
are referenced by relative path from ``add`` actions, and any Delta
reader (delta-spark, delta-rs, DuckDB's delta extension, Trino) opens the
same directory as a Delta table. The referenced files are zstd-compressed
Parquet (the session's codec, see ``session``), which all of these read.

What is written (Delta log version 0, one commit file):

- ``protocol``  minReaderVersion 1 / minWriterVersion 2 — the baseline
  feature set; nothing in the export needs column mapping or DVs;
- ``metaData``  id (deterministic uuid5 of path+version, so re-exports of
  the same snapshot are idempotent), schemaString (the manifest's logical
  schema — ALREADY Spark StructType JSON, which is exactly Delta's schema
  serialization), no partition columns (``__bucket`` is a physical layout
  detail: it lives in directory names only, not in file footers, so the
  exported table is a plain unpartitioned Delta table);
- one ``add`` per manifest-referenced file: relative path (URL-quoted per
  the spec), size, modificationTime, dataChange=true, and a ``stats``
  JSON carrying numRecords (from the parquet footer) plus
  minValues/maxValues for the manifest's tracked stats columns — Delta
  readers data-skip on the same bounds ``read_where`` prunes with.

Renamed tables export through Delta **column mapping** (mode ``name``,
reader version 2 / writer version 5): the manifest's field ids become
``delta.columnMapping.id`` and each referenced file's physical column
name (from the commit-dir naming epochs) becomes
``delta.columnMapping.physicalName``, so a mapping-aware reader resolves
old files' footers correctly with zero data movement. The export is
emitted as a *plain* (reader version 1) table whenever every referenced
file already carries the live logical names — maximum ecosystem
compatibility, mapping only when the snapshot needs it.

Refused cases (loud, never silent corruption):

- a live field id carried under TWO different physical names across
  referenced files (rename-then-append: old files say ``price``, new
  files say ``cost``) — Delta allows one physicalName per column, so no
  log can describe both; ``compact_versioned`` collapses the epochs;
- a referenced file physically carrying a column whose name collides
  with a live column's physical name under a DIFFERENT field id (a
  dropped column's name later reused): name-based resolution would
  resurrect the dropped column's dead bytes — an erased-data leak;
- legacy (pre-field-id) tables with rename ``aliases``: without ids
  there is nothing to map by, so pre-rename files would surface nulls.

The snapshot is FROZEN: later tableformat commits do not appear in the
Delta log (and a later vacuum may collect files the export references —
export retained/tagged versions, exactly as you'd expect of a handoff).
"""

from __future__ import annotations

import json
import os
import urllib.parse
import uuid

from .tableformat import (
    _commit_dir_of,
    _committed_ms,
    _publish,
    _read_manifest,
    current_version,
)

_LOG_DIR = "_delta_log"
_MAP_ID = "delta.columnMapping.id"
_MAP_PHYS = "delta.columnMapping.physicalName"


def _file_num_records(abs_path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(abs_path).metadata.num_rows


def _naming_plan(man: dict, rel_files: list[str]) -> dict[str, int] | None:
    """Decide how the snapshot's columns are exported.

    Returns ``None`` when every referenced file physically carries exactly
    the live logical names (a plain reader-version-1 export is sound), else
    ``{logical_name: physical_name}`` for a column-mapping (mode ``name``)
    export. Raises on the two snapshots no Delta log can describe — a live
    field id spanning two physical names (rename-then-append) and a
    physical-name collision with a dead field id (dropped-column name
    reuse, where name resolution would resurrect erased bytes)."""
    fid: dict[str, int] = man.get("field_ids") or {}
    if not fid:
        if man.get("aliases"):
            raise NotImplementedError(
                "legacy snapshot has rename aliases but no field ids: "
                "baseline Delta resolves columns by footer name, so "
                "pre-rename files would read as null. Rewrite the files "
                "under current names first (compact after rename)."
            )
        return None  # legacy, never renamed: footers carry logical names

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

    live_names = [f["name"] for f in json.loads(man["schema"])["fields"]]
    phys_of: dict[str, str] = {}
    for name in live_names:
        ident = fid[name]
        seen = {
            phys
            for _d, emap in ref_epochs
            for phys, i in emap.items() if i == ident
        }
        if len(seen) > 1:
            raise NotImplementedError(
                f"column {name!r} (field id {ident}) is carried under "
                f"{sorted(seen)} across referenced files (renamed and then "
                "written without a rewrite): Delta column mapping allows "
                "one physicalName per column. Run compact_versioned to "
                "collapse the naming epochs, then re-export."
            )
        phys_of[name] = seen.pop() if seen else name

    # Erased-data guard: a referenced file must never physically carry a
    # live column's physical name under a DIFFERENT field id — a name-based
    # (or physicalName-based) reader would surface the dead column's old
    # bytes under the live column. This is exactly the dropped-then-reused
    # name case field-id tableformat reads handle but no Delta log can.
    for name in live_names:
        ident, phys = fid[name], phys_of[name]
        for d, emap in ref_epochs:
            other = emap.get(phys)
            if other is not None and other != ident:
                raise NotImplementedError(
                    f"referenced files in commit {d!r} physically carry "
                    f"column {phys!r} under retired field id {other} "
                    f"(dropped and later reused as live column {name!r}, "
                    f"field id {ident}): a name-resolving Delta reader "
                    "would resurrect the dropped column's erased bytes. "
                    "Rewrite the old files first (compact_versioned), "
                    "then re-export."
                )
    if len(set(phys_of.values())) != len(phys_of):
        raise NotImplementedError(
            f"two live columns share a physical name: {phys_of!r}"
        )

    if all(phys == name for name, phys in phys_of.items()):
        return None  # consistent current names: plain export suffices
    return phys_of


def export_delta_log(path: str, version: int | None = None) -> str:
    """Write ``<path>/_delta_log/00000000000000000000.json`` describing the
    given tableformat ``version`` (default: latest) and return the log file
    path. Published through ``tableformat._publish``: the same snapshot
    exported again is an idempotent no-op (byte-identical log), a DIFFERENT
    snapshot already exported there raises ``ConcurrentCommitError`` (a
    ``FileExistsError``) — Delta logs are append-only, and re-pointing
    version 0 would corrupt any reader's cached state. Remove
    ``_delta_log/`` explicitly to re-export."""
    version = version if version is not None else current_version(path)
    if version is None:
        raise FileNotFoundError(f"no committed version at {path}")
    man = _read_manifest(path, version)
    rel_files = sorted(f for fs in man["buckets"].values() for f in fs)
    phys_of = _naming_plan(man, rel_files)
    committed_ms = _committed_ms(man) or 0
    stats_map = man.get("stats", {}) or {}

    if phys_of is None:
        protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
        schema_string = man["schema"]
        configuration: dict[str, str] = {}
        stat_name = dict()  # stats keys stay logical
    else:
        # column mapping mode "name" (reader v2 / writer v5): each field
        # carries its tableformat field id and the single physical name
        # the referenced files use; per the spec, per-file stats are then
        # keyed by PHYSICAL names
        protocol = {"minReaderVersion": 2, "minWriterVersion": 5}
        schema = json.loads(man["schema"])
        fid = man["field_ids"]
        # the spec requires id + physicalName on EVERY field, nested ones
        # included; tableformat never renames nested fields, so nested
        # physicalName == name, with fresh ids minted above the top-level
        # range (deterministic traversal order keeps re-exports idempotent)
        next_id = max(man.get("next_field_id", 1) - 1,
                      max(fid.values(), default=0)) + 1

        def _stamp_nested(t):
            nonlocal next_id
            if not isinstance(t, dict):
                return
            if t.get("type") == "struct":
                for nf in t["fields"]:
                    nf.setdefault("metadata", {})
                    nf["metadata"][_MAP_ID] = next_id
                    nf["metadata"][_MAP_PHYS] = nf["name"]
                    next_id += 1
                    _stamp_nested(nf["type"])
            elif t.get("type") == "array":
                _stamp_nested(t["elementType"])
            elif t.get("type") == "map":
                _stamp_nested(t["keyType"])
                _stamp_nested(t["valueType"])

        for f in schema["fields"]:
            f.setdefault("metadata", {})
            f["metadata"][_MAP_ID] = fid[f["name"]]
            f["metadata"][_MAP_PHYS] = phys_of[f["name"]]
            _stamp_nested(f["type"])
        schema_string = json.dumps(schema)
        configuration = {
            "delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId": str(next_id - 1),
        }
        stat_name = phys_of

    actions: list[dict] = [
        {
            # the exported version's commit time is the ORIGINAL manifest
            # commit time, not the export run's clock: timestamp
            # addressing (AS OF reads, startingTimestamp streams) on the
            # exported table then reflects the table's true history, and
            # log-file mtime never needs consulting
            "commitInfo": {
                "timestamp": committed_ms,
                "operation": "WRITE",
                "operationParameters": {"mode": "ErrorIfExists"},
                "engineInfo": "monday-etl-spark delta bridge",
            }
        },
        {"protocol": protocol},
        {
            "metaData": {
                "id": str(uuid.uuid5(
                    uuid.NAMESPACE_URL,
                    f"monday-etl-spark-tableformat:{os.path.abspath(path)}"
                    f"@v{version}",
                )),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": configuration,
                "createdTime": committed_ms,
            }
        },
    ]
    for rel in rel_files:
        absf = os.path.join(path, rel)
        stats: dict = {"numRecords": _file_num_records(absf)}
        per_col = stats_map.get(rel)
        if per_col:
            stats["minValues"] = {stat_name.get(c, c): b[0]
                                  for c, b in per_col.items()}
            stats["maxValues"] = {stat_name.get(c, c): b[1]
                                  for c, b in per_col.items()}
        actions.append({
            "add": {
                # Delta paths are RFC 2396-encoded relative URIs; '=' and
                # '/' stay literal ('safe'), everything else quotes
                "path": urllib.parse.quote(rel.replace(os.sep, "/"),
                                           safe="/=%"),
                "partitionValues": {},
                "size": os.path.getsize(absf),
                "modificationTime": int(os.path.getmtime(absf) * 1000),
                "dataChange": True,
                "stats": json.dumps(stats),
            }
        })

    payload = "\n".join(json.dumps(a) for a in actions) + "\n"
    log_dir = os.path.join(path, _LOG_DIR)
    os.makedirs(log_dir, exist_ok=True)
    log_file = os.path.join(log_dir, f"{0:020d}.json")
    _publish(log_file, payload)
    return log_file


def read_exported_files(log_file: str) -> tuple[dict, list[dict]]:
    """Parse an exported log: returns (metaData, add-actions) — the test /
    debugging helper a reader-less environment verifies the bridge with."""
    meta: dict | None = None
    adds: list[dict] = []
    with open(log_file) as fh:
        for line in fh:
            if not line.strip():
                continue
            action = json.loads(line)
            if "metaData" in action:
                meta = action["metaData"]
            elif "add" in action:
                adds.append(action["add"])
    if meta is None:
        raise ValueError(f"{log_file}: no metaData action")
    return meta, adds
