"""Read (and append to) external Delta Lake tables with zero libraries.

The other half of the interop bridge (``delta_export`` writes our
snapshots AS Delta; this module consumes tables OTHER engines wrote).
delta-spark / delta-rs aren't in this container, but the Delta protocol is
a public spec (github.com/delta-io/delta PROTOCOL.md): a table is plain
parquet plus ``_delta_log/`` — ordered newline-delimited-JSON commits
``<v:020d>.json``, optionally compacted into parquet checkpoints
``<v:020d>.checkpoint.parquet`` advertised by ``_last_checkpoint``.

Reading = log replay:

1. pick the newest checkpoint at-or-below the requested version (none is
   fine — replay starts at commit 0);
2. the checkpoint's surviving ``add`` rows are resolved DISTRIBUTED (the
   checkpoint can carry millions of file actions at 100 TB — it is read
   as a DataFrame and reconciled against later removes Spark-side; only
   the surviving file list is collected, which is the same driver-memory
   contract delta-spark itself has);
3. JSON commits after the checkpoint are replayed in order driver-side
   (each is small by construction — Delta writers checkpoint every ~10
   commits precisely so this tail stays short): ``add`` inserts by path,
   ``remove`` deletes, latest ``metaData``/``protocol`` win;
4. files are grouped by their ``partitionValues`` tuple and each group is
   scanned ONCE with the snapshot schema (missing columns in old files
   surface as NULL — additive evolution just works); partition columns
   are injected as typed literals per the spec's serialization (they are
   not stored in the data files);
5. ``read_delta_where`` prunes the file list against the per-file
   ``stats`` min/max BEFORE any Spark scan — the import-side twin of
   ``tableformat.read_where``.

Appending = one parquet write + one put-if-absent commit: new data files
land under the table root (partitioned tables route rows into Hive-style
``key=value`` directories, recorded as ``partitionValues`` and kept OUT
of the data files per the spec), then ``<next_version:020d>.json`` (add
actions + commitInfo) publishes through ``tableformat._publish``, the
one commit step house and Iceberg commits use too. Every mutator here
(append, upsert, DV delete, compact, restore) ends in ``_commit_delta``:
a lost race surfaces as ``ConcurrentCommitError`` (a ``FileExistsError``;
``append_delta(retries=N)`` re-derives against the new snapshot and
re-publishes the same already-written files at the next version), a
put whose acknowledgement was lost is recognised as this commit, and
nothing is ever clobbered. The appended table remains readable by any
Delta engine.

Exactly-once appends: the spec's *Transaction Identifiers* (``txn``
actions) ride the same replay — ``append_delta(app_id=..., txn_version=n)``
records (appId, version) in the commit and SKIPS the append entirely when
the replayed state already holds ``txn_version >= n`` for that appId.
That is precisely the contract an at-least-once producer (Structured
Streaming's foreachBatch) needs to make batch replays idempotent: see
``streaming/delta_sink.py``. The appId owns its version sequence — reuse
an appId with a reset/unrelated batch numbering and the skip logic will
treat lower-numbered batches as replays (the same rule delta-spark's
``txnAppId``/``txnVersion`` writer options document).

Column mapping (modes ``name`` and ``id``) and DELETION VECTORS are
implemented: ``read_delta`` applies a file's DV as an anti-join on the
scan's ``_metadata`` row provenance, decoding the spec's Z85 / roaring
bitmap formats (``roaring.py``) on executors. Honest refusals remain
where a surface cannot carry the semantics: path-level pruning
(``files_for_range``) and the streaming source refuse DV files loudly,
``write_checkpoint`` carries deletion vectors AND table-features protocol
lists through verbatim (a checkpoint that dropped either would resurrect
deleted rows / write a spec-invalid v3+ protocol action), and appends
whose schema does not match the table's by name+type refuse as before.

Reference scope: the reference loads BigQuery tables any client can read
(monday_etl_automated.py:571-590); this gives our engine the equivalent
open-ecosystem surface in both directions.
"""

from __future__ import annotations

import json
import os
import re
import time as _time
import urllib.parse
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .tableformat import ConcurrentCommitError, _publish

_LOG_DIR = "_delta_log"
_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CKPT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
# multi-part classic checkpoints: <v>.checkpoint.<part>.<n_parts>.parquet
_CKPT_MULTI_RE = re.compile(
    r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$"
)
# v2 (uuid-named) checkpoints: PROTOCOL.md §V2 Checkpoints — the top-level
# file carries checkpointMetadata/protocol/metaData/txn plus either inline
# file actions or `sidecar` actions naming parquet files under
# _delta_log/_sidecars/ that hold the add/remove actions
_CKPT_V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\.[0-9a-fA-F-]{36}\.(json|parquet)$"
)
_SIDECAR_DIR = "_sidecars"


class DeltaProtocolError(RuntimeError):
    """The table needs protocol features this baseline reader lacks."""


# ---------------------------------------------------------------- log layout


def _log_dir(path: str) -> str:
    d = os.path.join(path, _LOG_DIR)
    if not os.path.isdir(d):
        raise FileNotFoundError(f"{path}: no {_LOG_DIR}/ — not a Delta table")
    return d


def _list_commits(path: str) -> dict[int, str]:
    d = _log_dir(path)
    out: dict[int, str] = {}
    for name in os.listdir(d):
        m = _COMMIT_RE.match(name)
        if m:
            out[int(m.group(1))] = os.path.join(d, name)
    return out


def _list_checkpoints(path: str) -> dict[int, list[str]]:
    """version -> ordered checkpoint part files. Classic single-file
    checkpoints are a one-element list; multi-part checkpoints
    (``<v>.checkpoint.<part>.<n>.parquet``, written by engines whose state
    exceeds one file) group their parts and count only when COMPLETE —
    a partially-uploaded checkpoint must be invisible, per the spec.
    A version whose only artifact is a v2 (uuid-named) checkpoint refuses
    loudly if ``_last_checkpoint`` advertises it (see its reader);
    otherwise it is skipped — replay falls back to older state."""
    d = _log_dir(path)
    out: dict[int, list[str]] = {}
    multi: dict[tuple[int, int], dict[int, str]] = {}
    for name in os.listdir(d):
        m = _CKPT_RE.match(name)
        if m:
            out[int(m.group(1))] = [os.path.join(d, name)]
            continue
        m = _CKPT_MULTI_RE.match(name)
        if m:
            v, part, n = (int(m.group(i)) for i in (1, 2, 3))
            multi.setdefault((v, n), {})[part] = os.path.join(d, name)
    for (v, n), parts in multi.items():
        if len(parts) == n and v not in out:
            out[v] = [parts[i] for i in sorted(parts)]
    return out


def _list_v2_checkpoints(path: str) -> dict[int, str]:
    """version -> one v2 (uuid-named) checkpoint file per version. The
    spec allows several writers to race v2 checkpoints for the same
    version — any is complete and equivalent; the lexicographically first
    is chosen for determinism."""
    d = _log_dir(path)
    out: dict[int, str] = {}
    for name in sorted(os.listdir(d)):
        m = _CKPT_V2_RE.match(name)
        if m:
            out.setdefault(int(m.group(1)), os.path.join(d, name))
    return out


def _read_last_checkpoint(path: str) -> dict | None:
    f = os.path.join(_log_dir(path), "_last_checkpoint")
    if not os.path.exists(f):
        return None
    with open(f) as fh:
        return json.loads(fh.read())


def _checkpoint_at_or_below(path: str, version: int) -> int | None:
    """Newest readable checkpoint version <= ``version`` — classic
    (single or multi-part) and v2/sidecar forms both count. Consults
    ``_last_checkpoint`` first (the discovery contract external writers
    rely on after log cleanup) and refuses loudly when the advertised
    checkpoint's files are missing or incomplete, instead of failing
    later with a confusing missing-commit error."""
    ckpts = set(_list_checkpoints(path)) | set(_list_v2_checkpoints(path))
    last = _read_last_checkpoint(path)
    if last is not None:
        lv = int(last.get("version", -1))
        if lv >= 0 and lv <= version and lv not in ckpts:
            parts = last.get("parts")
            raise DeltaProtocolError(
                f"{path}: _last_checkpoint advertises version {lv} "
                f"({'%d parts' % parts if parts else 'single file'}) "
                "but the files are missing or incomplete"
            )
    return max((v for v in ckpts if v <= version), default=None)


def delta_versions(path: str) -> list[int]:
    """Committed versions visible in the log (checkpoint versions count:
    a checkpointed writer may have cleaned the JSON commits it covers)."""
    vs = (set(_list_commits(path)) | set(_list_checkpoints(path))
          | set(_list_v2_checkpoints(path)))
    return sorted(vs)


def delta_history(path: str) -> list[dict]:
    """Per-version operation metadata from commitInfo actions (empty dict
    when a commit carries none — commitInfo is optional in the spec)."""
    hist = []
    for v, f in sorted(_list_commits(path).items()):
        info: dict = {}
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    a = json.loads(line)
                    if "commitInfo" in a:
                        info = a["commitInfo"]
                        break
        hist.append({"version": v, "commitInfo": info})
    return hist


# ------------------------------------------------------------- state replay


def _check_protocol(protocol: dict | None) -> None:
    if not protocol:
        return
    v = protocol.get("minReaderVersion", 1)
    if v == 2:
        return  # reader v2 == column mapping, which this bridge implements
    if v == 3:
        # table-features protocol: readable iff every listed reader
        # feature is one we implement
        feats = set(protocol.get("readerFeatures") or [])
        unknown = feats - {"columnMapping", "deletionVectors",
                           "v2Checkpoint"}
        if unknown:
            raise DeltaProtocolError(
                f"readerFeatures {sorted(unknown)}: not implemented by "
                "this bridge (supported: columnMapping, deletionVectors, "
                "v2Checkpoint)"
            )
        return
    if v > 3:
        raise DeltaProtocolError(
            f"minReaderVersion={v}: this bridge implements reader "
            "versions 1-3 (column mapping, deletion vectors, v2 "
            "checkpoints)"
        )


def _check_meta(meta: dict) -> None:
    conf = meta.get("configuration") or {}
    mode = conf.get("delta.columnMapping.mode", "none")
    if mode not in ("", "none", "name", "id"):
        raise DeltaProtocolError(
            f"delta.columnMapping.mode={mode}: modes none/name/id are "
            "implemented"
        )
    fmt = (meta.get("format") or {}).get("provider", "parquet")
    if fmt != "parquet":
        raise DeltaProtocolError(f"format.provider={fmt}: parquet only")


def _check_writer_protocol(protocol: dict, meta: dict) -> None:
    """Writers must refuse tables whose writer requirements they do not
    implement (PROTOCOL.md §Writer Version Requirements) — appending
    without enforcing them silently corrupts the table's guarantees for
    every other engine. This bridge's append path implements writer
    version 3: appendOnly is trivially honored, and CHECK constraints and
    column invariants are ENFORCED on every appended batch
    (:func:`_constraint_exprs` + the validation pass in ``append_delta``)
    — versions 4+ (generated columns, column mapping writes, ...) refuse
    unless the v7 feature list names only implemented features."""
    v = protocol.get("minWriterVersion", 2)
    if v > 3 and v != 7:
        raise DeltaProtocolError(
            f"minWriterVersion={v}: this bridge writes at version 3 — "
            "generated columns / column mapping writes / identity "
            "columns are not implemented, so appending would not "
            "enforce the table's guarantees"
        )
    feats = set(protocol.get("writerFeatures") or [])
    # deletionVectors obligates a writer to keep vectors valid when it
    # REMOVES or REWRITES files — a pure append touches none, and this
    # module's own DELETE/compact paths do maintain them. changeDataFeed
    # obligates change files for non-blind commits — a pure append is the
    # spec's blind insert (reconstructed from adds, no cdc required) and
    # delete_delta_where writes _change_data. Both are append-safe.
    # v2Checkpoint obligates CHECKPOINT writes to use the uuid/sidecar
    # form — write_checkpoint(form="auto") does; an append never writes
    # a checkpoint, so the feature is append-safe as well.
    unknown = feats - {"appendOnly", "checkConstraints", "invariants",
                       "deletionVectors", "changeDataFeed", "v2Checkpoint"}
    if unknown:
        raise DeltaProtocolError(
            f"writerFeatures {sorted(unknown)}: not implemented by this "
            "bridge's append path"
        )
    conf = meta.get("configuration") or {}
    if conf.get("delta.columnMapping.mode", "none") not in ("", "none"):
        raise DeltaProtocolError(
            "delta.columnMapping.mode is set: appends here write files "
            "under logical column names, which a mapped table must not "
            "contain"
        )


def _constraint_exprs(meta: dict) -> list[tuple[str, str, str]]:
    """``(name, SQL expression, kind)`` for every guarantee an append
    must enforce: table-level CHECK constraints
    (``delta.constraints.<name>`` configuration, writer v3; kind
    ``"check"``) and per-column invariants (the ``delta.invariants``
    field-metadata JSON, writer v2; kind ``"invariant"``). The kinds
    differ on NULL: CHECK follows SQL semantics (NULL satisfies), but
    delta-spark's CheckDeltaInvariant REJECTS a row where a legacy
    invariant expression evaluates to NULL — so the two need different
    violation predicates."""
    out = []
    conf = meta.get("configuration") or {}
    for k in sorted(conf):
        if k.startswith("delta.constraints."):
            out.append((k[len("delta.constraints."):], conf[k], "check"))
    for f in json.loads(meta["schemaString"])["fields"]:
        inv = (f.get("metadata") or {}).get("delta.invariants")
        if inv:
            spec = json.loads(inv) if isinstance(inv, str) else inv
            expr = (spec.get("expression") or {}).get("expression") \
                if isinstance(spec, dict) else None
            if not expr:
                raise DeltaProtocolError(
                    f"column {f['name']!r}: unparseable delta.invariants "
                    f"payload {inv!r}"
                )
            out.append((f"invariant({f['name']})", expr, "invariant"))
    return out


def _mapping_mode(meta: dict) -> str:
    conf = meta.get("configuration") or {}
    return conf.get("delta.columnMapping.mode", "none") or "none"


def _physical_names(meta: dict) -> dict[str, str] | None:
    """{logical: physical} when ``delta.columnMapping.mode`` is ``name``
    or ``id``; per the spec each schema field then carries
    ``delta.columnMapping.physicalName`` in its metadata, and data files /
    per-file stats / partitionValues are keyed by the physical names (in
    BOTH modes — id mode only changes which piece is authoritative for
    data-column resolution). ``None`` for unmapped tables."""
    mode = _mapping_mode(meta)
    if mode not in ("name", "id"):
        return None
    out: dict[str, str] = {}
    for f in json.loads(meta["schemaString"])["fields"]:
        md = f.get("metadata") or {}
        out[f["name"]] = md.get("delta.columnMapping.physicalName", f["name"])
        if mode == "name":
            _guard_nested_physical(f["type"], f["name"])
    return out


def _guard_nested_physical(t, top: str) -> None:
    """mode=name resolves by PHYSICAL name at every nesting level, but the
    requested scan schema carries the LOGICAL nested names — a nested
    field whose physicalName differs would silently read as null. Our own
    exports stamp nested physicalName == name, so this only fires on
    external tables with renamed nested fields; refuse loudly (mode=id
    tables resolve nested fields by id and are unaffected)."""
    if not isinstance(t, dict):
        return
    if t.get("type") == "struct":
        for nf in t["fields"]:
            md = nf.get("metadata") or {}
            pn = md.get("delta.columnMapping.physicalName", nf["name"])
            if pn != nf["name"]:
                raise DeltaProtocolError(
                    f"column {top!r}: nested field {nf['name']!r} carries "
                    f"physicalName {pn!r} — nested physical renames are "
                    "not resolvable by this reader's name-mapped scan "
                    "(null columns would result). Read the table with its "
                    "native engine, or rewrite it with mode=id."
                )
            _guard_nested_physical(nf["type"], top)
    elif t.get("type") == "array":
        _guard_nested_physical(t["elementType"], top)
    elif t.get("type") == "map":
        _guard_nested_physical(t["keyType"], top)
        _guard_nested_physical(t["valueType"], top)


def _field_ids(meta: dict) -> dict[str, int]:
    """{logical: delta.columnMapping.id} — required on every field when a
    mapping mode is set."""
    out: dict[str, int] = {}
    for f in json.loads(meta["schemaString"])["fields"]:
        md = f.get("metadata") or {}
        if "delta.columnMapping.id" in md:
            out[f["name"]] = int(md["delta.columnMapping.id"])
    return out


def _id_requested_schema(spark, meta: dict, fields) -> "StructType":
    """Requested scan schema for ``mode=id``: logical names resolved by
    FIELD ID through Spark's native parquet fieldId reader (the ids are
    authoritative in this mode; footers must carry them). The enabling
    conf stays set — it is resolved at action time and only engages for
    requested schemas that carry field-id metadata."""
    from pyspark.sql.types import StructField

    fid = _field_ids(meta)
    missing = [f.name for f in fields if f.name not in fid]
    if missing:
        raise DeltaProtocolError(
            f"columnMapping.mode=id but fields {missing} carry no "
            "delta.columnMapping.id — corrupt metadata"
        )
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    return StructType([
        StructField(f.name, _nested_id_type(f.dataType), True,
                    {"parquet.field.id": fid[f.name]})
        for f in fields
    ])


def _nested_id_type(dt):
    """Translate nested ``delta.columnMapping.id`` metadata (preserved by
    StructType.fromJson) into the ``parquet.field.id`` keys Spark's
    fieldId reader matches on, recursively — so mode=id tables with
    renamed NESTED fields resolve by id at every level."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        out = []
        for f in dt.fields:
            md = dict(f.metadata or {})
            nid = md.get("delta.columnMapping.id")
            meta = {"parquet.field.id": int(nid)} if nid is not None else None
            out.append(StructField(
                f.name, _nested_id_type(f.dataType), True, meta))
        return StructType(out)
    if isinstance(dt, ArrayType):
        return ArrayType(_nested_id_type(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(_nested_id_type(dt.keyType),
                       _nested_id_type(dt.valueType), dt.valueContainsNull)
    return dt


_DV_ERR = (
    "{path}: carries a deletion vector this surface cannot apply "
    "(path-level pruning, streaming, checkpoint rewrite) — reading the "
    "file whole would resurrect deleted rows; use read_delta, which "
    "applies deletion vectors"
)

_ADD_FIELDS = ("path", "partitionValues", "size", "modificationTime",
               "dataChange", "stats")

# deleted-row total up to which the DV positions set broadcasts for the
# anti-join; beyond it the join degrades to shuffle-hash (see read_delta)
_DV_BROADCAST_MAX_ROWS = 2_000_000

# the spec's deletionVector struct (PROTOCOL.md §Deletion Vectors) — the
# shape checkpoints carry it in; maxRowIndex is writer-scratch and dropped
_DV_FIELD_DDL = ("storageType string, pathOrInlineDv string, offset int, "
                 "sizeInBytes int, cardinality bigint")
_DV_KEYS = ("storageType", "pathOrInlineDv", "offset", "sizeInBytes",
            "cardinality")


class _LiveSet:
    """A snapshot's surviving add actions, kept DISTRIBUTED when the
    snapshot is checkpoint-backed.

    Tail-only snapshots (no checkpoint at or below the version) hold the
    adds in a driver dict — bounded by the writer's checkpoint cadence,
    the same contract delta-spark has for its log tail. When a checkpoint
    exists, its add rows STAY a DataFrame (a 100 TB table's checkpoint
    carries millions of add actions — materializing them costs GBs of
    driver heap, the r07 audit finding); the short JSON tail overlays it,
    and each accessor collects only what its read needs: file paths +
    partition values for a scan, and range pruning evaluates the per-file
    stats Spark-side, returning surviving paths only."""

    def __init__(self, spark: SparkSession, ckpt_adds: DataFrame | None,
                 tail_adds: dict[str, dict], tail_removes: set[str]):
        self._spark = spark
        self._ckpt = ckpt_adds
        self._tail = tail_adds
        self._removed = tail_removes

    def _ckpt_surviving(self) -> DataFrame | None:
        if self._ckpt is None:
            return None
        df = self._ckpt
        shadowed = sorted(set(self._tail) | self._removed)
        if shadowed:
            df = df.filter(~F.col("path").isin(shadowed))
        return df

    @staticmethod
    def _guard_dv(add: dict) -> dict:
        if add.get("deletionVector"):
            raise DeltaProtocolError(_DV_ERR.format(path=add["path"]))
        return add

    def has_dv(self) -> bool:
        """Whether any surviving add carries a deletion vector."""
        if any(a.get("deletionVector") for a in self._tail.values()):
            return True
        ck = self._ckpt_surviving()
        if ck is not None and "deletionVector" in ck.columns:
            return bool(
                ck.filter(F.col("deletionVector").isNotNull()).head(1)
            )
        return False

    def file_entries(self, allow_dv: bool = False) -> list[dict]:
        """[{path, partitionValues, deletionVector?}] for a scan — never
        the stats blobs. Callers that APPLY deletion vectors pass
        ``allow_dv``; everyone else refuses loudly rather than
        resurrecting deleted rows."""
        guard = (lambda a: a) if allow_dv else self._guard_dv
        out = [
            {"path": a["path"],
             "partitionValues": a.get("partitionValues") or {},
             "deletionVector": a.get("deletionVector")}
            for a in map(guard, self._tail.values())
        ]
        ck = self._ckpt_surviving()
        if ck is not None:
            # planning needs the file list on the driver (every engine's
            # planner does), but an unbounded collect on a pathological
            # multi-million-file state would OOM it — refuse at the cap
            # with the remedy named. Same bound as materialize().
            cap = int(os.environ.get(
                "SPARK_GRAFT_MAX_LIVE_FILES", "2000000"))
            n_ck = ck.count()
            if n_ck + len(out) > cap:
                raise DeltaProtocolError(
                    f"live file set has {n_ck + len(out)} entries, over "
                    f"the {cap} driver cap — compact the table, or raise "
                    "SPARK_GRAFT_MAX_LIVE_FILES if the driver has the "
                    "memory for a list this size"
                )
            cols = [F.col("path"), F.col("partitionValues")]
            have_dv = "deletionVector" in ck.columns
            if have_dv:
                cols.append(F.to_json("deletionVector").alias("dvj"))
            for r in ck.select(*cols).collect():
                dv = (json.loads(r["dvj"])
                      if have_dv and r["dvj"] else None)
                if dv and not allow_dv:
                    raise DeltaProtocolError(_DV_ERR.format(path=r["path"]))
                out.append({"path": r["path"],
                            "partitionValues":
                                dict(r["partitionValues"] or {}),
                            "deletionVector": dv})
        return out

    def prune_range(self, column: str, lo, hi) -> tuple[list[str], int]:
        """(paths whose stats may intersect [lo, hi], total live files).
        Checkpoint rows evaluate Spark-side; only surviving paths return
        to the driver. A file without stats for ``column`` can never be
        pruned (sound)."""
        total, keep = 0, []
        for a in map(self._guard_dv, self._tail.values()):
            total += 1
            stats = a.get("stats")
            if stats:
                s = json.loads(stats) if isinstance(stats, str) else stats
                mins = s.get("minValues") or {}
                maxs = s.get("maxValues") or {}
                if column in mins and column in maxs:
                    if maxs[column] < lo or mins[column] > hi:
                        continue
            keep.append(a["path"])
        ck = self._ckpt_surviving()
        if ck is not None:
            cast = ("double" if isinstance(lo, (int, float))
                    and not isinstance(lo, bool) else "string")
            mn = F.get_json_object("stats", f"$.minValues.{column}") \
                .cast(cast)
            mx = F.get_json_object("stats", f"$.maxValues.{column}") \
                .cast(cast)
            survives = (mn.isNull() | mx.isNull()
                        | ~((mx < F.lit(lo)) | (mn > F.lit(hi))))
            cols = [F.col("path"), survives.alias("keep")]
            have_dv = "deletionVector" in ck.columns
            if have_dv:
                cols.append(F.col("deletionVector").isNotNull().alias("dv"))
            for r in ck.select(*cols).collect():
                if have_dv and r["dv"]:
                    raise DeltaProtocolError(_DV_ERR.format(path=r["path"]))
                total += 1
                if r["keep"]:
                    keep.append(r["path"])
        return keep, total

    def add_actions_df(self) -> DataFrame:
        """Every surviving add as a DataFrame in the checkpoint's add-struct
        shape — checkpoint rows pass through WITHOUT driver
        materialization; only the tail is built driver-side. Deletion
        vectors CARRY THROUGH (both tail- and checkpoint-sourced):
        re-checkpointing a DV table must not resurrect its deleted rows."""
        add_ddl = (
            "path string, partitionValues map<string,string>, size bigint, "
            "modificationTime bigint, dataChange boolean, stats string, "
            f"deletionVector struct<{_DV_FIELD_DDL}>"
        )
        tail_rows = []
        for a in self._tail.values():
            row = tuple(
                (json.dumps(a["stats"])
                 if f == "stats" and isinstance(a.get("stats"), dict)
                 else bool(a.get(f, True)) if f == "dataChange"
                 else a.get("partitionValues") or {} if f == "partitionValues"
                 else a.get(f))
                for f in _ADD_FIELDS
            )
            dv = a.get("deletionVector")
            tail_rows.append(row + (
                tuple(dv.get(k) for k in _DV_KEYS) if dv else None,
            ))
        df = self._spark.createDataFrame(tail_rows, add_ddl)
        ck = self._ckpt_surviving()
        if ck is not None:
            have = set(ck.columns)
            norm = ck.select(*[
                (F.col(f) if f in have else F.lit(None)).alias(f)
                for f in _ADD_FIELDS
            ] + [
                # normalize whatever struct shape the source engine wrote
                # into the spec's field set (drops writer-scratch fields)
                (F.from_json(F.to_json("deletionVector"), _DV_FIELD_DDL)
                 if "deletionVector" in have
                 else F.lit(None).cast(f"struct<{_DV_FIELD_DDL}>"))
                .alias("deletionVector")
            ])
            df = df.unionByName(norm.selectExpr(
                "path", "partitionValues", "CAST(size AS bigint) AS size",
                "CAST(modificationTime AS bigint) AS modificationTime",
                "CAST(dataChange AS boolean) AS dataChange",
                "CAST(stats AS string) AS stats",
                "deletionVector",
            ))
        return df

    # -- full materialization: tests and tail-only contexts. Checkpoint-
    # -- backed snapshots pay the driver cost here and ONLY here. Bounded:
    # -- building a scan requires the file list on the driver (every
    # -- engine's planner does), but an unbounded collect on a
    # -- pathological multi-million-file table would OOM the driver with
    # -- a confusing stack — refuse at the cap with the remedy named.
    # -- SPARK_GRAFT_MAX_LIVE_FILES overrides for genuinely huge tables.
    def materialize(self, allow_dv: bool = False) -> dict[str, dict]:
        cap = int(os.environ.get("SPARK_GRAFT_MAX_LIVE_FILES", "2000000"))
        guard = (lambda a: a) if allow_dv else self._guard_dv
        out = dict(self._tail)
        ck = self._ckpt_surviving()
        if ck is not None:
            n_ck = ck.count()
            if n_ck + len(out) > cap:
                raise DeltaProtocolError(
                    f"live file set has {n_ck + len(out)} entries, over "
                    f"the {cap} driver cap — compact the table, or raise "
                    "SPARK_GRAFT_MAX_LIVE_FILES if the driver has the "
                    "memory for a list this size"
                )
            for r in ck.collect():
                out[r["path"]] = guard(_row_to_add(r))
        for a in out.values():
            guard(a)
        return out

    def items(self):
        return self.materialize().items()

    def values(self):
        return self.materialize().values()

    def __len__(self):
        ck = self._ckpt_surviving()
        n = 0 if ck is None else ck.count()
        return n + len(self._tail)


def _sidecar_paths(path: str, names: list[str]) -> list[str]:
    """Resolve sidecar action paths (relative to _delta_log/_sidecars/
    per the spec; absolute URIs pass through) and refuse a checkpoint
    whose sidecars are missing — reading a partial state would silently
    drop files."""
    side_dir = os.path.join(_log_dir(path), _SIDECAR_DIR)
    out = []
    for n in names:
        n = urllib.parse.unquote(n)
        n = re.sub(r"^[A-Za-z0-9+.-]+:/+", "/", n)  # file: URI -> path
        out.append(n if os.path.isabs(n) else os.path.join(side_dir, n))
    missing = [p for p in out if not os.path.exists(p)]
    if missing:
        raise DeltaProtocolError(
            f"{path}: v2 checkpoint references missing sidecar files "
            f"{[os.path.basename(m) for m in missing]} — incomplete "
            "checkpoint; replay cannot proceed soundly"
        )
    return out


def _v2_checkpoint_state(
    spark: SparkSession, path: str, v: int
) -> tuple[DataFrame | None, dict | None, dict | None,
           dict[str, int], dict[str, dict], set[str]]:
    """Read a v2 (uuid-named) checkpoint per PROTOCOL.md §V2 Checkpoints.
    Returns ``(action_df, meta, protocol, txns, inline_adds,
    inline_removes)``: for the parquet form the singles ride in
    ``action_df`` (top-level unioned with its sidecars — all file actions
    stay distributed); for the json form the singles are parsed
    driver-side and file actions come from the sidecar parquets
    (``action_df``) or, when written inline, as driver dicts that seed
    the replay tail."""
    f = _list_v2_checkpoints(path)[v]
    meta: dict | None = None
    protocol: dict | None = None
    txns: dict[str, int] = {}
    inline_adds: dict[str, dict] = {}
    inline_removes: set[str] = set()
    sidecars: list[str] = []
    ckpt_meta_v: int | None = None

    if f.endswith(".json"):
        # the json top-level form parses driver-side (fine for its
        # intended use: singles + sidecar refs, a few KB). A pathological
        # giant json checkpoint carrying inline file actions would OOM
        # the driver with a confusing stack — refuse at a generous cap
        # with the remedy named instead
        sz = os.path.getsize(f)
        if sz > 256 * 1024 * 1024:
            raise DeltaProtocolError(
                f"{path}: v2 json-form checkpoint is {sz >> 20} MiB — "
                "inline file actions at this scale must use the parquet "
                "+ sidecar form (this reader parses json checkpoints "
                "driver-side)"
            )
        with open(f) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "checkpointMetadata" in a:
                    ckpt_meta_v = int(
                        a["checkpointMetadata"].get("version", -1))
                elif "metaData" in a:
                    meta = a["metaData"]
                elif "protocol" in a:
                    protocol = a["protocol"]
                elif "txn" in a:
                    app = a["txn"]["appId"]
                    txns[app] = max(txns.get(app, -1), a["txn"]["version"])
                elif "sidecar" in a:
                    sidecars.append(a["sidecar"]["path"])
                elif "add" in a:
                    inline_adds[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    p = a["remove"]["path"]
                    inline_adds.pop(p, None)
                    inline_removes.add(p)
        if sidecars and (inline_adds or inline_removes):
            raise DeltaProtocolError(
                f"{path}: v2 checkpoint mixes sidecar references with "
                "inline file actions — the spec requires one or the other"
            )
        cdf = (spark.read.parquet(*_sidecar_paths(path, sidecars))
               if sidecars else None)
    else:
        top = spark.read.parquet(f)
        cols = set(top.columns)
        if "checkpointMetadata" in cols:
            row = top.filter(F.col("checkpointMetadata").isNotNull()) \
                     .select("checkpointMetadata.version").first()
            if row:
                ckpt_meta_v = int(row[0])
        if "sidecar" in cols:
            sidecars = [r["path"] for r in
                        top.filter(F.col("sidecar").isNotNull())
                           .select("sidecar.path").collect()]
        if sidecars:
            # spec: with sidecars present the top-level file carries NO
            # file actions; union keeps singles + file actions one frame
            sides = spark.read.parquet(*_sidecar_paths(path, sidecars))
            cdf = top.drop("checkpointMetadata", "sidecar") \
                     .unionByName(sides, allowMissingColumns=True)
        else:
            cdf = top

    if ckpt_meta_v != v:
        raise DeltaProtocolError(
            f"{path}: v2 checkpoint file for version {v} carries "
            f"checkpointMetadata.version={ckpt_meta_v} — corrupt or "
            "misnamed checkpoint"
        )
    return cdf, meta, protocol, txns, inline_adds, inline_removes


class _Snapshot(NamedTuple):
    version: int
    meta: dict
    live: "_LiveSet"        # surviving add actions (see _LiveSet)
    txns: dict[str, int]    # {appId: latest txn version}
    protocol: dict          # latest protocol action (defaulted if absent)


def _snapshot_state(
    spark: SparkSession, path: str, version: int | None
) -> _Snapshot:
    """Replay the log to ``version`` (default latest)."""
    commits = _list_commits(path)
    ckpts = _list_checkpoints(path)
    if version is None:
        all_vs = (set(commits) | set(ckpts)
                  | set(_list_v2_checkpoints(path)))
        if not all_vs:
            raise FileNotFoundError(f"{path}: empty {_LOG_DIR}/")
        version = max(all_vs)

    ckpt_v = _checkpoint_at_or_below(path, version)
    meta: dict | None = None
    protocol: dict | None = None
    ckpt_adds: DataFrame | None = None
    tail_adds: dict[str, dict] = {}
    tail_removes: set[str] = set()
    txns: dict[str, int] = {}

    if ckpt_v is not None:
        # distributed reconcile: a checkpoint is one row per action with
        # null siblings (all parts of a multi-part checkpoint scan as one
        # DataFrame). The surviving adds STAY a DataFrame — only the
        # singleton metaData/protocol rows and the (small) txn set come
        # back to the driver here; file lists are collected per-read by
        # _LiveSet, never as full add actions.
        if ckpt_v in ckpts:
            cdf = spark.read.parquet(*ckpts[ckpt_v])
        else:
            # v2/sidecar form: singles may come back driver-parsed (json
            # top-level); file actions stay a DataFrame (sidecar parquet)
            cdf, meta, protocol, v2_txns, v2_adds, v2_removes = \
                _v2_checkpoint_state(spark, path, ckpt_v)
            txns.update(v2_txns)
            tail_adds.update(v2_adds)   # inline json file actions (rare):
            tail_removes |= v2_removes  # seed the tail, later commits win
        cols = set(cdf.columns) if cdf is not None else set()
        if "metaData" in cols:
            row = cdf.filter(F.col("metaData").isNotNull()) \
                     .select("metaData").first()
            if row:
                meta = row[0].asDict(recursive=True)
        if "protocol" in cols:
            row = cdf.filter(F.col("protocol").isNotNull()) \
                     .select("protocol").first()
            if row:
                protocol = row[0].asDict(recursive=True)
        if "txn" in cols:
            for r in (
                cdf.filter(F.col("txn").isNotNull()).select("txn.*").collect()
            ):
                txns[r["appId"]] = max(txns.get(r["appId"], -1), r["version"])
        if "add" in cols:
            ckpt_adds = cdf.filter(F.col("add").isNotNull()).select("add.*")
            if "remove" in cols:
                removed = cdf.filter(F.col("remove").isNotNull()) \
                             .select(F.col("remove.path").alias("path"))
                ckpt_adds = ckpt_adds.join(removed, "path", "left_anti")

    start = (ckpt_v + 1) if ckpt_v is not None else 0
    for v in range(start, version + 1):
        f = commits.get(v)
        if f is None:
            raise FileNotFoundError(
                f"{path}: missing commit {v} (log has a hole below the "
                f"requested version {version})"
            )
        with open(f) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "metaData" in a:
                    meta = a["metaData"]
                elif "protocol" in a:
                    protocol = a["protocol"]
                elif "add" in a:
                    p = a["add"]["path"]
                    tail_adds[p] = a["add"]
                    tail_removes.discard(p)
                elif "remove" in a:
                    p = a["remove"]["path"]
                    tail_adds.pop(p, None)
                    tail_removes.add(p)
                elif "txn" in a:
                    app = a["txn"]["appId"]
                    txns[app] = max(txns.get(app, -1), a["txn"]["version"])

    _check_protocol(protocol)
    if meta is None:
        raise DeltaProtocolError(f"{path}: no metaData action in log")
    _check_meta(meta)
    # no eager DV guard here: read_delta APPLIES deletion vectors; the
    # surfaces that cannot (pruning, checkpoints) guard in their own
    # accessors
    live = _LiveSet(spark, ckpt_adds, tail_adds, tail_removes)
    return _Snapshot(
        version, meta, live, txns,
        protocol or {"minReaderVersion": 1, "minWriterVersion": 2},
    )


def _row_to_add(r) -> dict:
    d = r.asDict(recursive=True)
    return {k: v for k, v in d.items() if v is not None}


# ------------------------------------------------------------------ reading


def _partition_literal(value: str | None, dtype):
    """Delta serializes partition values as strings (null for NULL); the
    reader re-types them against the schema."""
    if value is None:
        return F.lit(None).cast(dtype)
    return F.lit(value).cast(dtype)


def commit_timestamps(path: str,
                      start_version: int | None = None,
                      end_version: int | None = None) -> dict[int, int]:
    """version -> commit time (epoch ms), monotone non-decreasing.

    Per the spec, a commit's time is its log file's modification time;
    an in-commit ``commitInfo.timestamp`` (which real engines write, and
    this bridge now writes too) is preferred when present because mtimes
    do not survive copies. Like delta-spark, out-of-order raw times are
    clamped forward so the mapping is monotone — timestamp resolution is
    then a well-defined cut. Checkpoint-cleaned versions (no commit JSON
    retained) are absent: timestamp addressing needs the retained tail.

    With ``start_version``/``end_version`` given, cost is O(range), NOT
    O(retained history): only commits in ``[start_version - 1,
    end_version]`` are opened (the one extra commit below the range
    seeds the monotone clamp), and only ``[start_version, end_version]``
    entries are returned. The forward clamp is then applied within that
    window — the same windowed adjustment delta-spark's history manager
    performs over the commit range it actually reads — so a clock-skewed
    commit far below the window does not drag the window's times, which
    matches delta-spark when its search also starts above the skew.
    Version-addressed change-feed windows use this bound (a 2-commit
    window at the head of a 100k-commit retained log opens ~3 commit
    JSONs, not 100k); only explicit timestamp ADDRESSING
    (``version_at_or_before`` / ``version_at_or_after`` — a one-off cut
    resolution per drain, never per window) walks the full retained
    tail, because a timestamp cut is a property of the whole clock."""
    commits = _list_commits(path)
    versions = sorted(commits)
    if start_version is not None:
        # one commit below the range seeds the monotone clamp
        versions = [v for v in versions if v >= start_version - 1]
    if end_version is not None:
        versions = [v for v in versions if v <= end_version]
    out: dict[int, int] = {}
    prev = 0
    for v in versions:
        f = commits[v]
        t = None
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    a = json.loads(line)
                    if "commitInfo" in a:
                        t = a["commitInfo"].get("timestamp")
                        break
        if t is None:
            t = int(os.path.getmtime(f) * 1000)
        prev = max(prev, int(t))
        out[v] = prev
    if start_version is not None:
        out.pop(start_version - 1, None)
    return out


def version_at_or_before(path: str, ts_ms: int) -> int:
    """Latest version whose commit time <= ts_ms (AS OF semantics)."""
    times = commit_timestamps(path)
    ok = [v for v, t in times.items() if t <= ts_ms]
    if not ok:
        earliest = min(times.values()) if times else None
        raise ValueError(
            f"{path}: no commit at or before {ts_ms} "
            f"(earliest retained commit: {earliest})"
        )
    return max(ok)


def version_at_or_after(path: str, ts_ms: int) -> int:
    """Earliest version whose commit time >= ts_ms (streaming
    startingTimestamp semantics); errors past the latest commit, like
    delta-spark."""
    times = commit_timestamps(path)
    ok = [v for v, t in times.items() if t >= ts_ms]
    if not ok:
        latest = max(times.values()) if times else None
        raise ValueError(
            f"{path}: {ts_ms} is after the latest commit time ({latest})"
        )
    return min(ok)


def _dv_file_path(table_path: str, dv: dict) -> str:
    """Absolute path of an on-disk deletion-vector file (storage modes
    ``p`` and ``u``); inline (``i``) vectors have no file."""
    st = dv.get("storageType")
    if st == "p":
        fpath = dv["pathOrInlineDv"]
        if fpath.startswith("file:"):
            import re as _re

            fpath = _re.sub(r"^[A-Za-z0-9+.-]+:/+", "/",
                            urllib.parse.unquote(fpath))
        if not os.path.isabs(fpath):
            fpath = os.path.join(table_path, fpath)
        return fpath
    if st == "u":
        import uuid as _uuid

        from .roaring import z85_decode

        enc = dv["pathOrInlineDv"]
        prefix, uid85 = enc[:-20], enc[-20:]
        u = _uuid.UUID(bytes=z85_decode(uid85))
        parts = [table_path] + ([prefix] if prefix else [])
        return os.path.join(*parts, f"deletion_vector_{u}.bin")
    raise DeltaProtocolError(
        f"deletionVector storageType {st!r}: unknown storage mode"
    )


def _dv_positions(table_path: str, dv: dict) -> list[int]:
    """Deleted row indexes for one add action's deletion vector — the
    descriptor's three storage modes per PROTOCOL.md: ``i`` inline (Z85
    of the serialized bitmap), ``p`` an explicit path, ``u`` a
    UUID-derived file name under the table (last 20 chars = Z85 of the
    16-byte UUID, anything before is a directory prefix)."""
    from .roaring import decode_rbm_array, read_dv_segment, z85_decode

    st = dv.get("storageType")
    if st == "i":
        # the Z85 payload is zero-padded to a 4-byte multiple;
        # sizeInBytes carries the true bitmap length
        raw = z85_decode(dv["pathOrInlineDv"])
        return decode_rbm_array(raw[:int(dv["sizeInBytes"])])
    fpath = _dv_file_path(table_path, dv)
    with open(fpath, "rb") as fh:
        buf = fh.read()
    data = read_dv_segment(buf, int(dv["offset"]), int(dv["sizeInBytes"]))
    return decode_rbm_array(data)


def _dv_pair_positions(table_path: str, pair: tuple) -> list[tuple]:
    """flatMap body for executor-side DV decoding."""
    absf, dvj = pair
    return [(absf, int(p))
            for p in _dv_positions(table_path, json.loads(dvj))]


def read_delta(
    spark: SparkSession, path: str, version: int | None = None,
    timestamp_ms: int | None = None,
    _with_provenance: bool = False,
) -> DataFrame:
    """Snapshot read of a Delta table at ``version`` (default latest) or
    AS OF ``timestamp_ms`` (the latest commit at or before it).
    One scan per distinct partition tuple, schema from the log (NOT from
    footers — old files missing later-added columns surface NULLs), and
    partition columns injected as typed literals per the spec. Files
    carrying DELETION VECTORS read whole and lose their deleted rows via
    an anti-join on the scan's ``_metadata`` row provenance — vectors
    decode on EXECUTORS (one task per DV file), so a table with millions
    of deleted rows never materializes them on the driver."""
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("give version OR timestamp_ms, not both")
        version = version_at_or_before(path, timestamp_ms)
    # canonicalize ONCE: the DV anti-join matches file paths against the
    # scan's _metadata.file_path, which Hadoop qualifies to an absolute
    # path — a relative/`..`-laden table path would silently match
    # nothing and resurrect every deleted row
    path = os.path.abspath(path)
    snap = _snapshot_state(spark, path, version)
    meta, live = snap.meta, snap.live
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    phys = _physical_names(meta)  # {logical: physical} under mapping
    mode_id = _mapping_mode(meta) == "id"
    part_cols = meta.get("partitionColumns") or []
    from pyspark.sql.types import StructField
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    if mode_id:
        data_schema = _id_requested_schema(spark, meta, data_fields)
    else:
        data_schema = StructType([
            StructField(phys[f.name] if phys else f.name, f.dataType, True)
            for f in data_fields
        ])
    by_part: dict[tuple, list[str]] = {}
    dv_by_abs: dict[str, dict] = {}
    for entry in live.file_entries(allow_dv=True):
        rel = urllib.parse.unquote(entry["path"])
        absf = rel if os.path.isabs(rel) else os.path.join(path, rel)
        pv = entry["partitionValues"]
        # under column mapping partitionValues are keyed by physical names
        key = tuple(
            pv.get(phys[c], pv.get(c)) if phys else pv.get(c)
            for c in part_cols
        )
        by_part.setdefault(key, []).append(absf)
        if entry.get("deletionVector"):
            dv_by_abs[absf] = entry["deletionVector"]

    if not by_part:
        return spark.createDataFrame([], _strip_mapping_meta(schema))

    with_dv = bool(dv_by_abs) or _with_provenance
    meta_cols = [
        F.regexp_replace(
            F.col("_metadata.file_path"), r"^[A-Za-z0-9+.-]+:/+", "/"
        ).alias("__dv_src"),
        F.col("_metadata.row_index").alias("__dv_idx"),
    ]
    pieces = []
    # None-safe ordering: a NULL partition value sorts after the strings
    part_order = lambda kv: tuple(  # noqa: E731
        (v is None, v or "") for v in kv[0]
    )
    for key, files in sorted(by_part.items(), key=part_order):
        df = spark.read.schema(data_schema).parquet(*files)
        if with_dv:
            df = df.select("*", *meta_cols)
        for c, v in zip(part_cols, key):
            df = df.withColumn(
                c if mode_id else (phys[c] if phys else c),
                _partition_literal(v, schema[c].dataType),
            )
        extra = ([F.col("__dv_src"), F.col("__dv_idx")]
                 if with_dv else [])
        if mode_id:
            pieces.append(df.select(
                *[F.col(f.name) for f in schema.fields], *extra))
        else:
            pieces.append(df.select(*(
                [F.col(phys[f.name]).alias(f.name) if phys
                 else F.col(f.name) for f in schema.fields] + extra
            )))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    if dv_by_abs:
        pairs = sorted(
            (absf, json.dumps(dv)) for absf, dv in dv_by_abs.items()
        )
        table_path = path
        rdd = (spark.sparkContext
               .parallelize(pairs, len(pairs))
               .flatMap(lambda t: _dv_pair_positions(table_path, t)))
        pos_df = spark.createDataFrame(
            rdd, "__dvp string, __dvi bigint")
        # strategy gate at zero cost: every DV descriptor declares its
        # cardinality, so the deleted-row total is known before any job.
        # Small sets broadcast (no shuffle of the scan side); a delete-
        # heavy table degrades to a shuffle-hash anti-join instead of
        # OOMing every executor with a multi-GB broadcast.
        n_del = sum(int(dv.get("cardinality") or 0)
                    for dv in dv_by_abs.values())
        pos_df = (F.broadcast(pos_df)
                  if n_del <= _DV_BROADCAST_MAX_ROWS
                  else pos_df.hint("shuffle_hash"))
        out = out.join(
            pos_df,
            (F.col("__dv_src") == F.col("__dvp"))
            & (F.col("__dv_idx") == F.col("__dvi")),
            "left_anti",
        )
    if with_dv:
        keep = [F.col(f.name) for f in schema.fields]
        if _with_provenance:
            keep += [F.col("__dv_src"), F.col("__dv_idx")]
        out = out.select(*keep)
    return out


def _strip_mapping_meta(schema: StructType) -> StructType:
    from pyspark.sql.types import StructField

    return StructType([
        StructField(f.name, f.dataType, f.nullable) for f in schema.fields
    ])


def files_for_range(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[list[str], int]:
    """(matching absolute files, total live files) — stats-based pruning
    over the adds' minValues/maxValues, before any Spark scan. A file
    without stats for ``column`` can never be pruned (sound, like
    tableformat.read_where)."""
    snap = _snapshot_state(spark, path, version)
    phys = _physical_names(snap.meta)
    scol = phys.get(column, column) if phys else column  # stats keys: physical
    kept, total = snap.live.prune_range(scol, lo, hi)
    keep = []
    for rel in kept:
        rel = urllib.parse.unquote(rel)
        keep.append(rel if os.path.isabs(rel) else os.path.join(path, rel))
    return keep, total


def read_delta_where(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Range read with manifest-side data skipping: only stats-matching
    files reach the scan; the exact predicate still applies on top."""
    snap_state = _snapshot_state(spark, path, version)
    meta = snap_state.meta
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    phys = _physical_names(meta)
    if meta.get("partitionColumns") or snap_state.live.has_dv():
        # partition columns aren't in footers, and deletion vectors need
        # the applying read; fall back to the full read (file pruning is
        # lost but correctness isn't — the exact predicate still applies)
        df = read_delta(spark, path, version)
        return df.filter(F.col(column).between(lo, hi))
    files, _total = files_for_range(spark, path, column, lo, hi, version)
    if not files:
        return spark.createDataFrame([], _strip_mapping_meta(schema))
    from pyspark.sql.types import StructField
    if _mapping_mode(meta) == "id":
        read_schema = _id_requested_schema(spark, meta, schema.fields)
        df = spark.read.schema(read_schema).parquet(*files)
        return df.filter(F.col(column).between(lo, hi))
    read_schema = StructType([
        StructField(phys[f.name] if phys else f.name, f.dataType, True)
        for f in schema.fields
    ])
    df = spark.read.schema(read_schema).parquet(*files)
    if phys:
        df = df.select(*[
            F.col(phys[f.name]).alias(f.name) for f in schema.fields
        ])
    return df.filter(F.col(column).between(lo, hi))


# ------------------------------------------------------------- checkpoints

_CKPT_DDL = (
    "txn struct<appId:string, version:bigint>, "
    "add struct<path:string, partitionValues:map<string,string>, "
    "size:bigint, modificationTime:bigint, dataChange:boolean, "
    "stats:string, deletionVector:struct<storageType:string, "
    "pathOrInlineDv:string, offset:int, sizeInBytes:int, "
    "cardinality:bigint>>, "
    "remove struct<path:string, dataChange:boolean>, "
    "metaData struct<id:string, name:string, description:string, "
    "format:struct<provider:string, options:map<string,string>>, "
    "schemaString:string, partitionColumns:array<string>, "
    "configuration:map<string,string>, createdTime:bigint>, "
    "protocol struct<minReaderVersion:int, minWriterVersion:int, "
    "readerFeatures:array<string>, writerFeatures:array<string>>"
)


def write_checkpoint(
    spark: SparkSession, path: str, clean_commits: bool = False,
    form: str = "auto",
) -> str:
    """Compact the log's latest state into a checkpoint plus the
    ``_last_checkpoint`` pointer external readers discover it by
    (PROTOCOL.md §Checkpoints). The checkpoint carries the latest
    protocol (verbatim — never downgraded) and metaData, every surviving
    ``add``, and every appId's latest ``txn``, so replay from it needs
    only the JSON tail — this is what keeps log replay O(tail) when the
    streaming sink commits once per micro-batch forever.

    ``form`` picks the layout: ``"classic"`` writes the single-file
    ``<v:020d>.checkpoint.parquet``; ``"v2"`` writes the uuid-named
    ``<v:020d>.checkpoint.<uuid>.parquet`` whose top level carries ONLY
    ``checkpointMetadata`` + singles + ``sidecar`` references, with the
    add actions in parquet sidecars under ``_delta_log/_sidecars/``
    (written DISTRIBUTED — one sidecar per shuffle partition, so a
    million-file state never rides the driver); ``"auto"`` (default)
    writes v2 exactly when the table's protocol declares the
    ``v2Checkpoint`` feature — the spec's own rule. ``"v2-json"``
    writes the same distributed sidecars but a JSON-lines top level
    (``<v:020d>.checkpoint.<uuid>.json`` — the form some engines prefer
    for small tables; it is always tiny here: checkpointMetadata +
    sidecar refs + singles, never inline file actions). Writing v2 onto
    a table whose READERS never declared the feature refuses
    (pre-feature readers cannot discover uuid-named checkpoints, so log
    cleanup would strand them); writing classic onto a v2-declaring
    table refuses symmetrically.

    ``clean_commits=True`` additionally deletes the JSON commits the
    checkpoint covers (Delta's log cleanup). Time travel BELOW the
    checkpoint version then (correctly) fails with a missing-commit
    error; versions at or above stay readable. Returns the checkpoint
    file path."""
    import shutil
    import tempfile

    snap = _snapshot_state(spark, path, None)
    feats_r = set(snap.protocol.get("readerFeatures") or [])
    feats_w = set(snap.protocol.get("writerFeatures") or [])
    if form == "auto":
        form = "v2" if "v2Checkpoint" in feats_w else "classic"
    if form in ("v2", "v2-json") and "v2Checkpoint" not in feats_r:
        raise DeltaProtocolError(
            "table protocol does not declare the v2Checkpoint reader "
            "feature: a uuid-named checkpoint would be invisible to its "
            "readers after log cleanup"
        )
    if form == "classic" and "v2Checkpoint" in feats_w:
        raise DeltaProtocolError(
            "table declares the v2Checkpoint writer feature: checkpoints "
            "must be written in the v2 format (pass form='v2' or 'auto')"
        )
    if form not in ("classic", "v2", "v2-json"):
        raise ValueError(
            f"form must be classic/v2/v2-json/auto, not {form!r}")
    txn_rows = [
        ({"appId": a, "version": v}, None, None, None, None)
        for a, v in sorted(snap.txns.items()) if v >= 0
    ]
    meta_row = (None, None, None,
                {k: snap.meta.get(k) for k in
                 ("id", "name", "description", "format", "schemaString",
                  "partitionColumns", "configuration", "createdTime")},
                None)
    proto_row = (None, None, None, None,
                 {"minReaderVersion": snap.protocol.get("minReaderVersion", 1),
                  "minWriterVersion": snap.protocol.get("minWriterVersion", 2),
                  # a table-features protocol (v3/v7) is spec-INVALID
                  # without its feature lists — carry them verbatim
                  "readerFeatures": snap.protocol.get("readerFeatures"),
                  "writerFeatures": snap.protocol.get("writerFeatures")})
    singles = spark.createDataFrame(
        txn_rows + [meta_row, proto_row], _CKPT_DDL
    )
    # add rows pass through DISTRIBUTED: a prior checkpoint's adds never
    # round-trip the driver, only the JSON tail's do (_LiveSet contract)
    adds = snap.live.add_actions_df()
    n_adds = adds.count()
    ckpt_df = singles.unionByName(
        adds.select(
            F.lit(None).cast(singles.schema["txn"].dataType).alias("txn"),
            F.struct(*[F.col(f) for f in _ADD_FIELDS],
                     F.col("deletionVector")).alias("add"),
            F.lit(None).cast(singles.schema["remove"].dataType)
            .alias("remove"),
            F.lit(None).cast(singles.schema["metaData"].dataType)
            .alias("metaData"),
            F.lit(None).cast(singles.schema["protocol"].dataType)
            .alias("protocol"),
        )
    )

    last_ckpt = {"version": snap.version,
                 "size": n_adds + len(txn_rows) + 2}
    if form == "classic":
        stage = tempfile.mkdtemp(prefix="delta_ckpt_")
        try:
            ckpt_df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(f for f in sorted(os.listdir(stage))
                        if f.endswith(".parquet"))
            target = os.path.join(_log_dir(path),
                                  f"{snap.version:020d}.checkpoint.parquet")
            os.replace(os.path.join(stage, part), target)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
    else:
        # v2/uuid form: sidecars first (add actions, written DISTRIBUTED
        # — one sidecar per output partition), then the top-level file
        # naming them; publishing top-level last means a crashed writer
        # leaves only invisible orphan sidecars, never a partial
        # checkpoint (the read path refuses missing sidecars anyway)
        side_dir = os.path.join(_log_dir(path), _SIDECAR_DIR)
        os.makedirs(side_dir, exist_ok=True)
        stage = tempfile.mkdtemp(prefix="delta_ckpt_v2_")
        sidecar_rows = []
        try:
            adds.select(
                F.struct(*[F.col(f) for f in _ADD_FIELDS],
                         F.col("deletionVector")).alias("add"),
                F.lit(None).cast(singles.schema["remove"].dataType)
                .alias("remove"),
            ).write.mode("overwrite").parquet(stage)
            for part in sorted(os.listdir(stage)):
                if not part.endswith(".parquet"):
                    continue
                name = f"{uuid.uuid4()}.parquet"
                src = os.path.join(stage, part)
                size = os.path.getsize(src)
                os.replace(src, os.path.join(side_dir, name))
                sidecar_rows.append(
                    ({"path": name, "sizeInBytes": size,
                      "modificationTime": int(_time.time() * 1000)},
                     None, None, None, None, None, None))
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        if form == "v2-json":
            # JSON-lines top level: always tiny (checkpointMetadata +
            # sidecar refs + singles — file actions live in the parquet
            # sidecars), written to a temp name then atomically renamed
            lines = [{"checkpointMetadata": {"version": snap.version}}]
            lines += [{"sidecar": s[0]} for s in sidecar_rows]
            lines += [{"txn": t[0]} for t in txn_rows]
            lines += [{"metaData": meta_row[3]},
                      {"protocol": proto_row[4]}]
            target = os.path.join(
                _log_dir(path),
                f"{snap.version:020d}.checkpoint.{uuid.uuid4()}.json")
            tmp = target + ".tmp"
            with open(tmp, "w") as fh:
                fh.write("\n".join(json.dumps(ln) for ln in lines) + "\n")
            os.replace(tmp, target)
        else:
            top_ddl = (
                "sidecar struct<path:string, sizeInBytes:bigint, "
                "modificationTime:bigint>, "
                "checkpointMetadata struct<version:bigint>, " + _CKPT_DDL
            )
            # widen singles rows into the top-level shape (no add/remove
            # columns ride the top level when sidecars are present)
            top = spark.createDataFrame(
                sidecar_rows
                + [(None, {"version": snap.version},
                    None, None, None, None, None)]
                + [(None, None) + r
                   for r in txn_rows + [meta_row, proto_row]],
                top_ddl,
            ).drop("add", "remove")
            stage2 = tempfile.mkdtemp(prefix="delta_ckpt_v2t_")
            try:
                top.coalesce(1).write.mode("overwrite").parquet(stage2)
                part = next(f for f in sorted(os.listdir(stage2))
                            if f.endswith(".parquet"))
                target = os.path.join(
                    _log_dir(path),
                    f"{snap.version:020d}.checkpoint."
                    f"{uuid.uuid4()}.parquet")
                os.replace(os.path.join(stage2, part), target)
            finally:
                shutil.rmtree(stage2, ignore_errors=True)
        last_ckpt["v2Checkpoint"] = {"path": os.path.basename(target)}
    with open(os.path.join(_log_dir(path), "_last_checkpoint"), "w") as fh:
        json.dump(last_ckpt, fh)
    if clean_commits:
        for v, f in _list_commits(path).items():
            if v <= snap.version:
                os.unlink(f)
    return target


# ----------------------------------------------------------------- appends


def last_txn_version(spark: SparkSession, path: str, app_id: str) -> int | None:
    """Latest committed ``txn`` version for ``app_id`` (None if the appId
    never committed) — the restart-recovery read an idempotent producer
    does before resuming."""
    v = _snapshot_state(spark, path, None).txns.get(app_id)
    return None if v is None or v < 0 else v


def delete_delta_where(spark: SparkSession, path: str, column: str,
                       lo, hi) -> int:
    """DELETE WHERE ``lo <= column <= hi`` without rewriting any data: a
    deletion-vector commit (the shape delta-spark writes for DELETE on a
    DV-enabled table). Matching rows' provenance comes from the scan's
    ``_metadata`` struct; each affected file is re-added with a vector
    unioning its existing deleted positions (remove + add of the same
    path, ``dataChange`` true — the spec's DV-update pattern), published
    through the LogStore conditional put. Requires the table's protocol
    to ALREADY declare ``deletionVectors`` on both reader and writer
    sides — silently upgrading the protocol would strand every other
    reader, so a plain table refuses loudly (rewrite-based deletes or
    the protocol upgrade are the native engine's job)."""
    path = os.path.abspath(path)  # match read_delta's provenance form
    snap = _snapshot_state(spark, path, None)
    latest, meta = snap.version, snap.meta
    proto = snap.protocol
    feats_r = set(proto.get("readerFeatures") or [])
    feats_w = set(proto.get("writerFeatures") or [])
    if (proto.get("minReaderVersion", 1) < 3
            or "deletionVectors" not in feats_r
            or "deletionVectors" not in feats_w):
        raise DeltaProtocolError(
            "table protocol does not declare deletionVectors (reader AND "
            "writer): a DV-writing DELETE would strand existing readers. "
            "Use the table's native engine to upgrade the protocol or to "
            "run a rewrite-based delete."
        )
    conf = meta.get("configuration") or {}
    if conf.get("delta.appendOnly") == "true" or "appendOnly" in feats_w:
        raise DeltaProtocolError("table is append-only: deletes refuse")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    if column not in {f.name for f in schema.fields}:
        raise ValueError(f"column {column!r} not in table schema")

    adds_all = snap.live.materialize(allow_dv=True)
    by_norm: dict[str, tuple[str, dict]] = {}
    for rel, a in adds_all.items():
        dec = urllib.parse.unquote(rel)
        # abspath matches _metadata.file_path's qualified-absolute form
        # even when the caller passed a relative table path
        absf = os.path.abspath(
            dec if os.path.isabs(dec) else os.path.join(path, dec))
        by_norm[absf] = (rel, a)
    # prior-delete descriptors only (per-file metadata, not positions) —
    # shipped in the encoder's closure so the union with existing DVs
    # happens executor-side too
    old_dv_by_abs = {absf: a.get("deletionVector")
                     for absf, (_rel, a) in by_norm.items()
                     if a.get("deletionVector")}

    df = read_delta(spark, path, _with_provenance=True)
    matched = (df.filter(F.col(f"`{column}`").between(lo, hi))
               .select("__dv_src", "__dv_idx"))

    # Encode per-file roaring bitmaps on the EXECUTORS: shuffle matched
    # positions by source file, stream each partition's files through an
    # incremental DV writer (one DV file per task — delta-spark's shape),
    # and collect only one descriptor row per affected data file. The
    # driver never materializes row positions, so a DELETE matching
    # billions of rows collects only O(affected files).
    table_path = path

    def _encode_partition(batches):
        import pandas as pd
        from monday_etl_spark.roaring import DvFileWriter, z85_encode

        writer: DvFileWriter | None = None
        dv_u85: str | None = None
        state = {"src": None, "pos": []}
        out: list[tuple] = []

        def _flush():
            nonlocal writer, dv_u85
            if state["src"] is None:
                return
            positions = set(state["pos"])
            old = old_dv_by_abs.get(state["src"])
            if old:
                positions |= set(_dv_positions(table_path, old))
            if writer is None:
                # storageType "u": the descriptor carries the Z85 of the
                # file's uuid RELATIVE to the table root, so the table
                # stays relocatable (spec §Deletion Vector Descriptor;
                # an absolute "p" path breaks on copy/move)
                u = uuid.uuid4()
                dv_u85 = z85_encode(u.bytes)
                writer = DvFileWriter(os.path.join(
                    table_path, f"deletion_vector_{u}.bin"))
            off, size = writer.append(sorted(positions))
            out.append((state["src"], dv_u85, off, size, len(positions)))

        for pdf in batches:
            for src, idx in zip(pdf["__dv_src"], pdf["__dv_idx"]):
                if src != state["src"]:
                    _flush()
                    state["src"], state["pos"] = src, []
                state["pos"].append(int(idx))
        _flush()
        if writer is not None:
            writer.close()
        if out:
            yield pd.DataFrame(
                out, columns=["src", "dv_u85", "offset",
                              "size_in_bytes", "cardinality"])

    descriptors = (
        matched.repartition("__dv_src")
        .sortWithinPartitions("__dv_src", "__dv_idx")
        .mapInPandas(
            _encode_partition,
            schema=("src string, dv_u85 string, offset long, "
                    "size_in_bytes long, cardinality long"))
        .collect()
    )
    if not descriptors:
        return latest  # nothing matched: no commit

    # Change Data Feed: when the table declares
    # delta.enableChangeDataFeed, the deleted rows' PRE-IMAGES are
    # written as _change_data parquet (with the spec's _change_type
    # column) and committed as cdc actions — the native engine's DELETE
    # does the same, and it is what lets read_delta_changes serve this
    # commit without reconstructing from the DV diff (which add/remove
    # replay cannot express). Written distributed, Hive-partitioned
    # like the data when the table is partitioned.
    actions: list[dict] = []
    if conf.get("delta.enableChangeDataFeed") == "true":
        pre = (df.filter(F.col(f"`{column}`").between(lo, hi))
               .select(*[f.name for f in schema.fields])
               .withColumn("_change_type", F.lit("delete")))
        actions += _write_change_data(spark, path, latest + 1, pre, meta)
    for r in sorted(descriptors, key=lambda r: r["src"]):
        rel, a = by_norm[r["src"]]
        actions.append({"remove": {"path": rel, "dataChange": True}})
        newadd = {k: v for k, v in a.items()}
        newadd["dataChange"] = True
        newadd["deletionVector"] = {
            "storageType": "u", "pathOrInlineDv": r["dv_u85"],
            "offset": int(r["offset"]),
            "sizeInBytes": int(r["size_in_bytes"]),
            "cardinality": int(r["cardinality"]),
        }
        if isinstance(newadd.get("stats"), dict):
            newadd["stats"] = json.dumps(newadd["stats"])
        actions.append({"add": newadd})
    return _commit_delta(
        path, latest + 1, "DELETE",
        {"predicate": f"{column} BETWEEN {lo!r} AND {hi!r}"}, actions)


def upsert_delta(spark: SparkSession, df: DataFrame, path: str,
                 key_cols: list[str],
                 app_id: str | None = None,
                 txn_version: int | None = None) -> int:
    """MERGE-shaped upsert: source rows REPLACE matched target rows (by
    ``key_cols``) and INSERT otherwise — delta-spark's copy-on-write
    MERGE without a not-matched-by-source clause, in ONE commit and two
    passes: pass 1 collects the files that CONTAIN a matched key, pass 2
    writes ``survivors ∪ source`` once (survivors: those files' rows,
    deletion vectors applied, whose key the source lacks). No probe job,
    no second write; untouched files stay referenced, so cost tracks the
    matched-file set, not the table. Both passes scan the snapshot the
    commit builds on, so a commit landing in between makes the put lose
    its race (``ConcurrentCommitError``). Change Data Feed tables also get
    ``_change_data`` rows (``update_preimage``/``update_postimage`` for
    matched keys, ``insert`` for the rest) + cdc actions, so
    :func:`delta_cdf.read_delta_changes` serves the commit exactly.
    Source keys must be unique (the CDC upsert contract — two source
    rows for one key have no defined winner); CHECK constraints and
    column invariants are enforced on the source like any append;
    ``app_id``/``txn_version`` give exactly-once replays via the spec's
    transaction identifiers. Reference scope: keyed MERGE refreshes of
    warehouse tables (monday_etl_automated.py:571-600)."""
    if (app_id is None) != (txn_version is None):
        raise ValueError("app_id and txn_version must be given together")
    path = os.path.abspath(path)
    snap = _snapshot_state(spark, path, None)
    latest, meta = snap.version, snap.meta
    _check_writer_protocol(snap.protocol, meta)
    feats_w = set(snap.protocol.get("writerFeatures") or [])
    conf = meta.get("configuration") or {}
    if conf.get("delta.appendOnly") == "true" or "appendOnly" in feats_w:
        raise DeltaProtocolError("table is append-only: upserts refuse")
    if app_id is not None and snap.txns.get(app_id, -1) >= txn_version:
        return latest  # replayed batch: exactly-once skip
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    got = {(f.name, f.dataType.simpleString()) for f in df.schema.fields}
    want = {(f.name, f.dataType.simpleString()) for f in schema.fields}
    if got != want:
        raise ValueError(
            f"upsert schema mismatch: df has {sorted(got)}, "
            f"table wants {sorted(want)}")
    names = {f.name for f in schema.fields}
    if not set(key_cols) <= names:
        raise ValueError(f"key columns {key_cols} not all in schema")
    if df.groupBy(*key_cols).count().filter(F.col("count") > 1).take(1):
        raise ValueError(
            "source has duplicate keys: an upsert with two source rows "
            "for one key has no defined winner")
    for cname, sql, kind in _constraint_exprs(meta):
        expr = F.expr(sql)
        violated = (~expr.eqNullSafe(F.lit(True)) if kind == "invariant"
                    else expr.eqNullSafe(F.lit(False)))
        bad = df.filter(violated).limit(1)
        if bad.count():
            raise DeltaProtocolError(
                f"upsert violates {cname} ({sql}); first bad row: "
                f"{bad.collect()[0].asDict()}")

    part_cols = meta.get("partitionColumns") or []
    cols = [f.name for f in schema.fields]
    src = df.select(*cols)
    # keys are unique (checked above) and semi/anti joins ignore
    # duplicates anyway: no distinct, so a small source broadcasts
    src_keys = src.select(*key_cols)

    # pass 1: the files holding a matched key
    tgt = read_delta(spark, path, version=latest, _with_provenance=True)
    matched = tgt.join(src_keys, key_cols, "left_semi")
    affected_abs = [r["__dv_src"] for r in
                    matched.select("__dv_src").distinct().collect()]
    rel_of: dict[str, str] = {}
    for rel in snap.live.materialize(allow_dv=True):
        dec = urllib.parse.unquote(rel)
        rel_of[os.path.abspath(
            dec if os.path.isabs(dec) else os.path.join(path, dec))] = rel

    # pass 2: one write of source and survivors; a task with no rows may
    # still emit an empty file, which is dropped before the commit
    survivors = (tgt.filter(F.col("__dv_src").isin(affected_abs))
                 .join(src_keys, key_cols, "left_anti"))
    rel_dir = f"_data_m{latest + 1}-{uuid.uuid4().hex[:8]}"
    w = src.unionByName(survivors.select(*cols)).write
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(os.path.join(path, rel_dir))
    adds = _collect_written_adds(
        os.path.join(path, rel_dir), rel_dir, part_cols, spark=spark)

    actions: list[dict] = []
    if conf.get("delta.enableChangeDataFeed") == "true":
        mkeys = matched.select(*key_cols).distinct()
        pre = (matched.select(*cols)
               .withColumn("_change_type", F.lit("update_preimage")))
        post = (src.join(F.broadcast(mkeys), key_cols, "left_semi")
                .withColumn("_change_type", F.lit("update_postimage")))
        ins = (src.join(F.broadcast(mkeys), key_cols, "left_anti")
               .withColumn("_change_type", F.lit("insert")))
        actions += _write_change_data(
            spark, path, latest + 1,
            pre.unionByName(post).unionByName(ins), meta)

    now_ms = int(_time.time() * 1000)
    for rel in sorted(rel_of[a] for a in affected_abs):
        actions.append({"remove": {"path": rel, "dataChange": True,
                                   "deletionTimestamp": now_ms}})
    actions += [{"add": a} for a in adds]
    return _commit_delta(
        path, latest + 1, "MERGE",
        {"matchedPredicates": json.dumps([{"actionType": "update"}])},
        actions, now_ms, app_id, txn_version)


def _num_records(absf: str) -> tuple[str, int]:
    """(path, footer row count) — module-level so the add collector can
    run it on EXECUTORS for wide Hive-partitioned writes."""
    import pyarrow.parquet as pq

    return absf, pq.ParquetFile(absf).metadata.num_rows


def _collect_written_adds(
    out_dir: str, rel_dir: str, part_cols: list[str],
    spark: SparkSession | None = None,
) -> list[dict]:
    """Walk a freshly-written parquet directory into add actions: one per
    data file, partitionValues parsed from the Hive-style key=value path
    components (Spark's escaping is Hive's percent-encoding; the spec's
    null marker maps back to None). Footer row counts (the stats field)
    read on EXECUTORS above a few hundred files when ``spark`` is given —
    a high-cardinality partitionBy write emits one file per tuple, and
    the driver must not open them serially. Files with no rows are
    deleted, not added: Spark's writer emits one for its first task even
    when that task has no rows, and an add with ``numRecords: 0`` only
    costs every reader a file open."""
    found: list[tuple[str, str, dict]] = []
    for root, _dirs, files in sorted(os.walk(out_dir)):
        rel_sub = os.path.relpath(root, out_dir)
        pv: dict[str, str | None] = {}
        if rel_sub != ".":
            for comp in rel_sub.split(os.sep):
                k, _, v = comp.partition("=")
                v = urllib.parse.unquote(v)
                pv[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
        if part_cols and set(pv) != set(part_cols):
            continue  # not a leaf partition directory
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            absf = os.path.join(root, name)
            rel = f"{rel_dir}/{name}" if rel_sub == "." else \
                f"{rel_dir}/{rel_sub}/{name}"
            found.append((absf, rel, pv))
    if spark is not None and len(found) > 256:
        rdd = spark.sparkContext.parallelize(
            [f for f, _r, _p in found], max(1, len(found) // 64))
        counts = dict(rdd.map(_num_records).collect())
    else:
        counts = dict(_num_records(f) for f, _r, _p in found)
    adds: list[dict] = []
    for absf, rel, pv in found:
        if counts[absf] == 0:
            os.remove(absf)
            continue
        adds.append({
            "path": urllib.parse.quote(rel, safe="/=%"),
            "partitionValues": pv,
            "size": os.path.getsize(absf),
            "modificationTime": int(os.path.getmtime(absf) * 1000),
            "dataChange": True,
            "stats": json.dumps({"numRecords": counts[absf]}),
        })
    return adds


def _write_change_data(spark: SparkSession, path: str, version: int,
                       cdc_df: DataFrame, meta: dict) -> list[dict]:
    """Change Data Feed: write ``cdc_df`` (the table's columns plus the
    spec's ``_change_type``) as commit ``version``'s ``_change_data``
    parquet, Hive-partitioned like the data, and return its ``cdc``
    actions — what lets ``read_delta_changes`` serve a commit whose
    row-level change add/remove replay cannot express."""
    part_cols = meta.get("partitionColumns") or []
    rel_dir = f"_change_data/cdc-{version}-{uuid.uuid4().hex[:8]}"
    w = cdc_df.write
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(os.path.join(path, rel_dir))
    return [{"cdc": {"path": a["path"], "partitionValues": a["partitionValues"],
                     "size": a["size"], "dataChange": False}}
            for a in _collect_written_adds(os.path.join(path, rel_dir),
                                           rel_dir, part_cols, spark=spark)]


def _commit_delta(path: str, version: int, operation: str, params: dict,
                  actions: list[dict], now_ms: int | None = None,
                  app_id: str | None = None,
                  txn_version: int | None = None) -> int:
    """The shared tail of every Delta mutator: ``commitInfo``, then
    ``actions``, then the optional ``txn`` (appId, version), published as
    commit ``version`` through ``tableformat._publish`` — a lost race
    raises ``ConcurrentCommitError``, a lost acknowledgement of our own
    put is a success. Returns ``version``."""
    if now_ms is None:
        now_ms = int(_time.time() * 1000)
    commit = [{"commitInfo": {
        "timestamp": now_ms,
        "operation": operation,
        "operationParameters": params,
        "engineInfo": "monday-etl-spark delta bridge",
    }}] + actions
    if app_id is not None:
        commit.append({"txn": {"appId": app_id, "version": txn_version}})
    _publish(os.path.join(_log_dir(path), f"{version:020d}.json"),
             "\n".join(json.dumps(a) for a in commit) + "\n")
    return version


def append_delta(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    app_id: str | None = None,
    txn_version: int | None = None,
    retries: int = 0,
) -> int:
    """Append ``df`` to an existing Delta table and return the committed
    version. Write-then-publish: parquet files land under a
    writer-unique directory first, and the commit JSON publishes through
    the LogStore put-if-absent seam — two racing appenders cannot clobber
    each other. A lost race raises ``ConcurrentCommitError`` (a
    ``FileExistsError``); with ``retries`` it re-replays the log and
    re-publishes the SAME already-written files at the next version (the
    orphaned-loser model is Delta's own). A put that landed but whose
    acknowledgement was lost counts as committed, never as a loss.

    ``app_id``/``txn_version`` make the append idempotent via the spec's
    transaction identifiers: when the table already holds a ``txn`` with
    ``version >= txn_version`` for this appId, the append is a replayed
    batch and is SKIPPED (returns the current version, writes nothing)."""
    if (app_id is None) != (txn_version is None):
        raise ValueError("app_id and txn_version must be given together")

    snap = _snapshot_state(spark, path, None)
    latest, meta = snap.version, snap.meta
    _check_writer_protocol(snap.protocol, meta)
    if app_id is not None and snap.txns.get(app_id, -1) >= txn_version:
        return latest  # replayed batch: already committed, exactly-once skip
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    got = {(f.name, f.dataType.simpleString()) for f in df.schema.fields}
    want = {(f.name, f.dataType.simpleString()) for f in schema.fields}
    if got != want:
        raise ValueError(
            f"append schema mismatch: df has {sorted(got)}, "
            f"table wants {sorted(want)}"
        )
    part_cols = meta.get("partitionColumns") or []

    # writer v2/v3 guarantee enforcement: every CHECK constraint and
    # column invariant must hold on the appended batch. CHECK follows
    # SQL semantics (NULL satisfies, only FALSE violates); a legacy
    # delta.invariants expression violates on anything that is not TRUE
    # — delta-spark's CheckDeltaInvariant rejects NULL-evaluating rows.
    # One job per constrained append — the price of not corrupting the
    # table's contract for every other engine.
    for cname, sql, kind in _constraint_exprs(meta):
        expr = F.expr(sql)
        violated = (~expr.eqNullSafe(F.lit(True)) if kind == "invariant"
                    else expr.eqNullSafe(F.lit(False)))
        bad = df.filter(violated).limit(1)
        if bad.count():
            row = bad.collect()[0].asDict()
            raise DeltaProtocolError(
                f"append violates {cname} ({sql}); first bad row: {row}"
            )

    rel_dir = f"_data_a{latest + 1}-{uuid.uuid4().hex[:8]}"
    out_dir = os.path.join(path, rel_dir)
    writer = df.select(*[f.name for f in schema.fields]).write
    if part_cols:
        # Hive-style routing: partition columns become key=value directory
        # components and are NOT stored in the data files — exactly the
        # spec's physical layout, so external readers re-inject them from
        # partitionValues the same way read_delta does
        writer = writer.partitionBy(*part_cols)
    writer.parquet(out_dir)
    adds = [
        {"add": a} for a in _collect_written_adds(out_dir, rel_dir,
                                                   part_cols, spark=spark)
    ]
    now_ms = int(_time.time() * 1000)
    for attempt in range(retries + 1):
        try:
            return _commit_delta(path, latest + 1, "WRITE",
                                 {"mode": "Append"}, adds, now_ms,
                                 app_id, txn_version)
        except ConcurrentCommitError:
            if attempt == retries:
                raise
            # a concurrent writer won this version: re-derive against the
            # new snapshot (their commit may even have been OUR batch via
            # another worker — the txn check catches that) and re-publish
            # the same data files at the next version
            snap = _snapshot_state(spark, path, None)
            latest = snap.version
            if app_id is not None and snap.txns.get(app_id, -1) >= txn_version:
                return latest
    raise AssertionError("unreachable")


def compact_delta(spark: SparkSession, path: str) -> int:
    """Rewrite the table's LIVE rows — deletion vectors applied — into
    fresh data files and commit ``remove(old) + add(new)`` with
    ``dataChange=false`` on both sides: Delta's OPTIMIZE lifecycle step,
    and the maintenance this module's own DV docstrings point DV-heavy
    tables at. Readers before/after see identical rows; old files stay
    on disk for time travel; the streaming source skips the commit
    entirely (no new rows — delta-spark's own dataChange=false rule).
    Published through the LogStore conditional put, so a racing writer
    loses cleanly. Column-mapped tables refuse (rewriting them requires
    writing physical names + field ids into footers, which this writer
    does not do); append-only tables are fine — the spec's appendOnly
    forbids DATA-changing removes, and a compaction changes none."""
    path = os.path.abspath(path)
    snap = _snapshot_state(spark, path, None)
    latest, meta = snap.version, snap.meta
    proto = snap.protocol
    feats_w = set(proto.get("writerFeatures") or [])
    if proto.get("minWriterVersion", 2) > 3 and not feats_w <= {
        "appendOnly", "deletionVectors", "v2Checkpoint", "columnMapping",
        "checkConstraints", "invariants", "changeDataFeed",
    }:
        raise DeltaProtocolError(
            f"writerFeatures {sorted(feats_w)}: compaction under writer "
            "features this bridge does not implement could drop their "
            "guarantees — use the table's native engine"
        )
    if _mapping_mode(meta) in ("name", "id"):
        raise DeltaProtocolError(
            "column-mapped table: compaction rewrites data files, which "
            "must carry the mapping's physical names / field ids — not "
            "implemented; use the table's native engine (OPTIMIZE)"
        )
    adds_all = snap.live.materialize(allow_dv=True)
    if not adds_all:
        return latest  # empty table: nothing to compact
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = meta.get("partitionColumns") or []

    live = read_delta(spark, path)
    rel_dir = f"_data_c{latest + 1}-{uuid.uuid4().hex[:8]}"
    out_dir = os.path.join(path, rel_dir)
    writer = live.select(*[f.name for f in schema.fields]).write
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(out_dir)

    now_ms = int(_time.time() * 1000)
    removes = [{"remove": {"path": rel, "dataChange": False,
                           "deletionTimestamp": now_ms}}
               for rel in sorted(adds_all)]
    adds = []
    for a in _collect_written_adds(out_dir, rel_dir, part_cols,
                                   spark=spark):
        a["dataChange"] = False
        adds.append({"add": a})
    return _commit_delta(path, latest + 1, "OPTIMIZE", {"predicate": "[]"},
                         removes + adds, now_ms)


def vacuum_delta(spark: SparkSession, path: str, retain_last: int = 2,
                 grace_s: float = 3600.0) -> list[str]:
    """Delete data files no RETAINED version references — the GC step
    after :func:`compact_delta` / :func:`delete_delta_where` accumulate
    dead files. ``retain_last`` versions stay fully time-travelable
    (their data files AND on-disk deletion-vector files are kept); like
    Delta's own VACUUM, earlier versions' reads break once their files
    are gone — the log itself is never touched, so history/audit replay
    stays intact. ``grace_s`` skips files modified recently: an in-flight
    writer's staged-but-uncommitted files are unreferenced by
    construction, and the modification-time window is exactly how
    delta-spark's VACUUM avoids deleting them. Returns the deleted
    absolute paths."""
    path = os.path.abspath(path)
    versions = delta_versions(path)
    if not versions:
        raise FileNotFoundError(f"{path}: empty {_LOG_DIR}/")
    retained = versions[-max(1, retain_last):]
    keep: set[str] = set()
    for v in retained:
        snap = _snapshot_state(spark, path, v)
        for rel, a in snap.live.materialize(allow_dv=True).items():
            dec = urllib.parse.unquote(rel)
            keep.add(os.path.abspath(
                dec if os.path.isabs(dec) else os.path.join(path, dec)))
            dv = a.get("deletionVector")
            if dv and dv.get("storageType") in ("p", "u"):
                keep.add(os.path.abspath(_dv_file_path(path, dv)))
    # change-data files for commits inside the retained window stay too:
    # the feed must remain readable wherever time travel still works
    # (delta-spark's VACUUM keeps _change_data on the same clock as data)
    for v, f in _list_commits(path).items():
        if v < retained[0]:
            continue
        with open(f) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "cdc" in a:
                    rel = urllib.parse.unquote(a["cdc"]["path"])
                    keep.add(os.path.abspath(os.path.join(path, rel)))
    now = _time.time()
    deleted: list[str] = []
    for root, dirs, names in os.walk(path):
        if _LOG_DIR in dirs:
            dirs.remove(_LOG_DIR)  # never under the transaction log
        for name in names:
            if not (name.endswith(".parquet") or name.endswith(".bin")):
                continue
            absf = os.path.abspath(os.path.join(root, name))
            if absf in keep:
                continue
            if now - os.path.getmtime(absf) < grace_s:
                continue  # possibly an in-flight writer's staged file
            os.unlink(absf)
            deleted.append(absf)
    # drop now-empty data directories (never the table root or the log)
    for root, dirs, names in sorted(
        os.walk(path), key=lambda t: -len(t[0])
    ):
        if root != path and not dirs and not names \
                and _LOG_DIR not in root.split(os.sep):
            try:
                os.rmdir(root)
            except OSError:
                pass
    return sorted(deleted)


def restore_delta(spark: SparkSession, path: str, version: int) -> int:
    """RESTORE the table to an earlier version as a NEW commit (delta's
    own RESTORE shape): the live set becomes exactly ``version``'s —
    files it lacks are removed, files it has that the head lost are
    re-added with their original metadata (stats, partition values,
    deletion vectors ride along untouched). History is preserved — the
    restore is itself a commit, so a second RESTORE can undo it. Data
    files must still exist (a vacuum that swept them makes the target
    unrestorable; the missing paths are named in the error)."""
    path = os.path.abspath(path)
    snap_now = _snapshot_state(spark, path, None)
    latest = snap_now.version
    if version == latest:
        return latest
    snap_tgt = _snapshot_state(spark, path, version)
    # restore re-emits the TARGET's add actions verbatim (stats, mapping
    # physical names, deletion vectors all ride along untouched), so the
    # gate is the row-preserving one — not the append path's, which
    # would refuse DV/mapped tables it cannot WRITE new files for
    proto = snap_now.protocol
    feats_w = set(proto.get("writerFeatures") or [])
    if proto.get("minWriterVersion", 2) > 3 and not feats_w <= {
        "deletionVectors", "v2Checkpoint", "columnMapping",
        "checkConstraints", "invariants", "changeDataFeed",
    }:
        raise DeltaProtocolError(
            f"writerFeatures {sorted(feats_w)}: restore under writer "
            "features this bridge does not implement could drop their "
            "guarantees — use the table's native engine"
        )
    conf = snap_now.meta.get("configuration") or {}
    if conf.get("delta.appendOnly") == "true" or "appendOnly" in feats_w:
        raise DeltaProtocolError(
            "table is append-only: restore removes files, which "
            "appendOnly forbids"
        )
    now_adds = snap_now.live.materialize(allow_dv=True)
    tgt_adds = snap_tgt.live.materialize(allow_dv=True)

    missing = sorted(
        rel for rel in tgt_adds
        if not os.path.exists(os.path.join(
            path, urllib.parse.unquote(rel)))
    )
    # the target's on-disk deletion-vector files must survive too — a
    # vacuum that swept a DV .bin leaves the data file readable but the
    # restored snapshot unreadable; refuse HERE with the named paths
    # rather than letting the next read fail with a missing-file error
    for rel, a in sorted(tgt_adds.items()):
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") in ("p", "u"):
            dvf = _dv_file_path(path, dv)
            if not os.path.exists(dvf):
                missing.append(f"{rel} (deletion vector {dvf})")
    if missing:
        raise DeltaProtocolError(
            f"restore to v{version} needs files a vacuum removed: "
            f"{missing[:5]}{'...' if len(missing) > 5 else ''}"
        )
    # Change Data Feed: a RESTORE's row-level truth is the NET diff
    # between head and target — files moving in/out double-report rows
    # present in both, so reconstruction from add/remove is wrong for
    # this op. CDF tables get exact pre-computed change rows instead
    # (delta-spark's RESTORE does the same): multiset except in both
    # directions, written as _change_data + cdc actions.
    actions: list[dict] = []
    if conf.get("delta.enableChangeDataFeed") == "true":
        schema = StructType.fromJson(
            json.loads(snap_now.meta["schemaString"]))
        cols = [f.name for f in schema.fields]
        head_df = read_delta(spark, path).select(*cols)
        tgt_df = read_delta(spark, path, version).select(*cols)
        cdc_df = (
            head_df.exceptAll(tgt_df)
            .withColumn("_change_type", F.lit("delete"))
            .unionByName(
                tgt_df.exceptAll(head_df)
                .withColumn("_change_type", F.lit("insert")))
        )
        if cdc_df.take(1):
            actions += _write_change_data(spark, path, latest + 1, cdc_df,
                                          snap_now.meta)

    now_ms = int(_time.time() * 1000)
    for rel in sorted(set(now_adds) - set(tgt_adds)):
        actions.append({"remove": {"path": rel, "dataChange": True,
                                   "deletionTimestamp": now_ms}})
    for rel in sorted(tgt_adds):
        a = tgt_adds[rel]
        if now_adds.get(rel) != a:  # absent at head, or DV differs
            actions.append({"add": {**a, "dataChange": True}})
    return _commit_delta(path, latest + 1, "RESTORE",
                         {"version": str(version)}, actions, now_ms)
