"""Iceberg changelog scan: row-level changes per committed snapshot.

``read_iceberg_changes`` walks the main ancestry between two snapshots
and emits each commit's row-level delta — the Delta bridge's
``read_delta_changes`` twin, built from Iceberg's own commit anatomy
(spec: a snapshot's changes are the manifests whose
``added_snapshot_id`` is the snapshot, entries with status ADDED):

- added DATA files are that commit's ``insert`` rows; rows a
  SAME-snapshot position-delete file already covers ("deleted at
  birth" — valid Iceberg, same sequence number) are excluded, since
  they were never visible in any snapshot;
- REMOVED data files (status DELETED in the commit's manifests — a
  foreign engine's copy-on-write DELETE/UPDATE) emit their
  live-at-parent rows as ``delete``s, with the parent's delete files
  applied so already-masked rows do not resurrect (gross emission:
  removed-file rows as deletes + added-file rows as inserts,
  iceberg-spark's changelog shape for COW commits);
- added POSITION-delete files resolve back to concrete rows by joining
  (file path, position) against the PARENT snapshot's read — exactly
  the rows the commit deleted;
- added equality-delete files resolve by a null-safe semi-join of the
  parent's live rows on the equality columns (the Flink-CDC upsert's
  delete half). GLOBAL deletes (empty partition tuple) match the whole
  parent; partition-SCOPED deletes match only parent rows in the
  delete file's own partition tuple — the same scoping
  ``iceberg_import._apply_deletes`` applies on the read path. (No
  sequence-number reasoning is needed here: every parent row's data
  sequence predates the delete commit's by construction.)
- ``replace`` snapshots (compaction) change no logical rows and are
  skipped — and consume no changelog ordinal, so ``_change_ordinal``
  stays consecutive over emitted commits like iceberg-spark's.

iceberg-spark's ``create_changelog_view`` refuses merge-on-read delete
files outright; this reader resolves them, so MoR DML history is served
as rows.

Output: the requested (default current) schema plus ``_change_type`` /
``_change_ordinal`` (0-based position among the range's EMITTING
commits) / ``_commit_snapshot_id`` — iceberg-spark's changelog column
names — plus ``_commit_timestamp`` (the snapshot's timestamp-ms; Delta
CDF carries the same column), so the batch reader and the streaming
changelog emit the IDENTICAL column set and a windowed batch drain is
column-for-column comparable with a stream drain over the same range.

Scale shape: per-commit additions decode from exactly the manifests the
commit added; delete resolution is one provenance-joined scan of the
parent's live set per delete commit, with the delete side read
distributed and its join strategy GATED on the manifests' summed
``record_count`` (broadcast under ``_DELETE_BROADCAST_MAX_ROWS``,
shuffle-hash above — the same zero-job gate as the import path, so a
100M-row delete commit never ships its delete set to every executor).
The plan grows one scan piece per emitting commit, so ranges are capped
at ``_CHANGELOG_MAX_COMMITS`` commits with a loud remedy — walk the
history in bounded windows — instead of planning thousands of scans.
The driver holds manifests and file lists only.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .iceberg_import import (
    _DELETE_BROADCAST_MAX_ROWS,
    IcebergProtocolError,
    _assemble_read,
    _decode_manifest,
    _from_uri,
    _live_entry_tuples,
    _manifest_paths,
    _norm_path,
    _schema_for,
    _spark_type,
    _split_manifests,
    read_metadata,
)

__all__ = ["read_iceberg_changes"]

# one plan piece per emitting commit: past this, refuse with the remedy
# (bounded windows) instead of building a plan that grows without bound
_CHANGELOG_MAX_COMMITS = 256


def _ancestry(meta: dict, from_id: int | None,
              to_id: int | None) -> list[dict]:
    """Snapshots on main's parent chain in (from, to], oldest first."""
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    cur = to_id if to_id is not None else meta.get("current-snapshot-id")
    if cur in (None, -1):
        return []
    chain: list[dict] = []
    while cur is not None:
        if cur == from_id:
            return list(reversed(chain))
        s = snaps.get(cur)
        if s is None:
            raise IcebergProtocolError(
                f"snapshot {cur} on the ancestry chain is expired: the "
                "changelog below it is gone")
        chain.append(s)
        cur = s.get("parent-snapshot-id")
    if from_id is not None:
        raise ValueError(
            f"from_snapshot_id {from_id} is not an ancestor of the "
            "range's end snapshot")
    return list(reversed(chain))


def _added_entries(meta: dict, snap: dict) -> tuple[list, list, list]:
    """(added data entries, REMOVED data entries, added delete entries)
    for this snapshot — from manifests whose added_snapshot_id is the
    snapshot: status ADDED (1) for the additions, status DELETED (2) in
    DATA manifests for copy-on-write removals (a foreign engine's COW
    DELETE/UPDATE marks the rewritten files deleted). Removed DELETE
    files change no logical rows and are ignored.

    Entries are counted only when the ENTRY's own snapshot_id is this
    snapshot (null inherits the manifest's added_snapshot_id, which the
    outer filter already pins): when a foreign writer merges manifests
    (``commit.manifest.merge.enabled``, Iceberg's default), unexpired
    ADDED/DELETED entries from OLDER snapshots ride into a manifest
    added by a later snapshot and must not re-emit as that commit's
    changes — iceberg-spark's changelog applies the same entry filter.

    Each returned tuple is the decode tuple plus a trailing element:
    the manifest's ``partition_spec_id`` (scoped equality deletes must
    refuse on a spec mismatch instead of silently missing rows)."""
    sid = snap["snapshot-id"]
    data, removed, dele = [], [], []
    for m in _manifest_paths(meta, snap):
        if m.get("added_snapshot_id") != sid:
            continue
        pair = (m["manifest_path"],
                int(m.get("sequence_number", 0) or 0))
        is_del = m.get("content", 0) == 1
        spec_id = int(m.get("partition_spec_id", 0) or 0)
        for t in _decode_manifest(pair):
            if t[10] is not None and t[10] != sid:
                continue  # merged-manifest carry-over from an older commit
            if t[0] == 1:
                (dele if is_del else data).append(t + (spec_id,))
            elif t[0] == 2 and not is_del:
                removed.append(t + (spec_id,))
    return data, removed, dele


def _stamp(df: DataFrame, names: list[str], change: str | None,
           ordinal: int, snap_id: int, ts_ms: int) -> DataFrame:
    ct = (F.lit(change) if change is not None
          else F.col("_change_type"))
    return df.select(
        *[F.col(f"`{n}`") for n in names],
        ct.alias("_change_type"),
        F.lit(ordinal).cast("int").alias("_change_ordinal"),
        F.lit(snap_id).cast("long").alias("_commit_snapshot_id"),
        F.timestamp_millis(F.lit(ts_ms)).alias("_commit_timestamp"),
    )


def _scoped_spec_guard(label: str, sid: int, scoped_spec_ids: set,
                       parent_spec_ids: set) -> None:
    """Refuse when partition-SCOPED equality deletes were written under
    a different partition spec than the parent's data manifests:
    partition tuples from different specs do not compare, so a silent
    tuple-equality match would drop delete rows. Shared by the batch
    changelog and the streaming source."""
    bad = sorted(scoped_spec_ids - parent_spec_ids
                 if parent_spec_ids else set())
    if bad or len(parent_spec_ids) > 1:
        raise IcebergProtocolError(
            f"{label}: snapshot {sid}: partition-scoped equality "
            f"deletes under spec id(s) {sorted(scoped_spec_ids)} cannot "
            f"be matched against parent data manifests under spec "
            f"id(s) {sorted(parent_spec_ids)} — partition tuples from "
            "different specs do not compare; compact the table to one "
            "spec first")


def _gated(ddf: DataFrame, n_rows: int) -> DataFrame:
    """Join-strategy gate for a delete set, sized for free from the
    manifests' ``record_count`` sums: broadcast under the cap (no
    shuffle of the parent scan), shuffle-hash above it (slower, but it
    cannot OOM every executor) — `iceberg_import._apply_deletes`'
    exact pattern."""
    if n_rows <= _DELETE_BROADCAST_MAX_ROWS:
        return F.broadcast(ddf)
    return ddf.hint("shuffle_hash")


def _pos_delete_df(spark: SparkSession, pos: list[tuple]) -> DataFrame:
    """The (normalized source path, position) pairs of a commit's added
    position-delete files, read distributed."""
    return (
        spark.read.schema("file_path string, pos bigint")
        .parquet(*sorted(_from_uri(t[1]) for t in pos))
        .select(
            F.regexp_replace(
                F.col("file_path"), r"^[A-Za-z0-9+.-]+:/+", "/"
            ).alias("__del_src"),
            F.col("pos").alias("__del_pos"),
        )
    )


def read_iceberg_changes(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
    from_timestamp_ms: int | None = None,
    to_timestamp_ms: int | None = None,
) -> DataFrame:
    """Row-level changes committed by each snapshot in
    ``(from_snapshot_id, to_snapshot_id]`` along main's ancestry
    (defaults: from the first snapshot, to the current one).

    Bounds may also be COMMIT TIMESTAMPS (epoch ms), one or the other
    per side — iceberg-spark's CREATE_CHANGELOG_VIEW start/end-timestamp
    options: ``from_timestamp_ms`` serves changes committed strictly
    AFTER it (the newest ancestor at or before the timestamp becomes
    the exclusive start), ``to_timestamp_ms`` through the newest
    ancestor at or before it (error when it predates the first
    snapshot)."""
    meta = read_metadata(path)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if from_snapshot_id is not None and from_timestamp_ms is not None:
        raise ValueError(
            "give from_snapshot_id OR from_timestamp_ms, not both")
    if to_snapshot_id is not None and to_timestamp_ms is not None:
        raise ValueError(
            "give to_snapshot_id OR to_timestamp_ms, not both")
    if from_timestamp_ms is not None or to_timestamp_ms is not None:
        full = _ancestry(meta, None, to_snapshot_id)
        if to_timestamp_ms is not None:
            at_or_before = [s for s in full
                            if s.get("timestamp-ms", 0)
                            <= int(to_timestamp_ms)]
            if not at_or_before:
                first = full[0].get("timestamp-ms") if full else None
                raise ValueError(
                    f"to_timestamp_ms {to_timestamp_ms} predates the "
                    f"first snapshot ({first})")
            to_snapshot_id = at_or_before[-1]["snapshot-id"]
        if from_timestamp_ms is not None:
            at_or_before = [s for s in full
                            if s.get("timestamp-ms", 0)
                            <= int(from_timestamp_ms)]
            if at_or_before:
                from_snapshot_id = at_or_before[-1]["snapshot-id"]
            # else: before the first snapshot — serve from the beginning
    chain = _ancestry(meta, from_snapshot_id, to_snapshot_id)

    emitting = [s for s in chain
                if (s.get("summary") or {}).get("operation") != "replace"]
    if len(emitting) > _CHANGELOG_MAX_COMMITS:
        raise IcebergProtocolError(
            f"changelog range spans {len(emitting)} emitting commits "
            f"(cap {_CHANGELOG_MAX_COMMITS}): the plan grows one scan "
            "per commit. Walk the history in bounded windows instead — "
            "repeated read_iceberg_changes calls with narrower "
            "from/to_snapshot_id ranges.")

    fields = _schema_for(
        meta, chain[-1] if chain else {})["fields"]
    names = [f["name"] for f in fields]
    id_of = {f["id"]: f for f in fields}

    pieces: list[DataFrame] = []
    ordinal = 0  # consecutive over EMITTING commits (replace/no-op skip)
    for snap in chain:
        sid = snap["snapshot-id"]
        tms = int(snap.get("timestamp-ms", 0) or 0)
        op = (snap.get("summary") or {}).get("operation")
        if op == "replace":
            continue  # compaction: no logical rows changed, no ordinal
        data_added, data_removed, del_added = _added_entries(meta, snap)

        pos = [t for t in del_added if t[4] == 1]
        eqs = [t for t in del_added if t[4] == 2]
        other = [t for t in del_added if t[4] not in (1, 2)]
        if other:
            raise IcebergProtocolError(
                f"delete entry with content={other[0][4]}: unknown "
                "delete kind")

        emitted = False
        if data_added:
            ins = _assemble_read(spark, meta, fields, data_added, [],
                                 keep_meta=bool(pos))
            if pos:
                # "deleted at birth": a same-snapshot position delete may
                # reference a data file this very commit added (same
                # sequence number — valid Iceberg); those rows were never
                # visible in any snapshot, so they are neither inserts
                # nor deletes
                ins = ins.join(
                    _gated(_pos_delete_df(spark, pos),
                           sum(t[3] for t in pos)),
                    (F.col("__ice_src") == F.col("__del_src"))
                    & (F.col("__ice_pos") == F.col("__del_pos")),
                    "left_anti",
                )
            pieces.append(_stamp(ins, names, "insert", ordinal, sid, tms))
            emitted = True

        parent_id = snap.get("parent-snapshot-id")
        parent = snaps.get(parent_id)
        if (del_added or data_removed) and parent is None \
                and parent_id is not None:
            raise IcebergProtocolError(
                f"snapshot {sid} deletes rows but its parent "
                f"{parent_id} is expired: the deleted rows cannot "
                "be reconstructed")
        if data_removed and parent is not None:
            # copy-on-write removal (a foreign engine's COW
            # DELETE/UPDATE): every LIVE-at-parent row of the removed
            # files is a delete — the parent's delete files still apply,
            # so rows they had already masked are not resurrected.
            # Gross emission (full removed-file rows as deletes, full
            # added-file rows as inserts), iceberg-spark's changelog
            # shape for COW commits.
            _, prm = _split_manifests(meta, parent)
            rem = _assemble_read(spark, meta, fields, list(data_removed),
                                 _live_entry_tuples(spark, prm))
            pieces.append(_stamp(rem, names, "delete", ordinal, sid, tms))
            emitted = True
        if del_added and parent is not None:
            data_mans, del_mans = _split_manifests(meta, parent)
            parent_entries = _live_entry_tuples(spark, data_mans)
            parent_read = _assemble_read(
                spark, meta, fields,
                parent_entries,
                _live_entry_tuples(spark, del_mans),
                keep_meta=True,
            )
            scoped = [t for t in eqs
                      if (json.loads(t[5]) if t[5] else {})]
            if scoped:
                _scoped_spec_guard(
                    # t[-1]: the spec id appended to each entry above
                    path, sid, {t[-1] for t in scoped},
                    {int(m.get("partition_spec_id", 0) or 0)
                     for m in _manifest_paths(meta, parent)
                     if m.get("content", 0) == 0})
                # partition-SCOPED equality deletes match only parent
                # rows in the delete file's own partition tuple; tag each
                # parent row with its file's tuple via a broadcast
                # (file-level, bounded by the live-file cap) — the same
                # per-(ids, partition) scoping _apply_deletes uses
                part_df = spark.createDataFrame(
                    [(_norm_path(t[1]), t[5]) for t in parent_entries],
                    "__ice_src string, __ice_part string")
                parent_read = parent_read.join(
                    F.broadcast(part_df), "__ice_src", "left")
            if pos:
                hit = parent_read.join(
                    _gated(_pos_delete_df(spark, pos),
                           sum(t[3] for t in pos)),
                    (F.col("__ice_src") == F.col("__del_src"))
                    & (F.col("__ice_pos") == F.col("__del_pos")),
                )
                pieces.append(
                    _stamp(hit, names, "delete", ordinal, sid, tms))
                emitted = True
            if eqs:
                # group delete files sharing (equality ids, partition):
                # each group is one read + one null-safe semi-join
                groups: dict[tuple, list[str]] = {}
                group_rows: dict[tuple, int] = {}
                for t in eqs:
                    key = (t[9], t[5] or "{}")
                    groups.setdefault(key, []).append(_from_uri(t[1]))
                    group_rows[key] = group_rows.get(key, 0) + t[3]
                eq_hits: list[DataFrame] = []
                for (eq_json, part_json), files in sorted(groups.items()):
                    eq_ids = json.loads(eq_json)
                    missing = [i for i in eq_ids if i not in id_of]
                    if missing:
                        raise IcebergProtocolError(
                            f"equality delete references field ids "
                            f"{missing} not in the snapshot schema")
                    cols = [id_of[i]["name"] for i in eq_ids]
                    edf = (
                        spark.read.schema(", ".join(
                            f"`{id_of[i]['name']}` "
                            f"{_spark_type(id_of[i]['type']).simpleString()}"
                            for i in eq_ids))
                        .parquet(*sorted(files)).distinct()
                    )
                    cond = None
                    for c in cols:
                        term = F.col(f"l.`{c}`").eqNullSafe(
                            F.col(f"r.`{c}`"))
                        cond = term if cond is None else cond & term
                    left = parent_read
                    if part_json != "{}":
                        left = left.filter(
                            F.col("__ice_part") == F.lit(part_json))
                    eq_hits.append(left.alias("l").join(
                        _gated(edf.alias("r"),
                               group_rows[(eq_json, part_json)]),
                        cond, "left_semi"))
                if eq_hits:
                    hit = eq_hits[0]
                    if len(eq_hits) > 1:
                        # a parent ROW matched by several delete groups
                        # (distinct equality_ids sets in one commit)
                        # died once: dedupe on row identity (file, pos)
                        # — the streaming changelog's hit|= semantics,
                        # so batch and stream stay exact twins on
                        # multi-group commits (ADVICE r12). Single-group
                        # commits (the common shape) skip the shuffle.
                        for h in eq_hits[1:]:
                            hit = hit.unionByName(h)
                        hit = hit.dropDuplicates(["__ice_src",
                                                  "__ice_pos"])
                    pieces.append(
                        _stamp(hit, names, "delete", ordinal, sid, tms))
                    emitted = True
        if emitted:
            ordinal += 1

    if not pieces:
        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StringType,
            StructField,
            StructType,
            TimestampType,
        )

        return spark.createDataFrame([], StructType(
            [StructField(f["name"], _spark_type(f["type"]), True)
             for f in fields]
            + [StructField("_change_type", StringType(), True),
               StructField("_change_ordinal", IntegerType(), True),
               StructField("_commit_snapshot_id", LongType(), True),
               StructField("_commit_timestamp", TimestampType(), True)]
        ))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out
