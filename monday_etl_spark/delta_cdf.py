"""Delta Change Data Feed: a ``table_changes``-style reader over the
bridge's tables.

Semantics follow the public Delta PROTOCOL.md (§Add CDC File) and the
documented delta-spark CDF behavior:

- a commit that carries ``cdc`` actions is served EXCLUSIVELY from its
  change-data files (the ``_change_type`` column travels in the data);
- a commit without ``cdc`` actions reconstructs: data-changing ``add``
  actions are blind inserts (every row of the file is an ``insert``),
  and data-changing ``remove`` actions whose path is not re-added in
  the same commit are whole-file deletes (every LIVE row of the file —
  its prior deletion vector applied — is a ``delete``);
- a commit that both removes and re-adds the same path (a
  deletion-vector update) without change-data files cannot be
  reconstructed — the row-level diff lives only in the vector delta —
  and refuses loudly instead of inventing rows.

The reference's day-over-day snapshot diff
(``monday_etl_automated.py:600-645``, SURVEY.md O-39) is exactly the
consumer shape this serves: per-version change rows with
``_change_type`` / ``_commit_version`` / ``_commit_timestamp``, ready
for the same aggregation the reference runs over its two snapshots.

Scale shape: change-data and reconstruction scans are built by
``delta_import._scan``, the one scan every Delta read uses (change-data
files add ``_change_type`` to its file schema), so column mapping,
partition literals and the deletion-vector anti-join for removed files
are the snapshot reader's own; the driver only parses commit JSON
(bounded per version, never row data).
"""

from __future__ import annotations

import json
import os
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField

from .delta_import import (
    DeltaProtocolError,
    _checkpoint_at_or_below,
    _list_commits,
    _scan,
    _snapshot_state,
    commit_timestamps,
)

__all__ = ["read_delta_changes"]

# one plan piece (or more) per commit: past this, refuse with the remedy
# (bounded windows) instead of building a plan that grows without bound
_CDF_MAX_COMMITS = 256


def _check_cdf_enabled_over(spark, path: str, commits: dict[int, str],
                            start_v: int, end_v: int) -> None:
    """Refuse unless ``delta.enableChangeDataFeed`` was "true" at EVERY
    commit in ``[start_v, end_v]``. Commits written while CDF was off
    carry no change-data files, so serving them via add/remove
    reconstruction would over-report rewrites (a pre-enablement
    copy-on-write commit reads as delete+insert of every surviving row)
    — delta-spark refuses such ranges.

    Cost is O(range), NOT O(retained history): the enablement state is
    SEEDED from the snapshot just below ``start_v`` (``_snapshot_state``
    replays from the nearest checkpoint, the same bounded resolution
    every read pays) and only the commits INSIDE ``[start_v, end_v]``
    are opened to track ``metaData`` transitions — a 2-commit range at
    the head of a 100k-commit log no longer walks the whole log."""
    versions = [v for v in sorted(commits) if start_v <= v <= end_v]
    floor = None
    if start_v <= 0:
        enabled = False  # a new table starts with no configuration
    else:
        seed_v = start_v - 1
        if seed_v in commits or _checkpoint_at_or_below(
                path, seed_v) is not None:
            base = _snapshot_state(spark, path, seed_v).meta
            conf = base.get("configuration") or {}
            enabled = conf.get("delta.enableChangeDataFeed") == "true"
        elif versions:
            # seed version is vacuumed below the retained log AND below
            # any checkpoint: the earliest retained version's snapshot
            # is the best-known base state (the pre-r12 behavior)
            base = _snapshot_state(spark, path, versions[0]).meta
            conf = base.get("configuration") or {}
            enabled = conf.get("delta.enableChangeDataFeed") == "true"
        else:
            return
    for v in versions:
        with open(commits[v]) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "metaData" in a:
                    conf = a["metaData"].get("configuration") or {}
                    now = conf.get("delta.enableChangeDataFeed") == "true"
                    if now and not enabled:
                        floor = v
                    enabled = now
        if not enabled:
            raise DeltaProtocolError(
                f"change feed is off at version {v} (enabled "
                f"{'at version ' + str(floor) if floor is not None else 'at no version in the range'}): "
                f"commits written while CDF is disabled carry no "
                "change-data files, so the range "
                f"[{start_v}, {end_v}] cannot be served faithfully.")
    if floor is not None and start_v < floor:
        raise DeltaProtocolError(
            f"change feed was (re-)enabled at version {floor}: commits "
            f"before it carry no change-data files, so the range "
            f"[{start_v}, {end_v}] cannot be served faithfully. Start "
            "at or above the enablement version.")


def read_delta_changes(
    spark: SparkSession,
    path: str,
    starting_version: int | None = None,
    ending_version: int | None = None,
    starting_timestamp: int | None = None,
    ending_timestamp: int | None = None,
) -> DataFrame:
    """Row-level changes committed in ``[starting_version,
    ending_version]`` (default: through the latest version), as the
    table schema plus ``_change_type`` / ``_commit_version`` /
    ``_commit_timestamp`` — the delta-spark ``table_changes`` surface.

    Bounds address by version or by commit timestamp (epoch ms), one or
    the other per side like delta-spark's startingVersion /
    startingTimestamp: a starting timestamp resolves to the EARLIEST
    commit at or after it (error past the latest commit), an ending
    timestamp to the LATEST commit at or before it (error before the
    first commit) — both against the monotone ``commit_timestamps``
    clock, so the cut is well-defined even when raw commit times
    interleave.

    Refuses loudly when the feed cannot be served faithfully: CDF not
    enabled on the table, commits from before CDF was (last) enabled —
    their change-data files were never written, so add/remove
    reconstruction would over-report pre-enablement rewrites — a commit
    JSON already cleaned from the log, a change-data file already
    vacuumed, or a DV-update commit without change-data files.
    Column-mapped tables (modes ``name`` and ``id``) are served with
    data columns and partitionValues resolved by physical name / field
    id exactly as ``read_delta`` resolves them."""
    path = os.path.abspath(path)
    snap = _snapshot_state(spark, path, None)
    meta = snap.meta
    conf = meta.get("configuration") or {}
    if conf.get("delta.enableChangeDataFeed") != "true":
        raise DeltaProtocolError(
            "delta.enableChangeDataFeed is not set on this table: "
            "change-data files were never written, so a change feed "
            "would silently misreport history. Enable CDF via the "
            "table's native engine first."
        )
    commits = _list_commits(path)
    # timestamp ADDRESSING resolves a cut of the whole monotone clock,
    # so it (and only it) walks the retained tail — once per drain.
    # Version-addressed windows never touch commits outside the range:
    # stamping timestamps is O(range) via the bounded commit_timestamps
    # below, so a windowed backlog drain pays no per-window full-log
    # walk (SCALE.md drain-loop finding, r12).
    ts_full: dict[int, int] | None = None
    if starting_timestamp is not None or ending_timestamp is not None:
        ts_full = commit_timestamps(path)
    if starting_version is not None and starting_timestamp is not None:
        raise ValueError(
            "give starting_version OR starting_timestamp, not both")
    if ending_version is not None and ending_timestamp is not None:
        raise ValueError(
            "give ending_version OR ending_timestamp, not both")
    if starting_timestamp is not None:
        # version_at_or_after semantics, reusing the one walk above
        at_or_after = [v for v, t in ts_full.items()
                       if t >= int(starting_timestamp)]
        if not at_or_after:
            latest = max(ts_full.values()) if ts_full else None
            raise ValueError(
                f"{path}: {int(starting_timestamp)} is after the latest "
                f"commit time ({latest})")
        starting_version = min(at_or_after)
    if starting_version is None:
        raise ValueError(
            "give starting_version or starting_timestamp")
    if ending_timestamp is not None:
        at_or_before = [v for v, t in ts_full.items()
                        if t <= int(ending_timestamp)]
        if not at_or_before:
            earliest = min(ts_full.values()) if ts_full else None
            raise ValueError(
                f"{path}: ending_timestamp {ending_timestamp} is before "
                f"the first commit time ({earliest})")
        ending_version = max(at_or_before)
    if ending_version is None:
        ending_version = snap.version
    if not 0 <= starting_version <= ending_version <= snap.version:
        raise ValueError(
            f"bad version range [{starting_version}, {ending_version}] "
            f"(table is at {snap.version})")
    ts = (ts_full if ts_full is not None
          else commit_timestamps(path, starting_version, ending_version))
    if ending_version - starting_version + 1 > _CDF_MAX_COMMITS:
        raise DeltaProtocolError(
            f"change-feed range spans "
            f"{ending_version - starting_version + 1} commits (cap "
            f"{_CDF_MAX_COMMITS}): the plan grows at least one scan per "
            "commit. Walk the history in bounded windows instead — "
            "repeated read_delta_changes calls with narrower version "
            "ranges.")
    _check_cdf_enabled_over(spark, path, commits,
                            starting_version, ending_version)

    ct_field = [StructField("_change_type", StringType(), True)]

    pieces: list[DataFrame] = []
    for v in range(starting_version, ending_version + 1):
        f = commits.get(v)
        if f is None:
            raise DeltaProtocolError(
                f"version {v}: commit JSON no longer in the log "
                "(checkpoint-cleaned); its change feed is gone")
        with open(f) as fh:
            acts = [json.loads(line) for line in fh if line.strip()]
        cdc = [a["cdc"] for a in acts if "cdc" in a]
        adds = [a["add"] for a in acts
                if "add" in a and a["add"].get("dataChange")]
        removes = [a["remove"] for a in acts
                   if "remove" in a and a["remove"].get("dataChange")]

        if cdc:
            # a vacuumed change-data file would otherwise surface as a
            # raw parquet path-not-found deep in the scan: refuse loudly
            # naming the version instead (same contract as the
            # checkpoint-cleaned-commit refusal above)
            for c in cdc:
                rel = urllib.parse.unquote(c["path"])
                absf = rel if os.path.isabs(rel) \
                    else os.path.join(path, rel)
                if not os.path.exists(absf):
                    raise DeltaProtocolError(
                        f"version {v}: change-data file {c['path']!r} "
                        "has been vacuumed; this version's change feed "
                        "is gone")
            df = _scan(
                spark, path, meta,
                [(c["path"], c.get("partitionValues") or {}, None)
                 for c in cdc],
                extra_fields=ct_field,
            )
            pieces.append(_stamp(df, v, ts))
            continue

        add_paths = {a["path"] for a in adds}
        dv_updates = [r["path"] for r in removes if r["path"] in add_paths]
        if dv_updates or any(a.get("deletionVector") for a in adds):
            raise DeltaProtocolError(
                f"version {v} updates deletion vectors without "
                "change-data files: the row-level diff lives only in "
                "the vectors and cannot be reconstructed from "
                "add/remove actions")
        if adds:
            df = _scan(
                spark, path, meta,
                [(a["path"], a.get("partitionValues") or {}, None)
                 for a in adds],
            ).withColumn("_change_type", F.lit("insert"))
            pieces.append(_stamp(df, v, ts))
        removed = [r for r in removes if r["path"] not in add_paths]
        if removed:
            # whole-file deletes: the removed files' LIVE rows as of the
            # PREVIOUS version (their prior deletion vectors applied)
            prev = _snapshot_state(spark, path, v - 1) \
                .live.materialize(allow_dv=True)
            entries = []
            for r in removed:
                a = prev.get(r["path"])
                if a is None:
                    raise DeltaProtocolError(
                        f"version {v} removes {r['path']!r} which was "
                        f"not live at version {v - 1}")
                entries.append((r["path"],
                                a.get("partitionValues") or {},
                                a.get("deletionVector")))
            df = _scan(spark, path, meta, entries) \
                .withColumn("_change_type", F.lit("delete"))
            pieces.append(_stamp(df, v, ts))

    if not pieces:
        return (_scan(spark, path, meta, [], extra_fields=ct_field)
                .withColumn("_commit_version", F.lit(None).cast("long"))
                .withColumn("_commit_timestamp",
                            F.lit(None).cast("timestamp")))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _stamp(df: DataFrame, version: int, ts: dict[int, int]) -> DataFrame:
    return (df.withColumn("_commit_version", F.lit(version).cast("long"))
            .withColumn("_commit_timestamp",
                        F.timestamp_millis(F.lit(ts[version]))))
