"""Iceberg import: reading tables OTHER engines wrote, per the public
table spec — field-id footer resolution across renames, name-mapping and
migrated-Hive partition injection for id-less files, snapshot time
travel, manifest-bounds pruning, protocol refusals, and conditional-put
appends. External tables are hand-built (pyarrow-stamped footer ids,
spec-subset Avro manifests incl. deflate codec) exactly as
``test_delta_import`` hand-builds foreign Delta logs.
"""

from __future__ import annotations

import json
import os
import struct
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from monday_etl_spark.avro_ocf import write_ocf
from monday_etl_spark.iceberg_export import (
    _MANIFEST_ENTRY,
    _MANIFEST_FILE,
    export_iceberg,
)
from monday_etl_spark.iceberg_import import (
    IcebergProtocolError,
    append_iceberg,
    iceberg_files_where,
    iceberg_history,
    metadata_versions,
    read_iceberg_table,
    read_metadata,
)
from monday_etl_spark.tableformat import (
    ConcurrentCommitError,
    LogStore,
    set_log_store,
    write_versioned,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# shared external-table scaffolding (also used by test_iceberg_stream)
from tests._iceberg_builders import (  # noqa: E402
    entry as _entry,
    manifest as _manifest,
    manifest_list as _manifest_list,
    metadata as _metadata,
    write_data_file as _write_data_file,
)


# ------------------------------------------------------------------- tests


def test_reads_our_own_export(spark, tmp_path):
    """The import path reads the export bridge's output row-identically
    (no footer ids -> name-mapping resolution)."""
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(50)],
        "id bigint, name string, v double",
    )
    write_versioned(df, path, key="id", n_buckets=4, stats_cols=["id", "v"])
    export_iceberg(path)
    got = read_iceberg_table(spark, path)
    assert _rows(got) == _rows(df)


def test_external_rename_field_ids_and_time_travel(spark, tmp_path):
    """An id-stamped external table renamed mid-history: current reads
    surface BOTH files' values under the new name (by field id, not
    footer name); snapshot_id / as_of_ms time-travel to the old state.
    One manifest is deflate-coded (iceberg-java's default)."""
    path = str(tmp_path / "ext")
    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)

    f1 = _write_data_file(
        os.path.join(data_dir, "f1.parquet"),
        ["id", "qty"], [1, 2], [[1, 2, 3], [10, 20, 30]],
    )
    f2 = _write_data_file(
        os.path.join(data_dir, "f2.parquet"),
        ["id", "quantity"], [1, 2], [[4, 5], [40, 50]],
    )
    schema1 = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "qty", "required": False, "type": "long"},
    ]}
    schema2 = {"type": "struct", "schema-id": 1, "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "quantity", "required": False, "type": "long"},
    ]}
    m1 = _manifest(meta_dir, [_entry(f1, 3, 100)], schema1, codec="deflate")
    m2 = _manifest(meta_dir, [_entry(f2, 2, 200)], schema2)
    l1 = _manifest_list(meta_dir, 100, [m1], 3)
    l2 = _manifest_list(meta_dir, 200, [m1, m2], 5)
    snaps = [
        {"snapshot-id": 100, "sequence-number": 1, "timestamp-ms": 1000,
         "manifest-list": "file://" + l1, "schema-id": 0,
         "summary": {"operation": "append"}},
        {"snapshot-id": 200, "sequence-number": 2, "timestamp-ms": 2000,
         "manifest-list": "file://" + l2, "schema-id": 1,
         "summary": {"operation": "append"}},
    ]
    log = [{"snapshot-id": 100, "timestamp-ms": 1000},
           {"snapshot-id": 200, "timestamp-ms": 2000}]
    meta = _metadata(path, [schema1, schema2], snaps, log, current=200)
    # add a tag ref pointing at the first snapshot (rewrite in place)
    meta["refs"]["v1-release"] = {"snapshot-id": 100, "type": "tag"}
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)

    cur = read_iceberg_table(spark, path)
    assert cur.columns == ["id", "quantity"]
    assert _rows(cur) == [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50)]

    old = read_iceberg_table(spark, path, snapshot_id=100)
    assert old.columns == ["id", "qty"]
    assert _rows(old) == [(1, 10), (2, 20), (3, 30)]

    asof = read_iceberg_table(spark, path, as_of_ms=1500)
    assert _rows(asof) == _rows(old)
    tagged = read_iceberg_table(spark, path, ref="v1-release")
    assert _rows(tagged) == _rows(old)
    with pytest.raises(ValueError, match="not in table metadata"):
        read_iceberg_table(spark, path, ref="nope")
    hist = iceberg_history(path)
    assert [h["snapshot_id"] for h in hist] == [100, 200]


def test_migrated_hive_partition_injection(spark, tmp_path):
    """Files without footer ids that physically OMIT the identity
    partition column (Hive add_files migration): the manifest partition
    tuple injects the value as a typed constant."""
    path = str(tmp_path / "mig")
    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)
    # no field ids, and no 'region' column in the file
    t = pa.table({"v": pa.array([7, 8], pa.int64())})
    fa = os.path.join(data_dir, "a.parquet")
    fb = os.path.join(data_dir, "b.parquet")
    pq.write_table(t, fa)
    pq.write_table(pa.table({"v": pa.array([9], pa.int64())}), fb)

    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "region", "required": False, "type": "string"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
    ]}
    spec = [{"spec-id": 0, "fields": [
        {"name": "region", "transform": "identity",
         "source-id": 1, "field-id": 1000},
    ]}]
    m = _manifest(
        meta_dir,
        [_entry(fa, 2, 300, partition={"region": "EU"}),
         _entry(fb, 1, 300, partition={"region": "US"})],
        schema, partition={"region": "string"},
    )
    lst = _manifest_list(meta_dir, 300, [m], 3)
    snaps = [{"snapshot-id": 300, "sequence-number": 1,
              "timestamp-ms": 1000, "manifest-list": "file://" + lst,
              "schema-id": 0, "summary": {"operation": "append"}}]
    _metadata(path, [schema], snaps,
              [{"snapshot-id": 300, "timestamp-ms": 1000}],
              current=300, specs=spec,
              props={"schema.name-mapping.default": json.dumps([
                  {"field-id": 1, "names": ["region"]},
                  {"field-id": 2, "names": ["v"]},
              ])})
    got = read_iceberg_table(spark, path)
    assert _rows(got) == [("EU", 7), ("EU", 8), ("US", 9)]


def test_join_injection_exotic_identity_partition_type(spark, tmp_path,
                                                       monkeypatch):
    """An external table with a DOUBLE identity partition source and
    enough tuples to trip the path-join injection: double rides the
    carrier map (this used to KeyError), and a type outside the map
    falls back to the per-group scan instead of crashing — a large
    external table must not fail where a small one reads fine."""
    from monday_etl_spark import iceberg_import as ii

    path = str(tmp_path / "dblpart")
    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "w", "required": False, "type": "double"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
    ]}
    spec = [{"spec-id": 0, "fields": [
        {"name": "w", "transform": "identity",
         "source-id": 1, "field-id": 1000},
    ]}]
    n_groups = ii._INJECT_JOIN_MIN_GROUPS + 2
    entries, want = [], []
    for g in range(n_groups):
        f = os.path.join(data_dir, f"g{g}.parquet")
        # footer-id-less, and the partition column is physically omitted
        pq.write_table(pa.table({"v": pa.array([g, 1000 + g],
                                               pa.int64())}), f)
        w = g / 4.0
        entries.append(_entry(f, 2, 400, partition={"w": w}))
        want += [(w, g), (w, 1000 + g)]
    m = _manifest(meta_dir, entries, schema, partition={"w": "double"})
    lst = _manifest_list(meta_dir, 400, [m], 2 * n_groups)
    snaps = [{"snapshot-id": 400, "sequence-number": 1,
              "timestamp-ms": 1000, "manifest-list": "file://" + lst,
              "schema-id": 0, "summary": {"operation": "append"}}]
    _metadata(path, [schema], snaps,
              [{"snapshot-id": 400, "timestamp-ms": 1000}],
              current=400, specs=spec,
              props={"schema.name-mapping.default": json.dumps([
                  {"field-id": 1, "names": ["w"]},
                  {"field-id": 2, "names": ["v"]},
              ])})

    got = read_iceberg_table(spark, path)
    assert _rows(got) == sorted(want)

    # a carrier type OUTSIDE the map keeps the per-group constant form:
    # same rows, no KeyError
    monkeypatch.setattr(
        ii, "_INJECT_PHYS_ARROW",
        {k: t for k, t in ii._INJECT_PHYS_ARROW.items() if k != "double"})
    assert _rows(read_iceberg_table(spark, path)) == sorted(want)


def _merge_on_read_table(spark, tmp_path):
    """A v2 merge-on-read table the way Flink CDC writes one: a data file
    at seq 1 (one NULL id row included), a position-delete + an
    equality-delete file at seq 2, and a re-insert data file at seq 3
    whose key the equality delete must NOT touch (strict data_seq <
    delete_seq)."""
    import pyarrow as pa

    path = str(tmp_path / "mor")
    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
    ]}
    f1 = _write_data_file(
        os.path.join(data_dir, "f1.parquet"), ["id", "v"], [1, 2],
        [[1, 2, 3, 4, None], [10, 20, 30, 40, 50]],
    )
    f2 = _write_data_file(
        os.path.join(data_dir, "f2.parquet"), ["id", "v"], [1, 2],
        [[3], [333]],
    )
    # position delete: row 0 of f1 (id=1); file_path as manifests spell it
    pd1 = os.path.join(data_dir, "pd1.parquet")
    import pyarrow.parquet as _pq

    _pq.write_table(pa.table({
        "file_path": pa.array(["file://" + f1], pa.string()),
        "pos": pa.array([0], pa.int64()),
    }), pd1)
    # equality delete on field id 1: id=3 and id IS NULL
    ed1 = _write_data_file(
        os.path.join(data_dir, "ed1.parquet"), ["id"], [1], [[3, None]],
    )
    m_d1 = _manifest(meta_dir, [_entry(f1, 5, 100, seq=1)], schema)
    m_d2 = _manifest(meta_dir, [_entry(f2, 1, 300, seq=3)], schema)
    m_pd = _manifest(
        meta_dir, [_entry(pd1, 1, 200, seq=2, content=1)], schema)
    m_ed = _manifest(
        meta_dir,
        [_entry(ed1, 2, 200, seq=2, content=2, equality_ids=[1])],
        schema)
    from tests._iceberg_builders import manifest_list_mixed

    lst = manifest_list_mixed(
        meta_dir, 300,
        [(m_d1, 0, 1), (m_d2, 0, 3), (m_pd, 1, 2), (m_ed, 1, 2)],
    )
    snaps = [{"snapshot-id": 300, "sequence-number": 3,
              "timestamp-ms": 3000, "manifest-list": "file://" + lst,
              "schema-id": 0, "summary": {"operation": "overwrite"}}]
    _metadata(path, [schema], snaps,
              [{"snapshot-id": 300, "timestamp-ms": 3000}], current=300)
    return path


def test_merge_on_read_deletes_applied(spark, tmp_path):
    path = _merge_on_read_table(spark, tmp_path)
    got = read_iceberg_table(spark, path)
    assert got.columns == ["id", "v"]
    # f1: pos-delete kills (1,10); eq-delete kills id=3 and the NULL row
    # (NULLs match, data_seq 1 < delete_seq 2); f2's re-inserted id=3 at
    # data_seq 3 survives the seq-2 equality delete (strictly-less rule)
    assert _rows(got) == [(2, 20), (3, 333), (4, 40)]


def test_path_level_surfaces_refuse_live_deletes(spark, tmp_path):
    path = _merge_on_read_table(spark, tmp_path)
    with pytest.raises(IcebergProtocolError, match="DELETE manifest"):
        iceberg_files_where(spark, path, "id", 0, 100)


def test_v3_refused(spark, tmp_path):
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"}]}
    snaps = [{"snapshot-id": 400, "sequence-number": 1,
              "timestamp-ms": 1000, "manifest-list": "file:///nope",
              "schema-id": 0, "summary": {"operation": "append"}}]
    path3 = str(tmp_path / "v3")
    os.makedirs(os.path.join(path3, "metadata"))
    _metadata(path3, [schema], snaps,
              [{"snapshot-id": 400, "timestamp-ms": 1000}],
              current=400, fmt=3)
    with pytest.raises(IcebergProtocolError, match="format-version 3"):
        read_iceberg_table(spark, path3)


def test_pruning_from_manifest_bounds(spark, tmp_path):
    """Bounds in the manifest prune files before any scan — on our own
    export (bounds carried from tableformat stats) the keep-set shrinks
    and the pruned read stays row-identical to a filtered full read."""
    path = str(tmp_path / "prune")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(400)], "id bigint, v double"
    ).repartition(1)
    write_versioned(df, path, key="id", n_buckets=8, stats_cols=["id", "v"])
    export_iceberg(path)
    # range-clustered appended files get tight, disjoint footer bounds
    more = spark.createDataFrame(
        [(i, float(i)) for i in range(1000, 2000)], "id bigint, v double"
    ).repartitionByRange(4, "id")
    append_iceberg(spark, more, path)
    keep, total = iceberg_files_where(spark, path, "id", 1000, 1100)
    assert total >= 12 and 0 < len(keep) < 4
    got = spark.read.parquet(*keep).filter("id between 1000 and 1100")
    assert _rows(got) == _rows(more.filter("id between 1000 and 1100"))


def test_append_roundtrip_and_race(spark, tmp_path):
    path = str(tmp_path / "app")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(30)], "id bigint, v double")
    write_versioned(df, path, key="id", n_buckets=2, stats_cols=["id"])
    export_iceberg(path)

    more = spark.createDataFrame(
        [(i, float(i)) for i in range(100, 120)], "id bigint, v double")
    new_v = append_iceberg(spark, more, path)
    assert new_v == 2 and 2 in metadata_versions(path)
    got = read_iceberg_table(spark, path)
    assert _rows(got) == _rows(df.unionByName(more))
    # time travel still sees the pre-append snapshot
    first = iceberg_history(path)[0]["snapshot_id"]
    old = read_iceberg_table(spark, path, snapshot_id=first)
    assert _rows(old) == _rows(df)
    # appended files prune through their footer-derived bounds
    keep, total = iceberg_files_where(spark, path, "id", 100, 119)
    assert len(keep) < total
    # the name mapping covers the appended (id-less) files' columns
    meta = read_metadata(path)
    mapping = json.loads(
        meta["properties"]["schema.name-mapping.default"])
    assert {m["field-id"]: m["names"] for m in mapping}

    class _Loser(LogStore):
        def put_if_absent(self, final_path, payload):
            raise FileExistsError(final_path)

    prev = set_log_store(_Loser())
    try:
        with pytest.raises(ConcurrentCommitError):
            append_iceberg(spark, more, path)
    finally:
        set_log_store(prev)


def test_append_interleaved_writer_conflicts_not_clobbers(spark, tmp_path):
    """Lost-update regression: writer A reads vN, writer B commits v(N+1)
    while A is still writing parquet; A's publish must target exactly
    v(N+1) and raise ConcurrentCommitError — NOT recompute max+1 and
    silently publish v(N+2) built from vN (dropping B's snapshot)."""
    import shutil

    path = str(tmp_path / "race")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id bigint, v double")
    write_versioned(df, path, key="id", n_buckets=2, stats_cols=["id"])
    export_iceberg(path)
    cur_v = max(metadata_versions(path))

    meta_dir = os.path.join(path, "metadata")
    interloper = os.path.join(meta_dir, f"v{cur_v + 1}.metadata.json")

    class _Interleave(LogStore):
        """Plants the concurrent winner's metadata file at the instant the
        slow writer publishes — after it read cur_v, before its put."""

        def put_if_absent(self, final_path, payload):
            if not os.path.exists(interloper):
                shutil.copy(metadata_versions(path)[cur_v], interloper)
            super().put_if_absent(final_path, payload)

    more = spark.createDataFrame(
        [(i, float(i)) for i in range(50, 55)], "id bigint, v double")
    prev = set_log_store(_Interleave())
    try:
        with pytest.raises(ConcurrentCommitError):
            append_iceberg(spark, more, path)
    finally:
        set_log_store(prev)
    # the interloper's commit survives as the newest version — the slow
    # writer did NOT leapfrog it with a v(N+2) built from stale metadata
    assert max(metadata_versions(path)) == cur_v + 1


def test_partitioned_append_identity(spark, tmp_path):
    """Appending to an identity-partitioned external table routes files
    per partition tuple: values live in the manifest's typed partition
    record (not the data files — the constants rule readers re-derive
    by), and publish as point bounds so partition-column pruning works
    without opening the files."""
    path = str(tmp_path / "part")
    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "region", "required": False, "type": "string"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
    ]}
    spec = [{"spec-id": 0, "fields": [
        {"name": "region", "transform": "identity",
         "source-id": 1, "field-id": 1000},
    ]}]
    import pyarrow as pa
    import pyarrow.parquet as pq

    fa = os.path.join(data_dir, "a.parquet")
    pq.write_table(pa.table({"v": pa.array([1], pa.int64())}), fa)
    m = _manifest(meta_dir, [_entry(fa, 1, 100,
                                    partition={"region": "EU"})],
                  schema, partition={"region": "string"})
    lst = _manifest_list(meta_dir, 100, [m], 1)
    snaps = [{"snapshot-id": 100, "sequence-number": 1,
              "timestamp-ms": 1000, "manifest-list": "file://" + lst,
              "schema-id": 0, "summary": {"operation": "append"}}]
    _metadata(path, [schema], snaps,
              [{"snapshot-id": 100, "timestamp-ms": 1000}],
              current=100, specs=spec,
              props={"schema.name-mapping.default": json.dumps([
                  {"field-id": 1, "names": ["region"]},
                  {"field-id": 2, "names": ["v"]},
              ])})

    more = spark.createDataFrame(
        [("EU", 2), ("US", 3), ("AP", 4)], "region string, v long")
    append_iceberg(spark, more, path)
    got = read_iceberg_table(spark, path)
    assert _rows(got) == [("AP", 4), ("EU", 1), ("EU", 2), ("US", 3)]
    # pruning on the partition column via its point bounds: only the
    # appended US file survives (the pre-existing file has no bounds and
    # is conservatively kept)
    keep, total = iceberg_files_where(spark, path, "region", "US", "US")
    assert total == 4 and len(keep) == 2
    # data files must NOT physically contain the partition column
    appended = [k for k in keep if "append-" in k]
    assert appended and all(
        "region" not in pq.ParquetFile(k).schema_arrow.names
        for k in appended
    )


def test_delete_on_partitioned_table_registers_unpartitioned_spec(
        spark, tmp_path):
    """A global position-delete manifest carries EMPTY partition tuples;
    on an identity-partitioned table its manifest-list record must NOT
    claim spec 0 (whose tuples have fields) — external readers bind the
    tuple via specsById[partitionSpecId]. The delete commit registers an
    unpartitioned spec and references it."""
    from monday_etl_spark.avro_ocf import read_ocf
    from monday_etl_spark.iceberg_import import delete_iceberg_where

    path = str(tmp_path / "pdel")
    meta_dir = os.path.join(path, "metadata")
    os.makedirs(os.path.join(path, "data"))
    os.makedirs(meta_dir)
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "region", "required": False, "type": "string"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
    ]}
    spec = [{"spec-id": 0, "fields": [
        {"name": "region", "transform": "identity",
         "source-id": 1, "field-id": 1000},
    ]}]
    import pyarrow as pa
    import pyarrow.parquet as pq

    fa = os.path.join(path, "data", "a.parquet")
    pq.write_table(pa.table({"v": pa.array([1, 2, 3], pa.int64())}), fa)
    m = _manifest(meta_dir, [_entry(fa, 3, 100,
                                    partition={"region": "EU"})],
                  schema, partition={"region": "string"})
    lst = _manifest_list(meta_dir, 100, [m], 3)
    snaps = [{"snapshot-id": 100, "sequence-number": 1,
              "timestamp-ms": 1000, "manifest-list": "file://" + lst,
              "schema-id": 0, "summary": {"operation": "append"}}]
    _metadata(path, [schema], snaps,
              [{"snapshot-id": 100, "timestamp-ms": 1000}],
              current=100, specs=spec,
              props={"schema.name-mapping.default": json.dumps([
                  {"field-id": 1, "names": ["region"]},
                  {"field-id": 2, "names": ["v"]},
              ])})

    new_v = delete_iceberg_where(spark, path, "v", 2, 2)
    got = read_iceberg_table(spark, path)
    assert _rows(got) == [("EU", 1), ("EU", 3)]

    meta = read_metadata(path, new_v)
    unpart = [s for s in meta["partition-specs"] if not s.get("fields")]
    assert unpart, "delete commit must register an unpartitioned spec"
    unpart_id = unpart[0]["spec-id"]
    assert unpart_id != 0  # spec 0 is the identity spec here
    # the delete manifest-list record references the unpartitioned spec
    snap = next(s for s in meta["snapshots"]
                if s["summary"].get("operation") == "delete")
    mlist = snap["manifest-list"].replace("file://", "")
    _, _, recs = read_ocf(mlist)
    del_recs = [r for r in recs if r.get("content") == 1]
    assert del_recs and all(
        r["partition_spec_id"] == unpart_id for r in del_recs)
    data_recs = [r for r in recs if r.get("content") == 0]
    assert data_recs and all(
        r["partition_spec_id"] == 0 for r in data_recs)


def test_read_where_prunes_and_applies_deletes(spark, tmp_path):
    """read_iceberg_where routes pruned entries through the same
    resolution + delete application as the full read: bounds skip files,
    the surviving rows still lose their deleted positions/keys, and the
    residual predicate applies."""
    from monday_etl_spark.iceberg_import import read_iceberg_where

    path = _merge_on_read_table(spark, tmp_path)
    # full-range where == full read (deletes applied in both)
    got = read_iceberg_where(spark, path, "id", 0, 100)
    assert _rows(got) == [(2, 20), (3, 333), (4, 40)]
    # narrow range: residual filter on top of the delete-applied rows
    got2 = read_iceberg_where(spark, path, "id", 3, 3)
    assert _rows(got2) == [(3, 333)]


def test_read_where_skips_files_by_bounds(spark, tmp_path):
    from monday_etl_spark.iceberg_import import read_iceberg_where

    path = str(tmp_path / "app2")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id bigint, v double")
    write_versioned(df, path, key="id", n_buckets=2, stats_cols=["id"])
    export_iceberg(path)
    more = spark.createDataFrame(
        [(i, float(i)) for i in range(1000, 1400)], "id bigint, v double"
    ).repartitionByRange(4, "id")
    append_iceberg(spark, more, path)
    got = read_iceberg_where(spark, path, "id", 1000, 1050)
    assert _rows(got) == _rows(more.filter("id between 1000 and 1050"))
    # the plan's input files must exclude the bounds-pruned appended files
    keep, total = iceberg_files_where(spark, path, "id", 1000, 1050)
    assert len(keep) < total
    from monday_etl_spark.iceberg_import import _norm_path

    assert sorted(_norm_path(f) for f in got.inputFiles()) == keep


def test_delete_where_and_compact_lifecycle(spark, tmp_path):
    """The full merge-on-read write lifecycle on our own commits:
    DELETE WHERE writes position-delete files (no data rewrite), reads
    apply them, time travel still sees the pre-delete rows, COMPACT
    rewrites the live rows into fresh files (row-identical), and the
    delete-file overhead disappears from the compacted snapshot."""
    from monday_etl_spark.iceberg_import import (
        compact_iceberg,
        delete_iceberg_where,
        expire_iceberg_snapshots,
        iceberg_history,
    )

    path = str(tmp_path / "dml")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id bigint, v double")
    write_versioned(df, path, key="id", n_buckets=4, stats_cols=["id"])
    export_iceberg(path)
    append_iceberg(spark, spark.createDataFrame(
        [(i, float(i)) for i in range(100, 120)], "id bigint, v double"),
        path)

    pre = iceberg_history(path)[-1]["snapshot_id"]
    v = delete_iceberg_where(spark, path, "id", 10, 29)
    assert v == 3
    got = read_iceberg_table(spark, path)
    want = df.filter("id < 10 or id >= 30").unionByName(
        spark.createDataFrame([(i, float(i)) for i in range(100, 120)],
                              "id bigint, v double"))
    assert _rows(got) == _rows(want)
    # time travel: the pre-delete snapshot still sees all 120 rows
    assert read_iceberg_table(spark, path, snapshot_id=pre).count() == 120
    # delete nothing: no commit
    assert delete_iceberg_where(spark, path, "id", 5000, 6000) == 3
    # second delete stacks on the first
    delete_iceberg_where(spark, path, "id", 100, 104)
    assert read_iceberg_table(spark, path).count() == 95

    v2 = compact_iceberg(spark, path)
    after = read_iceberg_table(spark, path)
    assert _rows(after) == _rows(read_iceberg_table(
        spark, path, snapshot_id=iceberg_history(path)[-2]["snapshot_id"]))
    assert after.count() == 95
    # the compacted snapshot carries no delete manifests: pruning works
    keep, total = iceberg_files_where(spark, path, "id", 0, 9)
    assert 0 < len(keep) <= total
    # expire everything but the compacted head; reads stay identical
    expire_iceberg_snapshots(path, keep_last=1)
    assert read_iceberg_table(spark, path).count() == 95
    assert len(iceberg_history(path)) == 1


def test_v1_table_reads(spark, tmp_path):
    """A format-version 1 table (single 'schema' key, snapshot with an
    inline 'manifests' list instead of a manifest list file, no sequence
    numbers) reads through the v1 fallbacks."""
    path = str(tmp_path / "v1tbl")
    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)
    f1 = _write_data_file(os.path.join(data_dir, "f1.parquet"),
                          ["id", "v"], [1, 2], [[1, 2], [10, 20]])
    schema = {"type": "struct", "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
    ]}
    m1 = _manifest(meta_dir, [_entry(f1, 2, 500)], schema)
    meta = {
        "format-version": 1, "table-uuid": "v1" * 16,
        "location": "file://" + path,
        "last-updated-ms": 1000, "last-column-id": 2,
        "schema": schema,
        "partition-spec": [],
        "properties": {},
        "current-snapshot-id": 500,
        "snapshots": [{"snapshot-id": 500, "timestamp-ms": 1000,
                       "manifests": ["file://" + m1],
                       "summary": {"operation": "append"}}],
        "snapshot-log": [{"snapshot-id": 500, "timestamp-ms": 1000}],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("1")
    got = read_iceberg_table(spark, path)
    assert _rows(got) == [(1, 10), (2, 20)]
    # v1 appends refuse (legacy manifest schema not emitted)
    with pytest.raises(IcebergProtocolError, match="format-version 2"):
        append_iceberg(spark, spark.createDataFrame(
            [(9, 9)], "id bigint, v bigint"), path)


def test_upsert_merges_by_key(spark, tmp_path):
    """upsert_iceberg commits ONE snapshot with an equality delete on the
    incoming keys + the incoming rows: prior versions of a key vanish,
    the incoming row survives (shared sequence number + the strict-less
    equality rule), inserts just append, and a replayed batch with txn
    stamps is skipped. Compaction afterwards preserves the rows."""
    from monday_etl_spark.iceberg_import import (
        compact_iceberg,
        iceberg_history,
        upsert_iceberg,
    )

    path = str(tmp_path / "ups")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "id bigint, v double")
    write_versioned(df, path, key="id", n_buckets=4, stats_cols=["id"])
    export_iceberg(path)

    incoming = spark.createDataFrame(
        [(i, 1000.0 + i) for i in range(40, 60)], "id bigint, v double")
    v = upsert_iceberg(spark, incoming, path, key="id",
                       app_id="cdc", txn_version=0)
    assert v == 2
    got = read_iceberg_table(spark, path)
    want = df.filter("id < 40").unionByName(incoming)
    assert _rows(got) == _rows(want) and got.count() == 60
    # pre-upsert time travel intact
    first = iceberg_history(path)[0]["snapshot_id"]
    assert read_iceberg_table(spark, path, snapshot_id=first).count() == 50
    # replayed batch: skipped from the table's own metadata
    assert upsert_iceberg(spark, incoming, path, key="id",
                          app_id="cdc", txn_version=0) == 2
    assert read_iceberg_table(spark, path).count() == 60
    # a second upsert stacks; compaction then folds everything
    more = spark.createDataFrame([(0, -1.0)], "id bigint, v double")
    upsert_iceberg(spark, more, path, key="id",
                   app_id="cdc", txn_version=1)
    before = _rows(read_iceberg_table(spark, path))
    compact_iceberg(spark, path)
    assert _rows(read_iceberg_table(spark, path)) == before
    assert before[0] == (0, -1.0)


def test_array_columns_through_both_resolution_paths(spark, tmp_path):
    """array<primitive> columns read through the id-stamped path (Spark's
    fieldId reader matches the outer field) AND the name-mapping path."""
    import pyarrow as pa

    path = str(tmp_path / "arr")
    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)
    # id-stamped file under an OLD footer name for the array column
    fields = [
        pa.field("id", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
        pa.field("old_emb", pa.list_(pa.float64()),
                 metadata={b"PARQUET:field_id": b"2"}),
    ]
    t = pa.Table.from_arrays(
        [pa.array([1, 2], pa.int64()),
         pa.array([[1.0, 2.0], [3.0]], pa.list_(pa.float64()))],
        schema=pa.schema(fields),
    )
    f1 = os.path.join(data_dir, "f1.parquet")
    pq.write_table(t, f1)
    # plain file (no ids) under the CURRENT name
    t2 = pa.table({
        "id": pa.array([3], pa.int64()),
        "emb": pa.array([[9.0]], pa.list_(pa.float64())),
    })
    f2 = os.path.join(data_dir, "f2.parquet")
    pq.write_table(t2, f2)

    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "emb", "required": False,
         "type": {"type": "list", "element-id": 3, "element": "double",
                  "element-required": False}},
    ]}
    m = _manifest(meta_dir, [_entry(f1, 2, 600), _entry(f2, 1, 600)],
                  schema)
    lst = _manifest_list(meta_dir, 600, [m], 3)
    snaps = [{"snapshot-id": 600, "sequence-number": 1,
              "timestamp-ms": 1000, "manifest-list": "file://" + lst,
              "schema-id": 0, "summary": {"operation": "append"}}]
    _metadata(path, [schema], snaps,
              [{"snapshot-id": 600, "timestamp-ms": 1000}], current=600,
              props={"schema.name-mapping.default": json.dumps([
                  {"field-id": 1, "names": ["id"]},
                  {"field-id": 2, "names": ["emb"]},
              ])})
    got = read_iceberg_table(spark, path)
    rows = sorted((r.id, list(r.emb)) for r in got.collect())
    assert rows == [(1, [1.0, 2.0]), (2, [3.0]), (3, [9.0])]


def test_many_manifests_use_distributed_decode(spark, tmp_path):
    """Eleven manifests (base + 10 appends) push pruning and range reads
    over the driver-decode threshold onto the executor-side branches —
    results must match the driver-side path's semantics exactly."""
    from monday_etl_spark.iceberg_import import (
        _DRIVER_DECODE_MAX_MANIFESTS,
        read_iceberg_where,
    )

    path = str(tmp_path / "many")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id bigint, v double")
    write_versioned(df, path, key="id", n_buckets=1, stats_cols=["id"])
    export_iceberg(path)
    for k in range(10):
        append_iceberg(
            spark,
            spark.createDataFrame(
                [(100 * (k + 1) + j, 0.0) for j in range(3)],
                "id bigint, v double").coalesce(1),
            path,
        )
    assert 11 > _DRIVER_DECODE_MAX_MANIFESTS
    got = read_iceberg_table(spark, path)
    assert got.count() == 40
    keep, total = iceberg_files_where(spark, path, "id", 500, 520)
    assert total >= 11 and len(keep) == 1
    rng = read_iceberg_where(spark, path, "id", 500, 520)
    assert sorted(r.id for r in rng.collect()) == [500, 501, 502]


def test_distributed_pruned_listing_is_one_job(spark, tmp_path,
                                               monkeypatch):
    """Past the driver-decode threshold, the pruned listing decodes each
    manifest ONCE: survivors and per-manifest live counts return from
    one job, and equal what the driver-side decode lists."""
    from monday_etl_spark import iceberg_import

    path = str(tmp_path / "onejob")
    write_versioned(
        spark.createDataFrame([(i, float(i)) for i in range(10)],
                              "id bigint, v double"),
        path, key="id", n_buckets=1, stats_cols=["id"])
    export_iceberg(path)
    for k in range(10):
        append_iceberg(spark, spark.createDataFrame(
            [(100 * (k + 1) + j, 0.0) for j in range(3)],
            "id bigint, v double").coalesce(1), path)
    sc = spark.sparkContext
    group = "iceberg-pruned-listing"
    sc.setJobGroup(group, "iceberg_files_where")
    try:
        keep, total = iceberg_files_where(spark, path, "id", 500, 620)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    monkeypatch.setattr(iceberg_import, "_DRIVER_DECODE_MAX_MANIFESTS", 10**6)
    assert (keep, total) == iceberg_files_where(spark, path, "id", 500, 620)
    assert len(keep) == 2 and total == 11


def _plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_live_equality_deletes_plan_a_local_scan(spark, tmp_path):
    """The per-file (source, partition, sequence) frame a read with live
    equality deletes joins against is built from Arrow: it plans as a
    ``LocalTableScan``, not a Python-RDD ``ExistingRDD`` scan."""
    from monday_etl_spark.iceberg_import import upsert_iceberg

    path = str(tmp_path / "ups")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "id bigint, v double")
    write_versioned(df, path, key="id", n_buckets=4, stats_cols=["id"])
    export_iceberg(path)
    incoming = spark.createDataFrame(
        [(i, 1000.0 + i) for i in range(40, 60)], "id bigint, v double")
    upsert_iceberg(spark, incoming, path, key="id")

    got = read_iceberg_table(spark, path)
    plan = _plan_of(got)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert _rows(got) == _rows(df.filter("id < 40").unionByName(incoming))


def test_delete_join_strategy_gated_on_manifest_counts(
    spark, tmp_path, monkeypatch
):
    """The merge-on-read anti-joins choose broadcast vs shuffle-hash from
    the manifests' record counts (no counting job): a small delete set
    broadcasts; over the cap the SAME table reads row-identically through
    shuffle-hash joins instead of OOMing the broadcast."""
    from monday_etl_spark import iceberg_import as ii

    path = _merge_on_read_table(spark, tmp_path)
    small = read_iceberg_table(spark, path)
    plan = _plan_of(small)
    assert "BroadcastHashJoin" in plan
    assert _rows(small) == [(2, 20), (3, 333), (4, 40)]

    monkeypatch.setattr(ii, "_DELETE_BROADCAST_MAX_ROWS", 0)
    big = read_iceberg_table(spark, path)
    plan = _plan_of(big)
    assert "ShuffledHashJoin" in plan
    # the delete-application joins must not broadcast under the cap;
    # the (3-row) file->sequence attach legitimately still does
    assert plan.count("BroadcastHashJoin") <= 1
    assert _rows(big) == [(2, 20), (3, 333), (4, 40)]


def test_cow_rewrite_carries_prior_tombstones(spark, tmp_path):
    """Rewriting a touched manifest in a COW commit RETAINS prior
    status-2 (DELETED) entries instead of dropping them: iceberg-java
    keeps DELETED entries through manifest rewrites until their
    snapshot expires, and stricter external engines expect to see them
    (ADVICE r12). This repo's readers skip them via the entry
    snapshot_id filter, so reads, time travel and the changelog are
    unchanged; the snapshot summary counts only the commit's OWN
    removals."""
    from monday_etl_spark.avro_ocf import read_ocf
    from monday_etl_spark.iceberg_import import (
        _from_uri,
        _manifest_paths,
        create_iceberg_table,
        delete_iceberg_cow,
        read_iceberg_table,
        read_metadata,
    )

    path = str(tmp_path / "carry")
    create_iceberg_table(path, [("id", "long"), ("v", "double")])
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(6)], "id long, v double")
    # ONE commit, TWO data files split by v range -> one manifest
    # holding both entries
    append_iceberg(spark, df.repartitionByRange(2, "v"), path)

    delete_iceberg_cow(spark, path, "v", 0.0, 0.5)   # kills id 0 (file A)
    s1 = read_metadata(path)["current-snapshot-id"]
    delete_iceberg_cow(spark, path, "v", 4.5, 5.0)   # kills id 5 (file B)
    meta = read_metadata(path)
    s2 = meta["current-snapshot-id"]
    assert s1 != s2

    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == s2)
    assert snap["summary"]["deleted-data-files"] == "1"

    # the manifest s2 rewrote still names s1's tombstone
    tombs = []
    for m in _manifest_paths(meta, snap):
        if m.get("content", 0) == 1:
            continue
        _, _, entries = read_ocf(_from_uri(m["manifest_path"]))
        tombs.extend(e for e in entries if e.get("status", 1) == 2)
    by_snap = {}
    for e in tombs:
        by_snap.setdefault(e.get("snapshot_id"), 0)
        by_snap[e.get("snapshot_id")] += 1
    assert by_snap.get(s1, 0) >= 1, by_snap   # carried prior tombstone
    assert by_snap.get(s2, 0) >= 1, by_snap   # this commit's own

    # readers unaffected: current read, time travel, changelog
    got = sorted((r.id, r.v)
                 for r in read_iceberg_table(spark, path).collect())
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)]
    old = sorted(r.id for r in read_iceberg_table(
        spark, path, snapshot_id=s1).collect())
    assert old == [1, 2, 3, 4, 5]
    from monday_etl_spark.iceberg_changes import read_iceberg_changes
    # gross COW shape: removed file B's live rows (3,4,5) as deletes,
    # its survivors (3,4) re-inserted; file A's rewrite is untouched
    feed = {(r.id, r._change_type) for r in read_iceberg_changes(
        spark, path, from_snapshot_id=s1).collect()}
    assert feed == {(3, "delete"), (4, "delete"), (5, "delete"),
                    (3, "insert"), (4, "insert")}


def test_stale_version_hint_does_not_pin_reads(spark, tmp_path):
    """``version-hint.text`` is a lower bound: a commit whose hint write
    never happened is visible, a hint regressed below the newest version
    does not pin reads, and explicit ``metadata_version=`` reads are
    unchanged — on both the import and the export read paths. Only above
    the hint may a version be still in flight."""
    from monday_etl_spark.iceberg_export import read_iceberg_meta

    path = str(tmp_path / "hint")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "id bigint, v double")
    write_versioned(df, path, key="id", n_buckets=2, stats_cols=["id"])
    export_iceberg(path)
    more = spark.createDataFrame(
        [(i, float(i)) for i in range(100, 105)], "id bigint, v double")
    assert append_iceberg(spark, more, path) == 2
    hint = os.path.join(path, "metadata", "version-hint.text")

    # v2 landed, its hint write did not: the hint still says 1
    with open(hint, "w") as fh:
        fh.write("1")
    assert read_metadata(path) == read_metadata(path, 2)
    assert read_iceberg_meta(path) == read_metadata(path, 2)
    assert _rows(read_iceberg_table(spark, path)) == \
        _rows(df.unionByName(more))

    # a slower writer's hint regressed below the newest version
    assert append_iceberg(spark, more, path) == 3
    with open(hint, "w") as fh:
        fh.write("2")
    assert read_metadata(path) == read_metadata(path, 3)
    assert len(_rows(read_iceberg_table(spark, path))) == 50

    # explicit versions still pin
    assert _rows(read_iceberg_table(spark, path, metadata_version=1)) == \
        _rows(df)
    assert len(_rows(read_iceberg_table(
        spark, path, metadata_version=2))) == 45

    # a version file above the hint that does not parse yet is still
    # being written: reads take the version below it. At or below the
    # hint it was complete once, so a parse failure raises
    with open(metadata_versions(path)[3], "w"):
        pass
    assert read_metadata(path) == read_metadata(path, 2)
    with open(hint, "w") as fh:
        fh.write("3")
    with pytest.raises(json.JSONDecodeError):
        read_metadata(path)


def test_read_jobs_flat_in_live_equality_deletes(spark, tmp_path):
    """Every upsert adds an equality-delete file; they share one id set,
    so a read applies them in ONE anti-join: the jobs of the read's
    action (frame built outside the job group) stay flat (±1) from 1 to
    8 live delete files, and the rows are the upserts' net effect."""
    from monday_etl_spark.iceberg_import import upsert_iceberg

    path = str(tmp_path / "mor")
    n = 400
    write_versioned(
        spark.createDataFrame([(i, 0.0) for i in range(n)],
                              "id bigint, v double"),
        path, key="id", n_buckets=4, stats_cols=["id"])
    export_iceberg(path)
    want = {i: 0.0 for i in range(n)}
    sc = spark.sparkContext
    jobs = {}
    for k in range(1, 9):
        rows = [(i, float(k)) for i in range(k * 7, n + 10, 13)]
        upsert_iceberg(spark, spark.createDataFrame(
            rows, "id bigint, v double"), path, "id")
        want.update(dict(rows))
        if k not in (1, 2, 4, 8):
            continue
        df = read_iceberg_table(spark, path)
        group = f"iceberg-read-jobs-{k}"
        sc.setJobGroup(group, "read_iceberg_table")
        try:
            got = dict(df.collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[k] = len(sc.statusTracker().getJobIdsForGroup(group))
        assert got == want
    assert max(jobs.values()) - min(jobs.values()) <= 1, jobs


def test_snapshot_ids_fixed_width_and_metadata_bytes_reproducible(
        spark, tmp_path):
    """Every snapshot id lies in [10**18, 2**62): 19 decimal digits and a
    9-byte zigzag varint, so two identical write sequences (export, two
    upserts, an append, a compaction) on table paths of equal length write
    metadata files of equal sizes, whichever ids were drawn."""
    from monday_etl_spark.iceberg_export import _snapshot_id
    from monday_etl_spark.iceberg_import import compact_iceberg, upsert_iceberg

    lo, hi = 10**18, 1 << 62
    assert _snapshot_id(0) == lo
    assert lo <= _snapshot_id((1 << 128) - 1) < hi

    sizes = []
    for side in ("a", "b"):
        path = str(tmp_path / side / "t")
        write_versioned(spark.createDataFrame(
            [(i, float(i)) for i in range(60)], "id bigint, v double"),
            path, key="id", n_buckets=4, stats_cols=["id"])
        export_iceberg(path)
        for k in (10, 40):
            upsert_iceberg(spark, spark.createDataFrame(
                [(i, 1000.0 + i) for i in range(k, k + 15)],
                "id bigint, v double"), path, key="id")
        append_iceberg(spark, spark.createDataFrame(
            [(i, float(i)) for i in range(100, 110)], "id bigint, v double"),
            path)
        compact_iceberg(spark, path)
        meta = read_metadata(path)
        ids = [s["snapshot-id"] for s in meta["snapshots"]]
        assert len(ids) == 5 and all(lo <= i < hi for i in ids), ids
        mdir = os.path.join(path, "metadata")
        names = os.listdir(mdir)
        sizes.append((
            {n: os.path.getsize(os.path.join(mdir, n))
             for n in names if n.endswith(".metadata.json")},
            sorted(os.path.getsize(os.path.join(mdir, n))
                   for n in names if n.endswith(".avro")),
        ))
    assert sizes[0] == sizes[1]


def test_empty_partitioned_append_keeps_wall_clock_timestamp(
        spark, tmp_path):
    """An append that writes no data file still commits a snapshot; its
    timestamp comes from its manifest list, never epoch 0."""
    from monday_etl_spark.iceberg_import import create_iceberg_table

    path = str(tmp_path / "empty")
    create_iceberg_table(path, [("id", "long"), ("d", "string")],
                         partition_by=[("d", "identity")])
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, d string")
    append_iceberg(spark, df, path)
    append_iceberg(spark, df.limit(0), path)
    meta = read_metadata(path)
    parent, empty = meta["snapshots"][-2:]
    assert empty["summary"]["added-data-files"] == "0"
    assert empty["timestamp-ms"] >= parent["timestamp-ms"] > 0
    log = {e["snapshot-id"]: e["timestamp-ms"] for e in meta["snapshot-log"]}
    assert log[empty["snapshot-id"]] == empty["timestamp-ms"]
    assert meta["last-updated-ms"] == empty["timestamp-ms"]
