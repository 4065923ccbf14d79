"""Delta snapshot export: protocol shape, manifest equivalence, refusals.

delta-spark isn't in the container, so the bridge is verified against the
public Delta PROTOCOL.md contract directly: exactly one protocol + one
metaData action, schemaString equal to the manifest's logical schema, the
add-file set equal to the manifest's file set, per-file sizes/stats true
of the files on disk — and the referenced files re-read (plain parquet)
row-identical to read_version, which is what any Delta reader would
materialize from this log.
"""

from __future__ import annotations

import json
import os
import urllib.parse

from monday_etl_spark.delta_export import export_delta_log, read_exported_files
from monday_etl_spark.tableformat import (
    _read_manifest,
    current_version,
    merge_versioned,
    read_version,
    rename_column,
    write_versioned,
)


def _df(spark, n=120):
    return spark.createDataFrame(
        [(i, f"name_{i}", float(i)) for i in range(n)],
        "id bigint, name string, v double",
    )


def _updates(spark):
    return spark.createDataFrame(
        [(3, "upd_3", 300.0), (500, "new_500", 500.0)],
        "id bigint, name string, v double",
    )


def test_export_matches_manifest_and_rereads_identically(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark), path, key="id", n_buckets=4,
                    stats_cols=["id", "v"])
    merge_versioned(spark, path, _updates(spark))

    log_file = export_delta_log(path)
    assert log_file.endswith(os.path.join("_delta_log",
                                          "00000000000000000000.json"))

    with open(log_file) as fh:
        actions = [json.loads(ln) for ln in fh if ln.strip()]
    protos = [a for a in actions if "protocol" in a]
    metas = [a for a in actions if "metaData" in a]
    adds = [a["add"] for a in actions if "add" in a]
    assert len(protos) == 1 and len(metas) == 1
    assert protos[0]["protocol"] == {"minReaderVersion": 1,
                                     "minWriterVersion": 2}

    man = _read_manifest(path, current_version(path))
    man_files = sorted(f for fs in man["buckets"].values() for f in fs)
    add_paths = sorted(urllib.parse.unquote(a["path"]) for a in adds)
    assert add_paths == man_files

    # schemaString IS the manifest's logical schema (Spark JSON == Delta's
    # schema serialization); __bucket never appears (directory-only layout)
    assert (json.loads(metas[0]["metaData"]["schemaString"])
            == json.loads(man["schema"]))
    assert "__bucket" not in metas[0]["metaData"]["schemaString"]
    assert metas[0]["metaData"]["partitionColumns"] == []

    # sizes and stats are true of the files on disk
    total_records = 0
    for a in adds:
        absf = os.path.join(path, urllib.parse.unquote(a["path"]))
        assert os.path.getsize(absf) == a["size"]
        stats = json.loads(a["stats"])
        total_records += stats["numRecords"]
        assert set(stats["minValues"]) == {"id", "v"}
        for c in ("id", "v"):
            assert stats["minValues"][c] <= stats["maxValues"][c]
    expect = read_version(spark, path)
    assert total_records == expect.count()

    # what a Delta reader materializes == read_version, row for row
    files = [os.path.join(path, p) for p in add_paths]
    got = sorted(map(tuple, spark.read.parquet(*files)
                 .select("id", "name", "v").collect()))
    want = sorted(map(tuple, expect.select("id", "name", "v").collect()))
    assert got == want


def test_export_idempotent_and_append_only(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark), path, key="id", n_buckets=4)
    first = export_delta_log(path)
    assert export_delta_log(path) == first  # same snapshot: no-op

    # a different snapshot must not silently re-point version 0
    merge_versioned(spark, path, _updates(spark))
    import pytest

    with pytest.raises(FileExistsError):
        export_delta_log(path)


def test_export_refuses_legacy_alias_manifests(spark, tmp_path):
    """A pre-field-id manifest with rename aliases has nothing to map by:
    the export must refuse, not surface NULLs in external readers."""
    import pytest

    from monday_etl_spark.tableformat import _commit, _manifest_path

    path = str(tmp_path / "tbl")
    write_versioned(_df(spark), path, key="id", n_buckets=4)
    # strip the field ids to simulate a table created before they existed
    man = _read_manifest(path, 1)
    for k in ("field_ids", "next_field_id", "epochs"):
        man.pop(k, None)
    with open(_manifest_path(path, 1), "w") as fh:
        json.dump(man, fh)
    rename_column(path, "v", "value")
    with pytest.raises(NotImplementedError, match="field ids"):
        export_delta_log(path)


def test_export_renamed_table_uses_column_mapping(spark, tmp_path):
    """Rename (metadata-only, old files keep the old physical name) then
    export: the log must carry mode=name column mapping — field ids +
    physicalName per field, reader v2 / writer v5, stats keyed by
    PHYSICAL names — and our own mapped reader must materialize the
    values under the NEW logical names."""
    from monday_etl_spark.delta_import import read_delta, read_delta_where

    path = str(tmp_path / "tbl")
    write_versioned(_df(spark), path, key="id", n_buckets=4,
                    stats_cols=["id", "v"])
    rename_column(path, "v", "value")

    log_file = export_delta_log(path)
    with open(log_file) as fh:
        actions = [json.loads(ln) for ln in fh if ln.strip()]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto == {"minReaderVersion": 2, "minWriterVersion": 5}
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    conf = meta["configuration"]
    assert conf["delta.columnMapping.mode"] == "name"
    fields = {f["name"]: f for f in
              json.loads(meta["schemaString"])["fields"]}
    assert set(fields) == {"id", "name", "value"}
    md = fields["value"]["metadata"]
    assert md["delta.columnMapping.physicalName"] == "v"
    assert isinstance(md["delta.columnMapping.id"], int)
    ids = [f["metadata"]["delta.columnMapping.id"] for f in fields.values()]
    assert len(set(ids)) == 3
    assert int(conf["delta.columnMapping.maxColumnId"]) >= max(ids)
    # per the spec, per-file stats are keyed by physical names
    adds = [a["add"] for a in actions if "add" in a]
    for a in adds:
        stats = json.loads(a["stats"])
        assert set(stats["minValues"]) == {"id", "v"}

    # the mapped reader resolves old footers and surfaces logical names
    got = read_delta(spark, path)
    assert got.columns == ["id", "name", "value"]
    want = read_version(spark, path)
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, want.collect()))
    # stats pruning translates the logical column to its physical key
    pruned = read_delta_where(spark, path, "value", 10.0, 19.0)
    assert sorted(r.value for r in pruned.collect()) \
        == [float(i) for i in range(10, 20)]


def test_export_refuses_rename_then_append_until_compacted(spark, tmp_path):
    """After rename-then-write the live field id spans TWO physical names
    (old files say 'v', new files 'value') — no Delta log can describe
    that, so the export refuses; compaction collapses the epochs and the
    export then succeeds as a PLAIN (reader v1) table."""
    import pytest

    from monday_etl_spark.tableformat import compact_versioned

    path = str(tmp_path / "tbl")
    write_versioned(_df(spark), path, key="id", n_buckets=4)
    rename_column(path, "v", "value")
    upd = spark.createDataFrame([(3, "upd_3", 300.0)],
                                "id bigint, name string, value double")
    merge_versioned(spark, path, upd)
    with pytest.raises(NotImplementedError, match="compact"):
        export_delta_log(path)

    compact_versioned(spark, path)
    log_file = export_delta_log(path)
    with open(log_file) as fh:
        actions = [json.loads(ln) for ln in fh if ln.strip()]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert "delta.columnMapping.mode" not in meta["configuration"]


def test_export_refuses_reused_dropped_name(spark, tmp_path):
    """Drop a column, reuse its NAME for a new column (legal on field-id
    tables), leave old files unrewritten: any name-resolving Delta reader
    would surface the dropped column's dead bytes under the live column.
    The export must refuse loudly — this is erased data."""
    import pytest

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"n{i}", f"OLDSECRET{i}") for i in range(40)],
        "id bigint, name string, token string",
    )
    write_versioned(df, path, key="id", n_buckets=4)
    from monday_etl_spark.tableformat import drop_column

    drop_column(path, "token")
    # evolve-merge reintroduces the name under a FRESH field id, touching
    # only one bucket — other buckets still reference pre-drop files whose
    # physical 'token' column carries the dead id's bytes
    upd = spark.createDataFrame([(3, "n3", "fresh")],
                                "id bigint, name string, token string")
    merge_versioned(spark, path, upd, allow_schema_evolution=True)
    with pytest.raises(NotImplementedError, match="resurrect"):
        export_delta_log(path)


def test_export_pinned_old_version(spark, tmp_path):
    """Exporting an explicit (e.g. tagged) old version freezes THAT
    snapshot: the add set is version 1's file set, not the latest's."""
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark), path, key="id", n_buckets=4)
    merge_versioned(spark, path, _updates(spark))

    export_delta_log(path, version=1)
    meta, adds = read_exported_files(
        os.path.join(path, "_delta_log", "00000000000000000000.json"))
    man1 = _read_manifest(path, 1)
    assert (sorted(urllib.parse.unquote(a["path"]) for a in adds)
            == sorted(f for fs in man1["buckets"].values() for f in fs))
    n = sum(json.loads(a["stats"])["numRecords"] for a in adds)
    assert n == read_version(spark, path, 1).count() == 120


def test_exported_commit_time_is_the_original_manifest_time(spark, tmp_path):
    """Timestamp addressing on an exported table reflects the snapshot's
    TRUE commit time (manifest committed_at), not the export run's clock
    or the log file's mtime."""
    from monday_etl_spark.delta_import import commit_timestamps
    from monday_etl_spark.tableformat import _read_manifest

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    write_versioned(df, path, key="id", n_buckets=1)
    export_delta_log(path)
    # tableformat versions are 1-based; the exported Delta log is v0
    # the manifest stamps integer unix milliseconds
    want_ms = _read_manifest(path, 1)["committed_at"]
    assert commit_timestamps(path)[0] == want_ms


def _nested_df(spark):
    return spark.createDataFrame(
        [(1, [("a", 1.0), ("b", 2.0)], ("x", 10)),
         (2, [("c", 3.0)], ("y", 20))],
        "id bigint, items array<struct<k:string, v:double>>, "
        "meta struct<tag:string, n:long>",
    )


def _nested_rows(df):
    return sorted(
        (r.id, tuple(tuple(i) for i in r.items), tuple(r.meta))
        for r in df.collect())


def test_nested_columns_plain_export_roundtrip(spark, tmp_path):
    """Nested columns need nothing special on the plain (reader v1) path:
    schemaString is Spark schema JSON, which is exactly Delta's nesting."""
    from monday_etl_spark.delta_import import read_delta

    path = str(tmp_path / "nested_plain")
    df = _nested_df(spark)
    write_versioned(df, path, key="id", n_buckets=2, stats_cols=["id"])
    log_file = export_delta_log(path)
    with open(log_file) as fh:
        actions = [json.loads(ln) for ln in fh if ln.strip()]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    assert _nested_rows(read_delta(spark, path)) == _nested_rows(df)


def test_nested_columns_mapping_export_stamps_every_field(spark, tmp_path):
    """Under column mapping the spec requires id + physicalName on EVERY
    field, nested ones included; nested physical names equal their names
    (tableformat never renames nested) and ids mint above the top-level
    range."""
    from monday_etl_spark.delta_import import read_delta

    path = str(tmp_path / "nested_map")
    df = _nested_df(spark)
    write_versioned(df, path, key="id", n_buckets=2, stats_cols=["id"])
    rename_column(path, "meta", "info")

    log_file = export_delta_log(path)
    with open(log_file) as fh:
        actions = [json.loads(ln) for ln in fh if ln.strip()]
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    conf = meta["configuration"]
    assert conf["delta.columnMapping.mode"] == "name"
    fields = {f["name"]: f for f in
              json.loads(meta["schemaString"])["fields"]}
    el = fields["items"]["type"]["elementType"]
    ids = []
    for nf in el["fields"] + fields["info"]["type"]["fields"]:
        md = nf["metadata"]
        assert md["delta.columnMapping.physicalName"] == nf["name"]
        ids.append(md["delta.columnMapping.id"])
    top_ids = [f["metadata"]["delta.columnMapping.id"]
               for f in fields.values()]
    assert len(set(ids + top_ids)) == len(ids) + len(top_ids)
    assert int(conf["delta.columnMapping.maxColumnId"]) >= max(ids)

    got = read_delta(spark, path)
    assert got.columns == ["id", "items", "info"]
    assert sorted((r.id, tuple(tuple(i) for i in r.items), tuple(r.info))
                  for r in got.collect()) == _nested_rows(df)


def test_reader_refuses_external_nested_physical_rename(spark, tmp_path):
    """mode=name resolves nested fields by PHYSICAL name; an external
    table whose nested field carries a different physicalName would read
    as nulls — refuse loudly instead."""
    import pytest

    from monday_etl_spark.delta_import import DeltaProtocolError, read_delta

    path = str(tmp_path / "ext_nested")
    os.makedirs(os.path.join(path, "_delta_log"))
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "id"}},
            {"name": "meta", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "meta"},
             "type": {"type": "struct", "fields": [
                 {"name": "tag", "type": "string", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 3,
                               "delta.columnMapping.physicalName":
                                   "col-renamed"}},
             ]}},
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "22222222-2222-2222-2222-222222222222",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name"},
        }},
    ]
    with open(os.path.join(path, "_delta_log",
                           f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    with pytest.raises(DeltaProtocolError, match="col-renamed"):
        read_delta(spark, path)
