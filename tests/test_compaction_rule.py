"""Compaction rewrites only the files that need it, in all three formats.

The target file size is ``spark.sql.files.maxPartitionBytes``; a file is
small below half of it. Within a partition, Delta and Iceberg compaction
rewrite two or more small files, and always a file that carries deletes
(a Delta deletion vector, an Iceberg data file under a live delete
file); every other file is carried by reference. When nothing needs a
rewrite, compaction commits nothing and returns the current version.
Delta upserts of an unpartitioned table write ``ceil(bytes / target)``
files, cut by a narrow ``coalesce`` unless that would run fewer tasks
than Spark's own scan split. Each test checks the pruned read against
the filtered full read after every step."""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from monday_etl_spark import delta_import as di
from monday_etl_spark import iceberg_import as ii
from monday_etl_spark import tableformat as tf

# a low target, so a few thousand rows make a "large" file
TARGET = 64 * 1024

_SCHEMA_JSON = json.dumps({"type": "struct", "fields": [
    {"name": "id", "type": "long", "nullable": True, "metadata": {}},
    {"name": "v", "type": "double", "nullable": True, "metadata": {}},
]})


@pytest.fixture
def small_target(spark):
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(TARGET))
    yield TARGET
    spark.conf.set(key, prev)


def _rows(lo: int, hi: int) -> pa.Table:
    """ids ``lo..hi-1`` with random doubles, which no codec shrinks."""
    rng = np.random.default_rng(lo)
    return pa.table({"id": pa.array(range(lo, hi), pa.int64()),
                     "v": pa.array(rng.random(hi - lo))})


def _delta(tmp_path, name: str, tables: list, dv: bool = False) -> str:
    """A Delta table whose version 0 adds one parquet file per table,
    each with its true size and row groups of 500 rows."""
    path = tmp_path / name
    (path / "data").mkdir(parents=True)
    adds = []
    for i, t in enumerate(tables):
        rel = f"data/f{i}.parquet"
        pq.write_table(t, path / rel, row_group_size=500)
        adds.append({"add": {"path": rel, "partitionValues": {},
                             "size": os.path.getsize(path / rel),
                             "modificationTime": 0, "dataChange": True}})
    protocol = ({"minReaderVersion": 3, "minWriterVersion": 7,
                 "readerFeatures": ["deletionVectors"],
                 "writerFeatures": ["deletionVectors"]} if dv
                else {"minReaderVersion": 1, "minWriterVersion": 2})
    (path / "_delta_log").mkdir()
    actions = [{"protocol": protocol},
               {"metaData": {"id": name, "format": {"provider": "parquet",
                                                    "options": {}},
                             "schemaString": _SCHEMA_JSON,
                             "partitionColumns": [], "configuration": {}}}]
    with open(path / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions + adds) + "\n")
    return str(path)


def _live_delta(spark, path: str) -> dict:
    return di._snapshot_state(spark, path, None).live.materialize(
        allow_dv=True)


def _live_iceberg(spark, path: str) -> tuple[set, int]:
    """(live data file paths, live delete files) of the current snapshot."""
    meta = ii.read_metadata(path)
    data, dele = ii._split_manifests(
        meta, ii._select_snapshot(meta, None, None))
    return ({t[1] for t in ii._live_entry_tuples(spark, data)},
            len(ii._live_entry_tuples(spark, dele)))


def _files_on_disk(path: str) -> set:
    return {os.path.join(root, n)
            for root, _d, names in os.walk(path) for n in names}


READS = {
    "house": (tf.read_where, tf.read_version),
    "delta": (di.read_delta_where, di.read_delta),
    "iceberg": (ii.read_iceberg_where, ii.read_iceberg_table),
}


def _pruned_read_agrees(spark, fmt: str, path: str, lo: int, hi: int):
    where, full = READS[fmt]
    got = sorted(map(tuple, where(spark, path, "id", lo, hi).collect()))
    want = sorted(map(tuple, full(spark, path)
                      .filter(F.col("id").between(lo, hi)).collect()))
    assert got == want and got


def test_selection_rule():
    pick = tf._files_to_compact
    # a lone small file is a single-file bin: left alone
    assert pick([("a", (), 10, False)], 100) == {}
    # two small files: both, beside a large one that stays
    assert pick([("a", (), 10, False), ("b", (), 49, False),
                 ("c", (), 60, False)], 100) == {(): [("a", 10), ("b", 49)]}
    # half the target is not small
    assert pick([("a", (), 50, False), ("b", (), 10, False)], 100) == {}
    # a file with deletes is always rewritten, however large or alone
    assert pick([("a", (), 500, True)], 100) == {(): [("a", 500)]}
    # small files pair up only within their partition
    assert pick([("a", ("p", "1"), 10, False),
                 ("b", ("p", "2"), 10, False)], 100) == {}


def test_target_sized_cut_is_narrow_unless_it_costs_cores(spark):
    def shuffles(nbytes: int) -> bool:
        out = tf._target_sized(spark, spark.range(0, 100, 1, 8), nbytes)
        plan = out._jdf.queryExecution().executedPlan().toString()
        return "Exchange" in plan

    conf = spark._jsparkSession.sessionState().conf()
    target, open_cost = (conf.filesMaxPartitionBytes(),
                         conf.filesOpenCostInBytes())
    cores = spark.sparkContext.defaultParallelism
    # below openCostInBytes Spark's own scan runs one task: coalesce
    assert not shuffles(open_cost // 2)
    # a target-sized file for every core: as many tasks as Spark's split
    assert not shuffles(2 * cores * target)
    # in between, one file would pull the scan onto one core
    if cores > 1:
        assert shuffles(min(cores * open_cost, target) - 1)


def test_compacting_twice_is_a_noop_in_all_three_formats(
        spark, tmp_path, small_target):
    # house: four write tasks fragment each of the two buckets
    house = str(tmp_path / "house")
    tf.write_versioned(
        spark.range(0, 400, 1, 4).select("id", (F.col("id") * 1.5)
                                         .alias("v")),
        house, key="id", n_buckets=2, distribution="none")
    # Delta: three small files
    delta = _delta(tmp_path, "delta", [_rows(i * 100, i * 100 + 100)
                                       for i in range(3)])
    # Iceberg: three small appends
    ice = str(tmp_path / "ice")
    ii.create_iceberg_table(ice, [("id", "long"), ("v", "double")])
    for i in range(3):
        ii.append_iceberg(spark, spark.createDataFrame(
            _rows(i * 100, i * 100 + 100).to_pandas()).coalesce(1), ice)

    for fmt, path, compact, version in (
            ("house", house, tf.compact_versioned, tf.current_version),
            ("delta", delta, di.compact_delta,
             lambda p: di.delta_versions(p)[-1]),
            ("iceberg", ice, ii.compact_iceberg,
             lambda p: max(ii.metadata_versions(p)))):
        before = version(path)
        first = compact(spark, path)
        assert first == version(path) == before + 1, fmt
        _pruned_read_agrees(spark, fmt, path, 50, 150)
        files = _files_on_disk(path)
        assert compact(spark, path) == first, fmt
        assert version(path) == first, fmt
        assert _files_on_disk(path) == files, fmt
        _pruned_read_agrees(spark, fmt, path, 50, 150)


def test_delta_compaction_keeps_the_large_file(spark, tmp_path,
                                               small_target):
    path = _delta(tmp_path, "t", [_rows(0, 6000), _rows(6000, 6100),
                                  _rows(6100, 6200)])
    before = _live_delta(spark, path)
    assert before["data/f0.parquet"]["size"] >= TARGET / 2
    assert all(before[f"data/f{i}.parquet"]["size"] < TARGET / 2
               for i in (1, 2))

    v = di.compact_delta(spark, path)
    after = _live_delta(spark, path)
    assert after["data/f0.parquet"] == before["data/f0.parquet"]
    new = sorted(set(after) - {"data/f0.parquet"})
    assert len(new) == 1 and new[0].startswith(f"_data_c{v}-")
    assert "data/f1.parquet" not in after and "data/f2.parquet" not in after
    _pruned_read_agrees(spark, "delta", path, 5990, 6150)
    assert di.compact_delta(spark, path) == v


def test_lone_dv_file_is_rewritten(spark, tmp_path):
    path = _delta(tmp_path, "t", [_rows(0, 100)], dv=True)
    di.delete_delta_where(spark, path, "id", 10, 19)  # v1: a DV on f0
    assert _live_delta(spark, path)["data/f0.parquet"]["deletionVector"]
    _pruned_read_agrees(spark, "delta", path, 0, 30)

    v = di.compact_delta(spark, path)
    assert v == 2
    after = _live_delta(spark, path)
    assert "data/f0.parquet" not in after
    assert not any(a.get("deletionVector") for a in after.values())
    assert di.read_delta(spark, path).count() == 90
    _pruned_read_agrees(spark, "delta", path, 0, 30)
    assert di.compact_delta(spark, path) == v


def test_iceberg_file_under_live_deletes_is_rewritten(spark, tmp_path,
                                                       small_target):
    path = str(tmp_path / "t")
    ii.create_iceberg_table(path, [("id", "long"), ("v", "double")])
    ii.append_iceberg(spark, spark.createDataFrame(
        _rows(0, 100).to_pandas()).coalesce(1), path)
    (a,), _n = _live_iceberg(spark, path)
    ii.delete_iceberg_where(spark, path, "id", 10, 19)  # position deletes
    # appended after the delete: not under it, and large
    ii.append_iceberg(spark, spark.createDataFrame(
        _rows(1000, 7000).to_pandas()).coalesce(1), path)
    live, n_deletes = _live_iceberg(spark, path)
    (b,) = live - {a}
    assert n_deletes >= 1
    _pruned_read_agrees(spark, "iceberg", path, 0, 1050)

    v = ii.compact_iceberg(spark, path)
    live, n_deletes = _live_iceberg(spark, path)
    assert b in live and a not in live and len(live) == 2
    assert n_deletes == 0
    assert ii.read_iceberg_table(spark, path).count() == 90 + 6000
    _pruned_read_agrees(spark, "iceberg", path, 0, 1050)
    assert ii.compact_iceberg(spark, path) == v


def _written_adds(path: str, version: int) -> list:
    with open(os.path.join(path, "_delta_log", f"{version:020d}.json")) as fh:
        return [a["add"] for a in map(json.loads, fh) if "add" in a]


def test_upsert_delta_writes_target_sized_files(spark, tmp_path,
                                                small_target):
    path = _delta(tmp_path, "t", [_rows(0, 6000), _rows(6000, 6100)])
    src_file = str(tmp_path / "src.parquet")
    pq.write_table(_rows(100, 200), src_file)  # keys all in f0
    src = spark.read.schema("id long, v double").parquet(src_file)

    v = di.upsert_delta(spark, src, path, ["id"])
    nbytes = (os.path.getsize(os.path.join(path, "data/f0.parquet"))
              + os.path.getsize(src_file))
    n = math.ceil(nbytes / TARGET)
    assert n >= 2
    assert len(_written_adds(path, v)) == n
    assert "data/f1.parquet" in _live_delta(spark, path)  # untouched
    _pruned_read_agrees(spark, "delta", path, 50, 250)


def test_upsert_delta_leaves_a_compact_table(spark, tmp_path):
    # the default target: a whole-table upsert writes one file, and
    # compaction then has nothing to do
    path = _delta(tmp_path, "t", [_rows(i * 100, i * 100 + 100)
                                  for i in range(3)])
    keys = spark.createDataFrame(_rows(50, 250).to_pandas())
    v = di.upsert_delta(spark, keys, path, ["id"])
    assert len(_live_delta(spark, path)) == 1
    assert di.compact_delta(spark, path) == v
    assert di.read_delta(spark, path).count() == 300
    _pruned_read_agrees(spark, "delta", path, 0, 120)
