"""Copy-on-write MERGE upsert on the Delta bridge: matched-file-only
rewrites, CDF update pre/post-images, exactly-once replays, refusals."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from monday_etl_spark import delta_import
from monday_etl_spark.delta_cdf import read_delta_changes
from monday_etl_spark.delta_export import export_delta_log
from monday_etl_spark.delta_import import (
    append_delta,
    delete_delta_where,
    delta_versions,
    read_delta,
    upsert_delta,
)
from monday_etl_spark.tableformat import write_versioned

from .test_delta_cdf import _add, _cdf_table, _commit, _write_file


def test_upsert_rewrites_matched_files_only(spark, tmp_path):
    table = _cdf_table(spark, tmp_path)       # f0: ids 0..9
    f1 = _write_file(spark, table, "f1",
                     [(i, float(i)) for i in range(100, 110)])
    _commit(table, 1, [_add(f1)])

    # source updates ids 3,4 (both live in f0) and inserts 500
    src = spark.createDataFrame(
        [(3, 33.0), (4, 44.0), (500, 5.0)], "id long, v double")
    v = upsert_delta(spark, src, table, ["id"],
                     app_id="merge-pipe", txn_version=0)
    assert v == 2

    rows = {r.id: r.v for r in read_delta(spark, table).collect()}
    assert rows[3] == 33.0 and rows[4] == 44.0 and rows[500] == 5.0
    assert rows[0] == 0.0 and rows[100] == 100.0
    assert len(rows) == 21

    # ONLY f0 was rewritten: f1 is still a referenced data file
    live = {os.path.basename(f) for f in
            read_delta(spark, table).inputFiles()}
    assert "f1.parquet" in live and "f0.parquet" not in live

    # the commit's change feed carries the MERGE row-level truth
    feed = {(r.id, r._change_type)
            for r in read_delta_changes(spark, table, 2, 2).collect()}
    assert (3, "update_preimage") in feed and (3, "update_postimage") in feed
    assert (500, "insert") in feed
    pre = {i for i, t in feed if t == "update_preimage"}
    assert pre == {3, 4}

    # exactly-once: the same (app_id, txn_version) replays as a no-op
    again = upsert_delta(spark, src, table, ["id"],
                         app_id="merge-pipe", txn_version=0)
    assert again == 2 and delta_versions(table) == [0, 1, 2]

    # pure insert (no matches): nothing removed
    v3 = upsert_delta(
        spark,
        spark.createDataFrame([(900, 9.0)], "id long, v double"),
        table, ["id"])
    with open(os.path.join(table, "_delta_log", f"{3:020d}.json")) as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    assert v3 == 3 and not any("remove" in a for a in acts)


def test_upsert_refusals(spark, tmp_path):
    table = _cdf_table(spark, tmp_path, name="ref")
    dup = spark.createDataFrame(
        [(1, 1.0), (1, 2.0)], "id long, v double")
    with pytest.raises(ValueError, match="duplicate keys"):
        upsert_delta(spark, dup, table, ["id"])
    bad = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="schema mismatch"):
        upsert_delta(spark, bad, table, ["id"])
    with pytest.raises(ValueError, match="key columns"):
        upsert_delta(spark, spark.createDataFrame(
            [(1, 1.0)], "id long, v double"), table, ["ghost"])


def _commit_actions(table, version):
    with open(os.path.join(table, "_delta_log", f"{version:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _orders_table(spark, tmp_path, n=2000):
    """16 files, one per key bucket: the lakehouse benchmark's Delta
    fixture shape (a house table exported as a Delta log)."""
    path = str(tmp_path / "orders")
    write_versioned(
        spark.range(n).select(
            F.col("id").alias("o_orderkey"),
            (F.col("id") % 97).cast("double").alias("o_totalprice")),
        path, "o_orderkey", n_buckets=16)
    export_delta_log(path)
    assert len(read_delta(spark, path).inputFiles()) == 16
    return path


def _orders_batch(spark, tmp_path, n=2000):
    """Every 7th existing key repriced, plus 50 new keys, read back from
    one parquet file as the benchmark reads its batches."""
    out = str(tmp_path / "batch")
    (spark.range(0, n + 50, 7)
     .unionByName(spark.range(n, n + 50))
     .distinct()
     .select(F.col("id").alias("o_orderkey"),
             (F.col("id") * 1.5).alias("o_totalprice"))
     .coalesce(1).write.parquet(out))
    return spark.read.parquet(out)


def test_upsert_runs_at_most_eight_jobs(spark, tmp_path):
    """Dup-key check, one collect of the affected files, one write:
    no probe of the survivors and no second write."""
    path = _orders_table(spark, tmp_path)
    src = _orders_batch(spark, tmp_path)
    sc = spark.sparkContext
    group = "delta-upsert-job-bound"
    sc.setJobGroup(group, "upsert_delta")
    try:
        upsert_delta(spark, src, path, ["o_orderkey"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 8, sorted(jobs)


def test_upsert_matching_a_whole_file_removes_it(spark, tmp_path):
    table = _cdf_table(spark, tmp_path)       # f0: ids 0..9
    f1 = _write_file(spark, table, "f1",
                     [(i, float(i)) for i in range(100, 110)])
    _commit(table, 1, [_add(f1)])
    src = spark.createDataFrame(
        [(i, -float(i)) for i in range(10)] + [(500, 5.0)],
        "id long, v double")
    assert upsert_delta(spark, src, table, ["id"]) == 2

    acts = _commit_actions(table, 2)
    assert [a["remove"]["path"] for a in acts if "remove" in a] \
        == ["data/f0.parquet"]
    adds = [a["add"] for a in acts if "add" in a]
    assert adds and all(json.loads(a["stats"])["numRecords"] > 0
                        for a in adds)
    assert sum(json.loads(a["stats"])["numRecords"] for a in adds) == 11
    rows = sorted((r.id, r.v) for r in read_delta(spark, table).collect())
    assert rows == sorted([(i, -float(i)) for i in range(10)]
                          + [(i, float(i)) for i in range(100, 110)]
                          + [(500, 5.0)])


def test_upsert_rewrite_applies_and_drops_deletion_vector(spark, tmp_path):
    table = _cdf_table(spark, tmp_path)       # f0: ids 0..9
    f1 = _write_file(spark, table, "f1",
                     [(i, float(i)) for i in range(100, 110)])
    _commit(table, 1, [_add(f1)])
    assert delete_delta_where(spark, table, "id", 2, 4) == 2
    assert any("deletionVector" in a["add"]
               for a in _commit_actions(table, 2) if "add" in a)

    src = spark.createDataFrame([(5, 55.0), (600, 6.0)], "id long, v double")
    assert upsert_delta(spark, src, table, ["id"]) == 3
    acts = _commit_actions(table, 3)
    assert [a["remove"]["path"] for a in acts if "remove" in a] \
        == ["data/f0.parquet"]
    assert not any("deletionVector" in a["add"] for a in acts if "add" in a)
    rows = sorted((r.id, r.v) for r in read_delta(spark, table).collect())
    assert rows == sorted([(i, float(i)) for i in (0, 1, 6, 7, 8, 9)]
                          + [(5, 55.0), (600, 6.0)]
                          + [(i, float(i)) for i in range(100, 110)])


def test_upsert_equals_a_plain_merge(spark, tmp_path):
    path = _orders_table(spark, tmp_path)
    src = _orders_batch(spark, tmp_path)
    before = read_delta(spark, path).localCheckpoint()
    want = (before.join(src.select("o_orderkey"), "o_orderkey", "left_anti")
            .unionByName(src))
    upsert_delta(spark, src, path, ["o_orderkey"])
    got = read_delta(spark, path)
    assert got.schema == before.schema
    assert got.count() == want.count() == 2050
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_upsert_loses_the_race_to_a_commit_after_its_snapshot(
        spark, tmp_path, monkeypatch):
    """An append committed between the upsert's snapshot and its scan,
    holding a source key: the scan stays on the upsert's snapshot and
    the commit loses at the put; the table keeps the append only."""
    table = _cdf_table(spark, tmp_path, name="race")    # f0: ids 0..9
    real_read = delta_import.read_delta

    def append_then_read(*args, **kwargs):
        monkeypatch.setattr(delta_import, "read_delta", real_read)
        append_delta(spark, spark.createDataFrame(
            [(700, 7.0)], "id long, v double"), table)
        return real_read(*args, **kwargs)

    monkeypatch.setattr(delta_import, "read_delta", append_then_read)
    src = spark.createDataFrame([(3, 33.0), (700, 77.0)], "id long, v double")
    with pytest.raises(FileExistsError):
        upsert_delta(spark, src, table, ["id"])
    assert delta_versions(table) == [0, 1]
    rows = sorted((r.id, r.v) for r in read_delta(spark, table).collect())
    assert rows == [(i, float(i)) for i in range(10)] + [(700, 7.0)]


@pytest.mark.parametrize("op", ["upsert", "append"])
def test_writes_commit_no_empty_files(spark, tmp_path, op):
    """A source whose first partitions are empty: Spark's writer still
    emits a file for task 0, and no add may commit it."""
    path = _orders_table(spark, tmp_path)
    src = spark.range(0, 400, 1, 4).filter("id >= 300").select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") * -1.0).alias("o_totalprice"))
    if op == "upsert":
        version = upsert_delta(spark, src, path, ["o_orderkey"])
        expected = ([(i, float(i % 97)) for i in range(2000) if not 300 <= i < 400]
                    + [(i, -float(i)) for i in range(300, 400)])
    else:
        version = append_delta(spark, src, path)
        expected = ([(i, float(i % 97)) for i in range(2000)]
                    + [(i, -float(i)) for i in range(300, 400)])
    adds = [a["add"] for a in _commit_actions(path, version) if "add" in a]
    records = [json.loads(a["stats"])["numRecords"] for a in adds]
    assert adds and 0 not in records, records
    assert sum(records) >= 100
    live = {a["path"] for a in adds}
    data_dir = os.path.join(path, next(iter(live)).split("/")[0])
    assert {f"{os.path.basename(data_dir)}/{f}" for f in os.listdir(data_dir)
            if f.endswith(".parquet")} == live
    rows = sorted((r.o_orderkey, r.o_totalprice)
                  for r in read_delta(spark, path).collect())
    assert rows == sorted(expected)
