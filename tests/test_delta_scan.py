"""One Delta data scan: snapshot, pruned and change-feed reads all build
their parquet scan in ``delta_import._scan``.

Pruned reads pin ONE snapshot and prune deletion-vector and partitioned
tables by stats like any other; an AST scan keeps every other function
from building a data scan of its own."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

from monday_etl_spark import delta_import
from monday_etl_spark.delta_import import (
    delete_delta_where,
    read_delta,
    read_delta_where,
)
from tests.test_delta_import import _add, _commit, _meta, _write_file

_DV_PROTO = {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}}


def _stats(lo, hi):
    return {"numRecords": hi - lo + 1, "minValues": {"id": lo},
            "maxValues": {"id": hi}}


def _four_file_table(spark, tmp_path, name="four"):
    """Reader-v3 (deletionVectors) table of four files f0..f3; fk holds
    ids 10k..10k+9, each with min/max stats."""
    table = str(tmp_path / name)
    os.makedirs(table)
    adds = []
    for k in range(4):
        ids = range(10 * k, 10 * k + 10)
        rel, _ = _write_file(spark, table, f"f{k}",
                             [(i, float(i)) for i in ids])
        adds.append(_add(rel, _stats(ids[0], ids[-1])))
    _commit(table, 0, [_DV_PROTO, _meta()] + adds)
    return table


def _partitioned_table(spark, tmp_path):
    """Four files, one per partition p=a..d; the partition column lives
    only in the log's partitionValues."""
    import json

    table = str(tmp_path / "parts")
    os.makedirs(table)
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "double", "nullable": True, "metadata": {}},
        {"name": "p", "type": "string", "nullable": True, "metadata": {}},
    ]})
    adds = []
    for k, p in enumerate("abcd"):
        ids = range(10 * k, 10 * k + 10)
        rel, _ = _write_file(spark, table, f"f{k}",
                             [(i, float(i)) for i in ids])
        add = _add(rel, _stats(ids[0], ids[-1]))
        add["add"]["partitionValues"] = {"p": p}
        adds.append(add)
    _commit(table, 0, [_meta(schema, partition_cols=["p"])] + adds)
    return table


def _opened(df) -> list[str]:
    return sorted(os.path.basename(f) for f in df.inputFiles())


def _assert_equals_filtered_full_read(spark, table, lo, hi):
    got = read_delta_where(spark, table, "id", lo, hi)
    want = read_delta(spark, table).filter(F.col("id").between(lo, hi))
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_pruned_read_pins_one_snapshot(spark, tmp_path, monkeypatch):
    """A deletion-vector DELETE that commits right after the read
    resolves its snapshot changes nothing for that read: it returns the
    pinned version's rows, and the next read sees the delete."""
    table = _four_file_table(spark, tmp_path)
    real = delta_import._snapshot_state
    resolved = []

    def racing(spark_, path, version):
        snap = real(spark_, path, version)
        if not resolved:
            resolved.append(snap.version)
            delete_delta_where(spark, table, "id", 30, 31)
        return snap

    monkeypatch.setattr(delta_import, "_snapshot_state", racing)
    got = sorted(r.id for r in
                 read_delta_where(spark, table, "id", 30, 32).collect())
    assert resolved == [0]
    assert got == [30, 31, 32]
    monkeypatch.setattr(delta_import, "_snapshot_state", real)
    assert sorted(r.id for r in read_delta_where(
        spark, table, "id", 30, 32).collect()) == [32]


def test_pruned_read_prunes_deletion_vector_table(spark, tmp_path):
    """A live deletion vector no longer turns the pruned read into a
    full read: only the stats survivor opens, and the vector on another
    file still applies where its file is read."""
    table = _four_file_table(spark, tmp_path, "dv")
    delete_delta_where(spark, table, "id", 5, 5)   # DV on f0
    assert _opened(read_delta_where(spark, table, "id", 30, 32)) == [
        "f3.parquet"]
    assert _opened(read_delta_where(spark, table, "id", 4, 6)) == [
        "f0.parquet"]
    assert sorted(r.id for r in read_delta_where(
        spark, table, "id", 4, 6).collect()) == [4, 6]
    for lo, hi in ((30, 32), (4, 6), (0, 39)):
        _assert_equals_filtered_full_read(spark, table, lo, hi)


def test_pruned_read_prunes_partitioned_table(spark, tmp_path):
    """Partitioned tables prune by file stats too; the partition column
    still arrives as a typed literal."""
    table = _partitioned_table(spark, tmp_path)
    df = read_delta_where(spark, table, "id", 30, 32)
    assert _opened(df) == ["f3.parquet"]
    assert sorted((r.id, r.p) for r in df.collect()) == [
        (30, "d"), (31, "d"), (32, "d")]
    for lo, hi in ((30, 32), (8, 12), (0, 39)):
        _assert_equals_filtered_full_read(spark, table, lo, hi)


def test_checkpoint_listing_is_one_collect(spark, tmp_path):
    """A checkpoint-backed listing, pruned or not, runs the jobs of ONE
    collect of the checkpoint's surviving adds (the reconcile's
    broadcast of removes is the other job): no count before it. A pruned
    listing returns the survivors and the full live count."""
    from monday_etl_spark.delta_import import (
        _snapshot_state,
        files_for_range,
        write_checkpoint,
    )

    table = _four_file_table(spark, tmp_path, "ckpt")
    write_checkpoint(spark, table)
    sc = spark.sparkContext
    live = _snapshot_state(spark, table, None).live

    def jobs_of(fn, group):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    _, n_collect = jobs_of(lambda: live._ckpt_surviving().collect(),
                           "delta-list-collect")
    (entries, total), n_all = jobs_of(live.file_entries, "delta-list-all")
    assert (len(entries), total, n_all) == (4, 4, n_collect)
    (entries, total), n_pruned = jobs_of(
        lambda: live.file_entries("id", 30, 32), "delta-list-pruned")
    assert [os.path.basename(e[0]) for e in entries] == ["f3.parquet"]
    assert (total, n_pruned) == (4, n_collect)
    assert live.file_entries("id", 100, 200) == ([], 4)
    _, n_mat = jobs_of(live.materialize, "delta-list-materialize")
    assert n_mat == n_collect
    files, total = files_for_range(spark, table, "id", 30, 32)
    assert [os.path.basename(f) for f in files] == ["f3.parquet"]
    assert total == 4


# the functions that read the table's own log (checkpoint parquet under
# _delta_log/), not its data files: a schema they pin is the log's
_LOG_READERS = {"_snapshot_state", "_v2_checkpoint_state", "write_checkpoint"}


def _schema_read_sites(source: str) -> dict[str, bool]:
    """{top-level function or class: whether it calls
    ``<x>.read.schema(...)``} for ``source``."""
    def reads_schema(node) -> bool:
        f = node.func if isinstance(node, ast.Call) else None
        return (isinstance(f, ast.Attribute) and f.attr == "schema"
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "read")

    return {top.name: any(map(reads_schema, ast.walk(top)))
            for top in ast.parse(source).body
            if isinstance(top, (ast.FunctionDef, ast.ClassDef))}


def test_only_scan_builds_a_delta_data_scan():
    """No function in the Delta reader or the change feed builds a
    parquet data scan except ``delta_import._scan``; the log readers are
    exempt, and must still exist under their names."""
    pkg = os.path.dirname(delta_import.__file__)
    offenders = []
    for mod in ("delta_import.py", "delta_cdf.py"):
        with open(os.path.join(pkg, mod)) as fh:
            sites = _schema_read_sites(fh.read())
        if mod == "delta_import.py":
            assert sites.get("_scan") is True
            assert _LOG_READERS <= set(sites)
        offenders += [f"{mod}:{fn}" for fn, reads in sites.items()
                      if reads and fn not in _LOG_READERS
                      and (mod, fn) != ("delta_import.py", "_scan")]
    assert offenders == []


@pytest.mark.parametrize("src, reads", [
    ("def _scan(spark):\n    return spark.read.schema(s).parquet(f)\n",
     True),
    ("def _scan_entries(spark):\n"
     "    return spark.read.parquet(*files)\n", False),
    ("class _LiveSet:\n    def f(self):\n"
     "        return self._spark.read.schema(s).parquet(p)\n", True),
])
def test_schema_read_scan_finds_every_site(src, reads):
    assert list(_schema_read_sites(src).values()) == [reads]
