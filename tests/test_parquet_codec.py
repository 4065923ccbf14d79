"""Every Parquet file the engine writes is zstd-compressed.

The codec is one session conf (``session.get_spark``); these checks run
each writer once on a tiny frame and read the column-chunk codecs of every
data file it added from the pyarrow footer. A Delta table whose live files
mix snappy and zstd must read and compact to the same rows, and DuckDB
(the oracle engine) must read a zstd house file."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from monday_etl_spark.delta_export import export_delta_log
from monday_etl_spark.delta_import import (
    append_delta,
    compact_delta,
    read_delta,
    upsert_delta,
    write_checkpoint,
)
from monday_etl_spark.iceberg_export import export_iceberg
from monday_etl_spark.iceberg_import import (
    append_iceberg,
    compact_iceberg,
    upsert_iceberg,
)
from monday_etl_spark.quality import QualityGate, gated_dual_write
from monday_etl_spark.tableformat import (
    compact_versioned,
    merge_versioned,
    read_version,
    write_versioned,
)
from monday_etl_spark.temporal import dual_write

from .test_delta_cdf import _cdf_table, _commit


def _parquet_files(root: str) -> set[str]:
    return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
            if f.endswith(".parquet")}


def _codecs(files) -> set[str]:
    """The column-chunk codecs of ``files``; empty when no file holds a
    row group (a vacuous check must not pass)."""
    out = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            out.update(rg.column(c).compression
                       for c in range(rg.num_columns))
    return out


def _assert_zstd(root: str, before: set[str], what: str,
                 under: str = "") -> None:
    added = {f for f in _parquet_files(root) - before
             if os.path.relpath(f, root).startswith(under)}
    assert added, f"{what} wrote no parquet file under {under or root}"
    assert _codecs(added) == {"ZSTD"}, what


def _rows(spark, n=40, start=0):
    return spark.createDataFrame(
        [(i, f"n{i % 7}", float(i)) for i in range(start, start + n)],
        "id long, name string, v double")


def _step(root, what, fn, under=""):
    before = _parquet_files(root)
    fn()
    _assert_zstd(root, before, what, under)


def test_house_writers_emit_zstd(spark, tmp_path):
    path = str(tmp_path / "house")
    os.makedirs(path)
    # distribution "none" over 3 input partitions fragments each bucket,
    # so compaction has files to rewrite
    _step(path, "write_versioned", lambda: write_versioned(
        _rows(spark).repartition(3), path, key="id", n_buckets=2,
        distribution="none"))
    _step(path, "compact_versioned",
          lambda: compact_versioned(spark, path))
    _step(path, "merge_versioned", lambda: merge_versioned(
        spark, path, _rows(spark, 5, start=35)))


def test_delta_writers_emit_zstd(spark, tmp_path):
    path = str(tmp_path / "delta")
    write_versioned(_rows(spark), path, key="id", n_buckets=2)
    export_delta_log(path)
    _step(path, "append_delta",
          lambda: append_delta(spark, _rows(spark, 5, start=100), path))
    _step(path, "compact_delta", lambda: compact_delta(spark, path))
    _step(path, "write_checkpoint",
          lambda: write_checkpoint(spark, path, form="classic"),
          under="_delta_log")

    cdf = _cdf_table(spark, tmp_path)
    src = spark.createDataFrame([(3, 30.0), (50, 5.0)], "id long, v double")
    before = _parquet_files(cdf)
    upsert_delta(spark, src, cdf, key_cols=["id"])
    # the commit's data files and its Change Data Feed files
    added = _parquet_files(cdf) - before
    change = {f for f in added if "_change_data" in f}
    assert change and added - change
    assert _codecs(change) == {"ZSTD"}
    assert _codecs(added - change) == {"ZSTD"}


def test_iceberg_writers_emit_zstd(spark, tmp_path):
    path = str(tmp_path / "ice")
    write_versioned(_rows(spark), path, key="id", n_buckets=2)
    export_iceberg(path)
    _step(path, "append_iceberg", lambda: append_iceberg(
        spark, _rows(spark, 5, start=100), path))
    before = _parquet_files(path)
    upsert_iceberg(spark, _rows(spark, 3, start=1), path, key="id")
    # data files and the equality-delete file
    added = _parquet_files(path) - before
    deletes = {f for f in added if "upsert-del-" in f}
    assert deletes and added - deletes
    assert _codecs(deletes) == {"ZSTD"}
    assert _codecs(added - deletes) == {"ZSTD"}
    _step(path, "compact_iceberg", lambda: compact_iceberg(spark, path))


def test_daily_writers_emit_zstd(spark, tmp_path):
    base = str(tmp_path)
    df = _rows(spark).withColumn(
        "extraction_date", F.lit("2025-06-25").cast("date"))
    _step(base, "dual_write", lambda: dual_write(df, base, "t"))
    gate = QualityGate(min_rows=1)
    before = _parquet_files(base)
    gated_dual_write(df, base, "g", gate, "2025-06-25")
    # the history and the promoted snapshot
    _assert_zstd(base, before, "gated history", under="g_historical")
    _assert_zstd(base, before, "gated snapshot", under="g/")


def test_delta_mixed_codecs_read_and_compact(spark, tmp_path):
    """Files written before the codec change (snappy) and after (zstd) live
    side by side in one table; reads and compaction see every row."""
    table = str(tmp_path / "mixed")
    data = os.path.join(table, "data")
    stage = os.path.join(table, "_stage")
    (spark.createDataFrame([(i, float(i)) for i in range(10)],
                           "id long, v double").coalesce(1)
     .write.option("compression", "snappy").parquet(stage))
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.makedirs(data)
    old = os.path.join(data, "old.parquet")
    os.replace(os.path.join(stage, part), old)
    assert _codecs([old]) == {"SNAPPY"}
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "mixed", "format": {"provider": "parquet",
                                                "options": {}},
                      "schemaString": (
                          '{"type":"struct","fields":['
                          '{"name":"id","type":"long","nullable":true,'
                          '"metadata":{}},{"name":"v","type":"double",'
                          '"nullable":true,"metadata":{}}]}'),
                      "partitionColumns": [], "configuration": {}}},
        {"add": {"path": "data/old.parquet", "partitionValues": {},
                 "size": os.path.getsize(old), "modificationTime": 0,
                 "dataChange": True}},
    ])
    before = _parquet_files(table)
    append_delta(spark, spark.createDataFrame(
        [(i, float(i)) for i in range(10, 15)], "id long, v double"), table)
    assert _codecs(_parquet_files(table) - before) == {"ZSTD"}

    want = sorted((i, float(i)) for i in range(15))
    assert sorted(map(tuple, read_delta(spark, table).collect())) == want
    before = _parquet_files(table)
    compact_delta(spark, table)
    assert _codecs(_parquet_files(table) - before) == {"ZSTD"}
    assert sorted(map(tuple, read_delta(spark, table).collect())) == want


def test_duckdb_reads_zstd_house_file(spark, tmp_path):
    duckdb = pytest.importorskip("duckdb")
    path = str(tmp_path / "house")
    v = write_versioned(_rows(spark), path, key="id", n_buckets=2)
    files = sorted(_parquet_files(path))
    assert _codecs(files) == {"ZSTD"}
    got = duckdb.sql(
        "SELECT id, name, v FROM read_parquet("
        f"[{', '.join(repr(f) for f in files)}])").fetchall()
    want = read_version(spark, path, v).select("id", "name", "v").collect()
    assert sorted(got) == sorted(map(tuple, want))
