"""Bucket-pruned MERGE on a key-bucketed house table.

A merge that touches a few keys rewrites only their buckets (see
``test_tableformat``); applying the same updates again must leave the same
rows, not duplicates.
"""

from __future__ import annotations

from monday_etl_spark.tableformat import merge_versioned, read_version, write_versioned

N_BUCKETS = 8


def _base_df(spark):
    return spark.createDataFrame(
        [(i, f"name_{i}", float(i)) for i in range(200)],
        "id bigint, name string, v double",
    )


def test_bucketed_merge_idempotent(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_versioned(_base_df(spark), path, key="id", n_buckets=N_BUCKETS)
    updates = spark.createDataFrame([(7, "x", 0.0)], "id bigint, name string, v double")
    merge_versioned(spark, path, updates)
    once = sorted(read_version(spark, path).collect())
    merge_versioned(spark, path, updates)
    df = read_version(spark, path)
    assert df.count() == 200
    assert df.filter("id = 7").first().name == "x"
    assert sorted(df.collect()) == once
