"""Incremental streaming SCD2 == the batch build, across drain splits."""

from __future__ import annotations

import os
import tempfile
import time

import pyarrow.parquet as pq

from monday_etl_spark.queries.registry import REGISTRY
from monday_etl_spark.streaming.scd2_maintenance import run_scd2_maintenance

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _split_ingest(root, n=2):
    """Split the events by ts into ``n`` files the stream drains in order.
    The file source orders files by mtime, and back-to-back writes can
    share one, so each part gets a strictly later mtime than the last."""
    ingest = os.path.join(root, "ingest")
    os.makedirs(ingest)
    t = pq.read_table(os.path.join(SF, "events.parquet")).sort_by("ts")
    step = t.num_rows // n
    base = time.time() - n
    for i in range(n):
        end = t.num_rows if i == n - 1 else (i + 1) * step
        part = os.path.join(ingest, f"part{i}.events.parquet")
        pq.write_table(t.slice(i * step, end - i * step), part)
        os.utime(part, (base + i, base + i))
    return ingest


def test_two_drain_scd2_equals_batch(spark):
    root = tempfile.mkdtemp(prefix="scd2m_")
    ingest = _split_ingest(root, n=2)
    table = os.path.join(root, "scd2_table")
    ckpt = os.path.join(root, "ckpt")

    # one file per micro-batch: the open-row handoff runs across a real
    # batch boundary inside one drain
    got = run_scd2_maintenance(spark, ingest, table, ckpt,
                               glob="*.events.parquet",
                               max_files_per_trigger=1)
    want = REGISTRY["scd2_history"].fn(spark, SF)
    assert _rows(got) == _rows(want)

    # exactly-once: a third drain with no new files changes nothing
    again = run_scd2_maintenance(spark, ingest, table, ckpt,
                                 glob="*.events.parquet")
    assert _rows(again) == _rows(want)
