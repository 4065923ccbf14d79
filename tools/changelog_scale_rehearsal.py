#!/usr/bin/env python
"""Scale-rehearse the changelog/CDF readers (VERDICT r10 task #7):

1. commit-count scaling — the same data served as N vs 10N commits
   (both bridges): changelog wall + plan size must grow ~linearly and
   stay sane at the 10x point, with the _CHANGELOG_MAX_COMMITS /
   _CDF_MAX_COMMITS caps refusing loudly past the bound;
2. the r11 gated delete-resolution join measured BOTH sides of the cap
   (broadcast vs shuffle-hash) on an Iceberg delete commit — same rows,
   both plans finish.

One JSON line per scenario. Usage: python tools/changelog_scale_rehearsal.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from monday_etl_spark import iceberg_changes as ic  # noqa: E402
from monday_etl_spark.delta_cdf import read_delta_changes  # noqa: E402
from monday_etl_spark.delta_import import append_delta  # noqa: E402
from monday_etl_spark.iceberg_changes import (  # noqa: E402
    read_iceberg_changes,
)
from monday_etl_spark.iceberg_import import (  # noqa: E402
    append_iceberg,
    create_iceberg_table,
    delete_iceberg_where,
    read_metadata,
)
from monday_etl_spark.io import load_table  # noqa: E402
from monday_etl_spark.session import get_spark  # noqa: E402

# written inside this tool's own checkout, so a second checkout (the
# other side of an A/B) never touches this one's tables
ROOT = str(Path(__file__).resolve().parents[1] / ".scratch"
           / "changelog_rehearsal")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_SCHEMA_JSON = json.dumps({"type": "struct", "fields": [
    {"name": "l_orderkey", "type": "long", "nullable": True,
     "metadata": {}},
    {"name": "l_quantity", "type": "double", "nullable": True,
     "metadata": {}},
]})


def timed(fn):
    t0 = time.monotonic()
    out = fn()
    return out, round(time.monotonic() - t0, 3)


def _delta_cdf_table(spark, path: str) -> None:
    os.makedirs(os.path.join(path, "_delta_log"))
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "chg-rehearsal",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": _SCHEMA_JSON,
                      "partitionColumns": [],
                      "configuration": {
                          "delta.enableChangeDataFeed": "true"}}},
    ]
    with open(os.path.join(path, "_delta_log",
                           f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")


def delta_drain_loop(spark, path: str, n_commits: int,
                     window: int) -> dict:
    """A CDC consumer draining an n_commits backlog in bounded windows
    (the cap's remedy): per-window plan+execute measured so the serial
    drain's total can be compared against the one-shot full-range read
    — does session warmth / plan reuse amortize the per-window planning
    floor, and how much does each window's full commit_timestamps walk
    cost as the loop repeats? (VERDICT r11 task #6)"""
    out: dict = {"scenario": "delta_cdf_drain_loop",
                 "n_commits": n_commits, "window": window}
    per: list = []
    rows = 0
    t0 = time.monotonic()
    lo = 1
    while lo <= n_commits:
        hi = min(lo + window - 1, n_commits)
        fdf, plan_s = timed(
            lambda lo=lo, hi=hi: read_delta_changes(spark, path, lo, hi))
        n, count_s = timed(fdf.count)
        per.append(round(plan_s + count_s, 3))
        rows += n
        lo = hi + 1
    out["total_s"] = round(time.monotonic() - t0, 3)
    out["windows"] = len(per)
    out["per_window_s"] = per
    out["first_window_s"] = per[0]
    out["last_window_s"] = per[-1]
    out["rows"] = rows
    return out


def delta_drain_loop_deep(spark, df, n_commits: int = 2000,
                          window: int = 20,
                          ckpt_every: int = 200) -> dict:
    """Per-window drain cost on a 10x retained log (VERDICT r12 #1
    done-criterion): 20-commit windows SAMPLED across a 2000-commit CDF
    table (periodic checkpoints, delta-spark's real layout) must cost
    the same as windows on the 200-commit table — the O(range)
    commit_timestamps bound means nothing in the window walk scales
    with retained-log length. Also counts the HEAD window's commit-JSON
    opens (builtins.open) to pin the bound mechanically."""
    import builtins

    from monday_etl_spark.delta_import import write_checkpoint

    out: dict = {"scenario": "delta_cdf_drain_loop_deep",
                 "n_commits": n_commits, "window": window,
                 "ckpt_every": ckpt_every}
    path = os.path.join(ROOT, f"delta_deep_{n_commits}")
    _delta_cdf_table(spark, path)
    slices = df.withColumn(
        "__s", F.col("l_orderkey") % n_commits).persist()
    slices.count()

    def build():
        for i in range(n_commits):
            append_delta(
                spark, slices.filter(F.col("__s") == i).drop("__s"), path)
            if (i + 1) % ckpt_every == 0:
                write_checkpoint(spark, path)

    _, out["build_s"] = timed(build)
    slices.unpersist()

    # 10 windows sampled across the whole log (head, middle, tail)
    starts = [1 + k * (n_commits - window) // 9 for k in range(10)]
    per: list = []
    rows = 0
    for lo in starts:
        hi = lo + window - 1
        fdf, plan_s = timed(
            lambda lo=lo, hi=hi: read_delta_changes(spark, path, lo, hi))
        n, count_s = timed(fdf.count)
        per.append(round(plan_s + count_s, 3))
        rows += n
    out["per_window_s"] = per
    out["rows"] = rows

    # head window's commit-JSON opens: O(window + checkpoint interval),
    # NOT O(retained log)
    opened: list = []
    real_open = builtins.open

    def counting(file, *a, **kw):
        s = str(file)
        if s.endswith(".json") and "_delta_log" in s:
            opened.append(s)
        return real_open(file, *a, **kw)

    builtins.open = counting
    try:
        read_delta_changes(
            spark, path, n_commits - window + 1, n_commits).count()
    finally:
        builtins.open = real_open
    out["head_window_commit_opens"] = len(
        [s for s in opened
         if os.path.basename(s).split(".")[0].isdigit()])
    return out


def delta_commit_scaling(spark, df, n_commits: int) -> dict:
    """The SAME rows served as n_commits append commits: the feed's wall
    should scale with commit count (one scan piece per commit), never
    blow up — and the plan the cap bounds is the one measured here."""
    out: dict = {"scenario": "delta_cdf_commits", "n_commits": n_commits}
    path = os.path.join(ROOT, f"delta_{n_commits}")
    _delta_cdf_table(spark, path)
    slices = df.withColumn(
        "__s", F.col("l_orderkey") % n_commits).persist()
    slices.count()

    def build():
        for i in range(n_commits):
            append_delta(
                spark, slices.filter(F.col("__s") == i).drop("__s"), path)

    _, out["build_s"] = timed(build)
    slices.unpersist()

    def feed():
        return read_delta_changes(spark, path, 1, n_commits)

    fdf, out["plan_build_s"] = timed(feed)
    out["plan_chars"] = len(
        fdf._jdf.queryExecution().executedPlan().toString())
    n, out["feed_count_s"] = timed(fdf.count)
    out["feed_rows"] = n
    return out


def iceberg_commit_scaling(spark, df, n_commits: int) -> dict:
    out: dict = {"scenario": "iceberg_changelog_commits",
                 "n_commits": n_commits}
    path = os.path.join(ROOT, f"iceberg_{n_commits}")
    create_iceberg_table(
        path, [("l_orderkey", "long"), ("l_quantity", "double")])
    slices = df.withColumn(
        "__s", F.col("l_orderkey") % n_commits).persist()
    slices.count()

    def build():
        for i in range(n_commits):
            append_iceberg(
                spark, slices.filter(F.col("__s") == i).drop("__s"), path)

    _, out["build_s"] = timed(build)
    slices.unpersist()

    def feed():
        return read_iceberg_changes(spark, path)

    fdf, out["plan_build_s"] = timed(feed)
    out["plan_chars"] = len(
        fdf._jdf.queryExecution().executedPlan().toString())
    n, out["feed_count_s"] = timed(fdf.count)
    out["feed_rows"] = n
    return out


def iceberg_gate_both_sides(spark, df) -> dict:
    """One MoR delete commit matching ~half the table, its changelog read
    with the delete set BROADCAST (under the r11 gate) and again forced
    to SHUFFLE-HASH (over it): same rows, both plans finish — the gate
    degrades instead of OOMing."""
    out: dict = {"scenario": "iceberg_changelog_gate"}
    path = os.path.join(ROOT, "iceberg_gate")
    create_iceberg_table(
        path, [("l_orderkey", "long"), ("l_quantity", "double")])
    append_iceberg(spark, df, path)
    first = read_metadata(path)["current-snapshot-id"]
    _, out["delete_s"] = timed(
        lambda: delete_iceberg_where(spark, path, "l_quantity", 0.0, 25.0))

    def feed():
        return read_iceberg_changes(spark, path, from_snapshot_id=first)

    bdf, _ = timed(feed)
    assert "BroadcastHashJoin" in \
        bdf._jdf.queryExecution().executedPlan().toString()
    n_b, out["broadcast_count_s"] = timed(bdf.count)
    cap = ic._DELETE_BROADCAST_MAX_ROWS
    try:
        ic._DELETE_BROADCAST_MAX_ROWS = 0
        sdf, _ = timed(feed)
        assert "ShuffledHashJoin" in \
            sdf._jdf.queryExecution().executedPlan().toString()
        n_s, out["shuffle_hash_count_s"] = timed(sdf.count)
    finally:
        ic._DELETE_BROADCAST_MAX_ROWS = cap
    assert n_b == n_s, f"gate changed the answer: {n_b} != {n_s}"
    out["delete_rows"] = n_b
    return out


def iceberg_stream_mor(spark, df, scale: int = 1) -> dict:
    """The r12 streaming MoR resolution at sf scale: a multi-file table
    takes a Flink-CDC upsert (global equality delete + new rows); the
    changelog STREAM drains the full history and is compared against
    the batch reader's wall for the same range — one eqdel unit per
    parent file, delete keys decoded ONCE at planning and shipped in
    the unit payloads (r13; counted below), batch-iterated masking.
    ``scale`` unions the input against itself with key offsets for the
    10x point (VERDICT r12 #5) and records rows/s across the Python
    DataSource's Arrow boundary — the number the hybrid-backfill API's
    design case rests on."""
    import tempfile

    from pyspark.sql import functions as F

    from monday_etl_spark import iceberg_source as isrc
    from monday_etl_spark.iceberg_import import upsert_iceberg
    from monday_etl_spark.iceberg_source import (
        _changelog_units,
        _seq_snapshots,
        stream_iceberg,
    )

    out: dict = {"scenario": "iceberg_stream_mor", "scale": scale}
    if scale > 1:
        base = df
        off = (base.agg(F.max("l_orderkey")).collect()[0][0] or 0) + 1
        df = base
        for k in range(1, scale):
            df = df.unionAll(base.withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(k * off)))
    path = os.path.join(ROOT, f"iceberg_stream_mor_{scale}x")
    create_iceberg_table(
        path, [("l_orderkey", "long"), ("l_quantity", "double")])
    append_iceberg(spark, df.repartition(8 * scale), path)
    first = read_metadata(path)["current-snapshot-id"]
    src = (df.filter(F.col("l_orderkey") % 128 == 3)
           .withColumn("l_quantity", F.col("l_quantity") + 1000.0))
    n_upsert = src.count()
    out["parent_rows"] = df.count()
    out["upsert_rows"] = n_upsert
    _, out["upsert_s"] = timed(
        lambda: upsert_iceberg(spark, src.coalesce(2), path,
                               key=["l_orderkey"]))

    # decode-once proof at this scale: plan the upsert commit's units
    # with parquet opens counted — each delete file read ONCE for the
    # whole commit, not once per parent file (VERDICT r12 #2)
    meta = read_metadata(path)
    snap = _seq_snapshots(meta)[-1]
    cur = meta.get("current-schema-id", 0)
    fields = next(s for s in meta["schemas"]
                  if s.get("schema-id", 0) == cur)["fields"]
    opened: list = []
    real_pf, real_rt = isrc.pq.ParquetFile, isrc.pq.read_table
    isrc.pq.ParquetFile = lambda p, *a, **k: (
        opened.append(str(p)), real_pf(p, *a, **k))[1]
    isrc.pq.read_table = lambda p, *a, **k: (
        opened.append(str(p)), real_rt(p, *a, **k))[1]
    try:
        (units, _emits), out["plan_units_s"] = timed(
            lambda: _changelog_units(path, snap, meta, fields))
    finally:
        isrc.pq.ParquetFile, isrc.pq.read_table = real_pf, real_rt
    eq_units = [u for u in units if u[0] == "eqdel"]
    out["eqdel_units"] = len(eq_units)
    out["plan_parquet_opens"] = len(opened)
    out["units_decoded"] = all(
        u[3].get("decoded") for u in eq_units) if eq_units else None

    # the stream's starting_snapshot_id is INCLUSIVE; the batch twin of
    # the same range is the full history (append + upsert commits)
    bdf, out["batch_plan_s"] = timed(
        lambda: read_iceberg_changes(spark, path))
    n_batch, out["batch_count_s"] = timed(bdf.count)

    drain_dir = tempfile.mkdtemp(prefix="mor_drain_")
    rows_out = os.path.join(drain_dir, "rows")

    def drain():
        def handle(batch, bid):
            batch.write.mode("overwrite").parquet(
                os.path.join(rows_out, f"batch={bid}"))

        q = (stream_iceberg(spark, path, starting_snapshot_id=first,
                            changelog=True)
             .writeStream.foreachBatch(handle)
             .option("checkpointLocation",
                     os.path.join(drain_dir, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    _, out["stream_drain_s"] = timed(drain)
    n_stream = spark.read.parquet(rows_out).count()
    assert n_stream == n_batch, f"parity broke: {n_stream} != {n_batch}"
    out["change_rows"] = n_batch
    out["stream_rows_per_s"] = round(n_batch / out["stream_drain_s"])
    shutil.rmtree(drain_dir, ignore_errors=True)
    return out


def iceberg_backfill(spark, df) -> dict:
    """Hybrid backfill (the r13 ``streaming.backfill`` API): bulk
    initial state through the JVM batch reader + Python-DataSource
    tail, vs the all-stream drain of the same table. The backfill wall
    must track the BATCH read's wall (the tail is the only data
    crossing the Arrow boundary), closing VERDICT r12 missing #2 /
    next-round #4."""
    import tempfile

    from monday_etl_spark.iceberg_source import stream_iceberg
    from monday_etl_spark.streaming.backfill import backfill_iceberg

    out: dict = {"scenario": "iceberg_backfill"}
    path = os.path.join(ROOT, "iceberg_backfill")
    create_iceberg_table(
        path, [("l_orderkey", "long"), ("l_quantity", "double")])
    append_iceberg(spark, df.repartition(8), path)
    first = read_metadata(path)["current-snapshot-id"]

    batch_df, tail, _sid = backfill_iceberg(spark, path)
    # the incremental tail lands AFTER the boundary was pinned
    append_iceberg(
        spark, df.filter(F.col("l_orderkey") % 128 == 3).coalesce(1),
        path)

    def drain(stream) -> tuple[int, float]:
        d = tempfile.mkdtemp(prefix="bf_drain_")
        rows_out = os.path.join(d, "rows")

        def handle(batch, bid):
            batch.write.mode("overwrite").parquet(
                os.path.join(rows_out, f"batch={bid}"))

        def run():
            q = (stream.writeStream.foreachBatch(handle)
                 .option("checkpointLocation", os.path.join(d, "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()

        _, s = timed(run)
        n = (spark.read.parquet(rows_out).count()
             if os.path.exists(rows_out) else 0)
        shutil.rmtree(d, ignore_errors=True)
        return n, s

    n_snap, out["batch_half_s"] = timed(batch_df.count)
    out["snapshot_rows"] = n_snap
    n_tail, out["tail_drain_s"] = drain(tail)
    out["tail_rows"] = n_tail
    out["backfill_total_s"] = round(
        out["batch_half_s"] + out["tail_drain_s"], 3)
    n_all, out["allstream_drain_s"] = drain(
        stream_iceberg(spark, path, starting_snapshot_id=first))
    assert n_snap + n_tail == n_all, (n_snap, n_tail, n_all)
    out["allstream_rows"] = n_all
    return out


def main() -> int:
    shutil.rmtree(ROOT, ignore_errors=True)
    os.makedirs(ROOT)
    spark = get_spark("changelog-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    df = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").cast("long"),
        F.col("l_quantity").cast("double"),
    )
    for n in (20, 200):
        print(json.dumps(delta_commit_scaling(spark, df, n)), flush=True)
    # the 200-commit table doubles as the drain-loop backlog: 10
    # bounded windows of 20 vs the one-shot read above
    print(json.dumps(delta_drain_loop(
        spark, os.path.join(ROOT, "delta_200"), 200, 20)), flush=True)
    for n in (20, 200):
        print(json.dumps(iceberg_commit_scaling(spark, df, n)),
              flush=True)
    print(json.dumps(iceberg_gate_both_sides(spark, df)), flush=True)
    print(json.dumps(iceberg_stream_mor(spark, df)), flush=True)
    print(json.dumps(iceberg_backfill(spark, df)), flush=True)
    if os.environ.get("REHEARSE_DEEP", "") == "1":
        # the heavy r13 points: 10x retained log, 10x MoR rows —
        # run with REHEARSE_DEEP=1 (several extra minutes)
        print(json.dumps(delta_drain_loop_deep(spark, df)), flush=True)
        print(json.dumps(iceberg_stream_mor(spark, df, scale=10)),
              flush=True)
    spark.stop()
    shutil.rmtree(ROOT, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
