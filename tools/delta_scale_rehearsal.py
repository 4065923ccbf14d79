#!/usr/bin/env python
"""Measure the r10 bridge surfaces at sf0.1 vs sf1 (10x data / 10x file
count): the executor-side DV DELETE, the post-delete read, the change
feed, the v2/sidecar checkpoint write + post-clean re-read, Delta
compaction and upsert, the transform-routed Iceberg append (bucket[4] +
days), and the WAP branch publish. One fresh table per scale under
.scratch/; prints one JSON line per scale. Usage: python
tools/delta_scale_rehearsal.py
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

from monday_etl_spark.delta_cdf import read_delta_changes  # noqa: E402
from monday_etl_spark.delta_import import (  # noqa: E402
    _snapshot_state,
    compact_delta,
    delete_delta_where,
    read_delta,
    upsert_delta,
    write_checkpoint,
)
from monday_etl_spark.iceberg_import import (  # noqa: E402
    append_iceberg,
    create_iceberg_branch,
    create_iceberg_table,
    fast_forward_iceberg,
    read_iceberg_table,
)
from monday_etl_spark.io import load_table  # noqa: E402
from monday_etl_spark.session import get_spark  # noqa: E402

# every path this tool writes is inside its own checkout, so a second
# checkout (the other side of an A/B) never touches this one's tables
CHECKOUT = Path(__file__).resolve().parents[1]
SCALES = [
    ("sf0.1", "/root/testdata/sf0.1", 24),
    ("sf1", str(CHECKOUT / ".scratch" / "sf1"), 240),
]
ROOT = str(CHECKOUT / ".scratch" / "delta_rehearsal")

_SCHEMA_JSON = json.dumps({"type": "struct", "fields": [
    {"name": "l_orderkey", "type": "long", "nullable": True,
     "metadata": {}},
    {"name": "l_quantity", "type": "double", "nullable": True,
     "metadata": {}},
    {"name": "l_extendedprice", "type": "double", "nullable": True,
     "metadata": {}},
]})


def timed(fn):
    t0 = time.monotonic()
    out = fn()
    return out, round(time.monotonic() - t0, 3)


def build_delta(spark, sf_dir: str, path: str, n_files: int) -> int:
    """A DV+CDF-enabled Delta table over lineitem, laid out as n_files
    data files (file count scales 10x with the data, like a real ingest
    history would)."""
    df = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("long"),
        F.col("l_quantity").cast("double"),
        F.col("l_extendedprice").cast("double"),
    )
    stage = os.path.join(path, "_stage")
    df.repartition(n_files).write.parquet(stage)
    os.makedirs(os.path.join(path, "data"))
    adds = []
    for i, f in enumerate(sorted(
            f for f in os.listdir(stage) if f.endswith(".parquet"))):
        rel = f"data/f{i}.parquet"
        os.replace(os.path.join(stage, f), os.path.join(path, rel))
        adds.append({"add": {
            "path": rel, "partitionValues": {},
            "size": os.path.getsize(os.path.join(path, rel)),
            "modificationTime": 0, "dataChange": True}})
    shutil.rmtree(stage)
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors",
                                         "v2Checkpoint"],
                      "writerFeatures": ["deletionVectors",
                                         "changeDataFeed",
                                         "v2Checkpoint"]}},
        {"metaData": {"id": "rehearsal",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": _SCHEMA_JSON,
                      "partitionColumns": [],
                      "configuration": {
                          "delta.enableChangeDataFeed": "true"}}},
    ] + adds
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    return len(adds)


def main() -> int:
    shutil.rmtree(ROOT, ignore_errors=True)
    for label, sf_dir, n_files in SCALES:
        spark = get_spark(f"delta-rehearsal-{label}")
        spark.sparkContext.setLogLevel("ERROR")
        out: dict = {"scale": label, "n_files": n_files}

        path = os.path.join(ROOT, f"delta_{label}")
        os.makedirs(path)
        _, out["build_s"] = timed(
            lambda: build_delta(spark, sf_dir, path, n_files))

        # executor-side DV DELETE matching ~20% of rows (quantity 1-50)
        _, out["dv_delete_s"] = timed(
            lambda: delete_delta_where(spark, path, "l_quantity", 0.0, 10.0))
        n, out["post_delete_read_s"] = timed(
            lambda: read_delta(spark, path).count())
        out["rows_after_delete"] = n

        # the change feed over the delete commit (served from cdc files)
        c, out["cdf_read_s"] = timed(
            lambda: read_delta_changes(spark, path, 1, 1).count())
        out["cdf_rows"] = c

        # v2/sidecar checkpoint write, then re-read THROUGH it after
        # log-clean (replay has no JSON commits to lean on)
        _, out["v2_ckpt_write_s"] = timed(
            lambda: write_checkpoint(spark, path, clean_commits=True))
        n2, out["post_ckpt_read_s"] = timed(
            lambda: read_delta(spark, path).count())
        assert n2 == n, f"checkpoint replay lost rows: {n2} != {n}"

        # compaction of the DV-carrying files, a 1/64-key upsert (every
        # file holds such keys, so it rewrites the whole table), then a
        # second compaction of what the upsert wrote
        _, out["compact_s"] = timed(lambda: compact_delta(spark, path))
        up = (load_table(spark, sf_dir, "lineitem")
              .filter(F.col("l_orderkey") % 64 == 3)
              .dropDuplicates(["l_orderkey"])
              .select(F.col("l_orderkey").cast("long"),
                      (F.col("l_quantity") + 1.0).cast("double")
                      .alias("l_quantity"),
                      F.col("l_extendedprice").cast("double")))
        _, out["upsert_s"] = timed(
            lambda: upsert_delta(spark, up, path, ["l_orderkey"]))
        _, out["compact_after_upsert_s"] = timed(
            lambda: compact_delta(spark, path))
        out["files_after"] = len(
            _snapshot_state(spark, path, None).live.materialize(
                allow_dv=True))
        n3, out["post_upsert_read_s"] = timed(
            lambda: read_delta(spark, path).count())
        out["rows_after_upsert"] = n3

        # transform-routed Iceberg append (bucket[4] + days) + WAP
        ice = os.path.join(ROOT, f"iceberg_{label}")
        create_iceberg_table(
            ice,
            [("o_orderkey", "long"), ("o_orderdate", "date"),
             ("o_totalprice", "double")],
            partition_by=[("o_orderdate", "day"),
                          ("o_orderkey", "bucket[4]")],
        )
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long"),
            F.col("o_orderdate").cast("date"),
            F.col("o_totalprice").cast("double"),
        )
        base = orders.filter(F.col("o_orderkey") % 4 == 1)
        _, out["transform_append_s"] = timed(
            lambda: append_iceberg(spark, base, ice))
        create_iceberg_branch(ice, "audit")
        staged = orders.filter(F.col("o_orderkey") % 4 == 2)
        _, out["wap_stage_s"] = timed(
            lambda: append_iceberg(spark, staged, ice, branch="audit"))
        _, out["wap_publish_s"] = timed(
            lambda: fast_forward_iceberg(ice, "audit"))
        ni, out["iceberg_read_s"] = timed(
            lambda: read_iceberg_table(spark, ice).count())
        out["iceberg_rows"] = ni

        print(json.dumps(out), flush=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
