#!/usr/bin/env python
"""Measure the Iceberg bridge paths at sf0.1 vs sf1 (10x data): export,
full read, bounds-pruned read, append, and merge-on-read with position +
equality deletes; also the house write of the base table and its parquet
bytes (the session's codec shows there). One fresh table per scale under
.scratch/; prints one JSON line per scale. Usage: python tools/iceberg_scale_rehearsal.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from monday_etl_spark.avro_ocf import write_ocf  # noqa: E402
from monday_etl_spark.iceberg_export import (  # noqa: E402
    _MANIFEST_ENTRY,
    _MANIFEST_FILE,
    export_iceberg,
)
from monday_etl_spark.iceberg_import import (  # noqa: E402
    append_iceberg,
    iceberg_files_where,
    read_iceberg_table,
    read_iceberg_where,
    read_metadata,
)
from monday_etl_spark.io import load_table  # noqa: E402
from monday_etl_spark.session import get_spark  # noqa: E402
from monday_etl_spark.tableformat import write_versioned  # noqa: E402

# every path this tool writes is inside its own checkout, so a second
# checkout (the other side of an A/B) never touches this one's tables
CHECKOUT = Path(__file__).resolve().parents[1]
SCALES = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", str(CHECKOUT / ".scratch" / "sf1")),
]
ROOT = str(CHECKOUT / ".scratch" / "iceberg_rehearsal")


def timed(fn):
    t0 = time.monotonic()
    out = fn()
    return out, round(time.monotonic() - t0, 3)


def add_mor_snapshot(spark, path: str) -> None:
    """Hand-wire a delete snapshot over the exported table: an equality
    delete hitting ~1/64 of keys and a position delete hitting the first
    1000 rows of every base data file — the Flink-CDC shape at scale."""
    meta = read_metadata(path)
    schema = next(s for s in meta["schemas"]
                  if s.get("schema-id", 0) == meta.get("current-schema-id", 0))
    snap = next(s for s in meta["snapshots"]
                if s["snapshot-id"] == meta["current-snapshot-id"])
    from monday_etl_spark.avro_ocf import read_ocf
    from monday_etl_spark.iceberg_import import _from_uri

    _, _, manifests = read_ocf(_from_uri(snap["manifest-list"]))
    data_dir = os.path.join(path, "mor")
    os.makedirs(data_dir, exist_ok=True)

    # equality delete: every key ≡ 26 (mod 64), written distributed then
    # consolidated (the delete side is small by design)
    keys = (read_iceberg_table(spark, path)
            .filter(F.col("l_orderkey") % 64 == 26)
            .select("l_orderkey").distinct().toPandas())
    ed = os.path.join(data_dir, "eq1.parquet")
    pq.write_table(pa.Table.from_arrays(
        [pa.array(keys["l_orderkey"], pa.int64())],
        schema=pa.schema([pa.field("l_orderkey", pa.int64())]),
    ), ed)

    # position delete: rows 0..999 of each base data file
    from monday_etl_spark.iceberg_import import _decode_manifest

    base_files = [
        t[1] for m in manifests
        for t in _decode_manifest((m["manifest_path"],
                                   m.get("sequence_number", 1)))
        if t[0] in (0, 1)
    ]
    pdel = os.path.join(data_dir, "pos1.parquet")
    paths, poss = [], []
    for fp in base_files:
        paths.extend([fp] * 1000)
        poss.extend(range(1000))
    pq.write_table(pa.table({
        "file_path": pa.array(paths, pa.string()),
        "pos": pa.array(poss, pa.int64()),
    }), pdel)

    seq = int(meta.get("last-sequence-number", 1)) + 1
    sid = snap["snapshot-id"] + 7

    def man(name, absf, nrec, content, eq=None):
        p = os.path.join(path, "metadata", name)
        write_ocf(p, _MANIFEST_ENTRY, [{
            "status": 1, "snapshot_id": sid, "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": content, "file_path": "file://" + absf,
                "file_format": "PARQUET", "partition": {},
                "record_count": nrec,
                "file_size_in_bytes": os.path.getsize(absf),
                "lower_bounds": None, "upper_bounds": None,
                "equality_ids": eq,
            },
        }], metadata={"schema": json.dumps(schema), "schema-id": "0",
                      "partition-spec": "[]", "partition-spec-id": "0",
                      "format-version": "2", "content": "deletes"})
        return p

    m_ed = man("mor-ed.avro", ed, len(keys), 2, eq=[1])
    m_pd = man("mor-pd.avro", pdel, len(poss), 1)
    items = ([(m["manifest_path"].replace("file://", ""), 0,
               m.get("sequence_number", 1)) for m in manifests]
             + [(m_pd, 1, seq), (m_ed, 1, seq)])
    lst = os.path.join(path, "metadata", f"snap-{sid}-1-mor.avro")
    write_ocf(lst, _MANIFEST_FILE, [
        {"manifest_path": "file://" + mp, "manifest_length":
            os.path.getsize(mp), "partition_spec_id": 0, "content": c,
         "sequence_number": s, "min_sequence_number": s,
         "added_snapshot_id": sid, "added_files_count": 1,
         "existing_files_count": 0, "deleted_files_count": 0,
         "added_rows_count": 1, "existing_rows_count": 0,
         "deleted_rows_count": 0, "partitions": None}
        for mp, c, s in items
    ], metadata={"format-version": "2", "snapshot-id": str(sid),
                 "sequence-number": str(seq),
                 "parent-snapshot-id": str(snap["snapshot-id"])})
    versions = sorted(int(os.path.basename(f)[1:].split(".")[0])
                      for f in Path(path, "metadata").glob(
                          "v*.metadata.json"))
    newmeta = json.loads(json.dumps(meta))
    newmeta["last-sequence-number"] = seq
    newmeta["current-snapshot-id"] = sid
    newmeta["snapshots"].append({
        "snapshot-id": sid, "sequence-number": seq,
        "timestamp-ms": snap.get("timestamp-ms", 0) + 1,
        "manifest-list": "file://" + lst, "schema-id": 0,
        "summary": {"operation": "overwrite"}})
    newmeta.setdefault("snapshot-log", []).append(
        {"snapshot-id": sid,
         "timestamp-ms": snap.get("timestamp-ms", 0) + 1})
    newmeta["refs"]["main"] = {"snapshot-id": sid, "type": "branch"}
    nv = versions[-1] + 1
    with open(os.path.join(path, "metadata",
                           f"v{nv}.metadata.json"), "w") as fh:
        json.dump(newmeta, fh)
    with open(os.path.join(path, "metadata", "version-hint.text"),
              "w") as fh:
        fh.write(str(nv))


def main() -> None:
    shutil.rmtree(ROOT, ignore_errors=True)
    for label, sf_dir in SCALES:
        spark = get_spark(f"iceberg-rehearsal-{label}")
        spark.sparkContext.setLogLevel("ERROR")
        path = os.path.join(ROOT, label, "lineitem_ice")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
        )
        base = li.filter(F.col("l_orderkey") % 4 == 1)
        _, t_write = timed(lambda: write_versioned(
            base, path, key="l_orderkey", n_buckets=16,
            stats_cols=["l_orderkey", "l_extendedprice"]))
        base_bytes = sum(f.stat().st_size
                         for f in Path(path).rglob("*.parquet"))
        _, t_export = timed(lambda: export_iceberg(path))

        def full_read():
            return (read_iceberg_table(spark, path)
                    .agg(F.count(F.lit(1)), F.sum("l_quantity"))
                    .collect())

        _, t_read1 = timed(full_read)
        rows, t_read = timed(full_read)  # best-of-2 steady

        more = (li.filter(F.col("l_orderkey") % 16 == 2)
                .repartitionByRange(8, "l_orderkey"))
        _, t_append = timed(lambda: append_iceberg(spark, more, path))

        lo = li.agg(F.min("l_orderkey")).collect()[0][0]

        def pruned():
            return (read_iceberg_where(
                spark, path, "l_orderkey", int(lo), int(lo) + 1000)
                .agg(F.count(F.lit(1))).collect())

        _, t_where1 = timed(pruned)
        _, t_where = timed(pruned)
        keep, total = iceberg_files_where(
            spark, path, "l_orderkey", int(lo), int(lo) + 1000)

        add_mor_snapshot(spark, path)

        def mor_read():
            return (read_iceberg_table(spark, path)
                    .agg(F.count(F.lit(1)), F.sum("l_quantity"))
                    .collect())

        _, t_mor1 = timed(mor_read)
        mor_rows, t_mor = timed(mor_read)

        # DML at scale (r09): position-delete write over a key range,
        # CDC-shaped upsert (one global-eq-delete + append snapshot),
        # then compaction of the accumulated delete files
        from monday_etl_spark.iceberg_import import (
            compact_iceberg,
            delete_iceberg_where,
            upsert_iceberg,
        )

        _, t_delete = timed(lambda: delete_iceberg_where(
            spark, path, "l_orderkey", int(lo), int(lo) + 5000))
        up = (li.filter(F.col("l_orderkey") % 64 == 3)
              .select("l_orderkey", "l_linenumber", "l_quantity",
                      "l_extendedprice")
              .withColumn("l_quantity", F.col("l_quantity") + F.lit(1.0)))
        _, t_upsert = timed(lambda: upsert_iceberg(
            spark, up, path, key=["l_orderkey", "l_linenumber"]))
        _, t_compact = timed(lambda: compact_iceberg(spark, path))

        def post_read():
            return (read_iceberg_table(spark, path)
                    .agg(F.count(F.lit(1))).collect())

        _, t_post1 = timed(post_read)
        post_rows, t_post = timed(post_read)

        print(json.dumps({
            "scale": label,
            "base_rows": rows[0][0], "mor_rows": mor_rows[0][0],
            "post_dml_rows": post_rows[0][0],
            "write_s": t_write,
            "base_parquet_bytes": base_bytes,
            "export_s": t_export,
            "read_s": min(t_read1, t_read),
            "append_s": t_append,
            "pruned_read_s": min(t_where1, t_where),
            "pruned_files": f"{len(keep)}/{total}",
            "mor_read_s": min(t_mor1, t_mor),
            "delete_where_s": t_delete,
            "upsert_s": t_upsert,
            "compact_s": t_compact,
            "post_dml_read_s": min(t_post1, t_post),
        }), flush=True)
        spark.stop()


if __name__ == "__main__":
    main()
