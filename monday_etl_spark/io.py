"""Sources and sinks.

Read side: the driver test tables (TESTDATA.md) are plain parquet files; we read
them lazily so Catalyst can push filters/projections into the scan (check with
``.explain``: ``PushedFilters`` / ``ReadSchema`` must reflect the query).

Write side: the reference loads every table twice — a WRITE_TRUNCATE "current
snapshot" and a WRITE_APPEND day-partitioned historical table
(monday_etl_automated.py:571-590). We reproduce that as two DataFrameWriter
actions, with one deliberate semantic fix: the historical write uses *dynamic
partition overwrite* on ``extraction_date`` instead of blind append, making
re-runs of the same day idempotent (the reference double-appends — observed
184 = 2x92 rows in its own logs; SURVEY.md §2.10).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp column across testdata vintages.

    Older testdata stored ``ts`` as raw nanoseconds (int64, read as LongType
    under ``spark.sql.legacy.parquet.nanosAsLong``); current testdata stores
    ``timestamp[us]``, which Spark reads as TIMESTAMP_NTZ directly. Both
    vintages normalize to TIMESTAMP (instant semantics): the session timezone
    is pinned UTC (session.py), so the NTZ wall clock IS the UTC instant and
    the cast is lossless. Long input converts with integer ``div`` to keep the
    arithmetic in long space (a double division of ~1.7e18 nanos would lose
    low bits above 2^53).
    """
    if col not in df.columns:
        return df
    dtype = df.schema[col].dataType
    if isinstance(dtype, T.LongType):
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    elif isinstance(dtype, T.TimestampNTZType):
        df = df.withColumn(col, F.col(col).cast(T.TimestampType()))
    return df


def assert_known_events_vintage(sf_dir: str) -> None:
    """Fail loudly if the events parquet stores ``ts`` in a physical type
    ``normalize_event_ts`` does not handle (known vintages: int64 raw nanos,
    or any parquet timestamp unit). A silent testdata regeneration to a new
    type broke an entire round once (VERDICT r2); this guard names the fix
    site instead of letting 11 queries fail with analysis errors."""
    import pyarrow.parquet as pq

    path = table_path(sf_dir, name="events")
    if not os.path.exists(path):
        return
    arrow_type = pq.read_schema(path).field("ts").type
    import pyarrow as pa

    if not (pa.types.is_timestamp(arrow_type) or pa.types.is_int64(arrow_type)):
        raise AssertionError(
            f"events.ts at {path} has physical type {arrow_type}; "
            "monday_etl_spark/io.py:normalize_event_ts only handles int64 "
            "(raw nanos) and timestamp[*] — teach it the new vintage."
        )


# resolved schema per (dir, table), keyed by a stat fingerprint so a
# regenerated table directory can never serve a stale schema (the r07
# audit's invalidation gap). Schemas come from the parquet FOOTER via
# pyarrow — driver-side metadata, zero Spark jobs — validated against the
# catalog's declared sf-table schemas (catalog.SF_TABLE_DDL) so generator
# drift fails loudly instead of surfacing NULL columns. Without this
# EVERY load_table pays a footer schema-inference Spark job — the
# per-read planning tax that silently defeated bench plan reuse for most
# of r07.
_SCHEMA_CACHE: dict[tuple[str, str], tuple[tuple, "object"]] = {}


def _schema_source(path: str) -> str:
    """The parquet file whose footer speaks for ``path`` (a Spark-written
    table is a directory of part files sharing one schema)."""
    if not os.path.isdir(path):
        return path
    for f in sorted(os.listdir(path)):
        if f.endswith(".parquet"):
            return os.path.join(path, f)
    raise FileNotFoundError(f"{path}: no parquet files")


def _fingerprint(path: str) -> tuple:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size)


def _resolve_schema(path: str, name: str):
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from .catalog import assert_sf_schema

    schema = from_arrow_schema(pq.read_schema(_schema_source(path)))
    assert_sf_schema(name, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .session import ensure_session_confs

    ensure_session_confs(spark)
    path = table_path(sf_dir, name)
    key = (sf_dir, name)
    fp = _fingerprint(path)
    cached = _SCHEMA_CACHE.get(key)
    if cached is None or cached[0] != fp:
        _SCHEMA_CACHE[key] = (fp, _resolve_schema(path, name))
    df = spark.read.schema(_SCHEMA_CACHE[key][1]).parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def write_snapshot(df: DataFrame, path: str) -> None:
    """Current-snapshot sink: full overwrite (reference WRITE_TRUNCATE,
    monday_etl_automated.py:573-580)."""
    df.write.mode("overwrite").parquet(path)


def write_historical(df: DataFrame, path: str) -> None:
    """Historical sink, partitioned by extraction_date.

    With ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set in
    session.py) ``mode("overwrite")`` replaces only the partitions present in
    ``df`` — i.e. re-running a day replaces that day instead of double-appending
    (idempotency fix over reference monday_etl_automated.py:582-590).
    Day-partitioning doubles as partition pruning for every
    ``extraction_date >= X`` monitoring query (SURVEY.md §2 O-14).
    """
    df.write.mode("overwrite").partitionBy("extraction_date").parquet(path)
