"""Quality-gated write path — observe-collected metrics decide whether a run
is allowed to publish (TODO #9; upgrades the reference's after-the-fact
alerting, advanced_monitoring.py:377-407, into a gate that blocks bad data).

Flow (one data scan total):

1. the HISTORICAL write carries ``df.observe`` aggregates — row count,
   measure coverage, per-column null counts piggyback on the write pass;
2. gates evaluate on the driver from the observed 1-row metrics;
3. only if every gate passes is the serving SNAPSHOT promoted — by a
   partition-pruned read of the day just written, not a recompute of the
   upstream plan (at 100 TB the extract+normalize lineage is the expensive
   part; the promote is a copy of one day partition);
4. on violation the day stays quarantined in historical (idempotent partition
   overwrite makes the post-fix rerun clean) and ``QualityGateViolation``
   carries the metrics that failed.

The reference computes its health report with separate post-load queries and
only ever alerts; here the same thresholds (coverage floor, row-count floor,
null ceilings) run inside the write with zero extra passes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .io import write_historical, write_snapshot


@dataclass(frozen=True)
class QualityGate:
    """Publish thresholds. ``None`` disables a check.

    coverage = % of rows with ``measure_col`` non-null and non-zero (the
    reference's completeness metric: '531 of 805 with revenue').
    """

    min_rows: int | None = 1
    min_coverage_pct: float | None = None
    max_null_pct: dict[str, float] = field(default_factory=dict)


class QualityGateViolation(RuntimeError):
    def __init__(self, table: str, violations: list[str], metrics: dict):
        super().__init__(f"{table}: " + "; ".join(violations))
        self.table = table
        self.violations = violations
        self.metrics = metrics


def _observed_aggs(gate: QualityGate, measure_col: str | None):
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if measure_col is not None:
        aggs.append(
            F.count(
                F.when(F.col(measure_col).isNotNull() & (F.col(measure_col) != 0), 1)
            ).alias("n_covered")
        )
    for col in gate.max_null_pct:
        aggs.append(F.count(F.when(F.col(col).isNull(), 1)).alias(f"n_null_{col}"))
    return aggs


def evaluate_gate(gate: QualityGate, metrics: dict, measure_col: str | None
                  ) -> list[str]:
    """Violation messages ([] = publish allowed). Empty tables fail the
    row floor before any percentage math."""
    out: list[str] = []
    n = metrics["n_rows"]
    if gate.min_rows is not None and n < gate.min_rows:
        out.append(f"row count {n} below floor {gate.min_rows}")
    if gate.min_coverage_pct is not None and measure_col is not None and n > 0:
        pct = 100.0 * metrics["n_covered"] / n
        metrics["coverage_pct"] = pct
        if pct < gate.min_coverage_pct:
            out.append(
                f"coverage {pct:.1f}% below floor {gate.min_coverage_pct:.0f}%"
            )
    for col, ceiling in gate.max_null_pct.items():
        if n > 0:
            pct = 100.0 * metrics[f"n_null_{col}"] / n
            if pct > ceiling:
                out.append(f"{col} null rate {pct:.1f}% above ceiling {ceiling:.0f}%")
    return out


def gated_dual_write(df: DataFrame, base_path: str, table: str,
                     gate: QualityGate, run_date: str,
                     measure_col: str | None = None) -> dict:
    """Dual-write with the snapshot gated on observed quality. Returns the
    metrics dict on success; raises QualityGateViolation (historical keeps
    the quarantined day, snapshot untouched) on failure."""
    spark = df.sparkSession
    obs = Observation(f"gate_{table}_{run_date}")
    hist_path = os.path.join(base_path, f"{table}_historical")
    write_historical(df.observe(obs, *_observed_aggs(gate, measure_col)), hist_path)

    metrics = dict(obs.get)
    violations = evaluate_gate(gate, metrics, measure_col)
    if violations:
        raise QualityGateViolation(table, violations, metrics)

    _promote_snapshot(spark, hist_path, os.path.join(base_path, table),
                      run_date, df.schema)
    return metrics


def _promote_snapshot(spark: SparkSession, hist_path: str, snap_path: str,
                      run_date: str, schema: StructType) -> None:
    """Copy the just-written day partition into the serving snapshot.
    Partition pruning keeps the read to one day; reading with the writer's
    schema skips the parquet footer-inference job, and selecting its
    column order restores the layout (partitionBy moves the partition
    column last on disk)."""
    day = spark.read.schema(schema).parquet(hist_path).filter(
        F.col("extraction_date") == F.lit(run_date).cast("date")
    ).select(*schema.names)
    write_snapshot(day, snap_path)
