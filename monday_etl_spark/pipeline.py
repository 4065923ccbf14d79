"""End-to-end daily ETL pipeline — the Spark-first rebuild of the reference's
``run_daily_etl`` (monday_etl_automated.py:693-754, E-1 in SURVEY.md §3).

Stage mapping:
  reference                      | here
  -------------------------------+------------------------------------------
  DDL create-if-not-exists       | implicit: parquet dirs + partitionBy
  4 GraphQL extracts (row loops) | MondayConnector fetch -> nested DF, serial
  transform (list[dict] loops)   | normalize.extract_* (one SQL text a field)
  load x5 (truncate + append)    | temporal.dual_write (idempotent), the five
                                 | tables loaded concurrently, one file per
                                 | table and target for a board's size
  compare_with_previous_day      | temporal.compare_with_previous_day over
                                 | the two newest day partitions, history
                                 | read with the schema just written
  send_notification              | returned stats dict (transport-agnostic)

The IR between stages is a lazy DataFrame (Catalyst logical plan) instead of
driver-memory lists — extraction/transform/write all execute on executors;
only the final 1-row stats reach the driver.

Boards are fetched one after another on the calling thread, in a fixed
order: a transport is not assumed thread-safe, and a retrying one may
depend on call order. The plans are built there too. Only the loads run
concurrently, one thread per table, each carrying the caller's job group,
description and job tags; a load is two short jobs plus their driver
commits, so overlapping them keeps the cores busy during each commit.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .quality import QualityGate, gated_dual_write
from .normalize import (
    extract_personnel_costs,
    extract_projects,
    extract_subitems,
    extract_supplier_costs,
    extract_travel_costs,
)
from .source_graphql import MondayConnector, fetch_board_items
from .temporal import compare_with_previous_day, dual_write, read_historical


@dataclass
class BoardConfig:
    """O-4 board multiplexing (ref: BOARDS dict, monday_etl_automated.py:28-33)."""

    projects: str = "projects-board"
    personnel: str = "personnel-board"
    travel: str = "travel-board"
    supplier: str = "supplier-board"


def run_daily_etl(
    spark: SparkSession,
    connector: MondayConnector,
    base_path: str,
    run_date: str,
    run_ts: str,
    boards: BoardConfig | None = None,
    gate: QualityGate | None = None,
    gate_measures: dict[str, str] | None = None,
) -> dict:
    """Extract → normalize → dual-write all 5 tables → day-over-day stats.

    With ``gate`` set, each table's write goes through the quality-gated
    path (quality.py): metrics observe on the historical write and the
    serving snapshot is only promoted when thresholds hold.
    ``gate_measures`` maps table name → coverage measure column.

    The five loads run concurrently and each table is gated and promoted
    on its own, so tables after a failing one are loaded too. Once every
    load has finished, the error of the first failing table in the fixed
    order (projects, project_subitems, personnel_costs, travel_costs,
    supplier_costs) is raised — a ``QualityGateViolation`` with that table
    quarantined when gated — and no day-over-day stats are computed."""
    boards = boards or BoardConfig()
    gate_measures = gate_measures or {}

    proj_items = fetch_board_items(spark, connector, boards.projects)
    tables: dict[str, DataFrame] = {
        "projects": extract_projects(proj_items, run_date, run_ts),
        "project_subitems": extract_subitems(proj_items, run_date, run_ts),
        "personnel_costs": extract_personnel_costs(
            fetch_board_items(spark, connector, boards.personnel), run_date, run_ts
        ),
        "travel_costs": extract_travel_costs(
            fetch_board_items(spark, connector, boards.travel), run_date, run_ts
        ),
        "supplier_costs": extract_supplier_costs(
            fetch_board_items(spark, connector, boards.supplier), run_date, run_ts
        ),
    }

    def load(name: str, df: DataFrame) -> dict:
        # O-27 as df.observe: run stats piggyback on the write pass instead
        # of a separate count scan (ref keeps driver-side fold stats,
        # monday_etl_automated.py:326-328; SURVEY §2.4 suggests observe)
        if gate is not None:
            return gated_dual_write(df, base_path, name, gate, run_date,
                                    measure_col=gate_measures.get(name))
        obs = Observation(f"stats_{name}_{run_date}")
        dual_write(df.observe(obs, F.count(F.lit(1)).alias("n")), base_path, name)
        return {"n_rows": obs.get["n"]}

    # each target is wrapped here, on the calling thread, so it gets its own
    # copy of the caller's local properties and tags
    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        loads = {name: pool.submit(inheritable_thread_target(spark)(load), name, df)
                 for name, df in tables.items()}
    metrics = {name: fut.result() for name, fut in loads.items()}

    stats: dict = {"run_date": run_date,
                   "tables": {name: m["n_rows"] for name, m in metrics.items()}}
    if gate is not None:
        stats["quality"] = metrics

    dod = compare_with_previous_day(
        read_historical(spark, base_path, "project_subitems",
                        tables["project_subitems"].schema),
        "subitem_id",
        "revenue_amount",
    ).first()
    stats["day_over_day"] = dod.asDict() if dod is not None else None
    return stats
