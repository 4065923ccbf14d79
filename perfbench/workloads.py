"""The benchmark's two workloads. Each is a closed loop with one caller: a
*cycle* is one simulated day, and every operation in it is a call into the
package's public functions, timed the way a user pays for it (Python plan
construction included). Output checks run untimed between operations; a
mismatch marks the operation failed.

* ``DailyEtl`` — the paper's daily job: an ungated ``run_daily_etl`` day,
  a quality-gated same-day re-run into the same warehouse (which must add
  no history rows), the post-load health report, then the monitoring SQL
  and the data-prep tail from the query registry. No lakehouse table.
* ``LakehouseUpsert`` — ``orders`` kept in the house, Delta and Iceberg
  formats: bulk and point-fix upserts, pruned reads and compaction. No ETL
  path and no registry query.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from contextlib import ExitStack, contextmanager
from decimal import Decimal
from functools import reduce

import numpy as np
from pyspark.sql import functions as F

import gen
import spans


class Recorder:
    """Times operations and records which failed and why."""

    def __init__(self, tracer: spans.Tracer):
        self.tracer = tracer
        self.ops: list[dict] = []
        self.errors: list[str] = []
        self.checking = True

    def op(self, kind: str, step: str, name: str, fn):
        """Run ``fn`` as one timed operation under a span called ``name``.
        ``kind`` is read or write; ``step`` groups operations for the
        per-step report. An exception fails the operation, not the run."""
        rec = {"kind": kind, "step": step, "name": name, "ok": True}
        t = time.perf_counter()
        try:
            with self.tracer.span(name, op=True):
                out = fn()
        except Exception as ex:  # noqa: BLE001 - a failed op is a result
            out = None
            self.fail(rec, f"{name} raised {type(ex).__name__}: {ex}")
        rec["s"] = time.perf_counter() - t
        self.ops.append(rec)
        return out

    def fail(self, rec: dict, msg: str) -> None:
        rec["ok"] = False
        self.errors.append(msg[:400])

    def check(self, ok: bool, msg: str) -> None:
        """Mark the latest operation failed unless ``ok``."""
        if self.checking and not ok:
            self.fail(self.ops[-1], "check failed: " + msg)


def tree_files(roots: list[str]) -> dict[str, int]:
    """Every regular file under ``roots`` with its size."""
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


@contextmanager
def patched(targets: list[tuple[object, str, str]], tracer: spans.Tracer):
    """Wrap module attributes in spans for the duration of the block;
    ``targets`` holds (module, attribute, span name)."""
    with ExitStack() as stack:
        for mod, attr, name in targets:
            orig = getattr(mod, attr)

            def wrapper(*a, __orig=orig, __name=name, **kw):
                with tracer.span(__name):
                    return __orig(*a, **kw)

            setattr(mod, attr, wrapper)
            stack.callback(setattr, mod, attr, orig)
        yield


def _money(col: str):
    return F.sum(F.col(col).cast("decimal(18,2)"))


# --------------------------------------------------------------------------
# registry queries
# --------------------------------------------------------------------------

# read-only monitoring queries (relational, aggregates) and the data-prep
# tail, by the layer each exercises; few, so that a run fits its budget
SQL_MIX = ("join_semi", "rollup_priority_status")
HEAVY_MIX = (
    ("extensions", "dedup_minhash_lsh"),
    ("streaming", "streaming_trending_topk"),
)


def oracle_row_counts(sf_dir: str, names: list[str]) -> dict[str, int]:
    """Row counts of the DuckDB oracles for ``names`` over ``sf_dir``."""
    import duckdb

    from monday_etl_spark.io import TABLES, table_path
    from monday_etl_spark.queries import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{table_path(sf_dir, t)}')")
        return {n: con.execute(f"SELECT count(*) FROM ({sql[n]})").fetchone()[0]
                for n in names}
    finally:
        con.close()


class RegistryMix:
    """The monitoring SQL mix and the data-prep tail over seeded sf tables,
    in a seeded order fixed for the run. Each query's row count must equal
    its DuckDB oracle's."""

    SF = 0.02

    def __init__(self, spark, tracer: spans.Tracer, work: str, seed: int):
        self.spark, self.tracer = spark, tracer
        self.sf_dir = os.path.join(work, "sf")
        gen.write_sf_tables(self.sf_dir, seed, self.SF)
        order = np.random.default_rng([seed, 5]).permutation(len(SQL_MIX))
        self.mix = [("queries", "sql", SQL_MIX[i]) for i in order]
        self.mix += [(layer, "heavy", q) for layer, q in HEAVY_MIX]
        self.expected = oracle_row_counts(self.sf_dir, [q for _, _, q in self.mix])

    def run(self, rec: Recorder) -> None:
        from monday_etl_spark.queries import REGISTRY

        for layer, step, name in self.mix:
            fn = REGISTRY[name].fn

            def query(fn=fn, layer=layer):
                if layer == "streaming":
                    # the call itself runs the stream to completion, so
                    # building and running are one span; its micro-batch
                    # jobs run under the stream's own job group
                    with self.tracer.span(f"{layer}.exec", streams=True):
                        df = fn(self.spark, self.sf_dir)
                        rows = df.collect()
                else:
                    with self.tracer.span(f"{layer}.build"):
                        df = fn(self.spark, self.sf_dir)
                    with self.tracer.span(f"{layer}.exec"):
                        rows = df.collect()
                self.tracer.add_phases(df)
                return len(rows)

            n = rec.op("read", step, f"{layer}.{name}", query)
            rec.check(n == self.expected[name],
                      f"{name}: {n} rows, oracle {self.expected[name]}")


# --------------------------------------------------------------------------
# daily_etl
# --------------------------------------------------------------------------


class DailyEtl:
    name = "daily_etl"
    # items per board: about 10x the reference's production run (92
    # projects, 805 subitems); a project has 0-16 subitems, 8 on average
    N_PROJECTS = 1000
    N_COSTS = 1000
    # an assumed transport failure rate, not a measured one: about two
    # failed calls in the 40 of one run_daily_etl, so the retry always runs
    FAIL_RATE = 0.05

    def __init__(self, spark, tracer: spans.Tracer, work: str, seed: int):
        from monday_etl_spark.quality import QualityGate
        from monday_etl_spark.source_graphql import MondayConnector, RetryPolicy

        self.spark, self.tracer, self.work = spark, tracer, work
        self.boards = gen.MondayBoards(seed, self.N_PROJECTS, self.N_COSTS)
        self.transport = gen.BoardTransport(self.boards, seed, self.FAIL_RATE)
        self.connector = MondayConnector(self.transport,
                                         RetryPolicy(backoff_seconds=0.0))
        self.gate = QualityGate(min_rows=1, min_coverage_pct=20.0)
        self.gate_measures = {"project_subitems": "revenue_amount"}
        self.registry = RegistryMix(spark, tracer, work, seed)
        self.base = os.path.join(work, "warehouse")
        self.prev_expected = None
        self.user_bytes = 0
        self.counts: dict[str, float] = {}

    def _date(self) -> str:
        return str(dt.date(2025, 6, 1) + dt.timedelta(days=self.boards.day))

    def _run(self, gated: bool) -> dict:
        from monday_etl_spark.pipeline import run_daily_etl

        d = self._date()
        kw = {"gate": self.gate, "gate_measures": self.gate_measures} if gated else {}
        return run_daily_etl(self.spark, self.connector, self.base, d, f"{d} 09:00:00",
                             **kw)

    def _history_rows(self) -> int:
        """Rows in today's partition of the five historical tables, summed
        from the parquet footers (no Spark job)."""
        import glob

        import pyarrow.parquet as pq

        files = glob.glob(os.path.join(self.base, "*_historical",
                                       f"extraction_date={self._date()}", "*.parquet"))
        return sum(pq.read_metadata(f).num_rows for f in files)

    def setup_once(self, k: int) -> None:
        """The daily job has no fixture beyond its connector: its tables
        are created by the first day, the warm-up cycle."""

    def roots(self) -> list[str]:
        return [self.base]

    def _check_dod(self, rec: Recorder, dod: dict | None, exp: dict) -> None:
        today = exp["tables"]["project_subitems"]
        prev = self.prev_expected and self.prev_expected["tables"]["project_subitems"]
        rec.check(dod is not None and dod["entities_today"] == today
                  and dod["entities_yesterday"] == prev
                  and abs(Decimal(str(dod["measure_today"])) - exp["revenue"])
                  < Decimal("0.01"),
                  f"day-over-day {dod} vs expected {today}/{prev}/{exp['revenue']}")

    def warm_up(self, rec: Recorder) -> None:
        """Day one, with every step a measured day has."""
        self.cycle(rec)

    def cycle(self, rec: Recorder) -> None:
        if self.prev_expected is not None:
            self.boards.advance()
        self.transport.refresh()
        exp = self.boards.expected()
        t = self.transport
        calls0 = (t.calls, t.pages_served, t.failures)
        with self._layer_spans():
            stats = rec.op("write", "etl_day", "pipeline.run_daily_etl",
                           lambda: self._run(False))
            rec.check(stats is not None and stats["tables"] == exp["tables"],
                      f"ungated counts {stats and stats['tables']} vs {exp['tables']}")
            if stats is not None:
                self._check_dod(rec, stats["day_over_day"], exp)
            self._gated_and_health(rec, exp)
        self.prev_expected = exp
        self.user_bytes += t.json_bytes()
        calls = (b - a for a, b in zip(calls0, (t.calls, t.pages_served, t.failures)))
        self.counts = dict(zip(("source_graphql.transport_calls", "source_graphql.pages",
                                "source_graphql.retries"), calls))
        self.registry.run(rec)

    def _gated_and_health(self, rec: Recorder, exp: dict) -> None:
        """The quality-gated same-day re-run, which must add no history
        rows, then the post-load health report."""
        from monday_etl_spark import report, temporal

        rows = self._history_rows()
        stats = rec.op("write", "etl_gated_day", "pipeline.run_daily_etl_gated",
                       lambda: self._run(True))
        rec.check(stats is not None and stats["tables"] == exp["tables"]
                  and self._history_rows() == rows == sum(exp["tables"].values()),
                  f"gated same-day re-run: counts {stats and stats['tables']} vs "
                  f"{exp['tables']}, history rows {rows} -> {self._history_rows()}")

        def health():
            snap = self.spark.read.parquet(os.path.join(self.base, "project_subitems"))
            hist = temporal.read_historical(self.spark, self.base, "project_subitems")
            out = temporal.health_report(snap, hist, "subitem_id", "revenue_amount",
                                         self._date())
            with self.tracer.span("report.render"):
                report.render_health_report(out)
                report.check_alerts(out)
            return out

        rep = rec.op("read", "health_report", "temporal.health_report", health)
        if rep is not None:
            rec.check(rep["completeness"]["n_rows"] == exp["tables"]["project_subitems"]
                      and rep["duplicates"]["n_duplicate_keys"] == 0
                      and rep["freshness"]["days_stale"] == 0,
                      f"health report {rep}")
            self._check_dod(rec, rep["day_over_day"], exp)

    @contextmanager
    def _layer_spans(self):
        """With tracing on, span the layers ``run_daily_etl`` calls."""
        if not self.tracer.enabled:
            yield
            return
        from monday_etl_spark import normalize, pipeline, source_graphql, temporal

        targets = [(pipeline, "fetch_board_items", "source_graphql.fetch"),
                   (source_graphql, "pages_to_df", "source_graphql.to_df"),
                   (pipeline, "dual_write", "temporal.dual_write"),
                   (pipeline, "gated_dual_write", "quality.gated_write"),
                   (pipeline, "compare_with_previous_day", "temporal.compare"),
                   (temporal, "check_completeness", "temporal.check"),
                   (temporal, "check_duplicates", "temporal.check"),
                   (temporal, "check_freshness", "temporal.check")]
        targets += [(pipeline, f, f"normalize.{f}") for f in dir(normalize)
                    if f.startswith("extract_")]
        with patched(targets, self.tracer):
            yield

    def plans(self) -> float:
        """Traced cycles only: build the five ``extract_*`` plans over today's
        pages and plan them without running a job, so the normalize layer's
        Catalyst time is read; returns the Python build seconds."""
        from monday_etl_spark import normalize
        from monday_etl_spark.source_graphql import pages_to_df

        t = time.perf_counter()
        d = self._date()
        frames = []
        for board, fns in ((gen.MondayBoards.PROJECT_BOARD,
                            ("extract_projects", "extract_subitems")),
                           (gen.MondayBoards.PERSONNEL, ("extract_personnel_costs",)),
                           (gen.MondayBoards.TRAVEL, ("extract_travel_costs",)),
                           (gen.MondayBoards.SUPPLIER, ("extract_supplier_costs",))):
            items = pages_to_df(self.spark, self.transport.day_pages(board))
            frames += [getattr(normalize, f)(items, d, f"{d} 09:00:00") for f in fns]
        build = time.perf_counter() - t
        for df in frames:
            df._jdf.queryExecution().executedPlan()
            self.tracer.add_phases(df)
        return build


# --------------------------------------------------------------------------
# lakehouse_upsert
# --------------------------------------------------------------------------

ICEBERG_COLS = [("o_orderkey", "long"), ("o_custkey", "long"),
                ("o_orderstatus", "string"), ("o_totalprice", "double"),
                ("o_orderdate", "timestamp"), ("o_orderpriority", "string")]
FORMATS = ("tableformat", "delta_import", "iceberg_import")
N_BUCKETS = 16


class LakehouseUpsert:
    name = "lakehouse_upsert"
    SF = 0.1

    def __init__(self, spark, tracer: spans.Tracer, work: str, seed: int):
        import pyarrow.parquet as pq

        from monday_etl_spark.io import load_table

        self.spark, self.tracer, self.work = spark, tracer, work
        sf_dir = os.path.join(work, "sf")
        gen.write_sf_tables(sf_dir, seed, self.SF, names=("orders",))
        self.orders = load_table(spark, sf_dir, "orders")
        self.batches = gen.UpsertBatches(
            pq.read_table(os.path.join(sf_dir, "orders.parquet")), seed)
        self.paths: dict[str, str] = {}
        self.day = 0
        self.user_bytes = 0
        self.counts: dict[str, float] = {}

    def setup_once(self, k: int) -> None:
        """One fixture build: ``orders`` loaded into all three formats."""
        from monday_etl_spark.delta_export import export_delta_log
        from monday_etl_spark.iceberg_import import append_iceberg, create_iceberg_table
        from monday_etl_spark.tableformat import write_versioned

        root = os.path.join(self.work, f"setup{k}")
        p = {f: os.path.join(root, f) for f in FORMATS}
        for f in ("tableformat", "delta_import"):
            write_versioned(self.orders, p[f], "o_orderkey", n_buckets=N_BUCKETS,
                            stats_cols=["o_orderdate"])
        export_delta_log(p["delta_import"])
        create_iceberg_table(p["iceberg_import"], ICEBERG_COLS)
        append_iceberg(self.spark, self.orders, p["iceberg_import"])
        self.paths = p

    def roots(self) -> list[str]:
        return list(self.paths.values())

    def warm_up(self, rec: Recorder) -> None:
        """Day one, with every step a measured day has. Without its point
        fix and compaction a run is about 5 s shorter, but the measured day
        then carries their first runs: it read 11% slower and spread 0.25
        instead of 0.16 over six seeds on a 4-core host."""
        self.cycle(rec)

    def _upsert(self, fmt: str, df) -> None:
        from monday_etl_spark import delta_import, iceberg_import, tableformat

        path = self.paths[fmt]
        if fmt == "tableformat":
            tableformat.merge_versioned(self.spark, path, df)
        elif fmt == "delta_import":
            delta_import.upsert_delta(self.spark, df, path, ["o_orderkey"])
        else:
            iceberg_import.upsert_iceberg(self.spark, df, path, "o_orderkey")

    def _compact(self, fmt: str) -> None:
        from monday_etl_spark import delta_import, iceberg_import, tableformat

        {"tableformat": tableformat.compact_versioned,
         "delta_import": delta_import.compact_delta,
         "iceberg_import": iceberg_import.compact_iceberg}[fmt](self.spark, self.paths[fmt])

    def _read_where(self, fmt: str, lo, hi):
        from monday_etl_spark import delta_import, iceberg_import, tableformat

        return {"tableformat": tableformat.read_where,
                "delta_import": delta_import.read_delta_where,
                "iceberg_import": iceberg_import.read_iceberg_where,
                }[fmt](self.spark, self.paths[fmt], "o_orderdate", lo, hi)

    def _read_all(self, fmt: str):
        from monday_etl_spark import delta_import, iceberg_import, tableformat

        return {"tableformat": tableformat.read_version,
                "delta_import": delta_import.read_delta,
                "iceberg_import": iceberg_import.read_iceberg_table,
                }[fmt](self.spark, self.paths[fmt])

    @staticmethod
    def _summary(df):
        return df.agg(F.count(F.lit(1)).alias("n"), _money("o_totalprice").alias("s"))

    def _summaries(self, frames: dict) -> dict:
        """(row count, decimal price sum) of every frame, in one job."""
        keyed = [self._summary(df).withColumn("k", F.lit(i))
                 for i, df in enumerate(frames.values())]
        rows = reduce(lambda a, b: a.unionByName(b), keyed).collect()
        keys = list(frames)
        return {keys[r["k"]]: (r["n"], r["s"]) for r in rows}

    def _check_agree(self, rec: Recorder, pruned: tuple | None = None) -> None:
        """After commits, the three formats hold the same row count and
        price sum, and the count the generator expects. ``pruned`` is
        (lo, hi, {format: (result, op)}) of the day's pruned reads: each
        must equal the filtered full read, checked in the same job."""
        if not rec.checking:
            return
        frames = {f: self._read_all(f) for f in FORMATS}
        lo, hi, reads = pruned or (None, None, {})
        for f in reads:
            frames[f"{f}.where"] = frames[f].filter(F.col("o_orderdate").between(lo, hi))
        got = self._summaries(frames)
        totals = {f: got[f] for f in FORMATS}
        rec.check(len(set(totals.values())) == 1
                  and totals["tableformat"][0] == self.batches.n_rows,
                  f"formats disagree: {totals}, expected {self.batches.n_rows} rows")
        for f, (res, op) in reads.items():
            if res != got[f"{f}.where"]:
                rec.fail(op, f"{f} pruned read {res} != filtered full read "
                             f"{got[f'{f}.where']} over [{lo}, {hi}]")

    def _batch(self, kind: str, table):
        import pyarrow.parquet as pq

        path = os.path.join(self.work, "batches", f"day{self.day}_{kind}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        self.user_bytes += os.path.getsize(path)
        return self.spark.read.schema(self.orders.schema).parquet(path)

    def cycle(self, rec: Recorder) -> None:
        self.day += 1
        for step, name, make in (("bulk_upsert", "upsert", self.batches.bulk),
                                 ("point_fix", "point_upsert", self.batches.point)):
            batch = self._batch(step, make())
            for f in FORMATS:
                rec.op("write", step, f"{f}.{name}", lambda f=f: self._upsert(f, batch))
        self._check_agree(rec)
        lo = dt.datetime(1995, 1, 1) + dt.timedelta(days=(self.day * 37) % 1000)
        hi = lo + dt.timedelta(days=90)
        if self.tracer.enabled:
            self.counts["iceberg_import.delete_files"] = self._iceberg_delete_files()
        reads = {}
        for f in FORMATS:
            def read(f=f):
                with self.tracer.span(f"{f}.build"):
                    agg = self._summary(self._read_where(f, lo, hi))
                out = tuple(agg.collect()[0])
                self.tracer.add_phases(agg)
                return out

            got = rec.op("read", "pruned_read", f"{f}.read_where", read)
            reads[f] = (got, rec.ops[-1])
        for f in FORMATS:
            rec.op("write", "compact", f"{f}.compact", lambda f=f: self._compact(f))
        # compaction keeps the content, so the reads made before it are
        # checked against full reads after it
        self._check_agree(rec, (lo, hi, reads))
        if self.tracer.enabled:
            self.counts.update(self._file_counts(lo, hi))

    def _iceberg_delete_files(self) -> int:
        from monday_etl_spark.iceberg_import import iceberg_metadata_table

        files = iceberg_metadata_table(self.spark, self.paths["iceberg_import"], "files")
        return files.filter(F.col("content") != 0).count()

    def _file_counts(self, lo, hi) -> dict:
        """Live files, and files a pruned read opens, per format."""
        from monday_etl_spark import delta_import, iceberg_import, tableformat

        p = self.paths
        kept, pruned = tableformat.files_for_range(p["tableformat"], "o_orderdate", lo, hi)
        out = {"tableformat.files_opened_per_read": len(kept),
               "tableformat.files_live": len(kept) + pruned}
        kept, total = delta_import.files_for_range(self.spark, p["delta_import"],
                                                   "o_orderdate", lo, hi)
        out.update({"delta_import.files_opened_per_read": len(kept),
                    "delta_import.files_live": total})
        kept, total = iceberg_import.iceberg_files_where(self.spark, p["iceberg_import"],
                                                         "o_orderdate", lo, hi)
        out.update({"iceberg_import.files_opened_per_read": len(kept),
                    "iceberg_import.files_live": total})
        return out

    def plans(self) -> float:
        """No plan is built outside the timed reads."""
        return 0.0



WORKLOADS = {w.name: w for w in (DailyEtl, LakehouseUpsert)}
