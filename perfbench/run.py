#!/usr/bin/env python3
"""Benchmark runner for monday_etl_spark.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --compare PARENT_RESULTS_DIR CHANGE_RESULTS_DIR

A run starts one local Spark session (``local[nproc]``), generates its inputs
from ``--seed``, builds the workload's fixture several times, runs an
untimed warm-up day, then measures whole cycles (simulated days) until
``--seconds`` of operation time are spent. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``; the per-layer metrics with
``--trace 1``, where traced and untraced cycles alternate, at least one of
each, the traced one first on odd seeds). Per-step medians with sample
counts, the environment, the host's CPU steal and the spans go to
``.perfbench_work/results/<workload>-s<seed>-t<trace>.json``; a summary goes
to stderr. See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_REPS = 3
MIN_CYCLES = 1


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (Linux /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took between two ``cpu_ticks``
    readings: a slow host shows here, not in the package."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d))


def process_start() -> float:
    """Wall-clock time this process started (Linux /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def pin_env(work: Path) -> dict:
    """Environment the package and Spark read: cores, heap sized to the
    host, scratch dirs inside the checkout, and PYTHONPATH so Python UDF
    workers can import the package."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": java_opts,
        "SPARK_GRAFT_EXTRA_CONF": json.dumps({
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        }),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {"nproc": nproc, **env}


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of this Python driver plus its JVM."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024.0


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def summarize_cycle(ops: list[dict]) -> dict:
    c = {"wall": sum(o["s"] for o in ops),
         "write": sum(o["s"] for o in ops if o["kind"] == "write"),
         "read": sum(o["s"] for o in ops if o["kind"] == "read"),
         "steps": {}, "ops": {}}
    for o in ops:
        c["steps"].setdefault(o["step"], []).append(o["s"])
        c["ops"].setdefault(o["name"], []).append(o["s"])
    return c


def run(args) -> int:
    t_start = process_start()
    if not (ROOT / "monday_etl_spark" / "__init__.py").exists():
        print(f"perfbench: no monday_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    env = pin_env(work)
    sys.path.insert(0, str(ROOT))

    from pyspark import SparkContext

    import spans
    from workloads import WORKLOADS, Recorder, tree_files
    from monday_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t_start
    gateway = SparkContext._gateway
    tracer = spans.Tracer(spark)
    try:
        if args.trace:
            tracer.listen_streams()
        t = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, tracer, str(work), args.seed)
        inputs_s = time.perf_counter() - t
        setups = []
        for k in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup_once(k)
            setups.append(time.perf_counter() - t)
        rec = Recorder(tracer)
        rec.checking = False  # the warm-up is neither timed nor checked
        t = time.perf_counter()
        wl.warm_up(rec)
        warm_s = time.perf_counter() - t
        warm = summarize_cycle(rec.ops)
        rec.checking = True

        cycles: list[dict] = []
        measured = 0.0
        ticks0 = cpu_ticks()
        # a traced run alternates traced and untraced cycles, the traced one
        # first on odd seeds: two cycles of one run differ by their order as
        # well as by the tracing (see README), and alternating the order
        # lets the median over seeds cancel that part
        while measured < args.seconds or len(cycles) < MIN_CYCLES + args.trace:
            traced = bool(args.trace) and (len(cycles) + args.seed) % 2 == 1
            tracer.enabled = traced
            before, ub0, n0 = tree_files(wl.roots()), wl.user_bytes, len(rec.ops)
            s0, b0 = len(tracer.spans), len(tracer.streaming_batches())
            tracer.phases_ms = dict.fromkeys(spans.PHASES, 0.0)
            t = time.perf_counter()
            wl.cycle(rec)
            c = summarize_cycle(rec.ops[n0:])
            c["elapsed"] = time.perf_counter() - t
            if traced:
                c["spark"] = tracer.collect(tracer.spans[s0:])
                c["job_s"] = spans.job_seconds(tracer.spans[s0:])
                c["layers"] = spans.layer_times(tracer.spans[s0:])
                c["span_names"] = spans.layer_times(tracer.spans[s0:], by_layer=False)
                # Python plan construction: the ``.build`` spans less the
                # time their own Spark jobs ran (some builders run jobs)
                c["plan_build_s"] = wl.plans() + sum(
                    v["self_s"] - v["wait_s"] for k, v in c["span_names"].items()
                    if k.endswith(".build"))
                c["phases_ms"] = dict(tracer.phases_ms)
                c["counts"] = dict(wl.counts)
                batches = tracer.streaming_batches()[b0:]
                c["stream"] = {"batches": len(batches),
                               "state_rows": sum(r for _, r in batches),
                               "batch_p50_ms": median([d for d, _ in batches])}
            tracer.enabled = False
            c["traced"] = traced
            after = tree_files(wl.roots())
            added = [s for p, s in after.items() if before.get(p) != s]
            c["files_added"], c["bytes_added"] = len(added), sum(added)
            c["user_bytes"] = wl.user_bytes - ub0
            cycles.append(c)
            measured += c["wall"]
        steal = steal_pct(ticks0, cpu_ticks())
        rss_mb = peak_rss_mb(spark._jvm.ProcessHandle.current().pid())
        versions = {"spark": spark.version,
                    "java": spark._jvm.System.getProperty("java.version"),
                    "python": platform.python_version()}
    finally:
        tracer.close()
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    failed = sum(not o["ok"] for o in rec.ops)
    result = {"correct": failed == 0, "attempted": len(rec.ops), "failed": failed}
    plain = [c for c in cycles if not c["traced"]]
    if args.trace:
        result["metrics"] = layer_metrics(session_s, warm_s, cycles)
        result["metrics"]["memory.peak_rss_mb"] = rss_mb
    else:
        result["metrics"] = {
            "setup_s": session_s + median(setups),
            "day_s": median([c["wall"] for c in plain]),
            "write_amp": sum(c["bytes_added"] for c in plain)
            / max(1, sum(c["user_bytes"] for c in plain)),
        }
    units = {m["name"]: m["unit"] for m in BENCH[
        "per_layer" if args.trace else "end_to_end"]}
    result["metrics"] = {k: {"value": v, "unit": units[k]}
                         for k, v in result["metrics"].items()}
    steps = step_report(plain)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "env": env, "versions": versions,
              "session_s": session_s, "inputs_s": inputs_s, "setups_s": setups,
              "warm_s": warm_s, "warm": warm, "steal_pct": steal,
              "cycles": cycles, "steps": steps, "errors": rec.errors,
              "result": result, "spans": tracer.spans}
    out = WORK / "results" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(detail, default=str))
    report(detail)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def step_report(cycles: list[dict]) -> dict:
    """Per step: median of its summed latency per cycle, and how many
    operation samples that median rests on."""
    out = {}
    for name in sorted({s for c in cycles for s in c["steps"]}):
        per_cycle = [sum(c["steps"][name]) for c in cycles if name in c["steps"]]
        ops = [x for c in cycles for x in c["steps"].get(name, [])]
        out[name] = {"per_cycle_s": median(per_cycle), "op_p50_s": median(ops),
                     "cycles": len(per_cycle), "ops": len(ops)}
    return out


def layer_metrics(session_s: float, warm_s: float, cycles: list[dict]) -> dict:
    traced = [c for c in cycles if c["traced"]]
    plain = [c for c in cycles if not c["traced"]]

    def med(f):
        return median([f(c) for c in traced])

    out = {"session.start_s": session_s, "session.warm_s": warm_s,
           "trace.overhead_s": med(lambda c: c["wall"]) - median([c["wall"] for c in plain])}
    for k in ("jobs", "stages", "tasks", "executor_run_s", "jvm_gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "input_bytes", "output_bytes"):
        out[f"spark.{k}"] = med(lambda c, k=k: c["spark"][k])
    out["spark.job_s"] = med(lambda c: c["job_s"])
    out["spark.driver_s"] = med(lambda c: c["wall"] - c["job_s"])
    out["catalyst.plan_build_s"] = med(lambda c: c["plan_build_s"])
    for p in ("analysis", "optimization", "planning"):
        out[f"catalyst.{p}_s"] = med(lambda c, p=p: c["phases_ms"][p] / 1000.0)
    out["io.files_written"] = med(lambda c: c["files_added"])
    out["io.bytes_written"] = med(lambda c: c["bytes_added"])
    for k in ("batches", "state_rows"):
        out[f"streaming.{k}"] = med(lambda c, k=k: c["stream"][k])
    for name in LAYER_COUNTS:
        out[name] = med(lambda c, n=name: c["counts"].get(n, 0))
    return out


LAYER_COUNTS = (
    "source_graphql.transport_calls", "source_graphql.pages", "source_graphql.retries",
    "tableformat.files_live", "tableformat.files_opened_per_read",
    "delta_import.files_live", "delta_import.files_opened_per_read",
    "iceberg_import.files_live", "iceberg_import.files_opened_per_read",
    "iceberg_import.delete_files",
)


def report(detail: dict) -> None:
    """Human summary on stderr: environment, per-step medians with sample
    counts, per-layer self and wait times, and any errors."""
    err = sys.stderr
    print(f"perfbench {detail['workload']} seed={detail['seed']} "
          f"trace={detail['trace']} versions={detail['versions']} "
          f"nproc={detail['env']['nproc']} heap={detail['env']['SPARK_GRAFT_DRIVER_MEM']}",
          file=err)
    print(f"  session {detail['session_s']:.2f}s  setups "
          + " ".join(f"{s:.2f}" for s in detail["setups_s"])
          + f"  warm-up cycle {detail['warm_s']:.2f}s  cycles {len(detail['cycles'])}"
          + f"  CPU steal while measuring {detail['steal_pct']:.1f}%",
          file=err)
    for name, s in detail["steps"].items():
        print(f"  {name:16s} {s['per_cycle_s']:8.3f}s/cycle (n={s['cycles']})"
              f"  op p50 {s['op_p50_s']:.3f}s (n={s['ops']})", file=err)
    for kind, label in (("layers", "layer"), ("span_names", "span")):
        times: dict[str, list[dict]] = {}
        for c in detail["cycles"]:
            for name, v in c.get(kind, {}).items():
                times.setdefault(name, []).append(v)
        for name, vs in sorted(times.items()):
            print(f"  {label:5s} {name:40s} self {median([v['self_s'] for v in vs]):.3f}s"
                  f"  wait {median([v['wait_s'] for v in vs]):.3f}s per traced cycle",
                  file=err)
    for k, v in detail["result"]["metrics"].items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}", file=err)
    for e in detail["errors"][:20]:
        print(f"  ERROR {e}", file=err)


BENCH = json.loads((ROOT / "BENCHMARK.json").read_text()) \
    if (ROOT / "BENCHMARK.json").exists() else {"end_to_end": [], "per_layer": []}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("daily_etl", "lakehouse_upsert"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar=("PARENT_DIR", "CHANGE_DIR"))
    args = ap.parse_args()
    if args.compare:
        import compare

        return compare.main(*args.compare, BENCH)
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
