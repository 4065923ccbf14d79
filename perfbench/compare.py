"""A/B compare of two result sets: the parent commit's runs and the
change's runs, each a directory of ``<workload>-s<seed>-t0.json`` files as
``run.py`` writes them under ``.perfbench_work/results``.

Runs pair up by (workload, seed). For each (end-to-end metric, workload):

* improved — the change wins at least 9/10 of the pairs (ties count for
  neither side) and its median differs from the parent's, in the better
  direction, by more than the parent's interquartile spread;
* worse — the same rule in the worse direction;
* unresolved — anything else, including fewer than 10 pairs.

It also says whether the change's median stays within the metric's bound
from BENCHMARK.json, and then lists each step's per-day median on both
sides (the steps that make up ``day_s``) and the median CPU steal while
measuring: diagnostics, not judged. Exit status 1 if any pairing is
worse.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

MIN_PAIRS = 10
WIN_SHARE = 0.9


def load(directory: str) -> dict[tuple[str, int], dict]:
    """(workload, seed) -> end-to-end metric values of one run, plus each
    step's per-day median under ``step:<name>`` and the host's CPU steal
    while measuring under ``steal_pct``."""
    out = {}
    for path in Path(directory).glob("*-t0.json"):
        d = json.loads(path.read_text())
        vals = {k: v["value"] for k, v in d["result"]["metrics"].items()}
        vals.update({f"step:{k}": v["per_cycle_s"] for k, v in d["steps"].items()})
        vals["steal_pct"] = d["steal_pct"]
        out[(d["workload"], d["seed"])] = vals
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def _fmt(q: tuple[float, float, float]) -> str:
    return f"{q[1]:.4g} [{q[0]:.4g},{q[2]:.4g}]"


def verdict(parent: list[float], change: list[float], lower_better: bool) -> tuple[str, int]:
    """Verdict and win count for paired samples (same order = same seed)."""
    sign = -1 if lower_better else 1
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    losses = sum(sign * (c - p) < 0 for p, c in zip(parent, change))
    n = len(parent)
    if n < MIN_PAIRS:
        return "unresolved", wins
    q1, med_p, q3 = quartiles(parent)
    gap = sign * (statistics.median(change) - med_p)
    if wins >= WIN_SHARE * n and gap > q3 - q1:
        return "improved", wins
    if losses >= WIN_SHARE * n and -gap > q3 - q1:
        return "worse", wins
    return "unresolved", wins


def main(parent_dir: str, change_dir: str, bench: dict) -> int:
    parent, change = load(parent_dir), load(change_dir)
    pairs = sorted(set(parent) & set(change))
    if not pairs:
        print("no (workload, seed) pairs common to both result sets")
        return 2
    print(f"{'workload':18s} {'metric':12s} {'pairs':>5s} {'parent p50 [q1,q3]':>28s} "
          f"{'change p50 [q1,q3]':>28s} {'wins':>5s}  verdict     bound")
    any_worse = False
    for wl in sorted({w for w, _ in pairs}):
        seeds = [s for w, s in pairs if w == wl]
        for m in bench["end_to_end"]:
            name = m["name"]
            p = [parent[(wl, s)][name] for s in seeds]
            c = [change[(wl, s)][name] for s in seeds]
            lower = m["better"] == "lower"
            v, wins = verdict(p, c, lower)
            any_worse |= v == "worse"
            pq, cq = quartiles(p), quartiles(c)
            drift = (cq[1] - pq[1]) / pq[1] * (1 if lower else -1)
            within = "within" if drift <= m["bound"] else "OUTSIDE"
            print(f"{wl:18s} {name:12s} {len(seeds):5d} {_fmt(pq):>28s} "
                  f"{_fmt(cq):>28s} {wins:5d}  {v:10s}  "
                  f"{within} {m['bound']:.0%} ({drift:+.1%})")
    print("\nsteps and CPU steal (diagnostic, not judged): median, parent -> change")
    for wl in sorted({w for w, _ in pairs}):
        seeds = [s for w, s in pairs if w == wl]
        for step in sorted(k for k in parent[(wl, seeds[0])] if k.startswith("step:")):
            p = [parent[(wl, s)].get(step, 0.0) for s in seeds]
            c = [change[(wl, s)].get(step, 0.0) for s in seeds]
            print(f"{wl:18s} {step[5:]:16s} {statistics.median(p):8.3f}s -> "
                  f"{statistics.median(c):8.3f}s")
        p = [parent[(wl, s)]["steal_pct"] for s in seeds]
        c = [change[(wl, s)]["steal_pct"] for s in seeds]
        print(f"{wl:18s} {'steal':16s} {statistics.median(p):8.1f}% -> "
              f"{statistics.median(c):8.1f}%")
    return 1 if any_worse else 0
