#!/usr/bin/env python3
"""Interleaved A/B of the repository benchmark: a parent checkout vs the
working tree.

Runs the ``BENCHMARK.json`` command (``--trace 0``, its
``run_seconds``) from both trees as N seeded pairs per workload,
alternating which side runs first, and prints per workload and
end-to-end metric each side's median and quartiles, the pairs the
change won (ties count for neither), and a verdict:

* ``gain``: the change won at least nine tenths of the pairs and the
  medians differ, in its favour, by more than the parent's IQR;
* ``within bound``: the change's median is no worse than the parent's by
  more than the metric's bound (``BENCHMARK.json``) and both sides'
  spread (IQR / median) is inside the bound;
* ``worse``: worse by more than the bound;
* ``unresolved``: a spread wider than the bound, unless every change run
  beats every parent run (then ``better``).

Usage (from the repository root)::

    python3 scripts/ab_perfbench.py --pairs 10 --seed 101
    python3 scripts/ab_perfbench.py --parent /path/to/checkout --workloads reindex_incremental
    python3 scripts/ab_perfbench.py --pairs 10 --seed 101 --trace-seed 7

``--trace-seed N`` then runs one ``--trace 1`` repetition per side and
workload at seed N and prints, per workload, every per-layer metric of
``BENCHMARK.json`` whose value differs, parent → change: the layer
evidence that goes next to the end-to-end verdict.

``--parent-rev`` exports that revision with ``git archive`` into a
temporary directory (removed afterwards); it defaults to ``HEAD`` while
the working tree has changes (the change is not committed yet) and to
``HEAD~`` on a clean tree. ``--parent`` uses an existing checkout as
is. The raw runs and the summary go to ``--out`` as JSON.
"""
from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


# ------------------------------------------------------------ summary math
def quartiles(xs: list) -> tuple:
    """(q1, median, q3), inclusive method; one value is its own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def pairs_won(pairs: list, better: str) -> int:
    """Pairs of (parent, change) in which the change is strictly better."""
    if better == "lower":
        return sum(c < p for p, c in pairs)
    return sum(c > p for p, c in pairs)


def summarize(pairs: list, better: str, bound: float) -> dict:
    """Medians, quartiles, pairs won and the verdict for one metric on
    one workload, from its (parent, change) value pairs."""
    parent = [p for p, _ in pairs]
    change = [c for _, c in pairs]
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    won = pairs_won(pairs, better)
    sign = 1 if better == "lower" else -1
    # > 0: the change is worse; relative to the parent's median
    worse_by = sign * (cmed - pmed) / pmed if pmed else 0.0
    spread = max(
        (pq3 - pq1) / pmed if pmed else 0.0,
        (cq3 - cq1) / cmed if cmed else 0.0,
    )
    if won >= math.ceil(0.9 * len(pairs)) and sign * (pmed - cmed) > pq3 - pq1:
        verdict = "gain"
    elif spread > bound:
        beats_all = (max(change) < min(parent)) if better == "lower" else (min(change) > max(parent))
        verdict = "better" if beats_all else "unresolved"
    elif worse_by > bound:
        verdict = "worse"
    else:
        verdict = "within bound"
    return {
        "parent": {"median": pmed, "q1": pq1, "q3": pq3},
        "change": {"median": cmed, "q1": cq1, "q3": cq3},
        "ratio": cmed / pmed if pmed else math.nan,
        "won": won,
        "pairs": len(pairs),
        "worse_by": worse_by,
        "spread": spread,
        "verdict": verdict,
    }


# ---------------------------------------------------------------- running
def run_bench(tree: str, workload: str, seed: int, trace: int = 0) -> dict:
    """One benchmark run from ``tree``, as long as ``BENCHMARK.json``
    says; its last stdout line."""
    proc = subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"{tree}: {workload} seed {seed} exited {proc.returncode}\n{proc.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def layer_diff(parent: dict, change: dict) -> list:
    """One line per ``BENCHMARK.json`` per-layer metric whose value
    differs between two traced runs' ``metrics``, parent → change."""
    lines = []
    for m in SPEC["per_layer"]:
        p = parent.get(m["name"], {}).get("value")
        c = change.get(m["name"], {}).get("value")
        if p is None or c is None or p == c:
            continue
        lines.append(f"  {m['name']:30s} {p:.4g} -> {c:.4g} {m['unit']}")
    return lines


def default_parent_rev(root: str = ROOT) -> str:
    """``HEAD`` while ``root`` has uncommitted or untracked changes (the
    change is still in the working tree, so HEAD is its parent), else
    ``HEAD~``."""
    status = subprocess.run(
        ["git", "status", "--porcelain"], cwd=root,
        capture_output=True, text=True, check=True,
    ).stdout
    return "HEAD" if status.strip() else "HEAD~"


def export_rev(rev: str, dest: str) -> None:
    archive = subprocess.run(
        ["git", "archive", rev], cwd=ROOT, capture_output=True, check=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    side = ap.add_mutually_exclusive_group()
    side.add_argument("--parent", help="path of the parent checkout")
    side.add_argument(
        "--parent-rev",
        help="revision to export (default: HEAD with a dirty working tree, else HEAD~)",
    )
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--workloads", help="comma-separated (default: every BENCHMARK.json workload)")
    ap.add_argument("--out", help="write the raw runs and the summary here as JSON")
    ap.add_argument(
        "--trace-seed", type=int,
        help="after the pairs, one --trace 1 run per side at this seed; print the per-layer diff",
    )
    args = ap.parse_args(argv)

    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in SPEC["workloads"]]
    metrics = SPEC["end_to_end"]

    tmp = None
    parent = args.parent
    if parent is None:
        tmp = tempfile.mkdtemp(prefix="ab-parent-")
        export_rev(args.parent_rev or default_parent_rev(), tmp)
        parent = tmp
    runs, traces = [], {}
    try:
        for wl in workloads:
            for k in range(args.pairs):
                seed = args.seed + k
                order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
                got = {}
                for name in order:
                    tree = parent if name == "parent" else ROOT
                    got[name] = run_bench(tree, wl, seed)
                runs.append({"workload": wl, "seed": seed, "first": order[0], **got})
                print(f"# {wl} seed {seed} ({order[0]} first): " + ", ".join(
                    f"{n} drain_s={got[n]['metrics']['drain_s']['value']:.3f}"
                    f" correct={got[n]['correct']} failed={got[n]['failed']}"
                    for n in ("parent", "change")
                ), file=sys.stderr, flush=True)
        if args.trace_seed is not None:
            for wl in workloads:
                traces[wl] = {
                    name: run_bench(parent if name == "parent" else ROOT, wl, args.trace_seed, trace=1)
                    for name in ("parent", "change")
                }
    finally:
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)

    summary = {}
    for wl in workloads:
        wl_runs = [r for r in runs if r["workload"] == wl]
        summary[wl] = {
            "all_correct": all(
                r[n]["correct"] and r[n]["failed"] == 0
                for r in wl_runs for n in ("parent", "change")
            ),
            "metrics": {
                m["name"]: summarize(
                    [(r["parent"]["metrics"][m["name"]]["value"],
                      r["change"]["metrics"][m["name"]]["value"]) for r in wl_runs],
                    m["better"], m["bound"],
                )
                for m in metrics
            },
        }
    for wl, wl_sum in summary.items():
        print(f"{wl} (all correct, 0 failed: {wl_sum['all_correct']})")
        for name, s in wl_sum["metrics"].items():
            p, c = s["parent"], s["change"]
            print(
                f"  {name:11s} parent {p['median']:.4g} [{p['q1']:.4g}, {p['q3']:.4g}]"
                f" -> change {c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}]"
                f"  x{s['ratio']:.3f}  won {s['won']}/{s['pairs']}  {s['verdict']}"
            )
    for wl, t in traces.items():
        print(f"{wl} per-layer, --trace 1 seed {args.trace_seed}, parent -> change:")
        print("\n".join(layer_diff(t["parent"]["metrics"], t["change"]["metrics"]))
              or "  (no per-layer metric differs)")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"runs": runs, "summary": summary, "traces": traces}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
