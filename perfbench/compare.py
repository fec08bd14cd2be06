#!/usr/bin/env python3
"""Compare two sets of benchmark runs, e.g. a parent commit and a change.

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are directories searched recursively for the
artifact.json files that perfbench/run.py leaves in .bench_runs/ (or
artifact files themselves). Only untraced runs are compared. For each
workload and end-to-end metric it prints each side's median and
quartiles, the paired win fraction (runs paired by seed, ties count for
neither side), and a verdict:

  improved    the change wins at least 9 in 10 pairs and its median is
              better by more than the parent's own quartile distance
  worse       the change's median is worse than the parent's by more than
              the metric's bound, whatever the spread
  unresolved  the parent's spread (quartile distance over median) is wider
              than the bound, and not every change run beats every parent run
  unchanged   otherwise

A "worse" verdict or a failed run makes the exit status 1. Bounds come
from BENCHMARK.json for the metrics it lists, and from BOUNDS below for
the others. The exporter's cycle tail is also given pooled over all runs
of a side, since one run holds too few cycles for a tail.
"""

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

HIGHER_IS_BETTER = {"exporter.events_per_s"}
# Bounds of the end-to-end metrics BENCHMARK.json does not list: the widest
# quartile spread (quartile distance over median) of three sets of ten
# runs of the program this benchmark was defined on, rounded up to the
# next 0.05, and at least 0.10. perfbench/README.md has the spreads.
BOUNDS = {
    "exporter.events_per_s": 0.15,
    "exporter.cycle_p50_s": 0.20,
    # a run has too few cycles for a tail, so no spread was measured: the
    # largest bound BENCHMARK.json allows
    "exporter.cycle_tail_s": 0.25,
    "exporter.stream_cycle_p50_s": 0.15,
    "batch.relational_pass_s": 0.20,
    "batch.parity_pass_s": 0.30,
    "batch.llmops_pass_s": 0.25,
    "drains.stateful_pass_s": 0.30,
    "drains.stateless_pass_s": 0.30,
}
SKIP = {"failed_share"}


def load(path):
    files = [path] if os.path.isfile(path) else glob.glob(
        os.path.join(path, "**", "artifact.json"), recursive=True)
    runs = []
    for f in sorted(files):
        with open(f) as fh:
            a = json.load(fh)
        if a.get("trace") == 0:
            runs.append(a)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, bound, higher_better=False, pairs=()):
    """Verdict of `change` against `parent` (lists of one metric's values)."""
    sign = -1.0 if higher_better else 1.0
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    wins = sum(1 for a, b in pairs if sign * (b - a) < 0)
    win_frac = wins / len(pairs) if pairs else 0.0
    worse_by = sign * (cm - pm) / pm if pm else 0.0
    spread = (p3 - p1) / pm if pm else 0.0
    all_better = all(sign * (c - p) < 0 for c in change for p in parent)
    if pairs and win_frac >= 0.9 and sign * (pm - cm) > (p3 - p1):
        return "improved", win_frac
    if worse_by > bound:
        return "worse", win_frac
    if spread > bound and not all_better:
        return "unresolved", win_frac
    return "unchanged", win_frac


def pooled_tail(runs):
    cyc = [o["wall_s"] for r in runs for o in r["ops"]
           if o.get("kind") == "cycle" and not o.get("traced")]
    return stats.tail(cyc)


def main():
    ap = argparse.ArgumentParser(description="compare two sets of benchmark runs")
    ap.add_argument("parent")
    ap.add_argument("change")
    a = ap.parse_args()
    bounds = dict(BOUNDS)
    bj = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if os.path.exists(bj):
        with open(bj) as f:
            bounds.update({m["name"]: m["bound"] for m in json.load(f)["end_to_end"]})
    sides = {"parent": load(a.parent), "change": load(a.change)}
    workloads = sorted({r["workload"] for s in sides.values() for r in s})
    worst = 0
    print(f"{'workload':10} {'metric':30} {'parent p25/p50/p75':>32} {'change p25/p50/p75':>32} "
          f"{'wins':>6} verdict")
    for wl in workloads:
        p = [r for r in sides["parent"] if r["workload"] == wl]
        c = [r for r in sides["change"] if r["workload"] == wl]
        if not p or not c:
            print(f"{wl:10} missing runs on one side ({len(p)} parent, {len(c)} change)")
            worst = max(worst, 2)
            continue
        metrics = [m for m in p[0]["end_to_end"] if m not in SKIP]
        by_seed_c = {r["seed"]: r for r in c}
        for m in metrics:
            pv = [r["end_to_end"][m]["value"] for r in p if m in r["end_to_end"]]
            cv = [r["end_to_end"][m]["value"] for r in c if m in r["end_to_end"]]
            if not pv or not cv:
                continue
            pairs = [(r["end_to_end"][m]["value"], by_seed_c[r["seed"]]["end_to_end"][m]["value"])
                     for r in p if r["seed"] in by_seed_c and m in by_seed_c[r["seed"]]["end_to_end"]
                     and m in r["end_to_end"]]
            if not pairs:
                pairs = list(zip(pv, cv))
            v, wf = verdict(pv, cv, bounds[m], m in HIGHER_IS_BETTER, pairs)
            if v == "worse":
                worst = max(worst, 1)
            fp = "/".join(f"{x:.4g}" for x in quartiles(pv))
            fc = "/".join(f"{x:.4g}" for x in quartiles(cv))
            print(f"{wl:10} {m:30} {fp:>32} {fc:>32} {wf:6.2f} {v}")
        if wl == "exporter":
            for side, runs in (("parent", p), ("change", c)):
                t = pooled_tail(runs)
                if t:
                    print(f"{wl:10} pooled cycle tail ({side}): {t[0]:.4g} s at p{t[1]:.1f} "
                          f"of {t[2]} cycles")
        fails = [(r["run_id"], r["failed"]) for r in p + c if r.get("failed")]
        for run_id, n in fails:
            print(f"{wl:10} run {run_id} had {n} failed operations")
            worst = max(worst, 1)
    sys.exit(worst)


if __name__ == "__main__":
    main()
