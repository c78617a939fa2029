#!/usr/bin/env python3
"""Compare two result sets of the benchmark (directories of the JSON files
run.py saves under `.bench_build/results/`), parent first:

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Given one result set it prints, for every workload and end-to-end metric,
the median, the quartiles and the spread (inter-quartile distance ÷
median) beside the metric's bound: the steadiness check.

For every workload and end-to-end metric it prints each side's median and
quartiles, the pair-win fraction (runs paired by seed, else by order; ties
count for neither side) and a verdict against the bounds in BENCHMARK.json:

  improved    the change wins at least 9 of 10 pairs and the medians differ
              by more than the parent's inter-quartile distance;
  unresolved  the run-to-run spread is wider than the bound, and not every
              change run beats every parent run;
  regressed   the change's median is worse by more than the bound;
  unchanged   otherwise.

Beside each workload's pass_s it prints the traced runs' engine.cpu_s,
shuffle, spill and idle deltas, so a wall-clock change can be told from
weather.
"""
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from stats import median, quartiles, spread  # noqa: E402

LAYER_DELTAS = ["engine.cpu_s", "engine.shuffle_write_mb", "engine.shuffle_read_mb",
                "engine.spill_mb", "engine.idle_s"]


def load(d):
    runs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def pairs(a, b):
    """(parent, change) value pairs: by seed where both sides ran it."""
    by_seed_a = {r[0]: r[1] for r in a}
    common = [s for s, _ in b if s in by_seed_a]
    if common:
        return [(by_seed_a[s], v) for s, v in b if s in by_seed_a]
    return list(zip([v for _, v in a], [v for _, v in b]))


def verdict(a, b, better, bound):
    va, vb = [v for _, v in a], [v for _, v in b]
    qa, qb = quartiles(va), quartiles(vb)
    sign = 1.0 if better == "lower" else -1.0
    ps = pairs(a, b)
    wins = sum(1 for x, y in ps if sign * (x - y) > 0) / len(ps)
    worse = sign * (qb[1] - qa[1]) / qa[1]
    wide = max(spread(va), spread(vb))
    all_better = all(sign * (x - y) > 0 for x in va for y in vb)
    if wins >= 0.9 and abs(qb[1] - qa[1]) > qa[2] - qa[0]:
        v = "improved"
    elif wide > bound and not all_better:
        v = "unresolved"
    elif worse > bound:
        v = "regressed"
    else:
        v = "unchanged"
    return qa, qb, wins, worse, v


def series(runs, workload, metric):
    """(seed, value) of the untraced runs of `workload` that report `metric`."""
    return [(r["seed"], r["metrics"][metric]["value"]) for r in runs
            if r["workload"] == workload and r["trace"] == 0 and metric in r["metrics"]]


def steadiness(result_dir, bench_json="BENCHMARK.json"):
    spec = json.load(open(bench_json))
    runs = load(result_dir)
    for w in [w["name"] for w in spec["workloads"]]:
        print(f"== {w}")
        for m in spec["end_to_end"]:
            xs = [v for _, v in series(runs, w, m["name"])]
            if len(xs) < 2:
                print(f"  {m['name']:<18} {len(xs)} run(s), too few")
                continue
            q1, q2, q3 = quartiles(xs)
            print(f"  {m['name']:<18} median {q2:.5g} [{q1:.5g}, {q3:.5g}] n={len(xs)}"
                  f"  spread {spread(xs):.3f}  bound {m['bound']}"
                  f" (a third: {m['bound'] / 3:.3f})")
    return 0


def main(parent_dir, change_dir, bench_json="BENCHMARK.json"):
    spec = json.load(open(bench_json))
    pa, pb = load(parent_dir), load(change_dir)
    workloads = [w["name"] for w in spec["workloads"]]
    for w in workloads:
        print(f"== {w}")
        for m in spec["end_to_end"]:
            a, b = series(pa, w, m["name"]), series(pb, w, m["name"])
            if not a or not b:
                print(f"  {m['name']:<18} missing runs (parent {len(a)}, change {len(b)})")
                continue
            qa, qb, wins, worse, v = verdict(a, b, m["better"], m["bound"])
            print(f"  {m['name']:<18} parent {qa[1]:.5g} [{qa[0]:.5g}, {qa[2]:.5g}] n={len(a)}"
                  f"  change {qb[1]:.5g} [{qb[0]:.5g}, {qb[2]:.5g}] n={len(b)}"
                  f"  worse {worse:+.2%} (bound {m['bound']:.0%})  wins {wins:.2f}  {v}")
        deltas = []
        for name in LAYER_DELTAS:
            def vals(runs):
                return [r["metrics"][name]["value"] for r in runs
                        if r["workload"] == w and r["trace"] == 1 and name in r["metrics"]]
            a, b = vals(pa), vals(pb)
            if a and b:
                deltas.append(f"{name} {median(a):.4g} -> {median(b):.4g} "
                              f"({median(b) - median(a):+.4g})")
        print("  layers (traced runs): " + ("; ".join(deltas) if deltas else "none"))
    return 0


if __name__ == "__main__":
    if len(sys.argv) == 2:
        sys.exit(steadiness(sys.argv[1]))
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:4]))
