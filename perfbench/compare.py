"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/compare.py BASE CHANGE [--bench BENCHMARK.json]
    python3 perfbench/compare.py RUNS          # one set: medians and spreads

BASE and CHANGE are directories of run records (as run.py writes them to
perfbench/.work/runs/) or single record files. For every workload and
end-to-end metric it prints each side's median and quartiles, the share of
run pairs the change wins, and a verdict:

  improved      the change wins at least 9/10 of the pairs (ties count for
                neither) and the medians differ by more than the base's own
                quartile distance
  worse         the change's median is worse than the base's by more than
                the metric's bound
  within bound  neither of the above, with both sides' spreads inside the bound
  unresolved    a side's spread (quartile distance / median) is wider than
                the bound, and not every change run beats every base run

Runs are paired by seed where both sides have the seed, otherwise in order.
For traced runs it prints the per-layer medians and their deltas.

Given one set, it prints each workload's metric medians, quartiles and
spread (quartile distance / median) against a third of the metric's bound,
the steadiness target for the benchmark itself.
"""

import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load(path):
    if not os.path.exists(path):
        raise SystemExit("compare.py: no such run directory or file: %s" % path)
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r and "metrics" in r:
            runs.append(r)
    return runs


def pairs(base, change):
    """Pair runs by seed where possible, the rest in order."""
    bs = {r["seed"]: r for r in base}
    cs = {r["seed"]: r for r in change}
    common = sorted(set(bs) & set(cs))
    out = [(bs[s], cs[s]) for s in common]
    rest_b = [r for r in base if r["seed"] not in cs]
    rest_c = [r for r in change if r["seed"] not in bs]
    out.extend(zip(rest_b, rest_c))
    return out


def verdict(base_vals, change_vals, pair_vals, better, bound):
    """Classify one metric; returns (verdict, win_share)."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for b, c in pair_vals if sign * (c - b) > 0)
    win_share = wins / len(pair_vals) if pair_vals else 0.0
    bq1, bmed, bq3 = stats.quartiles(base_vals)
    _, cmed, _ = stats.quartiles(change_vals)
    gain = sign * (cmed - bmed)
    if pair_vals and win_share >= 0.9 and gain > (bq3 - bq1):
        return "improved", win_share
    spread = max(stats.relative_spread(base_vals), stats.relative_spread(change_vals))
    if spread > bound:
        all_better = all(sign * (c - b) > 0 for b in base_vals for c in change_vals)
        return ("within bound" if all_better else "unresolved"), win_share
    if -gain > bound * abs(bmed):
        return "worse", win_share
    return "within bound", win_share


def compare(base, change, bench):
    specs = {m["name"]: m for m in bench["end_to_end"]}
    lines = []
    workloads = sorted({r["workload"] for r in base + change})
    for w in workloads:
        for trace in (0, 1):
            b = [r for r in base if r["workload"] == w and r["trace"] == trace]
            c = [r for r in change if r["workload"] == w and r["trace"] == trace]
            if not b or not c:
                continue
            if trace == 0:
                lines.append("== %s (untraced: %d base runs, %d change runs)" % (w, len(b), len(c)))
                lines.append("%-14s %-28s %-28s %6s  %s" % (
                    "metric", "base median [q1, q3]", "change median [q1, q3]", "wins", "verdict"))
                for name, spec in specs.items():
                    bv = [r["metrics"][name]["value"] for r in b if name in r["metrics"]]
                    cv = [r["metrics"][name]["value"] for r in c if name in r["metrics"]]
                    if not bv or not cv:
                        continue
                    pv = [(x["metrics"][name]["value"], y["metrics"][name]["value"])
                          for x, y in pairs(b, c)
                          if name in x["metrics"] and name in y["metrics"]]
                    v, ws = verdict(bv, cv, pv, spec["better"], spec.get("bound", 0.25))
                    bq, cq = stats.quartiles(bv), stats.quartiles(cv)
                    lines.append("%-14s %-28s %-28s %5.0f%%  %s" % (
                        name, "%.4g [%.4g, %.4g]" % (bq[1], bq[0], bq[2]),
                        "%.4g [%.4g, %.4g]" % (cq[1], cq[0], cq[2]), 100 * ws, v))
            else:
                lines.append("== %s (traced per-layer medians: %d base, %d change)" % (
                    w, len(b), len(c)))
                names = sorted(set(b[0]["metrics"]) & set(c[0]["metrics"]))
                for name in names:
                    bm = stats.median([r["metrics"][name]["value"] for r in b])
                    cm = stats.median([r["metrics"][name]["value"] for r in c])
                    if bm == 0 and cm == 0:
                        continue
                    delta = "%+.1f%%" % (100 * (cm - bm) / bm) if bm else "new"
                    lines.append("  %-40s %12.4g %12.4g  %s" % (name, bm, cm, delta))
    return lines


def spreads(runs, bench):
    lines = []
    for w in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == w and r["trace"] == 0]
        if not rs:
            continue
        lines.append("== %s (%d untraced runs)" % (w, len(rs)))
        for spec in bench["end_to_end"]:
            vals = [r["metrics"][spec["name"]]["value"] for r in rs
                    if spec["name"] in r["metrics"]]
            if not vals:
                continue
            q1, q2, q3 = stats.quartiles(vals)
            sp = stats.relative_spread(vals)
            lines.append("%-14s median %-10.4g [%.4g, %.4g]  spread %.3f  (bound/3 %.3f)%s" % (
                spec["name"], q2, q1, q3, sp, spec["bound"] / 3,
                "" if sp < spec["bound"] / 3 else "  <-- over"))
    return lines


def main():
    ap = argparse.ArgumentParser(description="compare two sets of perfbench runs")
    ap.add_argument("base")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.bench) as f:
        bench = json.load(f)
    if a.change is None:
        lines = spreads(load(a.base), bench)
    else:
        lines = compare(load(a.base), load(a.change), bench)
    print("\n".join(lines) if lines else "no comparable runs")
    return 0


if __name__ == "__main__":
    sys.exit(main())
