"""Compare two sets of benchmark results: parent against change.

Usage: python3 perfbench/compare.py <parent> <change> [--benchmark BENCHMARK.json]

<parent> and <change> are directories (or single files) holding the
captured standard output of `perfbench/run.py` runs, one run per file.
Runs are grouped by workload; untraced runs are judged on the end-to-end
metrics, traced runs are listed layer by layer without a verdict.

Each (workload, end-to-end metric) gets one verdict:
  gain        the change wins at least 9 of 10 pairs (ties count for
              neither side) and the medians differ by more than the
              parent's own quartile spread;
  regression  the change's median is worse than the parent's by more
              than the metric's bound in BENCHMARK.json;
  unresolved  the parent's quartile spread, as a share of its median,
              exceeds the bound, and not every change run beats every
              parent run;
  same        none of the above.
Pairs are formed by seed; runs whose seed has no partner are left out of
the pair count. The exit code is 1 when any verdict is a regression.
"""
import argparse
import json
import os
import statistics
import sys


def load_runs(path):
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    runs = []
    for f in files:
        record = result = None
        for line in open(f, errors="replace"):
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if "perfbench" in obj:
                record = obj["perfbench"]
            elif "metrics" in obj and "correct" in obj:
                result = obj
        if record and result:
            runs.append({"workload": record["context"]["workload"],
                         "seed": record["context"]["seed"],
                         "trace": record["context"]["trace"],
                         "correct": result["correct"],
                         "metrics": {k: v["value"] for k, v in result["metrics"].items()}})
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(parent, change, better, bound):
    """parent, change: {seed: value}. Return (verdict, detail dict)."""
    p, c = list(parent.values()), list(change.values())
    mp, mc = statistics.median(p), statistics.median(c)
    q1, q3 = quartiles(p)
    sign = 1.0 if better == "lower" else -1.0
    seeds = sorted(set(parent) & set(change))
    wins = sum(1 for s in seeds if sign * (change[s] - parent[s]) < 0)
    losses = sum(1 for s in seeds if sign * (change[s] - parent[s]) > 0)
    worse_by = sign * (mc - mp) / mp if mp else 0.0
    spread = (q3 - q1) / mp if mp else 0.0
    all_better = all(sign * (x - y) < 0 for x in c for y in p)
    if seeds and wins >= 0.9 * len(seeds) and abs(mc - mp) > (q3 - q1) and sign * (mc - mp) < 0:
        v = "gain"
    elif worse_by > bound:
        v = "regression"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return v, {"parent": mp, "change": mc, "delta": -worse_by, "spread": spread,
               "wins": wins, "losses": losses, "pairs": len(seeds)}


def main(argv=None):
    ap = argparse.ArgumentParser(description="compare parent and change benchmark runs")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    a = ap.parse_args(argv)
    bench = json.load(open(a.benchmark))
    runs = {"parent": load_runs(a.parent), "change": load_runs(a.change)}
    workloads = [w["name"] for w in bench["workloads"]]
    regressed = False
    for w in workloads:
        side = {k: [r for r in v if r["workload"] == w and r["trace"] == 0] for k, v in runs.items()}
        if not side["parent"] or not side["change"]:
            print(f"{w}: no untraced runs on {'both sides' if not any(side.values()) else 'one side'}")
            continue
        bad = sum(1 for v in side.values() for r in v if not r["correct"])
        cells = []
        for m in bench["end_to_end"]:
            vals = {k: {r["seed"]: r["metrics"][m["name"]] for r in v} for k, v in side.items()}
            v, d = verdict(vals["parent"], vals["change"], m["better"], m["bound"])
            regressed |= v == "regression"
            cells.append(f"{m['name']}={v} ({d['parent']:.4g}->{d['change']:.4g} {m['unit']}, "
                         f"{d['delta']:+.1%}, spread {d['spread']:.1%}, "
                         f"won {d['wins']}/{d['pairs']})")
        runs_note = f"{len(side['parent'])} vs {len(side['change'])} runs"
        if bad:
            runs_note += f", {bad} incorrect"
        print(f"{w} [{runs_note}]: " + "; ".join(cells))
    for w in workloads:
        traced = {k: [r for r in v if r["workload"] == w and r["trace"] == 1] for k, v in runs.items()}
        if not (traced["parent"] and traced["change"]):
            continue
        print(f"{w} per-layer medians (parent -> change):")
        for m in bench["per_layer"]:
            p = statistics.median(r["metrics"][m["name"]] for r in traced["parent"])
            c = statistics.median(r["metrics"][m["name"]] for r in traced["change"])
            print(f"  {m['name']:34s} {p:12.4g} -> {c:12.4g} {m['unit']}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
