#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py <before_dir> <after_dir>

Each directory holds one file per run, named `<workload>-<seed>.txt`,
with the stdout of `perfbench/run.py` (its last line is the result).
Per workload and metric it prints both medians, both quartiles, the
relative change of the median and the pair win rate: the share of seeds
run in both sets on which `after` is better (choosing-metrics §8).

Structural growth is flagged apart from time: any per-layer job, stage
or task count that grows, and shuffle bytes that grow by more than 10%.
Traced and untraced runs may share a directory; a metric is compared
wherever both sets report it.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    """{workload: {seed: metrics}} from one directory of runs."""
    runs = {}
    for f in sorted(os.listdir(d)):
        if not f.endswith(".txt") or "-" not in f:
            continue
        workload, seed = f[:-len(".txt")].rsplit("-", 1)
        with open(os.path.join(d, f)) as fh:
            lines = [l for l in fh.read().splitlines() if l.startswith("{")]
        if lines:
            res = json.loads(lines[-1])
            runs.setdefault(workload, {}).setdefault(seed, {}).update(
                {k: v["value"] for k, v in res["metrics"].items()})
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def structural(name):
    last = name.rsplit(".", 1)[-1]
    if last in ("jobs", "stages", "tasks", "append_jobs", "build_jobs",
                "read_jobs", "jobs_per_hop", "unattributed_jobs"):
        return "count"
    if "shuffle" in name:
        return "bytes"
    return None


def main():
    before, after = load(sys.argv[1]), load(sys.argv[2])
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    flags = []
    for w in sorted(set(before) & set(after)):
        print(f"== {w}")
        print(f"{'metric':44} {'before q1/med/q3':>30} {'after q1/med/q3':>30} "
              f"{'change':>8} {'wins':>6}")
        names = sorted({m for r in before[w].values() for m in r} &
                       {m for r in after[w].values() for m in r})
        for m in names:
            a = [r[m] for r in before[w].values() if m in r]
            b = [r[m] for r in after[w].values() if m in r]
            qa, qb = quartiles(a), quartiles(b)
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            up = better.get(m, "lower") == "higher"
            pairs = [(before[w][s][m], after[w][s][m]) for s in before[w]
                     if s in after[w] and m in before[w][s] and m in after[w][s]]
            wins = [(y > x) if up else (y < x) for x, y in pairs if x != y]
            rate = f"{sum(wins) / len(wins):.2f}" if wins else "-"
            fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
            print(f"{m:44} {fmt(qa):>30} {fmt(qb):>30} {change:>+8.1%} {rate:>6}")
            kind = structural(m)
            if kind == "count" and qb[1] > qa[1]:
                flags.append(f"{w} {m}: {qa[1]:.4g} -> {qb[1]:.4g} per operation")
            if kind == "bytes" and qa[1] and qb[1] > 1.10 * qa[1]:
                flags.append(f"{w} {m}: {qa[1]:.4g} -> {qb[1]:.4g} B (+{change:.0%})")
    print("== structural growth")
    for f in flags or ["none"]:
        print(f)


if __name__ == "__main__":
    main()
