#!/usr/bin/env python3
"""Compare two sets of benchmark runs, A (the parent) and B (the change).

    python3 perfbench/compare.py A B [--bench BENCHMARK.json]

A and B are each a directory of run records (run.py keeps one per run in
`.bench_build/records/`) or a file of result lines, one JSON object per
line as run.py prints them, with a "workload" key added. For every
workload and metric it prints each side's median and quartiles, the share
of pairs B wins (pairs matched by seed where both sides have the seed,
else by order; ties count for neither) and a verdict:

  gain        B wins at least 9 of 10 pairs and the medians differ by more
              than A's own quartile spread
  worse       B's median is worse than A's by more than the bound
  within      the medians differ by less than the bound
  unresolved  a side's quartile spread (share of its median) exceeds the
              bound, and not every run of one side beats every run of the
              other

Per-layer metrics have no bound; they get medians, quartiles and pairs only.
Last come each side's median load facts from the run records (steal share
and load sentinel of the measured phase): compare sides taken under
similar load.
"""
import argparse
import json
import os
import statistics
import sys


# load facts from each run's record: they are not metrics, but runs
# taken under different load are not comparable
LOAD_NOTES = ("bench.steal_share", "bench.sentinel_ms")


def load(path):
    """Returns ({(workload, trace): [(seed, {metric: value})]},
    {(workload, trace): {note: [values]}})."""
    runs = []
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if name.endswith(".json"):
                with open(os.path.join(path, name)) as fh:
                    rec = json.load(fh)
                runs.append((rec["workload"], rec.get("trace", 0), rec.get("seed"),
                             rec["result"], rec.get("notes") or {}))
    else:
        with open(path) as fh:
            for ln in fh:
                if ln.strip():
                    rec = json.loads(ln)
                    runs.append((rec["workload"], rec.get("trace", 0), rec.get("seed"), rec, {}))
    out, notes = {}, {}
    for workload, trace, seed, result, note in runs:
        vals = {k: v["value"] for k, v in result["metrics"].items()}
        out.setdefault((workload, trace), []).append((seed, vals))
        for k in LOAD_NOTES:
            if k in note:
                notes.setdefault((workload, trace), {}).setdefault(k, []).append(note[k])
    return out, notes


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(a, b):
    seeds_a = {s: v for s, v in a}
    seeds_b = {s: v for s, v in b}
    common = [s for s in seeds_a if s in seeds_b and s is not None]
    if common:
        return [(seeds_a[s], seeds_b[s]) for s in common]
    return list(zip([v for _, v in a], [v for _, v in b]))


def verdict(xa, xb, bound, lower_better, won, n_pairs):
    q1a, ma, q3a = quartiles(xa)
    q1b, mb, q3b = quartiles(xb)
    if bound is None:
        return ""
    sign = 1 if lower_better else -1
    worse_by = sign * (mb - ma) / ma if ma else 0.0
    spread_a = (q3a - q1a) / ma if ma else 0.0
    spread_b = (q3b - q1b) / mb if mb else 0.0
    if n_pairs and won >= 0.9 * n_pairs and abs(mb - ma) > (q3a - q1a) and worse_by < 0:
        return "gain"
    every_b_better = all(sign * (b - a) < 0 for a in xa for b in xb)
    every_b_worse = all(sign * (b - a) > 0 for a in xa for b in xb)
    if max(spread_a, spread_b) > bound and not (every_b_better or every_b_worse):
        return "unresolved"
    if worse_by > bound:
        return "worse"
    return "within"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--bench", default="BENCHMARK.json")
    args = ap.parse_args()
    with open(args.bench) as fh:
        spec = json.load(fh)
    info = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    (a, notes_a), (b, notes_b) = load(args.a), load(args.b)
    fmt = "{:<8} {:<34} {:>30} {:>30} {:>6} {}"
    print(fmt.format("workload", "metric", "A median [q1, q3]", "B median [q1, q3]",
                     "B won", "verdict"))
    flagged = False
    for key in sorted(set(a) & set(b)):
        workload, trace = key
        names = sorted(set(n for _, v in a[key] for n in v) & set(n for _, v in b[key] for n in v),
                       key=lambda n: list(info).index(n) if n in info else len(info))
        for name in names:
            xa = [v[name] for _, v in a[key] if name in v]
            xb = [v[name] for _, v in b[key] if name in v]
            m = info.get(name, {})
            lower = m.get("better", "lower") == "lower"
            ps = [(pa[name], pb[name]) for pa, pb in pairs(a[key], b[key])
                  if name in pa and name in pb]
            won = sum(1 for x, y in ps if (y < x if lower else y > x))
            v = verdict(xa, xb, m.get("bound"), lower, won, len(ps))
            flagged |= v in ("worse", "unresolved")
            qa, qb = quartiles(xa), quartiles(xb)
            print(fmt.format(workload, name,
                             f"{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]",
                             f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]",
                             f"{won}/{len(ps)}", v))
    for key in sorted(set(a) & set(b)):
        for k in LOAD_NOTES:
            xa, xb = notes_a.get(key, {}).get(k), notes_b.get(key, {}).get(k)
            if xa and xb:
                print(fmt.format(key[0], f"(load) {k}", f"{statistics.median(xa):.4g}",
                                 f"{statistics.median(xb):.4g}", "", ""))
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
