#!/usr/bin/env python3
"""Compare two sets of untraced benchmark results, workload by workload.

  python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds result-<workload>-s<seed>-t0.json files as run.py
writes them to .bench_build/results/. For every end-to-end metric the
script prints each side's median and quartiles, the change of the
median, and whether it stays within the metric's bound in
BENCHMARK.json. Results recorded on different fixtures (their fixture
fingerprints differ) are refused: their numbers measure different
inputs.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "result-*-t0.json"))):
        with open(p) as f:
            r = json.load(f)
        out.setdefault(r["workload"], []).append(r)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    prints = {json.dumps(r["provenance"]["fixture_fingerprint"], sort_keys=True)
              for side in (base, new) for rs in side.values() for r in rs}
    if len(prints) > 1:
        sys.exit("refused: the results were recorded on different fixtures "
                 "(fixture fingerprints differ)")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    worse = 0
    for w in sorted(set(base) & set(new)):
        print(f"== {w}: {len(base[w])} base runs, {len(new[w])} new runs")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            b = quartiles([r["metrics"][name]["value"] for r in base[w]])
            n = quartiles([r["metrics"][name]["value"] for r in new[w]])
            change = n[1] / b[1] - 1 if b[1] else float("nan")
            regress = change > bound if m["better"] == "lower" else -change > bound
            worse += regress
            print(f"  {name:<16} base {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}]  "
                  f"new {n[1]:.4g} [{n[0]:.4g}, {n[2]:.4g}]  {change:+.1%}  "
                  f"{'WORSE than bound ' + str(bound) if regress else 'ok'}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
