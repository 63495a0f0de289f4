#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are each a directory of run records (run.py leaves them in
.bench_build/perfbench/runs/) or a glob of record files. For every workload
and metric the script prints each set's median and quartiles and the change
of the median. Set-up, steal and counters are printed alongside: counters
such as CPU seconds, shuffle and spill bytes, tasks and jobs per operation
barely move with host steal, so a regression in them shows even when the
two sets ran in windows of different speed.
"""
import glob
import json
import os
import statistics
import sys


def records(spec):
    files = sorted(glob.glob(os.path.join(spec, "*.json"))) if os.path.isdir(spec) \
        else sorted(glob.glob(spec))
    out = []
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if "metrics" in rec:  # skip records of runs that did not finish
            out.append(rec)
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def table(base, new):
    """Rows of (workload, trace, metric, base values, new values)."""
    keys = set()
    for rec in base + new:
        for m in rec["metrics"]:
            keys.add((rec["workload"], rec["trace"], m))
    for w, t, m in sorted(keys):
        pick = lambda rs: [r["metrics"][m] for r in rs
                           if r["workload"] == w and r["trace"] == t and m in r["metrics"]]
        yield w, t, m, pick(base), pick(new)


def fmt(xs):
    if not xs:
        return "-".rjust(34)
    q1, med, q3 = quartiles(xs)
    return f"{med:12.5g} [{q1:9.4g} {q3:9.4g}] n={len(xs):<2}"


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    base, new = records(argv[1]), records(argv[2])
    if not base or not new:
        sys.exit("no finished run records in one of the sets")
    print(f"{'workload':15} {'metric':34} {'base median [q1 q3]':>34} "
          f"{'new median [q1 q3]':>34} {'change':>8}")
    for w, t, m, b, n in table(base, new):
        change = ""
        if b and n and statistics.median(b):
            change = f"{(statistics.median(n) / statistics.median(b) - 1) * 100:+7.1f}%"
        name = m if t == 0 else f"{m} (traced)"
        print(f"{w:15} {name:34} {fmt(b)} {fmt(n)} {change:>8}")
    for label, rs in (("base", base), ("new", new)):
        steal = [r["env"]["steal_frac"] for r in rs if r["env"]["steal_frac"] >= 0]
        commits = sorted({r.get("commit") or r["source_hash"] for r in rs})
        print(f"{label}: {len(rs)} runs, steal median "
              f"{statistics.median(steal) if steal else float('nan'):.4f}, "
              f"max {max(steal) if steal else float('nan'):.4f}, sources {', '.join(commits)}")


if __name__ == "__main__":
    main(sys.argv)
