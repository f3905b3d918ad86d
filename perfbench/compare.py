#!/usr/bin/env python3
"""Compare benchmark results of two builds, metric by metric.

    python3 perfbench/compare.py <base.json>... -- <change.json>...

Each argument is a result written by run.py under .bench_out/. Results
are grouped by workload; within each side every metric's median and
quartiles are reported, and the change's median as a share of the base's.
Results are compared only like with like: the command refuses (exit 3)
when the two sides differ in workload, trace mode, cpus, scale, run length
or driver heap.
"""
import json
import statistics
import sys

LIKE = ("workload", "trace", "cpus", "scale", "seconds", "driver_heap")


def load(paths):
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main(argv):
    if "--" not in argv:
        raise SystemExit(__doc__)
    cut = argv.index("--")
    base, change = load(argv[:cut]), load(argv[cut + 1:])
    if not base or not change:
        raise SystemExit("need at least one result on each side")
    stamps = {(tuple(r["stamp"][k] for k in LIKE)) for r in base + change}
    if len(stamps) != 1:
        sys.stderr.write("refusing to compare unlike results:\n")
        for s in sorted(stamps, key=str):
            sys.stderr.write("  " + ", ".join(f"{k}={v}" for k, v in zip(LIKE, s)) + "\n")
        sys.exit(3)
    names = list(base[0]["metrics"])
    print(f"{'metric':40} {'base p25/p50/p75':>34} {'change p25/p50/p75':>34} {'change/base':>11}")
    for n in names:
        b = quartiles([r["metrics"][n]["value"] for r in base])
        c = quartiles([r["metrics"][n]["value"] for r in change if n in r["metrics"]])
        unit = base[0]["metrics"][n]["unit"]
        ratio = f"{c[1] / b[1]:.4f}" if b[1] else "n/a"
        print(f"{n + ' (' + unit + ')':40} {'/'.join(f'{v:.4g}' for v in b):>34} "
              f"{'/'.join(f'{v:.4g}' for v in c):>34} {ratio:>11}")


if __name__ == "__main__":
    main(sys.argv[1:])
