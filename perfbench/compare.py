#!/usr/bin/env python3
"""Compare two full benchmark results (the JSON files run.py keeps under
.bench_build/results/).

Usage: python3 perfbench/compare.py BASE.json NEW.json

Prints each metric of both results with the ratio NEW/BASE. Refuses,
with exit code 2, to compare results whose run conditions differ in
CPU count, workload, run length or tracing: a figure taken on another
number of cores is a different experiment, not a regression.
"""
import json
import sys

MUST_MATCH = ["nproc", "workload", "seconds", "trace"]


def load(path):
    with open(path) as fh:
        return json.load(fh)


def comparable(a, b):
    """The list of run conditions that differ between results a and b."""
    return [k for k in MUST_MATCH if a["conditions"].get(k) != b["conditions"].get(k)]


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    base, new = load(argv[1]), load(argv[2])
    bad = comparable(base, new)
    if bad:
        for k in bad:
            print(f"refused: {k} differs ({base['conditions'].get(k)} vs {new['conditions'].get(k)})")
        sys.exit(2)
    for section in ("metrics", "per_layer"):
        for name, m in base[section].items():
            if name not in new[section]:
                continue
            a, b = m["value"], new[section][name]["value"]
            ratio = f"{b / a:.3f}" if a else "n/a"
            print(f"{section:9s} {name:48s} {a:14.4f} {b:14.4f} {ratio:>7s} {m['unit']}")


if __name__ == "__main__":
    main(sys.argv)
