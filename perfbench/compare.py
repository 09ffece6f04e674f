#!/usr/bin/env python3
"""Summarise or compare benchmark run records (perfbench/results/records.jsonl).

    python3 perfbench/compare.py [RECORDS]          # one set
    python3 perfbench/compare.py BASE.jsonl NEW.jsonl  # base vs new

For each workload it prints the median of every end-to-end metric over the
untraced runs, next to the same figure from the traced runs (the tracing
overhead), and the median of every per-layer metric over the traced runs.
With two files it prints base, new and the change.

Records taken on different core counts are not comparable: the script
refuses (exit 2) when the records it reads carry more than one `cpus`
value. It also refuses to mix scale factors.
"""
import json
import pathlib
import statistics
import sys

DEFAULT = pathlib.Path(__file__).resolve().parent / "results" / "records.jsonl"


def load(path):
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def refuse_mixed(records, key):
    values = sorted({str(r.get(key)) for r in records})
    if len(values) > 1:
        print(f"refusing to compare records with different {key}: "
              f"{', '.join(values)}", file=sys.stderr)
        sys.exit(2)


def medians(records, workload, traced, section):
    rs = [r for r in records
          if r["workload"] == workload and r["trace"] == traced
          and r["failed"] == 0]
    names = sorted({n for r in rs for n in r[section]})
    return len(rs), {n: statistics.median(r[section][n] for r in rs
                                          if n in r[section]) for n in names}


def fmt(x):
    return "-" if x is None else f"{x:.4g}"


def summary(records):
    for w in sorted({r["workload"] for r in records}):
        n0, e2e = medians(records, w, False, "end_to_end")
        n1, e2e_traced = medians(records, w, True, "end_to_end")
        print(f"{w}: {n0} untraced / {n1} traced runs")
        for m in sorted(set(e2e) | set(e2e_traced)):
            print(f"  {m:26s} {fmt(e2e.get(m)):>12s} "
                  f"traced {fmt(e2e_traced.get(m)):>12s}")
        _, layers = medians(records, w, True, "per_layer")
        for m, v in layers.items():
            print(f"  {m:26s} {fmt(v):>12s}")


def compare(base, new):
    for w in sorted({r["workload"] for r in base + new}):
        nb, b = medians(base, w, False, "end_to_end")
        nn, n = medians(new, w, False, "end_to_end")
        print(f"{w}: base {nb} runs, new {nn} runs")
        for m in sorted(set(b) | set(n)):
            change = (f"{(n[m] - b[m]) / b[m]:+.1%}"
                      if m in b and m in n and b[m] else "-")
            print(f"  {m:26s} {fmt(b.get(m)):>12s} {fmt(n.get(m)):>12s} "
                  f"{change:>8s}")
        _, lb = medians(base, w, True, "per_layer")
        _, ln = medians(new, w, True, "per_layer")
        for m in sorted(set(lb) | set(ln)):
            print(f"  {m:26s} {fmt(lb.get(m)):>12s} {fmt(ln.get(m)):>12s}")


def main(argv):
    files = argv[1:] or [DEFAULT]
    sets = [load(f) for f in files]
    everything = [r for s in sets for r in s]
    refuse_mixed(everything, "cpus")
    refuse_mixed(everything, "sf")
    if len(sets) == 1:
        summary(sets[0])
    else:
        compare(sets[0], sets[1])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
