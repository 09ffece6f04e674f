#!/usr/bin/env python3
"""Check that the benchmark is steady: run each workload once per seed and
report, per end-to-end metric, the spread (interquartile range over
median, from statistics.quantiles(values, n=4)) next to its bound from
BENCHMARK.json.

    python3 perfbench/steady.py [--workloads mr_bulk,tpch] [--seeds 10]
        [--first-seed 1]

Run from the root of a checkout. Exit 1 when a spread exceeds its bound
or a run fails.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def run(workload, seed):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
         "--trace", "0"], capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-3000:])
        return None
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bad = False
    for w in a.workloads.split(","):
        values = {m["name"]: [] for m in SPEC["end_to_end"]}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            s = run(w, seed)
            if s is None or not s["correct"]:
                print(f"{w} seed {seed}: FAILED {s}")
                bad = True
                continue
            for n in values:
                values[n].append(s["metrics"][n]["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{n}={s['metrics'][n]['value']:.4g}" for n in values),
                flush=True)
        for m in SPEC["end_to_end"]:
            xs = values[m["name"]]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            ok = spread <= m["bound"]
            bad |= not ok
            print(f"  {w:8s} {m['name']:15s} median {med:10.4f} "
                  f"spread {spread:6.3f} bound {m['bound']:.2f} "
                  f"{'ok' if ok else 'TOO WIDE'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
