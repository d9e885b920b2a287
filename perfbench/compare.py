#!/usr/bin/env python3
"""Compare saved outputs of perfbench/run.py.

    python3 perfbench/compare.py base.out change.out

Each file holds the stdout of one or more runs. Runs are grouped by
workload; for each metric the median of each side is printed with the
change as a share of the base. Refuses (exit 3) when the two sides were
measured under different host records (nproc, heap cap, JDK, GC, JVM
flags, Spark confs), since their numbers are not comparable.
"""
import json
import statistics
import sys


def load(path):
    runs, detail = [], None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("PERFBENCH_DETAIL "):
                detail = json.loads(line[len("PERFBENCH_DETAIL "):])
            elif line.startswith('{"correct"') and detail is not None:
                runs.append((detail, json.loads(line)))
                detail = None
    return runs


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    hosts = {json.dumps(d["host"], sort_keys=True) for d, _ in base + change}
    if len(hosts) != 1:
        print("perfbench: host records differ; refusing to compare", file=sys.stderr)
        sys.exit(3)
    for w in sorted({d["workload"] for d, _ in base + change}):
        b = [r for d, r in base if d["workload"] == w]
        c = [r for d, r in change if d["workload"] == w]
        if not b or not c:
            print(f"{w}: missing on one side")
            continue
        for m in sorted(b[0]["metrics"]):
            bv = statistics.median(r["metrics"][m]["value"] for r in b)
            cv = statistics.median(r["metrics"][m]["value"] for r in c)
            share = (cv - bv) / bv if bv else float("nan")
            unit = b[0]["metrics"][m]["unit"]
            print(f"{w:14s} {m:34s} {bv:14.6g} {cv:14.6g} {unit:6s} {share:+.3f}")
        failed = sum(r["failed"] for r in c)
        print(f"{w:14s} runs {len(b)} vs {len(c)}, failed ops in change: {failed}")


if __name__ == "__main__":
    main()
