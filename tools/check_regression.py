#!/usr/bin/env python3
"""Per-query regression check between two graft.Bench records.

Usage: tools/check_regression.py CURRENT.jsonl BASELINE.jsonl

A record is the JSON Lines file graft.Bench writes under bench-records/,
one object per query (BENCH_BASELINE_c4.jsonl is the committed one).
A query regresses when one of its Spark counters in CURRENT exceeds
BASELINE by more than that column's tolerance below. The counters do
not move with host load; wall time does, so it is printed beside them
and never decides.

Exit 0: no regression. Exit 1: a counter regressed, a query failed in
CURRENT, or CURRENT lacks a query BASELINE has. Exit 2: bad usage, or
records of different scale factors.
"""
import json
import statistics
import sys

# column -> (relative, absolute): CURRENT may exceed BASELINE by up to
# max(relative * BASELINE, absolute). Set from one commit benched twice
# at sf0.1 on 4 cores, quiet and beside 4 busy-loop processes
# (BASELINE.md section 3): over 168 queries jobs and stages never moved
# and shuffle bytes moved by at most 2.0% (190 KB), inside these bounds.
# Task CPU moved from -66% to +99% per query, far past the 25% (floor
# 100 ms) a useful gate would need, so it is printed, not gated.
TOLERANCE = {
    "jobs": (0.0, 0),
    "stages": (0.0, 0),
    "shuffle_bytes": (0.05, 64 * 1024),
}
PRINTED = ("task_cpu_ms", "wall_s")


def load(path):
    with open(path) as f:
        return {r["q"]: r for r in (json.loads(l) for l in f if l.strip())}


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    cur, base = load(sys.argv[1]), load(sys.argv[2])
    scales = {r["sf"] for r in cur.values()} | {r["sf"] for r in base.values()}
    if len(scales) > 1:
        print(f"cannot compare records of scale factors {sorted(scales)}",
              file=sys.stderr)
        sys.exit(2)
    failed = sorted(q for q, r in cur.items() if not r["ok"])
    missing = sorted(set(base) - set(cur))
    both = [q for q in base if q in cur and base[q]["ok"] and cur[q]["ok"]]
    bad = []
    for q in both:
        b, c = base[q], cur[q]
        over = [f"{k} {b[k]} -> {c[k]}" for k, (rel, ab) in TOLERANCE.items()
                if c[k] > b[k] + max(rel * b[k], ab)]
        if over:
            bad.append(f"  REGRESSED {q}: " + ", ".join(over) + "  (" + ", ".join(
                f"{k} {b[k]} -> {c[k]}" for k in PRINTED) + ")")
    ratios = [cur[q]["wall_s"] / base[q]["wall_s"] for q in both
              if base[q]["wall_s"] > 0]
    print(f"{len(both)} queries compared on {', '.join(TOLERANCE)}; "
          f"{len(bad)} regressed, {len(failed)} failed, {len(missing)} missing; "
          f"median wall ratio {statistics.median(ratios) if ratios else 0:.3f} "
          f"(printed, not gated)")
    for line in bad:
        print(line)
    if failed:
        print(f"  FAILED in current: {failed}")
    if missing:
        print(f"  MISSING from current: {missing[:10]}"
              + (f" and {len(missing) - 10} more" if len(missing) > 10 else ""))
    sys.exit(1 if bad or failed or missing else 0)


if __name__ == "__main__":
    main()
