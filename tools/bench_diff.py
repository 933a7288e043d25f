#!/usr/bin/env python3
"""Compare two BENCH_DETAIL.json files (e.g. this round vs last) and
print per-query deltas worth looking at.

Usage: bench_diff.py <old.json> <new.json> [threshold_ratio=1.3]

Prints queries whose median moved by more than the threshold in either
direction (regressions first), plus totals. New/removed queries are
listed separately. Medians only — sample noise is the reader's problem;
re-run `SPARK_GRAFT_ONLY=<name> graft.Bench` to confirm anything
surprising.
"""
import json
import sys


def med(v):
    return v["median"] if isinstance(v, dict) else v


def main():
    old_path, new_path = sys.argv[1], sys.argv[2]
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3
    old = json.load(open(old_path))["queries"]
    new = json.load(open(new_path))["queries"]
    both = sorted(set(old) & set(new))
    moved = []
    for q in both:
        a, b = med(old[q]), med(new[q])
        if a <= 0:
            continue
        r = b / a
        if r > thr or r < 1 / thr:
            moved.append((r, q, a, b))
    moved.sort(reverse=True)
    print(f"== moved >{thr}x ({len(moved)} of {len(both)} shared queries)")
    for r, q, a, b in moved:
        tag = "SLOWER" if r > 1 else "faster"
        print(f"  {q:35s} {a:6.2f} -> {b:6.2f}  ({r:.2f}x {tag})")
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    if added:
        print(f"== new: {', '.join(added)}")
    if removed:
        print(f"== removed: {', '.join(removed)}")
    ta = sum(med(v) for v in old.values())
    tb = sum(med(v) for v in new.values())
    print(f"== totals: {ta:.1f}s ({len(old)}q) -> {tb:.1f}s ({len(new)}q)")


if __name__ == "__main__":
    main()
