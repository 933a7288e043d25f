#!/usr/bin/env python3
"""Run the benchmark with several seeds per workload and summarise each
end-to-end metric: median, quartiles (statistics.quantiles, n=4) and the
quartile spread as a share of the median, next to the metric's bound.

    python3 perfbench/steadiness.py --runs 10 [--workloads a,b] [--first-seed 1] [--out FILE]

Run from the repository root. Raw results are appended to FILE.jsonl when
--out is given, and the markdown table is written to FILE.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time

SPEC = json.load(open("BENCHMARK.json"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    a = ap.parse_args()
    rows = []
    for w in a.workloads.split(","):
        results = []
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                                "--seconds", str(SPEC["run_seconds"]), "--trace", "0"],
                               capture_output=True, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            r.update(workload=w, seed=seed, wall_s=round(wall, 1))
            results.append(r)
            print(json.dumps(r), file=sys.stderr)
            if a.out:
                with open(a.out + ".jsonl", "a") as f:
                    f.write(json.dumps(r) + "\n")
        if not results:
            continue
        att = sum(r["attempted"] for r in results)
        fail = sum(r["failed"] for r in results)
        walls = [r["wall_s"] for r in results]
        rows.append(f"\n### {w}: {len(results)} runs, seeds {a.first_seed}–{a.first_seed + a.runs - 1}; "
                    f"failed operations {fail}/{att} ({100.0 * fail / att:.2f}%); "
                    f"all correct: {all(r['correct'] for r in results)}; "
                    f"run wall time median {statistics.median(walls):.1f} s, max {max(walls):.1f} s\n")
        rows.append("| metric | unit | median | Q1 | Q3 | (Q3−Q1)/median | bound |")
        rows.append("|---|---|---|---|---|---|---|")
        for m in SPEC["end_to_end"]:
            v = [r["metrics"][m["name"]]["value"] for r in results]
            q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], v[0], v[0])
            med = statistics.median(v)
            rows.append(f"| `{m['name']}` | {m['unit']} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                        f"{(q3 - q1) / med:.3f} | {m['bound']} |")
    text = "\n".join(rows) + "\n"
    print(text)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text)


if __name__ == "__main__":
    main()
