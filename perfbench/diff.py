"""Compares two sets of benchmark results, per workload, metric and layer.

    python3 perfbench/diff.py A B [--bench BENCHMARK.json]

A and B are result files written by perfbench/run.py (under
.bench_work/results/) or directories of them. Runs of one workload and
trace mode are pooled and each metric is compared by its median over
the runs. End-to-end metrics (trace 0) are flagged against the bound in
BENCHMARK.json, in the metric's "better" direction; per-layer metrics
(trace 1) have no bound and are listed with their change only.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path


def load(path):
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = {}
    for f in files:
        try:
            r = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(r, dict) or "workload" not in r or "metrics" not in r:
            continue
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def medians(runs):
    vals = {}
    for r in runs:
        for name, m in r["metrics"].items():
            if m["value"] is not None:
                vals.setdefault(name, (m["unit"], []))[1].append(m["value"])
    return {k: (u, statistics.median(v), len(v)) for k, (u, v) in vals.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--bench", default=str(Path(__file__).resolve().parent.parent / "BENCHMARK.json"))
    args = ap.parse_args()
    spec = {}
    if Path(args.bench).is_file():
        b = json.loads(Path(args.bench).read_text())
        spec = {m["name"]: m for m in b.get("end_to_end", [])}
    a, b = load(args.a), load(args.b)
    worse_any = False
    for key in sorted(set(a) & set(b)):
        workload, trace = key
        ma, mb = medians(a[key]), medians(b[key])
        print(f"== {workload} ({'per-layer' if trace else 'end-to-end'}; "
              f"runs {len(a[key])} vs {len(b[key])})")
        print(f"  {'metric':34} {'A':>14} {'B':>14} {'change':>9}  unit")
        for name in sorted(set(ma) & set(mb)):
            unit, va, _ = ma[name]
            _, vb, _ = mb[name]
            change = (vb - va) / abs(va) if va else float("nan")
            flag = ""
            s = spec.get(name)
            if s and not trace and va:
                worse = change > s["bound"] if s["better"] == "lower" else -change > s["bound"]
                flag = "  WORSE beyond bound" if worse else ""
                worse_any |= worse
            print(f"  {name:34} {va:14.6g} {vb:14.6g} {change:+9.1%}  {unit}{flag}")
    only = sorted(set(a) ^ set(b))
    for key in only:
        print(f"== {key[0]} trace {key[1]}: only in {'A' if key in a else 'B'}")
    return 1 if worse_any else 0


if __name__ == "__main__":
    sys.exit(main())
