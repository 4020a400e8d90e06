#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric, workload by workload.

Usage:
  python3 perfbench/compare.py BASE NEW [--layers]

BASE and NEW are each a directory of run records (the files run.py writes
under .bench_build/results/) or a list of such files separated by commas.
A file may also hold run.py's captured stdout; its line carrying the full
record is used. For every workload and end-to-end metric of BENCHMARK.json
(per-layer metrics too with --layers) it prints each side's median and
quartiles and a verdict:

  regression    NEW's median is worse than BASE's by more than the bound
  gain          NEW wins at least nine tenths of the run pairs and the medians
                differ by more than BASE's own quartile spread
  unresolved    BASE's spread is wider than the bound and neither of the above
  same          otherwise

Runs are paired by seed where both sides ran the same seeds, else in order.
Runs of different input sizes or cpu counts are refused, not compared.
Exits 1 if any metric regressed, 2 on unusable input.
"""
import json
import statistics
import sys
from pathlib import Path


def load(spec):
    paths = []
    for part in spec.split(","):
        p = Path(part)
        paths += sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = []
    for p in paths:
        text = p.read_text()
        try:
            rec = json.loads(text)
        except json.JSONDecodeError:
            rec = next((json.loads(l) for l in reversed(text.splitlines())
                        if l.startswith("{") and '"workload"' in l), None)
        if rec and "workload" in rec:
            runs.append(rec)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, new, better, bound):
    b1, bm, b3 = quartiles(base)
    _, nm, _ = quartiles(new)
    sign = 1 if better == "higher" else -1
    worse = sign * (bm - nm) / abs(bm) if bm else 0.0
    if worse > bound:
        return "regression"
    n = min(len(base), len(new))
    wins = sum(1 for b, x in zip(base[:n], new[:n]) if sign * (x - b) > 0)
    if n and wins >= 0.9 * n and abs(nm - bm) > (b3 - b1):
        return "gain"
    if bm and (b3 - b1) / abs(bm) > bound and not all(sign * (x - y) > 0 for x in new for y in base):
        return "unresolved"
    return "same"


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 2:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    spec = json.loads(Path("BENCHMARK.json").read_text())
    metrics = [dict(m, bound=m.get("bound")) for m in spec["end_to_end"]]
    if "--layers" in sys.argv:
        metrics += [dict(m, bound=None) for m in spec["per_layer"]]
    base, new = load(args[0]), load(args[1])
    if not base or not new:
        print("no run records found", file=sys.stderr)
        sys.exit(2)
    regressed = False
    for w in [x["name"] for x in spec["workloads"]]:
        bs = [r for r in base if r["workload"] == w]
        ns = [r for r in new if r["workload"] == w]
        if not bs or not ns:
            print(f"{w}: no runs on {'both sides' if not bs and not ns else 'one side'}")
            continue
        shapes = {json.dumps(r.get("inputs", {}), sort_keys=True) for r in bs + ns}
        cpus = {r.get("cpus") for r in bs + ns}
        if len(shapes) > 1 or len(cpus) > 1:
            print(f"{w}: refusing to compare runs of different inputs or cpu counts: "
                  f"{sorted(shapes)} cpus {sorted(cpus)}", file=sys.stderr)
            sys.exit(2)
        if {r["seed"] for r in bs} == {r["seed"] for r in ns}:
            bs.sort(key=lambda r: r["seed"])
            ns.sort(key=lambda r: r["seed"])
        load_b = [r["loadavg_start"][0] for r in bs]
        load_n = [r["loadavg_start"][0] for r in ns]
        print(f"{w}: base {len(bs)} runs (loadavg {min(load_b):.1f}-{max(load_b):.1f}), "
              f"new {len(ns)} runs (loadavg {min(load_n):.1f}-{max(load_n):.1f}), cpus {cpus.pop()}, "
              f"failed base {sum(r['failed'] for r in bs)} new {sum(r['failed'] for r in ns)}")
        print(f"  {'metric':36} {'unit':8} {'base q1/median/q3':>32} {'new q1/median/q3':>32}  verdict")
        for m in metrics:
            name = m["name"]
            b = [r["metrics"][name]["value"] for r in bs if r["metrics"].get(name, {}).get("value") is not None]
            x = [r["metrics"][name]["value"] for r in ns if r["metrics"].get(name, {}).get("value") is not None]
            if not b or not x:
                continue
            bq, xq = quartiles(b), quartiles(x)
            v = verdict(b, x, m["better"], m["bound"]) if m["bound"] is not None else "-"
            regressed |= v == "regression"
            fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
            print(f"  {name:36} {m['unit']:8} {fmt(bq):>32} {fmt(xq):>32}  {v}")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
