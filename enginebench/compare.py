#!/usr/bin/env python3
"""Compare two sets of engine benchmark runs.

    python3 enginebench/compare.py SET_A SET_B

Each set is a directory of run outputs (the stdout of enginebench/run.py,
one file per run, as enginebench/series.py writes them). For every workload
and end-to-end metric it prints each set's median and quartiles, the spread
(quartile distance over median) and the change of B's median against A's in
the metric's "worse" direction, and whether they agree within the bound
BENCHMARK.json gives the metric: a metric agrees when B's median is not
worse by more than the bound and both spreads are within it (a wider spread
is reported as "unsteady": the sets cannot resolve a change of that size).
It also prints each set's share of failed operations, its incorrect runs
and its median host steal share. Exits 1 when any metric does not agree,
the failed shares differ or any run was incorrect.
"""
import json
import statistics
import sys
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load(directory):
    """workload -> list of (record, result) for every complete run output."""
    runs = {}
    for f in sorted(Path(directory).glob("*.out")):
        lines = [l for l in f.read_text().splitlines() if l.startswith("{")]
        if len(lines) < 2:
            print(f"skipping {f}: no result line", file=sys.stderr)
            continue
        record = json.loads(lines[-2]).get("record", {})
        result = json.loads(lines[-1])
        runs.setdefault(record.get("workload", "?"), []).append((record, result))
    return runs


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads(BENCHMARK.read_text())
    metrics = spec["end_to_end"]
    a, b = load(sys.argv[1]), load(sys.argv[2])
    ok = True
    for workload in sorted(set(a) | set(b)):
        ra, rb = a.get(workload, []), b.get(workload, [])
        print(f"\n== {workload}: {len(ra)} runs in A, {len(rb)} runs in B")
        for name, runs in (("A", ra), ("B", rb)):
            att = sum(r["attempted"] for _, r in runs)
            fail = sum(r["failed"] for _, r in runs)
            steal = [rec["steal_share"] for rec, _ in runs if rec.get("steal_share") is not None]
            wrong = sum(1 for _, r in runs if not r["correct"])
            print(f"   {name}: failed {fail}/{att} operations"
                  f" ({fail / att if att else 0:.4f}), incorrect runs {wrong},"
                  f" median steal {statistics.median(steal) if steal else float('nan'):.3f}")
            if wrong:
                ok = False
        if not ra or not rb:
            ok = False
            continue
        fa = {r["failed"] / r["attempted"] for _, r in ra}
        fb = {r["failed"] / r["attempted"] for _, r in rb}
        if len(fa | fb) != 1:
            print(f"   failed shares differ: A {sorted(fa)}, B {sorted(fb)}")
            ok = False
        print(f"   {'metric':<28}{'A q1/med/q3':>30}{'spread':>8}"
              f"{'B q1/med/q3':>30}{'spread':>8}{'worse':>8}  verdict")
        for m in metrics:
            va = [r["metrics"][m["name"]]["value"] for _, r in ra if m["name"] in r["metrics"]]
            vb = [r["metrics"][m["name"]]["value"] for _, r in rb if m["name"] in r["metrics"]]
            if not va or not vb:
                print(f"   {m['name']:<28} missing")
                ok = False
                continue
            qa, qb = quartiles(va), quartiles(vb)
            sa = (qa[2] - qa[0]) / qa[1]
            sb = (qb[2] - qb[0]) / qb[1]
            change = (qb[1] - qa[1]) / qa[1]
            worse = change if m["better"] == "lower" else -change
            agree = worse <= m["bound"]
            steady = sa <= m["bound"] and sb <= m["bound"]
            verdict = "agree" if agree and steady else ("unsteady" if agree else "WORSE")
            ok = ok and agree and steady
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"   {m['name']:<28}{fmt(qa):>30}{sa:>8.3f}{fmt(qb):>30}{sb:>8.3f}"
                  f"{worse:>+8.3f}  {verdict} (bound {m['bound']})")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
