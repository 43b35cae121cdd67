#!/usr/bin/env python3
"""Two-sided bench: time each entry's DuckDB oracle at a given SF (min of
`reps` runs, 32 DuckDB threads, the same parquet tables) and compare it
with the Spark seconds in BENCH_DETAIL.json.

Usage: python3 tools/bench_oracle.py <sf_dir> <oracle_sql.json>
           [--names a,b,...] [--cap SEC] [--reps N] [--detail PATH]

  --names   time only these entries (default: every entry of the detail
            board)
  --cap     run each oracle in its own subprocess under a wall cap of SEC
            seconds. Replay-artifact oracles (deliberately naive SQL
            closures or brute-force replays where DuckDB needs minutes and
            Spark seconds) hit the cap and are listed apart instead of
            dominating the run: uncapped, they take >2 CPU-hours at sf0.1.

The oracle SQL is the exact replay the correctness gate runs, so the
ratios compare identical semantics: Spark against a single-node engine.
"""
import argparse, json, subprocess, sys, time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir):
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads TO 32")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def timed(con, sql):
    t0 = time.time()
    con.sql(sql).fetchall()
    return time.time() - t0


def run_capped(sf_dir, sql, cap):
    """Seconds of one oracle run in a subprocess killed after `cap`."""
    p = subprocess.run([sys.executable, __file__, "--one", sf_dir],
                       input=sql, capture_output=True, text=True, timeout=cap)
    out = p.stdout.strip().splitlines()
    if p.returncode != 0 or not out:
        raise RuntimeError((p.stderr.strip().splitlines() or ["EMPTY-OUTPUT"])[-1])
    return float(out[-1])


def best_of(reps, run, cap):
    """(min seconds, None), or (None, error) at the first failing run."""
    best = None
    for _ in range(reps):
        try:
            sec = run()
        except subprocess.TimeoutExpired:
            return None, f"CAP>{cap}s"
        except Exception as e:
            return None, (str(e).splitlines() or ["?"])[0][:80]
        best = sec if best is None else min(best, sec)
    return best, None


def main():
    if sys.argv[1:2] == ["--one"]:  # child of --cap: one timed run
        print(timed(connect(sys.argv[2]), sys.stdin.read()))
        return
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("oracle_sql")
    ap.add_argument("--names")
    ap.add_argument("--cap", type=float)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--detail", default="BENCH_DETAIL.json")
    a = ap.parse_args()
    oracle = json.load(open(a.oracle_sql))
    spark = json.load(open(a.detail))["queries"]
    names = a.names.split(",") if a.names else sorted(spark)
    con = None if a.cap else connect(a.sf_dir)

    rows = {}  # name -> (spark sec or None, duck sec or None, error)
    for n in names:
        if n not in oracle:
            rows[n] = (spark.get(n), None, "NO-ORACLE")
            continue
        run = ((lambda: run_capped(a.sf_dir, oracle[n], a.cap)) if a.cap
               else (lambda: timed(con, oracle[n])))
        rows[n] = (spark.get(n),) + best_of(a.reps, run, a.cap)

    both = [(n, s, d) for n, (s, d, _) in rows.items()
            if s is not None and s >= 0 and d is not None]
    print(f"{'entry':<30} {'spark':>7} {'duck':>7} {'ratio':>7}")
    for n, s, d in sorted(both, key=lambda r: -(r[1] / max(r[2], 1e-9))):
        print(f"{n:<30} {s:>7.3f} {d:>7.3f} {s / max(d, 1e-9):>7.2f}")
    for n, (s, d, e) in rows.items():
        if e:
            print(f"{n:<30} {e} spark={s}")
        elif s is None:
            print(f"{n:<30} NOT-IN-DETAIL duck={d:.3f}")
    ts = sum(s for _, s, _ in both)
    td = sum(d for _, _, d in both)
    print(f"\ncomparable {len(both)}: spark {ts:.1f}s duck {td:.1f}s "
          f"ratio {ts / max(td, 1e-9):.2f}")
    real = [(n, s, d) for n, s, d in both if d >= 0.2]
    if real:
        rs = sum(s for _, s, _ in real)
        rd = sum(d for _, _, d in real)
        print(f"where duck >= 0.2s ({len(real)}): spark {rs:.1f}s "
              f"duck {rd:.1f}s ratio {rs / rd:.2f}")
    weak = sorted([(n, s / d) for n, s, d in real if s / d >= 3.0 and s >= 1.0],
                  key=lambda t: -t[1])
    print(f"weak (>=3x and >=1s where duck does real work): "
          f"{[(n, round(r, 1)) for n, r in weak]}")


if __name__ == "__main__":
    main()
