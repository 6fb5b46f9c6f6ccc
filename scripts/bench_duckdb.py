#!/usr/bin/env python3
"""DuckDB comparator for the bench set — the honest methodology from
MEMORY/PERF.md: ONE warm shared connection, all table views created once,
min-of-2 per query, same-day pairing with the engine run. Each timed query
fetches its full result as an Arrow table, the counterpart of the engine's
write to Spark's `noop` sink (a count would let the optimizer drop every
column it does not need).

Usage: bench_duckdb.py SF_DIR ORACLE_JSON [name ...]
  SF_DIR      parquet dir (file tables like sf0.1, or dir tables from ScaleUp)
  ORACLE_JSON oracle_sql.json from a graft.Verify dump
  name...     query names to time (default: every name in the json)
Prints one JSON line: {"total_sec":..., "queries":{name:sec,...}, "errors":{}}
"""
import json, os, sys, threading, time

import duckdb

# Optional per-query wall clock (seconds) via DUCK_TIMEOUT_SEC: a watcher
# thread calls con.interrupt() so one DNF oracle (e.g. s11's unrolled
# k-means SQL at sf1+) can't stall the whole warm-connection run; the
# interrupted query is recorded as a timeout in `errors`, keeping the
# shared-connection methodology for everything that finishes.
TIMEOUT = float(os.environ.get("DUCK_TIMEOUT_SEC", "0") or 0)


def run_with_timeout(con, sql):
    if TIMEOUT <= 0:
        return con.execute(sql).fetch_arrow_table()
    done = threading.Event()

    def watch():
        if not done.wait(TIMEOUT):
            con.interrupt()
    t = threading.Thread(target=watch, daemon=True)
    t.start()
    try:
        return con.execute(sql).fetch_arrow_table()
    finally:
        done.set()
        t.join()

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sf, oracle_path = sys.argv[1], sys.argv[2]
    oracle = json.load(open(oracle_path))
    names = sys.argv[3:] or sorted(oracle.keys())
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    # warmup pass primes the buffer pool the same way the engine warms codegen
    times, errors = {}, {}
    for name in names:
        sql = oracle.get(name)
        if not sql:
            errors[name] = "no such query in oracle json"
            continue
        best = None
        try:
            run_with_timeout(con, sql)
            for _ in range(2):
                t0 = time.perf_counter()
                run_with_timeout(con, sql)
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            times[name] = round(best, 4)
        except duckdb.InterruptException:
            if best is not None:
                # min over COMPLETED runs is still a valid best-of: a
                # co-tenant stall timing out run 2 must not discard run
                # 1's measurement (that would shrink the comparator's
                # query set relative to the engine side)
                times[name] = round(best, 4)
            else:
                errors[name] = f"timeout after {TIMEOUT}s (interrupted)"
        except Exception as e:
            errors[name] = str(e).split("\n")[0][:200]
    print(json.dumps({"total_sec": round(sum(times.values()), 3),
                      "n": len(times), "queries": times, "errors": errors}))


if __name__ == "__main__":
    main()
