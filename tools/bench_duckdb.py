#!/usr/bin/env python3
"""Cross-engine benchmark: time each oracle SQL in DuckDB over the same
parquet the Spark bench reads. The reference's warehouse IS DuckDB, so this
is the 'matches-or-beats the reference's single-node throughput at the same
data scale' comparison, per query.

Usage: python3 tools/bench_duckdb.py <sfDir> <oracle_sql.json> [runs=3] [timeout_s]
Emits one JSON line: {"engine":"duckdb","sf":...,"queries":{name:sec_min}}
Each query materializes fully (fetchall) — the analogue of the Spark
bench's noop-sink write. With a timeout, a query that exceeds it is
interrupted and reported as -timeout (negative = did not finish): at the
heavy tier some oracles are quadratic (IEJoin radius join) and would run
for hours — the timeout marker IS the scale finding. A query that errors
reports -1.

`connect`, `deadline` and `duck_min` are the one DuckDB set-up, query
timeout and timer; the structural sweep (tools/bench_structural.py) and
the oracle compare (tools/compare.py) import them.
"""
import contextlib
import json
import os
import sys
import threading
import time

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def connect(sf):
    """A connection with one view per testdata table, running as many
    threads as the Spark side's local[N] (SPARK_GRAFT_CPUS, else every
    core), so a paired ratio compares equal parallelism."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(os.environ.get('SPARK_GRAFT_CPUS') or os.cpu_count())}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


@contextlib.contextmanager
def deadline(con, timeout):
    """Interrupt the query `con` runs inside the block once `timeout`
    seconds pass (None: never). Yields a dict whose "fired" reads True
    once the interrupt was sent. The done-flag + lock close the race
    where the timer fires between the query returning and the block's
    exit: a stray interrupt would poison the connection and abort the
    NEXT query instantly."""
    lock = threading.Lock()
    state = {"done": False, "fired": False}

    def maybe_interrupt():
        with lock:
            if not state["done"]:
                state["fired"] = True
                con.interrupt()
    timer = threading.Timer(timeout, maybe_interrupt) if timeout else None
    if timer:
        timer.start()
    try:
        yield state
    finally:
        with lock:
            state["done"] = True
        if timer:
            timer.cancel()


def duck_min(con, sql, runs, timeout=None):
    """Min wall seconds over `runs` fully materialized runs of `sql`.
    A run past `timeout` is interrupted and ends the series: the result
    is the best earlier run (a later timeout under box load must not
    discard a completed minimum), or -timeout if none finished. Any
    other error raises."""
    best = None
    for _ in range(runs):
        t0 = time.monotonic()
        try:
            with deadline(con, timeout) as d:
                con.execute(sql).fetchall()
        except Exception:
            # an interrupt surfaces as InterruptException or, depending
            # on where it lands, as another error type: judge by the flag
            if d["fired"]:
                return best if best is not None else -timeout
            raise
        took = time.monotonic() - t0
        best = took if best is None else min(best, took)
    return best


def main():
    sf = sys.argv[1]
    oracles = json.load(open(sys.argv[2]))
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    timeout = float(sys.argv[4]) if len(sys.argv) > 4 else None
    con = connect(sf)
    best = {}
    for name, sql in sorted(oracles.items()):
        try:
            best[name] = duck_min(con, sql, runs, timeout)
        except Exception as e:
            best[name] = -1.0
            sys.stderr.write(f"{name}: {str(e)[:120]}\n")
        if timeout and best[name] == -timeout:
            sys.stderr.write(f"{name}: timed out after {timeout}s\n")
    total = sum(v for v in best.values() if v >= 0)
    print(json.dumps({"engine": "duckdb", "sf": sf, "runs": runs,
                      "total": round(total, 3),
                      "queries": {k: round(v, 4) for k, v in best.items()}}))


if __name__ == "__main__":
    main()
