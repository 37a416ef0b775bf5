"""Output checks that run outside the JVM, after the timed phases.

health-daily: every tenant's warehouse equals a direct aggregation of
the generated source rows over the days it covers, with NULL for a
missing source-day and no day twice. events-scan: every mix query's
full output equals its DuckDB oracle on the generated events. The
corpus-ingest invariant and the health re-run check are evaluated in
the JVM and arrive in the result's `checks`.
"""
import json
import os

import duckdb

import gen


def _health(inputs, res):
    c = res["checks"]
    failures = [] if c["rerun_appends_nothing"] else ["a re-run of the same day appended rows"]
    con = duckdb.connect()
    src = os.path.join(inputs, "sources.parquet")
    pivot = ", ".join(
        f"max(n) FILTER (WHERE source = '{s}') AS {s}__n, "
        f"max(total) FILTER (WHERE source = '{s}') AS {s}__total" for s in gen.SOURCES)
    cols = ", ".join(["day"] + [f"{s}__{m}" for s in gen.SOURCES for m in ("n", "total")])
    for t in c["tenants"]:
        wh = t["warehouse"]
        got = (f"SELECT CAST(day AS VARCHAR) AS day, * EXCLUDE (day) FROM read_parquet("
               f"'{wh}/**/*.parquet', hive_partitioning = true)")
        want = (f"SELECT day, {pivot} FROM read_parquet('{src}') WHERE tenant = '{t['tenant']}' "
                f"AND day BETWEEN '{t['first_day']}' AND '{t['last_day']}' GROUP BY day")
        n, days = con.sql(f"SELECT count(*), count(DISTINCT day) FROM ({got})").fetchone()
        if n != days:
            failures.append(f"{t['tenant']}: {n - days} days appear twice")
        for a, b, side in ((got, want, "unexpected"), (want, got, "missing")):
            bad = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM ({a}) "
                          f"EXCEPT ALL SELECT {cols} FROM ({b}))").fetchone()[0]
            if bad:
                failures.append(f"{t['tenant']}: {bad} {side} warehouse rows")
    return failures


def _events(inputs, res):
    out = res["checks"]["outputs"]
    with open(os.path.join(out, "oracle.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{inputs}/events.parquet')")
    failures = []
    for q in res["checks"]["queries"]:
        con.sql(f"CREATE OR REPLACE VIEW got AS SELECT * FROM read_parquet('{out}/{q}/*.parquet')")
        con.sql(f"CREATE OR REPLACE TEMP TABLE want AS {oracle[q]}")
        g = dict(con.sql("SELECT column_name, column_type FROM (DESCRIBE got)").fetchall())
        w = dict(con.sql("SELECT column_name, column_type FROM (DESCRIBE want)").fetchall())
        if g != w:
            failures.append(f"{q}: columns {sorted(g.items())} vs oracle {sorted(w.items())}")
            continue
        cols = ", ".join(f'"{c}"' for c in sorted(g))
        for a, b, side in (("got", "want", "unexpected"), ("want", "got", "missing")):
            bad = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM {a} "
                          f"EXCEPT ALL SELECT {cols} FROM {b})").fetchone()[0]
            if bad:
                failures.append(f"{q}: {bad} {side} rows")
    return failures


def _corpus(inputs, res):
    c = res["checks"]
    if c["manifest_matches_full_run"]:
        return []
    return [f"live manifest diverges from the full run: {c['only_live']} rows only live, "
            f"{c['only_full']} only in the full run"]


def run(workload, inputs, res):
    """Returns the list of failed checks (empty when every output is right)."""
    return {"health-daily": _health, "events-scan": _events,
            "corpus-ingest": _corpus}[workload](inputs, res)
