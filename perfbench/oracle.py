"""Correctness gate of analytics_sweep: every exact query's result must
equal its DuckDB oracle over the same generated fixtures; the approximate
sketch query must stay within its error bound.

Canonical form, as in the repository's oracle check: columns sorted by
name, floats rounded to 6 decimals, rows sorted by their values. Equal
canonical digests pass at once; otherwise the rows are compared with a
1e-6 relative float tolerance.
"""
import glob
import hashlib
import json
import math
import os

import duckdb


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                rr.append(round(v, 6))
            elif isinstance(v, list):
                rr.append(tuple(v))
            else:
                rr.append(v)
        out.append(tuple(rr))
    return sorted(out, key=lambda x: tuple(str(e) for e in x)), [cols[i] for i in order]


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def digest(rows, cols):
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def check(inputs, work):
    """Returns a list of error strings (empty when every result is right)."""
    results = os.path.join(work, "results")
    path = os.path.join(results, "oracle_sql.json")
    if not os.path.exists(path):
        return ["no results were written"]
    with open(path) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in glob.glob(os.path.join(inputs, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    errors = []

    def result(q):
        d = os.path.join(results, q)
        files = glob.glob(os.path.join(d, "*.parquet"))
        if not files:
            # an empty result writes a schema-only file, so none means the
            # query never produced output
            raise FileNotFoundError(f"{q}: no result written")
        rows = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')").fetchall()
        return rows, [x[0] for x in con.description]

    for q, sql in sorted(oracle.items()):
        try:
            got = _canon(*result(q))
            want_rows = con.execute(sql).fetchall()
            want = _canon(want_rows, [x[0] for x in con.description])
        except Exception as e:  # a missing or unreadable result is a failure
            errors.append(f"{q}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if digest(*got) == digest(*want):
            continue
        (g, gc), (w, wc) = got, want
        if gc != wc:
            errors.append(f"{q}: columns {gc} != oracle {wc}")
        elif len(g) != len(w):
            errors.append(f"{q}: {len(g)} rows != oracle {len(w)}")
        else:
            bad = [(a, b) for a, b in zip(g, w) if not _close(a, b)]
            if bad:
                errors.append(f"{q}: {len(bad)} rows differ from the oracle; first {bad[0]}"[:400])
    # approximate: HLL distinct users per event type within 5% of exact
    if os.path.isdir(os.path.join(results, "q_approx_distinct_users")):
        try:
            rows, cols = result("q_approx_distinct_users")
            approx = {r[cols.index("event_type")]: r[cols.index("approx_users")] for r in rows}
            exact = dict(con.execute(
                "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY 1").fetchall())
            if set(approx) != set(exact):
                errors.append("q_approx_distinct_users: event types differ from exact")
            for k, e in exact.items():
                if k in approx and abs(approx[k] - e) / e > 0.05:
                    errors.append(f"q_approx_distinct_users: {k} approx {approx[k]} vs exact {e}")
        except Exception as e:
            errors.append(f"q_approx_distinct_users: {type(e).__name__}: {str(e)[:200]}")
    return errors
