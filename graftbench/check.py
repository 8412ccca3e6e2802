"""Output checks: landed-hour aggregates for ``ingest``, and result content
hashes against the DuckDB oracle for the query workloads.

The hash is the repository's oracle canonical form, ``frame_hash`` of
``tools/compare_oracle.py``: columns sorted by name, each value rendered
canonically, rows sorted, then SHA-256 over the joined rows.
"""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))


def oracle_connection(data_dir, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def query_failures(execs, oracle_sql, data_dir, tables):
    """Names each failed execution of the query: it raised, wrote nothing, or
    its result differs from the oracle's. Returns {index: reason}."""
    from compare_oracle import frame_hash
    con = oracle_connection(data_dir, tables)
    expected = frame_hash(con, oracle_sql)[:3]
    bad = {}
    for i, e in enumerate(execs):
        if e["error"]:
            bad[i] = e["error"]
            continue
        files = glob.glob(os.path.join(e["out"], "*.parquet"))
        if not files:
            bad[i] = "no result written"
            continue
        got = frame_hash(con, "SELECT * FROM read_parquet("
                         f"'{os.path.join(e['out'], '*.parquet')}')")[:3]
        if got != expected:
            bad[i] = f"result {got[:2]} != oracle {expected[:2]}"
    return bad


def landed_failures(landed, expected, absent):
    """Hours whose landed rows differ from the generator's: missing, extra,
    doubled, or present although they have no source files."""
    got = {r["hour"]: {k: r[k] for k in ("rows", "bytes_sum", "sec_sum")}
           for r in landed}
    bad = {}
    for hour, agg in expected.items():
        want = {k: agg[k] for k in ("rows", "bytes_sum", "sec_sum")}
        if got.get(hour) != want:
            bad[hour] = f"landed {got.get(hour)} != generated {want}"
    for hour in got:
        if hour in absent:
            bad[hour] = "absent hour landed"
        elif hour not in expected:
            bad[hour] = "unexpected hour landed"
    return bad
