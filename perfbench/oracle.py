"""DuckDB check of the registry queries' reference results.

For every query the harness ran, it wrote the collected result
(`<query>.json`, columns sorted by name) and, when the registry has one,
the query's `SparkEntry.oracleSql` text (`<query>.sql`). This module runs
each oracle in DuckDB over the same parquet files and compares: values
exactly, floating point to a relative 1e-9; rows in order first, then as
multisets (a tie in an ORDER BY may order equal keys differently).
"""
import datetime as dt
import decimal
import glob
import json
import math
import os


def _norm(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, dt.datetime):
        return "ts:" + v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return "date:" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return [_norm(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return str(v)


def _spark_norm(v):
    # the harness writes NaN/Infinity as strings and whole doubles as "1.0"
    if isinstance(v, str) and v in ("NaN", "Infinity", "-Infinity"):
        return float(v.replace("Infinity", "inf"))
    if isinstance(v, list):
        return [_spark_norm(x) for x in v]
    return _norm(v)


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _key(row):
    def k(v):
        if isinstance(v, float):
            return (1, "nan" if math.isnan(v) else f"{v:.6e}")
        if isinstance(v, list):
            return (2, str([k(x) for x in v]))
        return (0, "" if v is None else str(v))
    return [k(v) for v in row]


def compare(results_dir, data_dir):
    """Return {query: reason} for every query whose result differs."""
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for sql_file in sorted(glob.glob(os.path.join(results_dir, "*.sql"))):
        q = os.path.basename(sql_file)[:-4]
        res_file = os.path.join(results_dir, q + ".json")
        if not os.path.exists(res_file):
            continue  # the query threw; already counted as failed
        with open(res_file) as f:
            got = json.load(f)
        try:
            cur = con.execute(open(sql_file).read())
            cols = [d[0] for d in cur.description]
            want_rows = cur.fetchall()
        except Exception as e:  # an oracle that cannot run is a mismatch
            bad[q] = f"oracle error: {e}"[:300]
            continue
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        if [cols[i] for i in order] != got["columns"]:
            bad[q] = f"columns {got['columns']} vs oracle {[cols[i] for i in order]}"
            continue
        want = [[_norm(r[i]) for i in order] for r in want_rows]
        have = [[_spark_norm(v) for v in r] for r in got["rows"]]
        if len(want) != len(have):
            bad[q] = f"{len(have)} rows vs oracle {len(want)}"
            continue
        if all(_same(a, b) for a, b in zip(have, want)):
            continue
        if all(_same(a, b) for a, b in zip(sorted(have, key=_key), sorted(want, key=_key))):
            continue
        first = next(i for i, (a, b) in enumerate(zip(have, want)) if not _same(a, b))
        bad[q] = f"row {first}: {have[first]} vs oracle {want[first]}"[:300]
    return bad
