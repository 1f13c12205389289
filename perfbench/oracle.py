"""Output check: compares the result parquet one process wrote for its cold
pass with the DuckDB oracle SQL the program declares for each surface
(`SparkEntry.oracleSql`, `RefOracles.sql`), the way tools/compare.py does:
both sides read through DuckDB, columns sorted by name, rows in order,
cells compared by `repr`.
"""
import glob
import json
import math
import os

import duckdb


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def check(rows_dir, tables_dir=None, prefix=""):
    """{surface: None if it matches its oracle, else the reason}."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    if tables_dir:
        for path in glob.glob(os.path.join(tables_dir, "*.parquet")):
            name = os.path.basename(path)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    with open(os.path.join(rows_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = {}
    for name in sorted(os.listdir(rows_dir)):
        files = glob.glob(os.path.join(rows_dir, name, "*.parquet"))
        if not files:
            continue
        sql = oracles.get(prefix + name)
        if sql is None:
            out[name] = "no oracle"
            continue
        try:
            ddf = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            out[name] = f"duckdb error: {e}"
            continue
        sdf = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
        dcols, scols = sorted(ddf.column_names), sorted(sdf.column_names)
        if dcols != scols:
            out[name] = f"columns duckdb={dcols} spark={scols}"
            continue
        if ddf.num_rows != sdf.num_rows:
            out[name] = f"rows duckdb={ddf.num_rows} spark={sdf.num_rows}"
            continue
        out[name] = None
        for i, (dr, sr) in enumerate(zip(ddf.to_pylist(), sdf.to_pylist())):
            bad = next((c for c in dcols if _norm(dr[c]) != _norm(sr[c])), None)
            if bad:
                out[name] = f"row {i} col {bad}: duckdb={dr[bad]!r} spark={sr[bad]!r}"
                break
    return out
