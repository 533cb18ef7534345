"""Output checks, run after the timed passes: the reference pass's rows
against the query's DuckDB oracle SQL on the same generated tables.

`norm_cell` and `canon` are the canonical row compare of
tools/check_oracle.py, copied so the benchmark stands on its own."""
import glob
import math
import os

import duckdb


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return repr(v)


def canon(df):
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(r[c]) for c in cols)
            for r in df.to_dict("records")]
    return cols, sorted(rows)


def oracle_matches(data_dir, result_dir, oracle_sql):
    """(ok, message): does the engine's output equal the oracle's rows?"""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return False, "no engine output"
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    engine = canon(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
    oracle = canon(con.sql(oracle_sql).df())
    if engine[0] != oracle[0]:
        return False, f"columns engine={engine[0]} oracle={oracle[0]}"
    if engine[1] != oracle[1]:
        return False, f"rows engine={len(engine[1])} oracle={len(oracle[1])}"
    return True, f"{len(engine[1])} rows match"
