"""Correctness check: replay each op's DuckDB oracle (SparkEntry.oracleSql)
over the generated inputs and compare it with the result the engine wrote
in the first (cold) warm pass.

Comparison follows tools/check.py: columns sorted by name, rows sorted
by all columns, integer and float widths folded, values exactly equal.
Inputs are directory-style parquet, so each table view globs its part
files.
"""
import glob
import os
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            if getattr(df[c].dtype, "tz", None) is not None:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype != object:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                pass
    return df


def _kind(dtype):
    s = str(dtype)
    if s.startswith(("int", "uint")):
        return "int"
    if s.startswith("float"):
        return "float"
    return s


def compare(got, want):
    """Return None when equal, else a one-line reason."""
    import pandas as pd
    g, w = _norm(got), _norm(want)
    if list(g.columns) != list(w.columns):
        return f"columns differ: got {list(g.columns)} want {list(w.columns)}"
    if len(g) != len(w):
        return f"row count differs: got {len(g)} want {len(w)}"
    gk, wk = [_kind(t) for t in g.dtypes], [_kind(t) for t in w.dtypes]
    if gk != wk:
        return f"column types differ: got {gk} want {wk}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + " ".join(str(e).split())[:300]
    return None


def check(data_dir, results_dir, oracles, ops):
    """Check each op against its oracle. Returns {op: reason or None}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        if os.path.isdir(os.path.join(data_dir, f"{t}.parquet")):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    verdict = {}
    for op in ops:
        files = glob.glob(os.path.join(results_dir, op, "*.parquet"))
        if not files:
            verdict[op] = "no result written"
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{results_dir}/{op}/*.parquet')").df()
            if op not in oracles:
                verdict[op] = "no oracle in SparkEntry.oracleSql"
                continue
            t0 = time.time()
            want = con.execute(oracles[op]).df()
            print(f"[perfbench] oracle {op} replayed in {time.time() - t0:.2f}s",
                  file=sys.stderr)
            verdict[op] = compare(got, want)
        except Exception as e:  # a failing replay is a failed check
            verdict[op] = f"replay failed: {' '.join(str(e).split())[:300]}"
    con.close()
    return verdict
