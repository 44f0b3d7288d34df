"""DuckDB oracle for the benchmark's outputs.

The normalization is scripts/check.py's (the repository's correctness
gate): columns sorted by name, then an MD5 of the CSV rendering with
floats as %.10g. A result matches when its row count, its column names
and that hash all equal the oracle's. Column dtypes are recorded but, as
in check.py, not required to match.
"""
import glob
import hashlib
import json
import os
from pathlib import Path

import duckdb
import pandas as pd


def norm(df):
    return df.reindex(sorted(df.columns), axis=1)


def digest(df):
    return hashlib.md5(df.to_csv(index=False, float_format="%.10g").encode()).hexdigest()


def summary(df):
    df = norm(df)
    return {"rows": len(df), "columns": list(df.columns),
            "dtypes": [str(t) for t in df.dtypes], "hash": digest(df)}


def connect(data_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for f in sorted(glob.glob(f"{data_dir}/*.parquet")):
        name = Path(f).stem
        src = f"{f}/*.parquet" if os.path.isdir(f) else f
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def expected(data_dir, data_id, sqls, cache_file):
    """Oracle summary per operation, computed once per data set and SQL."""
    key = hashlib.sha256(json.dumps([data_id, sqls], sort_keys=True).encode()).hexdigest()
    cache_file = Path(cache_file)
    if cache_file.exists():
        cached = json.loads(cache_file.read_text())
        if cached.get("key") == key:
            return cached["results"]
    con = connect(data_dir)
    results = {name: summary(con.execute(sql).df()) for name, sql in sorted(sqls.items())}
    con.close()
    cache_file.parent.mkdir(parents=True, exist_ok=True)
    cache_file.write_text(json.dumps({"key": key, "results": results}))
    return results


def read_output(path):
    """A Spark parquet output directory, part files in partition order."""
    parts = sorted(glob.glob(f"{path}/*.parquet"))
    if not parts:
        raise FileNotFoundError(f"no parquet parts under {path}")
    frames = [pd.read_parquet(p) for p in parts]
    return pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]


def mismatch(got, want):
    """None when `got` matches the oracle summary `want`, else why not."""
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if got["hash"] != want["hash"]:
        return "value hash differs"
    return None
