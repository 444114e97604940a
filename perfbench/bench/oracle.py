"""DuckDB oracle check of one run's query outputs.

Each workload query's result, written by the harness after the timed
passes, is compared with its `OracleCatalog` SQL run by DuckDB on the
same input directory. Sorting and comparison are the project's own
(`tools/oracle_check.py`: `canon` and `cmp_frames`), so the benchmark
passes a result exactly when the correctness gate would.
"""
import glob
import importlib.util
import json
import os

import duckdb
import pandas as pd


def _checker(root):
    path = os.path.join(root, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("graft_oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check(root, data_dir, out_dir, queries):
    """Return {query: None when it matches, else the mismatch text}."""
    oc = _checker(root)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for t in oc.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
        with open(os.path.join(out_dir, "oracle_sql.json")) as f:
            oracle = json.load(f)
        verdicts = {}
        for q in queries:
            files = sorted(glob.glob(os.path.join(out_dir, q, "*.parquet")))
            if q not in oracle:
                verdicts[q] = "no oracle SQL"
            elif not files:
                verdicts[q] = "no Spark output"
            else:
                try:
                    ours = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
                    theirs = con.execute(oracle[q]).fetchdf()
                    verdicts[q] = oc.cmp_frames(oc.canon(ours), oc.canon(theirs))
                except Exception as e:  # a failing oracle is a mismatch, not a crash
                    verdicts[q] = f"{type(e).__name__}: {e}"
        return verdicts
    finally:
        con.close()
