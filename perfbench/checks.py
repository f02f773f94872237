"""Output checks of a perfbench run (untimed, after the timed window).

Every load, landing table, diagnostic and DedupQueries output the run
produced is compared with its `SparkEntry.oracleSql` DuckDB oracle over
the same generated inputs, using the canon-and-hash rules of
tools/check.py (columns sorted by name, rows sorted by all columns,
dtype-faithful cell rendering). Landing-table row counts and the load
accounting are compared with the counts the generator planted.
"""
import glob
import os
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, "tools")
from check import TABLES, canon, table_hash  # noqa: E402  (from the repository root)

LOADS = ["cartera_load", "pending_orders_load", "ventas_incremental",
         "wor_forecast_load", "wor_cuotas_categoria_load"]
LANDING = {"cartera_csv": [("cartera_csv", "cartera_csv_rows")],
           "pending_csv": [("pending_csv", "pending_csv_rows")],
           "wor_workbook": [("wor_category", "wor_category_rows"),
                            ("wor_forecast", "wor_forecast_rows")]}
PLANTED_INSERTS = {"cartera_load": "cartera",
                   "pending_orders_load": "pending_orders",
                   "ventas_incremental": "ventas"}


def read_dir(d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def count_dir(d):
    return sum(pq.read_metadata(f).num_rows
               for f in glob.glob(os.path.join(d, "*.parquet")))


class Oracle:
    """DuckDB oracle results, one connection per input unit, cached."""

    def __init__(self, in_dir, sql):
        self.in_dir, self.sql, self.cache, self.cons = in_dir, sql, {}, {}

    def result(self, name, unit):
        key = (name, unit)
        if key not in self.cache:
            if unit not in self.cons:
                con = duckdb.connect()
                for t in TABLES:
                    p = os.path.join(self.in_dir, unit, f"{t}.parquet")
                    if os.path.exists(p):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"read_parquet('{p}')")
                self.cons[unit] = con
            self.cache[key] = canon(self.cons[unit].execute(self.sql[name]).fetchdf())
        return self.cache[key]


def compare(spark_df, oracle_df):
    """None when equal, else a one-line reason."""
    s = canon(spark_df)
    if list(s.columns) != list(oracle_df.columns):
        return f"schema spark={list(s.columns)} oracle={list(oracle_df.columns)}"
    if len(s) != len(oracle_df):
        return f"rows spark={len(s)} oracle={len(oracle_df)}"
    if table_hash(s) != table_hash(oracle_df):
        return "value hash mismatch"
    return None


def check_run(result, out_dir, in_dir, planted):
    """Return {op id: reason} for every op whose output is wrong."""
    oracle = Oracle(in_dir, result["oracle_sql"])
    bad = {}
    for op in result["ops"]:
        name, unit, stamp = op["name"], op["unit"], op["stamp"]
        if op["error"] is not None:
            bad[op["id"]] = f"raised: {op['error'][:200]}"
            continue
        reasons = []
        try:
            if name in LANDING:
                for sink, key in LANDING[name]:
                    n = count_dir(f"{out_dir}/sink/{sink}/load_stamp={stamp}")
                    want = planted["units"][unit][key]
                    if n != want:
                        reasons.append(f"{sink} rows {n} != planted {want}")
            else:
                d = (f"{out_dir}/sink/{name}/load_stamp={stamp}" if name in LOADS
                     else f"{out_dir}/check/{name}/{stamp}")
                got = read_dir(d)
                if got is None:
                    reasons.append(f"no output under {d}")
                elif name not in result["oracle_sql"]:
                    reasons.append("no oracle declared")
                else:
                    r = compare(got, oracle.result(name, unit))
                    if r:
                        reasons.append(r)
                    if name in PLANTED_INSERTS:
                        want = planted["units"][unit]["accounting"][
                            PLANTED_INSERTS[name]]["inserted"]
                        if len(got) != want:
                            reasons.append(f"inserted {len(got)} != planted {want}")
        except Exception as e:  # an oracle error is a failed check too
            reasons.append(f"check error: {e}")
        if reasons:
            bad[op["id"]] = "; ".join(reasons)
    return bad


def check_accounting(result, planted):
    """Load accounting counted from the pipelines vs the planted counts."""
    problems = []
    for unit, acc in result["accounting"].items():
        for load, want in planted["units"][unit]["accounting"].items():
            got = acc.get(load)
            if got != want:
                problems.append(f"{unit}/{load}: counted {got} != planted {want}")
    return problems
