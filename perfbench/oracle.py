"""Checks book_mix outputs against the book's DuckDB oracle SQL.

The JVM writes, outside the timed region, each query's output as parquet and
an `oracle.json` naming the tables directory and, per query, the oracle SQL
(`SparkEntry.oracleSql`) and how many timed runs it had. Each oracle runs in
DuckDB over the same tables; its result must equal the Spark output exactly:
same columns, same row count, same values after sorting, compared as text.
"""
import json
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import duckdb
import pandas as pd


def mismatch(spark_df: pd.DataFrame, duck_df: pd.DataFrame):
    """None when the frames hold the same rows, else what differs."""
    scols, dcols = sorted(spark_df.columns), sorted(duck_df.columns)
    if scols != dcols:
        return f"columns {scols} != oracle {dcols}"
    if len(spark_df) != len(duck_df):
        return f"{len(spark_df)} rows != oracle {len(duck_df)}"
    s = spark_df[scols].astype(str).sort_values(scols).reset_index(drop=True)
    d = duck_df[dcols].astype(str).sort_values(dcols).reset_index(drop=True)
    for c in scols:
        bad = s[c] != d[c]
        if bad.any():
            i = bad.idxmax()
            return f"column {c} row {i}: {s[c][i]!r} != oracle {d[c][i]!r} ({int(bad.sum())} rows differ)"
    return None


def check(spec_path: Path):
    """Returns [(query, timed runs, failure or None)] for every query with an
    oracle; the oracles run four at a time."""
    spec = json.loads(spec_path.read_text())
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for p in sorted(Path(spec["tables"]).glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.name[:-8]} AS SELECT * FROM read_parquet('{p}/*.parquet')")

        def one(item):
            name, q = item
            files = sorted(Path(q["output"]).glob("*.parquet"))
            got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
            cur = con.cursor()
            try:
                return name, q["runs"], mismatch(got, cur.execute(q["sql"]).fetchdf())
            except duckdb.Error as e:
                return name, q["runs"], f"oracle error: {e}"
            finally:
                cur.close()

        with ThreadPoolExecutor(4) as pool:
            return list(pool.map(one, [(n, q) for n, q in spec["queries"].items() if q["sql"] is not None]))
    finally:
        con.close()


def self_test():
    """A perturbed expected value must be reported; an equal frame must not."""
    a = pd.DataFrame({"k": [1, 2], "v": [0.1, 0.2]})
    b = pd.DataFrame({"v": [0.2, 0.1], "k": [2, 1]})
    c = pd.DataFrame({"k": [1, 2], "v": [0.1, 0.2000001]})
    fails = []
    if mismatch(a, b) is not None:
        fails.append("equal frames in another row and column order reported as different")
    if mismatch(a, c) is None:
        fails.append("perturbed value not reported")
    return fails
