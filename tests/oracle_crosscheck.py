"""Local replay of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares row count, schema (column names
+ compatible dtypes), and order-insensitive values. Run directly:

    python tests/oracle_crosscheck.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duckdb_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
        elif df[c].dtype.kind == "f":
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        errs.append(f"columns: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return errs
    if len(spark_pdf) != len(duck_pdf):
        errs.append(f"rows: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for c in a.columns:
        ka, kb = a[c].dtype.kind, b[c].dtype.kind
        if ka != kb:
            errs.append(f"dtype[{c}]: spark={a[c].dtype} duck={b[c].dtype}")
    if errs:
        return errs
    if len(a) == len(b) and not a.equals(b):
        neq = (a != b).any(axis=1)
        diff = pd.concat([a[neq].head(3).add_prefix("s_"), b[neq].head(3).add_prefix("d_")], axis=1)
        errs.append(f"values differ on {int(neq.sum())} rows:\n{diff}")
    return errs


# Each registry query is a chain of small Spark jobs that leaves most cores
# idle, so replays run this many queries at once (one thread each). On a
# 4-core VM the sf0.1 driver-sample replay took 452 s one at a time, 288 s
# four at a time, and no less eight at a time.
REPLAY_WORKERS = 4


def replay(spark, con, sf_dir: str, names: list[str]) -> list[tuple[str, str, object]]:
    """Run each of ``names`` on Spark and compare it with its oracle SQL on
    DuckDB, ``REPLAY_WORKERS`` queries at a time. Returns ``(name, status,
    detail)`` in the order of ``names``, once every query has finished:
    ``OK`` (detail = rows), ``WEAK`` (no oracle SQL; detail = rows) or
    ``FAIL`` (detail = error lines). One query's error never stops the
    others."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    lock, local, cursors = threading.Lock(), threading.local(), []

    def one(name):
        try:
            spdf = qs[name](spark, sf_dir).toPandas()
        except Exception as ex:
            return name, "FAIL", [f"spark error: {ex}"]
        if name not in osql:
            return name, "WEAK", len(spdf)
        try:
            if not hasattr(local, "cur"):  # a DuckDB connection per thread
                with lock:
                    local.cur = con.cursor()
                    cursors.append(local.cur)
            dpdf = local.cur.sql(osql[name]).df()
        except Exception as ex:
            return name, "FAIL", [f"duckdb error: {ex}"]
        errs = compare(name, spdf, dpdf)
        return (name, "FAIL", errs) if errs else (name, "OK", len(spdf))

    try:
        with ThreadPoolExecutor(REPLAY_WORKERS) as pool:
            return list(pool.map(one, names))
    finally:
        for cur in cursors:
            cur.close()


def main(sf_dir: str = "/root/testdata/sf0.001", only: list[str] | None = None) -> int:
    import __spark_entry__ as e
    from bertopic_spark.session import get_spark

    spark = get_spark("oracle-crosscheck", cpus=8, shuffle_partitions=8)
    con = duckdb_con(sf_dir)
    qs = e.queries()
    names = [n for n in qs if not only or n in only]
    failed = []
    for name, status, detail in replay(spark, con, sf_dir, names):
        if status == "OK":
            print(f"OK   {name}: {detail} rows")
        elif status == "WEAK":
            print(f"WEAK {name}: rows={detail} (no oracle sql)")
        else:
            print(f"FAIL {name}:")
            for er in detail:
                print("   ", er)
            failed.append(name)
    print(f"\n{len(qs) - len(failed)}/{len(qs)} queries match")
    return 1 if failed else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.exit(main(sf, only=sys.argv[2:] or None))
