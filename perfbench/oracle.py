"""DuckDB oracle check for query results written by the JVM side.

Each registered query's output (`<work>/out/<name>/*.parquet`) is compared
with its oracle SQL run by DuckDB over the same generated inputs. The cell
form and both fetches are the project's correctness gate's own
(`tools/check.py`: `canon`, `spark_rows`, `oracle_rows`), so the benchmark
follows any change to it; only the per-query loop that collects mismatches
lives here.
"""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
try:
    from check import TABLES, oracle_rows, spark_rows  # noqa: E402
except ImportError:
    raise SystemExit("oracle: the correctness gate tools/check.py was not found")


def compare(con, name, sql, files):
    """None when the Spark output equals the oracle, else why not."""
    if not files:
        return f"{name}: no spark output"
    got_cols = [d[0] for d in con.sql(f"SELECT * FROM read_parquet({files!r}) LIMIT 0").description]
    exp_cols = [d[0] for d in con.sql(f"SELECT * FROM ({sql}) LIMIT 0").description]
    if sorted(got_cols) != sorted(exp_cols):
        return f"{name}: columns {sorted(got_cols)} vs {sorted(exp_cols)}"
    cols = sorted(got_cols)
    got = spark_rows(con, files, cols)
    want = oracle_rows(con, sql, cols)
    if len(got) != len(want):
        return f"{name}: {len(got)} rows vs {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            c, a, b = next((c, a, b) for c, a, b in zip(cols, g, w) if a != b)
            return f"{name}: row {i} column {c}: spark={a!r} oracle={b!r}"
    return None


def check(data_dir, work_dir, sqls):
    """Compare every query in `sqls`; returns (checked, [mismatch, ...])."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = []
    for name, sql in sorted(sqls.items()):
        files = sorted(glob.glob(os.path.join(work_dir, "out", name, "*.parquet")))
        try:
            why = compare(con, name, sql, files)
        except duckdb.Error as e:
            why = f"{name}: {e}"
        if why:
            bad.append(why)
    con.close()
    return len(sqls), bad
