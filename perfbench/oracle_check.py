#!/usr/bin/env python3
"""Check the engine's query_mix results on the generated tables against
each query's DuckDB oracle SQL (a development tool; needs the `duckdb`
Python package).

    python3 perfbench/oracle_check.py

It dumps every query_mix result with `perfbench.OracleDump` (building
first if needed) into `.perfbench/oracle/`, runs the oracle SQL over the
same parquet tables, and compares the two with rows and columns sorted,
as the engine's own oracle check does. Exit code 0 when every query with an
oracle agrees.
"""

import json
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

import duckdb  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    launcher = run.build()
    data = run.CACHE / "data" / "sf0.1-v1"
    out = run.CACHE / "oracle"
    subprocess.run(["java", *launcher["java_options"], "-Xmx3g", "-cp",
                    ":".join(launcher["classpath"]), "perfbench.OracleDump",
                    str(run.CACHE), str(out)], cwd=run.ROOT, check=True,
                   stderr=subprocess.DEVNULL)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet/*.parquet'")
    oracle = json.loads((out / "oracle_sql.json").read_text())
    bad = 0
    for name, sql in sorted(oracle.items()):
        s = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df()
        d = con.sql(sql).df()
        s, d = s[sorted(s.columns)], d[sorted(d.columns)]
        s = s.sort_values(list(s.columns)).reset_index(drop=True)
        d = d.sort_values(list(d.columns)).reset_index(drop=True)
        ok = list(s.columns) == list(d.columns) and len(s) == len(d) \
            and s.astype(str).equals(d.astype(str))
        bad += not ok
        print(f"{name:28s} {'OK' if ok else 'MISMATCH'} rows={len(s)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
