"""Driver-faithful correctness sweep: run EVERY registered query and
its DuckDB oracle in a PLAIN SparkSession (ANSI on, no tuned conf) —
exactly the session the external driver builds. The tuned-session
twin is tools/local_gate.py; this one catches plain-session-only
behavior (ANSI casts, conf defaults). Cells compare by repr only.

Usage: python tools/plain_gate.py   (sf0.01)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from lakehouse_architecture_transaction_spark.catalog import TABLES, table_path  # noqa: E402
from tools.local_gate import canon  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    spark = SparkSession.builder.master("local[16]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    qs, osql = E.queries(), E.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')")

    npass = nfail = 0
    for name, fn in qs.items():
        t0 = time.time()
        try:
            a = canon(fn(spark, SF_DIR).toPandas())
            if name not in osql:
                print(f"  ROWS-ONLY {name} ({len(a)} rows)", flush=True)
                npass += 1
                continue
            b = canon(con.execute(osql[name]).df())
            ok = len(a) == len(b) and list(a.columns) == list(b.columns)
            if ok:
                for c in a.columns:
                    if a[c].map(repr).tolist() != b[c].map(repr).tolist():
                        ok = False
                        print(f"  FAIL {name}: col {c}", flush=True)
                        break
            else:
                print(f"  FAIL {name}: shape {len(a)}x{len(a.columns)} vs {len(b)}x{len(b.columns)}", flush=True)
            if ok:
                npass += 1
                print(f"  PASS {name} ({len(a)} rows) [{time.time()-t0:.1f}s]", flush=True)
            else:
                nfail += 1
        except Exception as ex:
            nfail += 1
            print(f"  ERROR {name}: {type(ex).__name__}: {str(ex)[:200]}", flush=True)
    print(f"{npass} pass, {nfail} fail", flush=True)


if __name__ == "__main__":
    main()
