#!/usr/bin/env python
"""Driver-shaped preflight: run a slice of ``driver_ordered`` queries
through ``__spark_entry__`` with a VANILLA SparkSession and compare each
against its DuckDB oracle (canonicalized value compare), exactly like the
round driver's correctness gate.

Usage:
    python tools/preflight_driver_window.py [START END] [SF_DIR]

Defaults: the driver's round window (0 50) at sf0.01. The end-of-round-4
state after the §2.T extension batch: window (0 50) 50/50 green in 53 s,
round-5 backlog (50 97) 47/47 green in 42 s.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
import duckdb  # noqa: E402

from tests.parity import canon_rows  # noqa: E402

START = int(sys.argv[1]) if len(sys.argv) > 2 else 0
END = int(sys.argv[2]) if len(sys.argv) > 2 else 50
SF = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"

spark = SparkSession.builder.master("local[8]").getOrCreate()  # VANILLA
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as m  # noqa: E402

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
    )


qd, od = m.queries(), m.oracle_sql()
window = list(qd)[START:END]
t_all = time.time()
bad = []
for name in window:
    t0 = time.time()
    try:
        df = qd[name](spark, SF)
        cols = sorted(df.columns)
        rows = canon_rows(df.columns, df.collect())
    except Exception as exc:  # noqa: BLE001 — report and continue
        bad.append((name, f"SPARK {type(exc).__name__}: {str(exc)[:150]}"))
        continue
    if name not in od:
        if not rows:
            bad.append((name, "rows-only op returned 0 rows"))
        else:
            print(f"OK-rowsonly {name}: {len(rows)} rows "
                  f"{time.time() - t0:.1f}s", flush=True)
        continue
    try:
        cur = con.execute(od[name])
        ocols = [d[0] for d in cur.description]
        ora = canon_rows(ocols, cur.fetchall())
    except Exception as exc:  # noqa: BLE001
        bad.append((name, f"ORACLE {type(exc).__name__}: {str(exc)[:150]}"))
        continue
    if sorted(ocols) != cols:
        bad.append((name, f"cols spark={cols} oracle={sorted(ocols)}"))
    elif rows != ora:
        diff = [(a, b) for a, b in zip(rows, ora) if a != b][:1]
        bad.append(
            (name, f"values differ rows={len(rows)}/{len(ora)} first={diff}")
        )
    else:
        print(f"OK {name}: {len(rows)} rows {time.time() - t0:.1f}s", flush=True)
print(f"TOTAL {time.time() - t_all:.1f}s window={len(window)}")
print("BAD:", bad if bad else "none")
sys.exit(1 if bad else 0)
