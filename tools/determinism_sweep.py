#!/usr/bin/env python
"""Registry-wide run-to-run determinism sweep (round 11).

The float-stability discipline (``functions/stable.py``, seeded models,
fixed tie-breaks, no clocks/RNG) CLAIMS every registered operator is
deterministic run-to-run. The oracle gate cannot see a violation that
happens to hash-match once; this sweep proves the property directly:
every registered query executes TWICE in one vanilla session (fresh
DataFrame build each time — plan compilation, session memos, and
artifacts warm naturally, exactly like a production re-run) and the two
canonicalized row multisets must be identical.

Usage:
    python tools/determinism_sweep.py [START END] [SF_DIR]

Exits non-zero listing any operator whose two runs differ.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

_args = sys.argv[1:]
WINDOW = None
if len(_args) >= 2 and _args[0].isdigit() and _args[1].isdigit():
    WINDOW = (int(_args[0]), int(_args[1]))
    _args = _args[2:]
SF = _args[0] if _args else "/root/testdata/sf0.01"

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .appName("nm-determinism-sweep")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as m  # noqa: E402
from tests.parity import canon_rows  # noqa: E402


def snapshot(fn) -> list:
    df = fn(spark, SF)
    # cells compare as strings: -0.0 vs 0.0, or 1 vs 1.0 vs True, differ
    rows = canon_rows(df.columns, df.collect())
    return [sorted(df.columns), [tuple(map(str, r)) for r in rows]]


def main() -> int:
    qd = m.queries()
    names = list(qd)
    if WINDOW:
        names = names[WINDOW[0] : WINDOW[1]]
    bad = []
    t_all = time.perf_counter()
    for name in names:
        t0 = time.perf_counter()
        try:
            first = snapshot(qd[name])
            second = snapshot(qd[name])
        except Exception as exc:
            bad.append(f"{name}: crashed ({exc})")
            print(f"ERR {name}: {exc}", flush=True)
            continue
        if first != second:
            n_diff = sum(a != b for a, b in zip(first[1], second[1])) + abs(
                len(first[1]) - len(second[1])
            )
            bad.append(f"{name}: {n_diff} differing rows")
            print(f"DIFF {name}: {n_diff} rows", flush=True)
        else:
            print(
                f"OK {name}: {len(first[1])} rows stable "
                f"{time.perf_counter() - t0:.1f}s",
                flush=True,
            )
    print(f"TOTAL {time.perf_counter() - t_all:.1f}s ops={len(names)}")
    print("BAD:", bad if bad else "none")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
