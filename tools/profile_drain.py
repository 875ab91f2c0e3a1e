#!/usr/bin/env python
"""Per-micro-batch lifecycle profile of the streaming drains (VERDICT
r14 #6): attaches a ``StreamingQueryListener`` and records every
progress event's ``durationMs`` breakdown (addBatch, queryPlanning,
walCommit, commitOffsets, getBatch, latestOffset, triggerExecution)
while the named RERUN_FULL streaming ops drain, so the fixed ~0.4-0.5 s
per-drain overhead can be attributed to its actual terms instead of
guessed at.

Usage:
    python tools/profile_drain.py QUERY [QUERY ...]

A QUERY is a registered op id, or ``module:function`` for a staged
(unregistered) op under ``storm_netmonitor_spark.operators`` — e.g.
``extensions24:stream_energy_gate``.

Env: ``SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1). Each op is
run once to warm (JIT + artifact training) and once profiled; prints one
JSON line per profiled drain batch plus a per-op summary.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from storm_netmonitor_spark import registry  # noqa: E402
from storm_netmonitor_spark.session import (  # noqa: E402
    get_spark,
    quiet_expected_warnings,
)

names = sys.argv[1:]
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

registry.load_all()
spark = get_spark(app_name="nm-drain-profile")
quiet_expected_warnings(spark)

EVENTS: list[dict] = []


class _Collector(StreamingQueryListener):
    def onQueryStarted(self, event):
        EVENTS.append({"ev": "start", "t": time.perf_counter()})

    def onQueryProgress(self, event):
        p = event.progress
        EVENTS.append(
            {
                "ev": "progress",
                "t": time.perf_counter(),
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        EVENTS.append({"ev": "end", "t": time.perf_counter()})


spark.streams.addListener(_Collector())


def _resolve(name: str):
    if ":" not in name:
        return registry.QUERIES[name]
    import importlib

    mod, fn_name = name.split(":")
    return getattr(
        importlib.import_module(f"storm_netmonitor_spark.operators.{mod}"),
        fn_name,
    )


for name in names:
    fn = _resolve(name)
    fn(spark, sf_dir).collect()  # warm: JIT, artifacts, memoized plans
    time.sleep(0.3)  # listener events are async — let the warm run flush
    EVENTS.clear()
    t0 = time.perf_counter()
    fn(spark, sf_dir).collect()
    wall = time.perf_counter() - t0
    time.sleep(0.5)
    batches = [e for e in EVENTS if e["ev"] == "progress"]
    starts = [e for e in EVENTS if e["ev"] == "start"]
    ends = [e for e in EVENTS if e["ev"] == "end"]
    total_trigger = sum(
        e["durationMs"].get("triggerExecution", 0) for e in batches
    )
    agg: dict[str, int] = {}
    for e in batches:
        for k, v in e["durationMs"].items():
            agg[k] = agg.get(k, 0) + v
    print(
        json.dumps(
            {
                "query": name,
                "wall_s": round(wall, 4),
                "n_batches": len(batches),
                "sum_durationMs": agg,
                "trigger_sum_ms": total_trigger,
                "outside_trigger_ms": round(
                    wall * 1000 - total_trigger, 1
                ),
                "start_to_first_batch_ms": round(
                    (batches[0]["t"] - starts[0]["t"]) * 1000
                    - batches[0]["durationMs"].get("triggerExecution", 0),
                    1,
                )
                if batches and starts
                else None,
                "per_batch": [
                    {
                        "batchId": e["batchId"],
                        "rows": e["numInputRows"],
                        **e["durationMs"],
                    }
                    for e in batches
                ],
            }
        ),
        flush=True,
    )
