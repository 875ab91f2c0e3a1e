#!/usr/bin/env python
"""High-cardinality streaming-state probe: RocksDB vs HDFS provider
(VERDICT r9 #5 — make the bounded-heap claim MEASURED, not architectural).

Stages an events-shaped source replicated ``REP``× with REMAPPED event
ids (replicate_rows' id-fanout discipline), so the stateful aggregation
``groupBy(event_id).count()`` holds REP × |events| distinct keys — ~3M at
the default sf0.1 — then drains it under each state-store provider in a
fresh subprocess and records:

- drain wall seconds, from ``start()`` to termination,
- the last batch's state rows and ``memoryUsedBytes`` (the provider's
  own accounting: JVM-object heap for HDFS, native block-cache+memtable
  for RocksDB), both read from the ``streaming.core.DrainRecord`` that
  ``drain`` returns,
- JVM used heap after a System.gc() post-drain (the OOM-relevant number:
  RocksDB keeps state OFF this heap, HDFS keeps every key's state ON it).

Usage:
    python tools/state_cardinality_probe.py [SF_DIR] [REP]

Prints one summary table; exits non-zero if either provider's drain
fails or drops keys. The driver-facing conclusion lives in
docs/SCALING.md ("High-cardinality state: RocksDB vs HDFS").
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from storm_netmonitor_spark.io import scratch  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REP = int(sys.argv[2]) if len(sys.argv) > 2 else 30
N_FILES = 6  # > 1 micro-batch: state must persist/reload across batches


def stage_source(d: str) -> None:
    """Replicated events staging into ``d`` — REP copies per row, event
    ids remapped to ``event_id * REP + r`` so every copy is a DISTINCT
    state key."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from storm_netmonitor_spark.streaming.stateful import _read_events_arrow

    t = _read_events_arrow(SF)
    eid = pc.multiply(pc.cast(t.column("event_id"), pa.int64()), REP)
    step = (REP + N_FILES - 1) // N_FILES
    for f in range(N_FILES):
        parts = []
        for r in range(f * step, min((f + 1) * step, REP)):
            i = t.schema.get_field_index("event_id")
            parts.append(t.set_column(i, "event_id", pc.add(eid, r)))
        if parts:
            pq.write_table(pa.concat_tables(parts), os.path.join(d, f"f{f}.parquet"))


def child(provider: str, src: str) -> None:
    """One provider's drain, in THIS process (spawned fresh per provider
    so the JVM heap measurement is uncontaminated)."""
    from pyspark.sql import SparkSession, functions as F

    from storm_netmonitor_spark.session import RUNTIME_CONFS, apply_runtime_confs
    from storm_netmonitor_spark.streaming.core import drain

    builder = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .appName(f"nm-state-probe-{provider}")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # pin the runtime confs first: drain() applies them once per session,
    # and they name the default provider
    apply_runtime_confs(spark)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        + (
            "RocksDBStateStoreProvider"
            if provider == "rocksdb"
            else "HDFSBackedStateStoreProvider"
        ),
    )
    schema = spark.read.parquet(src).schema
    counts = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with scratch(f"nm_statecard_ckpt_{provider}_") as ckpt:
        rec = drain(
            counts, "noop", "update", checkpoint=ckpt,
            state_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    rt.gc()
    time.sleep(1.0)
    rt.gc()
    heap_used = int(rt.totalMemory() - rt.freeMemory())
    print(
        "PROBE_RESULT "
        + json.dumps(
            {
                "provider": provider,
                "wall_sec": round(rec.wall_ms / 1000.0, 2),
                "n_state_keys": rec.state_rows,
                "state_memory_used_bytes": rec.state_memory_bytes,
                "jvm_heap_after_gc_bytes": heap_used,
                "n_batches": len(rec.batches),
            }
        )
    )


def main() -> int:
    if os.environ.get("NM_STATE_PROBE_CHILD"):
        child(os.environ["NM_STATE_PROBE_CHILD"], os.environ["NM_STATE_PROBE_SRC"])
        return 0
    results = {}
    with scratch("nm_statecard_") as src:
        stage_source(src)
        for provider in ("rocksdb", "hdfs"):
            env = dict(
                os.environ,
                NM_STATE_PROBE_CHILD=provider,
                NM_STATE_PROBE_SRC=src,
            )
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), SF, str(REP)],
                env=env,
                capture_output=True,
                text=True,
                cwd=_REPO,
            )
            line = next(
                (
                    ln
                    for ln in proc.stdout.splitlines()
                    if ln.startswith("PROBE_RESULT ")
                ),
                None,
            )
            if line is None:
                print(f"{provider}: FAILED\n{proc.stdout[-1500:]}\n{proc.stderr[-1500:]}")
                return 1
            results[provider] = json.loads(line[len("PROBE_RESULT "):])
    mb = lambda b: f"{b / 1048576:7.1f} MB" if b is not None else "      n/a"
    print(f"\nstate-cardinality probe: {SF} × REP={REP} "
          f"({results['rocksdb'].get('n_state_keys')} state keys)")
    print(f"{'provider':8} {'drain':>8} {'state mem (own acct)':>22} "
          f"{'JVM heap after GC':>18} {'keys':>9}")
    for p, r in results.items():
        print(
            f"{p:8} {r['wall_sec']:7.1f}s {mb(r['state_memory_used_bytes']):>22} "
            f"{mb(r['jvm_heap_after_gc_bytes']):>18} {r['n_state_keys']:>9}"
        )
    if results["rocksdb"]["n_state_keys"] != results["hdfs"]["n_state_keys"]:
        print("BAD: providers disagree on key count")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
