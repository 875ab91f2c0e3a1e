"""Streaming integration tests beyond availableNow (SURVEY §2.I claims):
the SAME query code must run on a live processing-time trigger with files
arriving over time, and must recover exactly-once from its checkpoint
after a mid-stream stop. These are the production-mode guarantees the
hash oracles can't exercise.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from storm_netmonitor_spark.io import scratch_dir, table_path
from storm_netmonitor_spark.streaming.core import EVENTS_RAW_SCHEMA

from .conftest import SF_CORRECT


def _split_events(n_parts: int) -> tuple[str, int]:
    from storm_netmonitor_spark.streaming.stateful import _read_events_arrow

    t = _read_events_arrow(SF_CORRECT)  # ts normalized to µs for the schema
    d = scratch_dir("nm_live_")
    step = (t.num_rows + n_parts - 1) // n_parts
    for i in range(n_parts):
        pq.write_table(t.slice(i * step, step), os.path.join(d, f"p{i}.parquet"))
    return d, t.num_rows


def _wait(pred, timeout_s: float = 60.0, step: float = 0.25):
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if pred():
            return True
        time.sleep(step)
    return False


def test_live_trigger_picks_up_arriving_files(spark):
    """Files dropped into the source dir AFTER the query starts must be
    ingested by the running processing-time trigger — the actual
    netmonitor deployment mode."""
    src_all, _ = _split_events(4)
    live_dir = scratch_dir("nm_live_in_")
    parts = sorted(os.listdir(src_all))
    shutil.copy(os.path.join(src_all, parts[0]), live_dir)

    raw = spark.readStream.schema(EVENTS_RAW_SCHEMA).parquet(live_dir)
    counts = raw.groupBy().agg(F.count(F.lit(1)).alias("n"))
    name = "nm_live_t1"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", scratch_dir("nm_ckpt_"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        def seen(n_files_rows):
            rows = spark.table(name).collect()
            return rows and rows[0].n >= n_files_rows

        first = pq.read_table(os.path.join(src_all, parts[0])).num_rows
        assert _wait(lambda: seen(first)), "first file never ingested"
        # drop two more files into the LIVE directory
        for p in parts[1:3]:
            shutil.copy(os.path.join(src_all, p), live_dir)
        expect = first + sum(
            pq.read_table(os.path.join(src_all, p)).num_rows for p in parts[1:3]
        )
        assert _wait(lambda: seen(expect)), "late-arriving files never ingested"
    finally:
        q.stop()


def test_checkpoint_recovery_exactly_once(spark):
    """Stop a stateful aggregation mid-stream, restart from the SAME
    checkpoint: the final result must equal the batch aggregation of all
    input — nothing lost, nothing double-counted."""
    src, total_rows = _split_events(4)
    ckpt = scratch_dir("nm_ckpt_rec_")

    raw = spark.readStream.schema(EVENTS_RAW_SCHEMA).parquet(src)
    agg = raw.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

    def start(name, trigger_kwargs, max_files=None):
        r = spark.readStream.schema(EVENTS_RAW_SCHEMA)
        if max_files:
            r = r.option("maxFilesPerTrigger", str(max_files))
        df = r.parquet(src).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        return (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(**trigger_kwargs)
            .start()
        )

    # phase 1: live trigger, one file per batch; stop after ≥1 committed batch
    q1 = start("nm_rec_p1", {"processingTime": "200 milliseconds"}, max_files=1)
    try:
        assert _wait(
            lambda: q1.lastProgress is not None
            and q1.lastProgress["batchId"] >= 1
        ), "phase-1 batch never committed"
    finally:
        q1.stop()
        q1.awaitTermination()

    # phase 2: restart from the SAME checkpoint, drain the rest
    q2 = start("nm_rec_p2", {"availableNow": True})
    q2.awaitTermination()

    got = {r.event_type: r.n for r in spark.table("nm_rec_p2").collect()}
    want = {
        r.event_type: r.n
        for r in spark.read.parquet(src)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want, f"recovered totals drifted: {got} vs {want}"
    assert sum(got.values()) == total_rows


def test_events_stream_source_schema_is_pruned(spark):
    """Catalyst does not push column pruning through the file-stream
    source: the read schema IS the decode cost. Every streaming operator
    passes ``columns=`` (measured −13% addBatch at sf0.1 on the narrow
    events table; at wide payloads the difference is the whole scan) —
    pin that the pruned source exposes exactly the requested columns and
    that the ts normalization still lands."""
    from storm_netmonitor_spark.streaming.core import events_stream

    s = events_stream(spark, SF_CORRECT, columns=("ts", "event_type", "value"))
    assert [f.name for f in s.schema.fields] == ["ts", "event_type", "value"]
    assert s.schema["ts"].dataType.typeName() == "timestamp"
    # full-schema default unchanged
    full = events_stream(spark, SF_CORRECT)
    assert len(full.schema.fields) == 6


def test_cached_stream_df_memoizes_per_session_and_input(spark):
    """The analyzed-plan cache must return the SAME DataFrame object for
    the same (session, op, input) and distinct objects for distinct keys —
    and never leak across sessions (keyed by session id)."""
    from storm_netmonitor_spark.streaming.core import cached_stream_df

    calls = []

    def build():
        calls.append(1)
        return spark.range(1)

    a = cached_stream_df(spark, ("op_x", "inA"), build)
    b = cached_stream_df(spark, ("op_x", "inA"), build)
    c = cached_stream_df(spark, ("op_x", "inB"), build)
    assert a is b and a is not c
    assert len(calls) == 2


def test_rocksdb_state_store_is_default_and_writes_rocksdb_artifacts(spark):
    """VERDICT r8 #2: the stateful family must run on the RocksDB state
    store (bounded executor heap — the default HDFS-backed provider keeps
    every key's state as JVM objects on heap, the canonical 100 TB
    Structured-Streaming OOM). Pin (a) the session conf is the RocksDB
    provider, (b) a real stateful drain leaves RocksDB checkpoint
    artifacts (version zips, not the HDFS provider's .delta files), and
    (c) the drained result matches the batch rendering of the same
    aggregation."""
    import glob
    import uuid

    from storm_netmonitor_spark.io import load_table
    from storm_netmonitor_spark.session import _STATE_PROVIDERS
    from storm_netmonitor_spark.streaming.core import events_stream

    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        == _STATE_PROVIDERS["rocksdb"]
    )

    ckpt = scratch_dir("nm_rocks_ckpt_")
    stream = (
        events_stream(spark, SF_CORRECT, columns=("ts", "event_type"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "nm_rocks_" + uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # RocksDB provider checkpoints state as <version>.zip snapshots (and
    # optionally .changelog files); the HDFS provider writes .delta/.snapshot
    # full snapshots (.zip) or, under changelog checkpointing (round 11,
    # the RUNTIME_CONFS default), per-batch .changelog files — snapshots
    # upload lazily so a short drain may hold only changelogs. Either way
    # the HDFS provider's .delta files must be absent.
    zips = glob.glob(
        os.path.join(ckpt, "state", "**", "*.zip"), recursive=True
    ) + glob.glob(
        os.path.join(ckpt, "state", "**", "*.changelog"), recursive=True
    )
    deltas = glob.glob(
        os.path.join(ckpt, "state", "**", "*.delta"), recursive=True
    )
    assert zips and not deltas, (
        f"expected RocksDB state artifacts under {ckpt}/state "
        f"(zips/changelogs={len(zips)}, deltas={len(deltas)})"
    )

    got = {
        (r["w"]["start"], r["event_type"]): r["n"]
        for r in spark.table(name).collect()
    }
    want = {
        (r["w"]["start"], r["event_type"]): r["n"]
        for r in (
            load_table(spark, SF_CORRECT, "events")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    assert got == want
    shutil.rmtree(ckpt, ignore_errors=True)


def test_state_provider_env_kill_switch():
    """NM_STREAM_STATE_PROVIDER=hdfs must revert RUNTIME_CONFS to the
    on-heap provider (operational escape hatch if a deployment's RocksDB
    native lib misbehaves) — checked in a subprocess because the choice is
    made at import time. No JVM is started; this is a pure-import check."""
    import subprocess
    import sys

    code = (
        "from storm_netmonitor_spark.session import RUNTIME_CONFS, _STATE_PROVIDERS;"
        "p = RUNTIME_CONFS['spark.sql.streaming.stateStore.providerClass'];"
        "assert p == _STATE_PROVIDERS['hdfs'], p"
    )
    env = dict(os.environ, NM_STREAM_STATE_PROVIDER="hdfs")
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=60,
    )
    assert r.returncode == 0, r.stderr[-500:]
