"""Streaming infrastructure: event-stream source + the one drain runner.

The netmonitor reference is a continuously-running metrics pipeline; here
every streaming query runs with ``trigger(availableNow=True)`` so it drains
the test input deterministically and can be hash-compared against a batch
oracle (SURVEY §2.I). In production the same code runs with a processing-
time trigger and a real directory of arriving parquet — nothing else
changes. Every streaming query in the package starts here, in ``drain``
(or ``drain_to_memory_until`` for custom Python sources); every op that
folds per-micro-batch partials into one report runs ``drain_partials``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..io import (
    detach_result,
    land_bounded_frame,
    landed_rows,
    read_landed_local,
    table_path,
    tiny_local_frame,
)
from ..session import apply_runtime_confs


def _events_field(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


#: Events schema with ts as a proper timestamp — used for µs/ms parquet
#: (Spark reads those natively) and for all OUR staged files, which
#: ``stateful._read_events_arrow`` normalizes to timestamp[us] on write.
EVENTS_RAW_SCHEMA = _events_field(TimestampType())

#: Events schema for TIMESTAMP(NANOS) parquet, which Spark 4.x refuses
#: unless read as a raw long under the nanosAsLong conf; ``events_stream``
#: then converts (ts div 1000 → µs, lossless for this data).
EVENTS_NANOS_SCHEMA = _events_field(LongType())

_ts_unit_cache: dict[tuple, str] = {}


def events_ts_unit(sf_dir: str) -> str:
    """Physical unit of events.ts in this dir's parquet ('ns'/'us'/'ms').

    The driver regenerates testdata between rounds and has shipped BOTH
    TIMESTAMP(NANOS) (rounds 1-2) and TIMESTAMP(MICROS) (round 3) — so the
    unit is detected from the file footer, never assumed."""
    return _file_ts_unit(table_path(sf_dir, "events"))


def _file_ts_unit(path: str) -> str:
    # fingerprint-keyed (size+mtime): a driver-side testdata regeneration
    # mid-session must re-probe the footer, not serve the stale unit —
    # the one-stat-per-call cost is noise next to the py4j analysis the
    # cached plan skips (same stale-data guard as io.sf_fingerprint)
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_size, st.st_mtime_ns)
    if key not in _ts_unit_cache:
        import pyarrow.parquet as pq

        t = pq.ParquetFile(path).schema_arrow.field("ts").type
        _ts_unit_cache[key] = getattr(t, "unit", "us")
    return _ts_unit_cache[key]


def _dir_ts_unit(src: str) -> str:
    """ts unit of the parquet files actually inside ``src`` (footer of the
    first file; staged directories are written with one uniform unit)."""
    for name in sorted(os.listdir(src)):
        if name.endswith(".parquet"):
            return _file_ts_unit(os.path.join(src, name))
    return "us"

_stage_cache: dict[str, str] = {}

#: Stateful streaming operators hash their state into
#: ``spark.sql.shuffle.partitions`` state-store partitions, fixed at the
#: first checkpoint — a knob that should track KEY CARDINALITY and executor
#: count, not the batch shuffle width. The test/bench keyspaces (hourly
#: windows × event types, user ids) are thousands of keys, where 32
#: partitions is pure checkpoint-file overhead (measured: 32→8 cuts the
#: sf0.1 drain ~25%). A production deployment edits this to match its
#: cluster. ``drain(..., state_partitions=n)`` overrides it for a single
#: drain: JVM-native windowed aggregations with few thousand keys want
#: FEWER state partitions (each one costs store-commit files per batch),
#: while Python-stateful operators (``applyInPandasWithState``) want MORE
#: — their Arrow worker parallelism follows the state partitioning
#: (measured both ways at sf0.1: tumbling 8→2 −15%, stateful_counter 8→2
#: +34%).
STREAM_STATE_PARTITIONS = 8

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


@contextmanager
def _started(
    df: DataFrame,
    sink,
    mode: str,
    trigger: dict,
    query_name: str | None = None,
    path: str | None = None,
    checkpoint: str | None = None,
    state_partitions: int | None = None,
):
    """Build the writer, start the query and yield it under the per-drain
    confs, which are restored to the session's previous values when the
    ``with`` block exits, also when the query raises.

    The shuffle width is captured into the query's checkpoint at start,
    so restoring the batch setting afterwards does not affect the drain.
    Complete mode re-emits the full state every batch, so a trailing
    no-data micro-batch (whose only purpose is watermark-driven FINAL
    emission in append mode) buys nothing there; append-mode drains keep
    it: their last rows emit in that batch. The session-wide drain confs
    (``session.RUNTIME_CONFS``) ride ``apply_runtime_confs`` instead."""
    writer = df.writeStream.outputMode(mode).option(
        "checkpointLocation", checkpoint or ckpt_dir()
    )
    writer = (
        writer.foreachBatch(sink) if callable(sink) else writer.format(sink)
    )
    if query_name is not None:
        writer = writer.queryName(query_name)
    if path is not None:
        writer = writer.option("path", path)
    spark = df.sparkSession
    apply_runtime_confs(spark)
    scoped = {
        _SHUFFLE_PARTITIONS: str(state_partitions or STREAM_STATE_PARTITIONS)
    }
    if mode == "complete":
        scoped[_NO_DATA_BATCHES] = "false"
    prev = {k: spark.conf.get(k) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        yield writer.trigger(**trigger).start()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def drain(
    df: DataFrame,
    sink,
    mode: str = "append",
    query_name: str | None = None,
    path: str | None = None,
    checkpoint: str | None = None,
    state_partitions: int | None = None,
) -> StreamingQuery:
    """THE streaming query lifecycle: run ``df`` to completion with
    ``trigger(availableNow=True)`` and return the terminated query (its
    ``recentProgress`` stays readable).

    ``sink`` is a format name (``memory``/``parquet``/``noop``; the memory
    sink takes ``query_name``, file sinks take ``path``) or a
    ``foreachBatch`` function. ``checkpoint`` defaults to a fresh
    throwaway ``ckpt_dir()``; a caller that restarts a query passes the
    same location to every lifecycle. ``state_partitions`` overrides
    ``STREAM_STATE_PARTITIONS`` for this drain."""
    with _started(
        df,
        sink,
        mode,
        {"availableNow": True},
        query_name=query_name,
        path=path,
        checkpoint=checkpoint,
        state_partitions=state_partitions,
    ) as q:
        q.awaitTermination()
    return q


def drain_partials(
    df: DataFrame,
    per_batch,
    fold,
    ddl,
    *,
    bounded: bool = False,
    walls: list[float] | None = None,
) -> DataFrame:
    """THE per-micro-batch partials fold: drain ``df``, land each batch's
    partials keyed by its ``batch_id``, fold the landings into one report
    and return it detached (``io.detach_result``), deleting the landings
    also when the drain or the fold raises.

    ``per_batch(batch_df, batch_id)`` returns the batch's partials frame,
    or a ``{name: frame}`` dict to land several executor-side (read back
    as a dict of frames, ``ddl`` then a dict of the same names). Landings
    overwrite ``batch_id=<id>``, so a retried batch (``foreachBatch`` is
    at-least-once) replaces its own partials instead of adding to them.
    The frame is written executor-side; ``bounded=True`` is for partials
    whose row count is bounded by key cardinality: they land driver-side
    through ``io.land_bounded_frame`` (an empty one lands nothing) and
    read back as one local relation (``io.read_landed_local``).

    ``fold(landed)`` turns the landed partials (columns as landed; an
    empty frame typed by ``ddl`` when nothing landed) into the report. A
    bounded drain with ``ddl=None`` hands ``fold`` the landed rows as
    python tuples instead (``io.landed_rows``), for folds that run in
    python on the driver. ``walls``, if given, is cleared and receives
    one wall (seconds) per batch that landed."""
    spark = df.sparkSession
    out_dir = tempfile.mkdtemp(prefix="nm_partials_")
    if walls is not None:
        walls.clear()
    try:
        drain(df, _landing_sink(out_dir, per_batch, bounded, walls))
        return detach_result(
            spark, fold(_read_landed(spark, out_dir, ddl, bounded))
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def _landing_sink(out_dir: str, per_batch, bounded: bool, walls):
    """The ``foreachBatch`` function of ``drain_partials``."""

    def land(frame: DataFrame, path: str) -> bool:
        if bounded:
            return land_bounded_frame(frame, path)
        frame.write.mode("overwrite").parquet(path)
        return True

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.perf_counter()
        part = per_batch(batch_df, batch_id)
        base = os.path.join(out_dir, f"batch_id={batch_id}")
        if isinstance(part, dict):
            landed = [land(f, os.path.join(base, n)) for n, f in part.items()]
        else:
            landed = [land(part, base)]
        if walls is not None and any(landed):
            walls.append(time.perf_counter() - t0)

    return sink


def _read_landed(spark: SparkSession, out_dir: str, ddl, bounded: bool):
    """The read-back half of ``drain_partials`` (see there)."""
    if bounded:
        if ddl is None:
            return landed_rows(out_dir)
        return read_landed_local(spark, out_dir, ddl)
    if not any(e.startswith("batch_id=") for e in os.listdir(out_dir)):
        if isinstance(ddl, dict):
            return {n: tiny_local_frame(spark, [], t) for n, t in ddl.items()}
        return tiny_local_frame(spark, [], ddl)
    glob = os.path.join(out_dir, "batch_id=*")
    if isinstance(ddl, dict):
        return {n: spark.read.parquet(os.path.join(glob, n)) for n in ddl}
    return spark.read.parquet(glob)


def cached_stream_df(spark: SparkSession, key: tuple, builder) -> DataFrame:
    """Memoize an analyzed streaming DataFrame per (session, op, input)
    via the shared ``io.session_memo``: a production NM pipeline
    constructs its plan ONCE and runs for days; repeated calls in one
    session (bench, registry sweep, driver window) re-drain the same
    analyzed plan instead of paying ~0.1 s of py4j analysis round-trips
    per call. Draining is unaffected — every drain still runs the full
    micro-batch lifecycle with a fresh checkpoint.

    The trailing element of every caller's ``key`` is the sf_dir; it is
    also passed as the memo's data fingerprint (ADVICE r5): the analyzed
    plan's source SCHEMA is data-derived (ns-vs-µs ts unit from the
    parquet footer), so a mid-session testdata regeneration must rebuild
    the plan, not re-drain a stale schema."""
    from ..io import session_memo

    sf_dir = key[-1] if key and isinstance(key[-1], str) else None
    return session_memo(spark, ("stream_df",) + key, builder, sf_dir=sf_dir)


def ckpt_dir() -> str:
    """Fresh throwaway checkpoint dir — tmpfs when the platform has it
    (checkpoint I/O is fsync-bound metadata; a deterministic drain never
    needs it to survive reboot). Production passes a durable location."""
    base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else None
    return tempfile.mkdtemp(prefix="nm_ckpt_", dir=base)


def events_stream_dir(sf_dir: str) -> str:
    """The file stream source requires a DIRECTORY; stage a symlink to the
    events parquet in a cached temp dir (no data copy)."""
    key = os.path.abspath(sf_dir)
    if key not in _stage_cache:
        d = tempfile.mkdtemp(prefix="nm_stream_src_")
        os.symlink(table_path(sf_dir, "events"), os.path.join(d, "events.parquet"))
        _stage_cache[key] = d
    return _stage_cache[key]


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    source_dir: str | None = None,
    columns: tuple[str, ...] | None = None,
) -> DataFrame:
    """Unbounded events DataFrame (ts normalized to TimestampType).

    The nanos-vs-micros schema choice follows the files ACTUALLY being read:
    when ``source_dir`` overrides the default staged symlink, its own footer
    decides, so a µs staged dir under a ns ``sf_dir`` reads correctly
    (ADVICE r3 #1).

    ``columns`` prunes the SOURCE read schema: Catalyst does not push
    column pruning through the file-stream source the way it does for a
    batch scan, so a streaming query that needs 3 of 6 columns otherwise
    decodes all 6 every micro-batch (measured: −13% addBatch at sf0.1
    just for the narrow events table — at 100 TB with wide payloads the
    difference is the whole scan). Parquet is schema-on-read, so a subset
    schema reads only those column chunks."""
    apply_runtime_confs(spark)
    src = source_dir or events_stream_dir(sf_dir)
    nanos = _dir_ts_unit(src) == "ns"
    base = EVENTS_NANOS_SCHEMA if nanos else EVENTS_RAW_SCHEMA
    schema = (
        base
        if columns is None
        else StructType([f for f in base.fields if f.name in columns])
    )
    raw = spark.readStream.schema(schema).parquet(src)
    if nanos and (columns is None or "ts" in columns):
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw


def drain_to_memory(
    df: DataFrame,
    mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into an
    in-memory sink; return the final result as a batch DataFrame.

    Checkpoints go to a fresh temp dir — never into the repo."""
    name = "nm_mem_" + uuid.uuid4().hex[:10]
    drain(df, "memory", mode, query_name=name, state_partitions=state_partitions)
    return df.sparkSession.table(name)


def drain_to_memory_until(
    df: DataFrame, done, mode: str = "complete", timeout_s: float = 120.0
) -> DataFrame:
    """Run a streaming DataFrame with a fast processing-time trigger until
    ``done(last_end_offset: dict) -> bool`` says the source is exhausted,
    then stop and return the sink table.

    Custom Python sources (``pyspark.sql.datasource``) don't participate in
    ``availableNow``'s drain planning — a single micro-batch is captured —
    so bounded custom streams are drained by watching the committed offset
    instead. ``lastProgress`` only ever reports COMPLETED batches, so once
    ``done`` sees the final offset the sink already holds its output."""
    import ast
    import time

    name = "nm_mem_" + uuid.uuid4().hex[:10]
    with _started(
        df, "memory", mode, {"processingTime": "0 seconds"}, query_name=name
    ) as q:
        try:
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                if q.exception() is not None:
                    raise q.exception()  # fail fast, don't spin to timeout
                p = q.lastProgress
                if p and p.get("sources"):
                    off = p["sources"][0].get("endOffset")
                    if isinstance(off, str):
                        off = ast.literal_eval(off)
                    if off and done(off):
                        break
                # 10 ms: the offset poll gates EVERY batch boundary of a
                # multi-batch drain, so poll latency × batch count is pure
                # added wall (the check itself is a cheap property read)
                time.sleep(0.01)
            else:
                raise TimeoutError("custom stream did not reach end offset")
        finally:
            q.stop()
            q.awaitTermination()
    return df.sparkSession.table(name)
