"""Checkpoint-restart recovery as registry-checkable queries (VERDICT
r5 #3): the exactly-once claim, promoted from a pytest to driver
evidence — for BOTH state surfaces.

Protocol (shared): drain the events stream in TWO query lifecycles
sharing ONE checkpoint. The first query sees only the first half of the
input and is stopped; the second query starts fresh against the same
checkpoint after the second half arrives, restores state from the state
store, reads ONLY the new files (offset log), and its output must equal
the batch aggregation over ALL events. Double-reads (broken offset
recovery) and lost state (broken store restore) both flip the hash.
Each phase additionally self-audits its ingested row count, so a silent
full recompute cannot masquerade as a resume.

Two registered ops, two state surfaces:
- ``stream_resume_checkpoint``: JVM-native windowed aggregation state
  (HashAggregate partials in the state store, complete output mode).
- ``stream_resume_python_state``: arbitrary Python state held by
  ``applyInPandasWithState`` (Arrow-serialized decimal-string counters,
  update output mode) — the restore path crosses the Python worker
  boundary, which the JVM op never exercises.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.stable import dsum, dsum_sql
from ..io import detach_result, scratch
from ..registry import query
from .core import ckpt_dir, detach_sink, drain, events_stream, stage_stream
from .stateful import (
    _COUNTER_OUT,
    _COUNTER_STATE,
    _counter_fn,
    _read_events_arrow,
)


def _staged_halves(spark: SparkSession, sf_dir: str) -> list[tuple[str, int]]:
    """Stage events as two parquet halves (sorted by event_id — a
    deterministic split regardless of source row order); returns each
    half's ``(path, rows)``."""
    import pyarrow.parquet as pq

    def parts() -> list:
        t = _read_events_arrow(sf_dir).sort_by("event_id")
        half = t.num_rows // 2
        return [t.slice(0, half), t.slice(half)]

    d = stage_stream(spark, ("resume_halves",), sf_dir, parts)
    paths = [os.path.join(d, f) for f in sorted(os.listdir(d))]
    return [(p, pq.ParquetFile(p).metadata.num_rows) for p in paths]


def _two_phase_drain(
    spark: SparkSession,
    sf_dir: str,
    build_agg,
    mode: str,
    columns: tuple[str, ...],
    sink_for,
    state_partitions: int = 2,
) -> None:
    """Run ``build_agg(stream_df)`` through the two-lifecycle protocol.
    ``sink_for(phase)`` returns the phase's ``(sink, query_name)`` for
    ``drain`` (the helper adds the shared checkpoint). Raises if either
    phase's ingested row count deviates from its staged half — the
    offset-log audit that stops a silent full recompute from
    masquerading as a resume."""
    (half0, n_first), (half1, n_second) = _staged_halves(spark, sf_dir)
    # ONE checkpoint, shared by both query lifecycles
    with scratch("nm_resume_src_") as run_dir, ckpt_dir() as ckpt:
        os.symlink(half0, os.path.join(run_dir, "half0.parquet"))
        agg = build_agg(
            events_stream(spark, sf_dir, source_dir=run_dir, columns=columns)
        )

        def run(phase: str) -> int:
            sink, query_name = sink_for(phase)
            return drain(
                agg,
                sink,
                mode,
                query_name=query_name,
                checkpoint=ckpt,
                state_partitions=state_partitions,
            ).rows

        got_first = run("p1")
        if got_first != n_first:
            raise RuntimeError(
                f"phase 1 ingested {got_first} rows, staged half has {n_first}"
            )
        # second half "arrives"; the restarted query must pick up ONLY it
        os.symlink(half1, os.path.join(run_dir, "half1.parquet"))
        got_second = run("p2")
        if got_second != n_second:
            raise RuntimeError(
                "resume integrity violated: phase 2 ingested "
                f"{got_second} rows, expected exactly the second half "
                f"({n_second}) — offset log was not honored"
            )


@query(
    "stream_resume_checkpoint",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM events
GROUP BY event_type
""",
)
def stream_resume_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type totals computed across a query RESTART from one
    checkpoint — JVM aggregation-state restore (module docstring has the
    protocol). Complete output mode: the phase-2 sink re-emits the full
    restored-plus-new state, so the final table IS the answer.
    Deterministic: both phases are ``availableNow`` drains over a fixed
    file set — no timing races, unlike the live-trigger kill test in
    tests/test_streaming_live.py, which stays as the crash-shaped
    complement."""

    def build(s: DataFrame) -> DataFrame:
        return s.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )

    names = {}

    def sink_for(phase: str):
        names[phase] = f"nm_resume_{phase}_" + uuid.uuid4().hex[:8]
        return "memory", names[phase]

    _two_phase_drain(
        spark, sf_dir, build, mode="complete",
        columns=("event_type", "value"), sink_for=sink_for,
    )
    spark.catalog.dropTempView(names["p1"])
    return detach_sink(spark, names["p2"])


@query(
    "stream_resume_python_state",
    oracle=f"""
SELECT user_id, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
FROM events
GROUP BY user_id
""",
)
def stream_resume_python_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running counters (``applyInPandasWithState``, the
    ``stream_stateful_counter`` kernel) computed across a query RESTART —
    the PYTHON state surface: phase 2 must deserialize phase 1's
    Arrow-shipped (count, decimal-string sum) state into fresh Python
    workers and keep counting. Update output mode only emits keys seen
    in a batch, so a user whose events all sit in the first half emits
    only in phase 1: the final counters are the max-count emission per
    user across BOTH phases (counts are monotone) — which must equal the
    batch group-by over all events.

    Sink note: the memory sink refuses checkpoint RECOVERY outside
    complete mode (it cannot rebuild its table), so this op drains via
    the retry-idempotent foreachBatch pattern (streaming/alerts.py):
    each batch's emissions overwrite ``phase=<p>/batch=<id>`` parquet —
    a replayed batch lands in the same directory, not twice."""

    def build(s: DataFrame) -> DataFrame:
        return (
            s.select("user_id", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                _counter_fn, _COUNTER_OUT, _COUNTER_STATE, "update",
                "NoTimeout",
            )
        )

    with scratch("nm_resume_emit_") as emissions:

        def sink_for(phase: str):
            def sink(batch_df: DataFrame, batch_id: int) -> None:
                batch_df.write.mode("overwrite").parquet(
                    os.path.join(emissions, f"phase={phase}", f"batch={batch_id}")
                )

            return sink, None

        _two_phase_drain(
            spark, sf_dir, build, mode="update",
            columns=("user_id", "value"), sink_for=sink_for,
        )
        both = spark.read.parquet(os.path.join(emissions, "*", "*"))
        final = both.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        return detach_result(spark, final)
