"""Round-3 streaming extensions (SURVEY §2.Q): stateful gap alerting and
the incremental-rollup streaming sink.

Registered after ``stateful`` (streaming/__init__ order) so these land
behind every operator still awaiting a driver verdict — the same
discipline as operators/extensions3.

Reference citations: /root/reference is empty this round (SURVEY §0.1);
both ops realize the Storm-metrics capability model of SURVEY §0.3 —
"host went silent" alerting and periodic rollup publication are what a
cluster network monitor exists to do.
"""

from __future__ import annotations

import os
from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions.stable import dround_sql, dsum_sql, ts_str_sql
from ..io import detach_result, scratch
from ..operators.extensions4 import _BURN_BUCKET_S, _BURN_FAST_T, _BURN_SLOW_T
from ..registry import query
from .core import (
    drain,
    drain_partials,
    drain_to_memory,
    drain_to_memory_until,
    events_stream,
    stage_stream,
    staged_stream,
)
from .stateful import _read_events_arrow

_GAP_US = 6 * 3_600 * 10**6  # same threshold as ts_sla_gap_detect

_GAP_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("silent_from", StringType()),
        StructField("silent_until", StringType()),
        StructField("gap_minutes", LongType()),
    ]
)
_GAP_STATE = StructType([StructField("last_ts_us", LongType())])


def _staged_quarters(spark: SparkSession, sf_dir: str) -> str:
    """The events table as 4 mtime-ordered parquet files of ceil(n/4)
    rows — one micro-batch each — shared by every 4-batch op in this
    module."""

    def parts() -> list:
        t = _read_events_arrow(sf_dir)
        step = (t.num_rows + 3) // 4
        return [t.slice(i * step, step) for i in range(4)]

    return stage_stream(spark, ("quarters",), sf_dir, parts)


def _quarter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return staged_stream(spark, _staged_quarters(spark, sf_dir))


def _fmt_us(us: int) -> str:
    ts = pd.Timestamp(us * 1000)  # ns
    return ts.strftime("%Y-%m-%d %H:%M:%S")


def _gap_fn(key, pdf_iter: Iterable[pd.DataFrame], state):
    # State is the per-key MAX sample time seen so far. Rows within a batch
    # are sorted here; ACROSS batches the source must deliver time-ordered
    # files (our staged sources do — one chronological file per batch). If a
    # straggler batch ever carried older samples, the monotonic-max guard
    # below skips the negative gap instead of mis-alerting and never
    # regresses the state (ADVICE r3 #3). Gap detection is one vectorized
    # numpy diff over the sorted batch, not a per-row Python loop.
    import numpy as np

    prev = state.get if state.exists else None  # type: ignore[misc]
    last_us = prev[0] if prev is not None else None
    chunks = [p for p in pdf_iter]
    out = pd.DataFrame(
        columns=["user_id", "silent_from", "silent_until", "gap_minutes"]
    )
    if chunks:
        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        us = pdf["ts"].values.astype("datetime64[ns]").astype("int64") // 1000
        if last_us is not None:
            # sorted batch: stragglers older than the state max are a
            # PREFIX — drop them (no alert, state never regresses)
            us = us[us >= last_us]
            vals = np.concatenate(([last_us], us))
        else:
            vals = us
        if len(vals):
            gaps = np.diff(vals)
            idx = np.nonzero(gaps >= _GAP_US)[0]
            if len(idx):
                out = pd.DataFrame(
                    {
                        "user_id": int(key[0]),
                        "silent_from": [_fmt_us(int(v)) for v in vals[idx]],
                        "silent_until": [_fmt_us(int(v)) for v in vals[idx + 1]],
                        "gap_minutes": gaps[idx] // 60_000_000,
                    }
                )
            last_us = int(vals[-1])
    if last_us is not None:
        state.update((last_us,))
    yield out


@query(
    "stream_gap_alert",
    oracle=f"""
WITH t AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT user_id,
       {ts_str_sql('prev_ts')} AS silent_from,
       {ts_str_sql('ts')} AS silent_until,
       CAST((epoch_us(ts) - epoch_us(prev_ts)) // 60000000 AS BIGINT) AS gap_minutes
FROM t
WHERE prev_ts IS NOT NULL AND epoch_us(ts) - epoch_us(prev_ts) >= {_GAP_US}
""",
)
def stream_gap_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE host-went-silent alerting (NM core): per-source streaming state
    carries the last sample time across micro-batches and emits an alert
    row for every inter-sample silence ≥ 6 h — the streaming twin of
    ``ts_sla_gap_detect``, sharing its exact batch-LAG oracle (exact
    epoch-µs integer arithmetic in both). State is ONE timestamp per key —
    O(hosts), watermark-free bounded — and alerts stream out as the gap is
    observed rather than in a nightly batch scan. Deterministic: per-batch
    (ts, event_id) sort, integer math, availableNow drain."""
    s = events_stream(spark, sf_dir, columns=("user_id", "ts", "event_id"))
    alerts = (
        s.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _gap_fn, _GAP_OUT, _GAP_STATE, "append", "NoTimeout"
        )
    )
    return drain_to_memory(alerts, mode="append")


@query(
    "stream_incremental_rollup",
    oracle=f"""
SELECT event_type, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
FROM events
GROUP BY event_type
""",
)
def stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup as a STREAMING SINK (NM: publish the running
    network report every interval without recomputing history): each
    micro-batch's foreachBatch callback aggregates ONLY that batch's rows
    into algebraic partials (count + exact DECIMAL sum — order-independent,
    SURVEY §7.4.1) and lands them executor-side keyed by batch_id (a
    replayed batch overwrites its own partials); the published report is
    the partial-merge (counts add, decimal sums add exactly).
    Four staged micro-batches (one file per trigger) prove the merge is
    batch-split-invariant: the oracle is the plain one-shot aggregate.
    This is the streaming twin of ``agg_incremental_rollup`` — same
    algebra, arriving data instead of delta-day scans."""

    def partials(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # per-batch partials only — never a recompute over history; the
        # decimal sum column keeps the merge exact in any order
        return batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("double").cast("decimal(28,6)")).alias(
                "dec_sum"
            ),
        )

    def fold(landed: DataFrame) -> DataFrame:
        return landed.groupBy("event_type").agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.round(F.sum("dec_sum"), 2).cast("double").alias("total_value"),
        )

    return drain_partials(
        _quarter_stream(spark, sf_dir),
        partials,
        fold,
        "event_type string, n_events long, dec_sum decimal(38,6)",
    )


@query(
    "sink_cdc_apply",
    oracle=f"""
SELECT user_id, event_type, event_id, {ts_str_sql('ts')} AS last_ts, value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
""",
)
def sink_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert-apply as a streaming sink (NM: maintain the
    current-value table of every counter as samples arrive): each
    micro-batch MERGEs into a keyed parquet state — new state = latest
    row per (source × metric) over old state ∪ batch, written to a fresh
    versioned directory (atomic swap, the Delta MERGE pattern without the
    format). Four staged micro-batches (one file per trigger) prove the
    fold is batch-split-invariant: the final state equals the one-shot
    latest-per-key over all events — the same oracle as
    ``dedup_latest_per_key``. State size is O(live keys), not O(stream)."""
    from pyspark.sql import Window
    from ..functions.stable import ts_str

    s = _quarter_stream(spark, sf_dir)

    versions: list[str] = []
    with scratch("nm_cdc_state_") as root:

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            cols = ["user_id", "event_type", "event_id", "ts", "value"]
            upserts = batch_df.select(*cols)
            merged = (
                upserts
                if not versions
                else spark.read.parquet(versions[-1]).unionByName(upserts)
            )
            w = Window.partitionBy("user_id", "event_type").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
            state = (
                merged.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
            new_version = os.path.join(root, f"v{batch_id}")
            state.write.mode("overwrite").parquet(new_version)  # atomic swap
            versions.append(new_version)

        drain(s, apply_batch)
        state = spark.read.parquet(versions[-1]).select(
            "user_id",
            "event_type",
            "event_id",
            ts_str("ts").alias("last_ts"),
            "value",
        )
        return detach_result(spark, state)  # O(live keys) rows


@query(
    "stream_progress_audit",
    oracle="""
WITH n AS (SELECT COUNT(*) AS c FROM events),
     s AS (SELECT ((SELECT c FROM n) + 3) // 4 AS step)
SELECT CAST(i AS BIGINT) AS batch_id,
       CAST(LEAST((SELECT step FROM s),
                  (SELECT c FROM n) - i * (SELECT step FROM s)) AS BIGINT)
         AS n_input_rows
FROM range(4) t(i)
WHERE LEAST((SELECT step FROM s),
            (SELECT c FROM n) - i * (SELECT step FROM s)) > 0
""",
)
def stream_progress_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline self-observability on the STREAMING side (the batch twin
    is ``observe_metrics``): drain the 4-file staged source one file per
    micro-batch and report each batch's ingested row count from the
    drain's record (``core.DrainRecord``, the engine's own progress
    reports) — the exactly-once audit trail an operator reads when
    reconciling a collector. The staging slices events into
    ceil(n/4)-row files, so the per-batch counts are
    ARITHMETICALLY predictable and the oracle needs no table beyond the
    row count — any dropped or double-read batch breaks the hash.
    Progress metadata is 4 rows on the driver (observability scale, like
    observe_metrics), never data."""
    s = _quarter_stream(spark, sf_dir)
    rows = [
        (b["batchId"], b["numInputRows"])
        for b in drain(s, "noop").batches
        if b["numInputRows"] > 0
    ]
    return spark.createDataFrame(
        rows, "batch_id long, n_input_rows long"
    )


def _counter_stream_oracle() -> str:
    # Built from the SAME constants the source generates with — the oracle
    # cannot drift from the implementation.
    from ..sources.pysource import N_HOSTS, SAMPLES_PER_HOST, _MOD, _P1, _P2

    return f"""
SELECT 'host' || CAST(h AS VARCHAR) AS host,
       'eth' || CAST(i % 2 AS VARCHAR) AS iface,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM((h * {_P1} + i * {_P2}) % {_MOD}) AS BIGINT) AS sum_sent,
       CAST(SUM((h * {_P2} + i * {_P1}) % {_MOD}) AS BIGINT) AS sum_recv
FROM range({N_HOSTS}) th(h), range({SAMPLES_PER_HOST}) ti(i)
GROUP BY 1, 2
"""


@query("source_stream_custom", oracle=_counter_stream_oracle())
def source_stream_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The collector as a CUSTOM STREAMING SOURCE (Spark 4
    ``pyspark.sql.datasource`` ``SimpleDataSourceStreamReader``): the same
    deterministic per-host counter generator the batch ``nm_counters``
    format exposes, arriving as micro-batches whose offset is the global
    sample index — the transport-independent half of a Kafka/socket
    ingest (VERDICT r3 #6; ``streaming/kafka_twin.py`` is the brokered
    twin, config-gated until an environment provides a broker). The drain
    runs until the committed offset reaches the configured sample count
    (custom Python sources sit outside ``availableNow`` planning —
    ``drain_to_memory_until``), then the per-(host × iface) integer
    rollup is hash-compared against a ``range()``-generated DuckDB twin
    of the generator arithmetic. Exactly-once is real: recovery replays
    [start, end) via ``readBetweenOffsets`` and the integer sums would
    expose any dropped or doubled batch."""
    from ..sources.pysource import SAMPLES_PER_HOST, register

    register(spark)
    s = spark.readStream.format("nm_counters").load()
    agg = s.groupBy("host", "iface").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum("bytes_sent").alias("sum_sent"),
        F.sum("bytes_recv").alias("sum_recv"),
    )
    return drain_to_memory_until(
        agg, lambda off: off.get("i", -1) >= SAMPLES_PER_HOST
    )


# ---------------------------------------------------------------------------
# LIVE alert suppression (NM core: page once per incident, live — the
# streaming twin of events_alert_suppress)
# ---------------------------------------------------------------------------

# the SAME alert rule and oracle as the batch twin — imported, not copied,
# so the batch/live invariant cannot drift (review finding, round 4)
from ..operators.events_analytics import (  # noqa: E402
    _SUPPRESS_THRESHOLD as _SUP_THRESHOLD,
    _SUPPRESS_US as _SUP_US,
    SUPPRESS_ORACLE as _SUP_ORACLE,
)

_SUP_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_alerts", LongType()),
        StructField("n_emitted", LongType()),
        StructField("n_suppressed", LongType()),
    ]
)
_SUP_STATE = StructType([StructField("next_ok_us", LongType())])


def _suppress_fn(key, pdf_iter: Iterable[pd.DataFrame], state):
    # State = the µs timestamp at which paging re-arms (last emitted alert
    # + 1 h). Rows within a batch are sorted here; across batches the
    # staged source delivers chronological slices (same precondition as
    # _gap_fn — a straggler older than the re-arm point is simply treated
    # as suppressed, which never double-pages).
    prev = state.get if state.exists else None  # type: ignore[misc]
    next_ok = prev[0] if prev is not None else None
    chunks = [p for p in pdf_iter]
    n = emitted = 0
    if chunks:
        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        us = pdf["ts"].values.astype("datetime64[ns]").astype("int64") // 1000
        n = len(us)
        for t in us:
            t = int(t)
            if next_ok is None or t >= next_ok:
                emitted += 1
                next_ok = t + _SUP_US
    if next_ok is not None:
        state.update((int(next_ok),))
    if n:
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_alerts": [n],
                "n_emitted": [emitted],
                "n_suppressed": [n - emitted],
            }
        )
    else:
        yield pd.DataFrame(
            columns=["user_id", "n_alerts", "n_emitted", "n_suppressed"]
        )


@query("stream_alert_suppress", oracle=_SUP_ORACLE)
def stream_alert_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE incident-grade alert suppression (NM core: page once per
    incident, AS the samples arrive): per-source streaming state carries
    one re-arm timestamp (last emitted alert + 1 h); over-threshold
    samples inside the window are swallowed, the first one past it pages
    and re-arms. The streaming twin of ``events_alert_suppress``, sharing
    its recursive-CTE oracle — and the stronger claim the 4-file staged
    source proves: per-batch emitted/suppressed counts MERGE to exactly
    the one-shot batch answer because the re-arm state crosses micro-batch
    boundaries (batch-split invariance, the stream_incremental_rollup
    discipline). State is ONE timestamp per key — O(hosts), bounded,
    watermark-free."""
    s = _quarter_stream(spark, sf_dir)
    per_batch = (
        s.filter(F.col("value") > _SUP_THRESHOLD)
        .select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _suppress_fn, _SUP_OUT, _SUP_STATE, "append", "NoTimeout"
        )
    )
    drained = drain_to_memory(per_batch, mode="append")
    # merge the per-micro-batch partials — exact because counts add and
    # the suppression decisions were globally consistent via state
    return drained.groupBy("user_id").agg(
        F.sum("n_alerts").alias("n_alerts"),
        F.sum("n_emitted").alias("n_emitted"),
        F.sum("n_suppressed").alias("n_suppressed"),
    )


@query(
    "stream_burn_rate",
    oracle=f"""
WITH hourly AS (
  SELECT epoch_us(ts) // {_BURN_BUCKET_S * 1_000_000} AS hour_num,
         COUNT(*) AS n_events,
         COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors
  FROM events
  GROUP BY 1
)
SELECT hour_num, n_events, n_errors,
       {dround_sql('CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE)')} AS fast_ratio,
       {dround_sql('CAST(SUM(n_errors) OVER w AS DOUBLE) / CAST(SUM(n_events) OVER w AS DOUBLE)')}
         AS slow_ratio,
       (CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE) >= {_BURN_FAST_T}
        AND CAST(SUM(n_errors) OVER w AS DOUBLE) / CAST(SUM(n_events) OVER w AS DOUBLE)
            >= {_BURN_SLOW_T}) AS page
FROM hourly
WINDOW w AS (ORDER BY hour_num RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
""",
)
def stream_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE error-budget burn-rate paging — the streaming twin of
    ``ts_sla_burn_rate``. Each micro-batch contributes HOURLY PARTIALS
    (hour bucket × integer event/error counts) via foreachBatch; the
    published report merges partials by hour (integer sums — exact in
    any arrival order, so unlike the chronological-file folds this twin
    needs NO ordering precondition: an hour split across micro-batches
    merges to the same counts) and runs the identical trailing-window
    stage as the batch op on the merged O(hours) frame. Four staged
    micro-batches prove batch-split invariance; the oracle is the batch
    twin's oracle verbatim."""
    from ..operators.extensions4 import _BURN_BUCKET_S as BUCKET_S
    from ..operators.extensions4 import burn_windows_over

    def partials(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # this batch's hourly partials only — never a recompute of history
        return batch_df.groupBy(
            F.expr(f"unix_micros(ts) div {BUCKET_S * 1_000_000}").alias(
                "hour_num"
            )
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias(
                "n_errors"
            ),
        )

    def fold(landed: DataFrame) -> DataFrame:
        return burn_windows_over(
            landed.groupBy("hour_num").agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("n_errors").cast("long").alias("n_errors"),
            )
        )

    return drain_partials(
        _quarter_stream(spark, sf_dir),
        partials,
        fold,
        "hour_num long, n_events long, n_errors long",
    )


# ---------------------------------------------------------------------------
# stream_expectations_gate — LIVE data-contract monitoring (the streaming
# twin of pipeline_expectations_gate: violation counters that merge
# exactly in any batch-arrival order)
# ---------------------------------------------------------------------------

#: value range contract for the live gate — the upper bound sits inside
#: the observed distribution so the range expectation FAILS with a real
#: count while the other expectations pass (both outcomes hashed).
_SEG_VALUE_MAX = 250.0
_SEG_TYPES = ("click", "view", "purchase", "signup", "error")


@query(
    "stream_expectations_gate",
    oracle=f"""
WITH stats AS (
  SELECT
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(COUNT(*) - COUNT(user_id) AS BIGINT) AS null_user,
    CAST(COUNT(CASE WHEN event_type NOT IN {_SEG_TYPES!r} THEN 1 END)
         AS BIGINT) AS bad_type,
    CAST(COUNT(CASE WHEN value <= 0.0 OR value > {_SEG_VALUE_MAX!r} THEN 1 END)
         AS BIGINT) AS value_oor,
    CAST(COUNT(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-01'
                      OR CAST(ts AS TIMESTAMP) >= TIMESTAMP '2025-01-01'
                    THEN 1 END) AS BIGINT) AS ts_oor
  FROM events
)
SELECT exp.name AS expectation, exp.v AS n_violations, stats.n_rows AS n_checked,
       exp.v = 0 AS passed
FROM stats, LATERAL (VALUES
  ('not_null:user_id', null_user),
  ('in_set:event_type', bad_type),
  ('range:value', value_oor),
  ('range:ts', ts_oor)
) AS exp(name, v)
""",
)
def stream_expectations_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE data-contract monitoring — the streaming twin of
    ``pipeline_expectations_gate``: each micro-batch contributes one row
    of INTEGER violation counters via foreachBatch (row-local checks
    only: not-null, set-membership, two ranges — exact-uniqueness is
    deliberately left to the batch gate, where it has exact semantics;
    the streaming analog is ``stream_dedup``'s watermarked
    dropDuplicates). Counters merge exactly in any batch-arrival order
    (the stream_burn_rate invariance), so the published report is
    bit-equal to the batch gate run over the full input — which is what
    the oracle checks. Retry-idempotent: a replayed batch_id overwrites
    its own partials subdirectory."""

    def partials(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return batch_df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count("user_id")).alias("null_user"),
            F.count(F.when(~F.col("event_type").isin(*_SEG_TYPES), 1)).alias(
                "bad_type"
            ),
            F.count(
                F.when(
                    (F.col("value") <= 0.0) | (F.col("value") > _SEG_VALUE_MAX),
                    1,
                )
            ).alias("value_oor"),
            F.count(
                F.when(
                    (F.col("ts") < F.lit("2024-01-01").cast("timestamp"))
                    | (F.col("ts") >= F.lit("2025-01-01").cast("timestamp")),
                    1,
                )
            ).alias("ts_oor"),
        )

    def fold(landed: DataFrame) -> DataFrame:
        merged = landed.agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("null_user").cast("long").alias("null_user"),
            F.sum("bad_type").cast("long").alias("bad_type"),
            F.sum("value_oor").cast("long").alias("value_oor"),
            F.sum("ts_oor").cast("long").alias("ts_oor"),
        )
        return merged.select(
            F.expr(
                "stack(4,"
                " 'not_null:user_id', null_user,"
                " 'in_set:event_type', bad_type,"
                " 'range:value', value_oor,"
                " 'range:ts', ts_oor)"
            ).alias("expectation", "n_violations"),
            F.col("n_rows").alias("n_checked"),
        ).withColumn("passed", F.col("n_violations") == 0)

    return drain_partials(
        _quarter_stream(spark, sf_dir),
        partials,
        fold,
        "n_rows long, null_user long, bad_type long, value_oor long,"
        " ts_oor long",
    )


# ---------------------------------------------------------------------------
# stream_histogram_log2 — LIVE latency histogram (the log2-bucketed
# batch histogram's streaming twin: integer bucket partials per batch)
# ---------------------------------------------------------------------------


@query(
    "stream_histogram_log2",
    oracle="""
WITH v AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE value > 0.0
), b AS (
  SELECT event_type, cents,
         CAST(LENGTH(BIN(cents)) - 1 AS BIGINT) AS bucket
  FROM v
)
SELECT event_type, bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(cents) AS BIGINT) AS min_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents
FROM b
GROUP BY event_type, bucket
""",
)
def stream_histogram_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE log2-bucketed value histogram — the streaming twin of
    ``agg_histogram_log2``: each micro-batch contributes per-(type,
    bucket) integer partials (count / min / max) via foreachBatch, and
    the published histogram merges them by key — counts add, min/max
    fold, all exact in ANY batch-arrival order (the stream_burn_rate
    invariance), so the report is bit-equal to the batch histogram over
    the full input, which is what the oracle checks. Bucketing is the
    same exact bit-length integer trick — no libm in either engine.
    Retry-idempotent: a replayed batch_id overwrites its own partials
    subdirectory."""

    def partials(batch_df: DataFrame, batch_id: int) -> DataFrame:
        cents = F.round(F.col("value") * 100).cast("long")
        return (
            batch_df.filter(F.col("value") > 0.0)
            .select("event_type", cents.alias("cents"))
            .withColumn(
                "bucket",
                (
                    F.length(F.conv(F.col("cents").cast("string"), 10, 2)) - 1
                ).cast("long"),
            )
            .groupBy("event_type", "bucket")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("cents").alias("min_cents"),
                F.max("cents").alias("max_cents"),
            )
        )

    def fold(landed: DataFrame) -> DataFrame:
        return landed.groupBy("event_type", "bucket").agg(
            F.sum("n").cast("long").alias("n"),
            F.min("min_cents").cast("long").alias("min_cents"),
            F.max("max_cents").cast("long").alias("max_cents"),
        )

    return drain_partials(
        _quarter_stream(spark, sf_dir),
        partials,
        fold,
        "event_type string, bucket long, n long, min_cents long,"
        " max_cents long",
    )


# ---------------------------------------------------------------------------
# stream_sketch_cms — LIVE count-min counters (the relational CMS's
# streaming twin: per-batch counter partials merge by pure addition)
# ---------------------------------------------------------------------------


def _cms_oracle(sf_dir: str | None = None) -> str:
    """The live twin must converge to the batch sketch exactly — same
    oracle (resolved lazily so module import order never matters)."""
    from ..registry import resolve_oracle

    return resolve_oracle("agg_sketch_cms", sf_dir)


@query("stream_sketch_cms", oracle=_cms_oracle)
def stream_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE count-min sketch — the streaming twin of ``agg_sketch_cms``:
    each micro-batch emits its own d×w counter partials plus exact
    per-key count partials via foreachBatch; the published report merges
    both by ADDITION (the CMS mergeability that makes the sketch a
    streaming-native structure — commutative, associative, so any batch
    arrival order and any retry-overwrite converge to the batch-exact
    counters). Point-query estimates and the one-sided bound check are
    then identical to the batch op, which is what the shared oracle
    pins. Retry-idempotent: a replayed batch_id overwrites its own
    partials subdirectory."""
    from ..operators.extensions5 import cms_counters, cms_point_estimates

    def partials(batch_df: DataFrame, batch_id: int) -> dict[str, DataFrame]:
        return {
            "sketch": cms_counters(batch_df),
            "exact": batch_df.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n")
            ),
        }

    def fold(landed: dict[str, DataFrame]) -> DataFrame:
        sketch = (
            landed["sketch"]
            .groupBy("row_i", "bucket")
            .agg(F.sum("c").cast("long").alias("c"))
        )
        exact = (
            landed["exact"]
            .groupBy("event_type")
            .agg(F.sum("n").cast("long").alias("n_exact"))
        )
        est = cms_point_estimates(sketch, exact.select("event_type"))
        return exact.join(est, "event_type").select(
            "event_type",
            "n_exact",
            "cms_est",
            (F.col("cms_est") >= F.col("n_exact")).alias("lower_bound_ok"),
        )

    return drain_partials(
        _quarter_stream(spark, sf_dir),
        partials,
        fold,
        {
            "sketch": "row_i int, bucket int, c long",
            "exact": "event_type string, n long",
        },
    )
