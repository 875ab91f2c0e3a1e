"""Stateful streaming operators (SURVEY §2.I): watermark late-drop,
streaming dedup, arbitrary-state counters, EWMA rate smoothing.

These are the netmonitor core semantics a batch oracle cannot see directly
(resent-sample dedup, late sample handling, per-host cumulative counters,
rate smoothing). To keep them HASH-checkable anyway, each query stages a
DETERMINISTIC derived input (pyarrow-written parquet in a cached temp dir,
derived purely from the sf_dir events table — no RNG, no clocks) and is
constructed so the correct streaming result equals a plain batch SQL over
the original events table:

- ``stream_dedup``: input = events ∪ events (every row twice); correct
  dedup output = events exactly once → oracle is a plain projection.
- ``stream_watermark_late``: input = 3 files processed as 3 micro-batches
  (maxFilesPerTrigger=1): [all events], [stale copies + future sentinel],
  [stale copy]. The stale copies arrive beyond the watermark and MUST be
  dropped; the sentinel advances the watermark so every real window closes
  in append mode. Correct output = plain hourly aggregation of events.
- ``stream_stateful_counter`` / ``stream_rate_ewma``: final emitted state
  must equal the batch rendering (group totals / a recursive-CTE EWMA).

Scale notes (100 TB): state is per-key and bounded (dedup keys and window
state evicted by watermark in continuous operation; counter state is
O(keys)); applyInPandasWithState streams Arrow batches per key group, never
materializing a partition in one pandas frame unless one key dominates —
the netmonitor keyspace (hosts × metrics) is wide, so skew is low.

API note: Spark 4's ``transformWithStateInPandas`` (the successor API) was
evaluated and works identically in design, but its state-server protocol
requires ``google.protobuf``, which this container does not provide (no
package installs allowed) — the driver worker crashes with
``ImportError: cannot import name 'descriptor' from 'google.protobuf'``.
The engine therefore standardizes on ``applyInPandasWithState``; swapping
to a StatefulProcessor subclass is mechanical when the dependency exists.
"""

from __future__ import annotations

import os
import tempfile
from decimal import ROUND_HALF_UP, Decimal
from typing import Any, Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.stable import dsum_sql, ts_str, ts_str_sql
from ..io import table_path
from ..registry import query
from ..session import apply_runtime_confs
from .core import EVENTS_RAW_SCHEMA, drain, drain_to_memory

HOUR_US = 3_600 * 10**6

_staged: dict[tuple[str, str], Any] = {}


def _read_events_arrow(sf_dir: str):
    """Events table with ts normalized to timestamp[us] — staged files are
    ALWAYS µs regardless of the source file's physical unit (the driver has
    shipped both ns and µs testdata; ``core.events_ts_unit``), so every
    staging consumer and ``_stream_staged``'s schema stay unit-agnostic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(table_path(sf_dir, "events"))
    i = t.schema.get_field_index("ts")
    return t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("us")))


def _stage_once(kind: str, sf_dir: str, build) -> Any:
    key = (kind, os.path.abspath(sf_dir))
    if key not in _staged:
        d = tempfile.mkdtemp(prefix=f"nm_{kind}_")
        _staged[key] = build(d)
    return _staged[key]


def _stream_staged(
    spark: SparkSession, source_dir: str, one_file_per_batch: bool = False
) -> DataFrame:
    """Stream a staged events-shaped directory; ts normalized to timestamp."""
    apply_runtime_confs(spark)
    reader = spark.readStream.schema(EVENTS_RAW_SCHEMA)
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", "1")
    # staged files carry ts as timestamp[us] (see _read_events_arrow) —
    # EVENTS_RAW_SCHEMA reads that natively, no unit conversion needed
    return reader.parquet(source_dir)


def _build_late_staging(
    sf_dir: str, d: str, sentinel_types: tuple[str, ...] = ("sentinel",)
) -> dict[str, Any]:
    """Four mtime-ordered micro-batch files: [all events], [future
    sentinels], [stale copies of the earliest hour], [one stale row] —
    shared by ``stream_watermark_late``, ``sink_stream_parquet`` and the
    stream-stream joins. ``sentinel_types`` matters when a consumer
    filters by event_type: Catalyst pushes that filter below the
    EventTimeWatermark node into the parquet scan, so a sentinel of a
    filtered-out type never reaches the watermark tracker and the
    watermark stalls (measured) — such consumers need sentinels typed to
    SURVIVE their filters (far-future ts and user_id −1 keep them from
    ever joining or emitting)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = _read_events_arrow(sf_dir)
    ts_us = pc.cast(t.column("ts"), pa.int64())
    lo = pc.min(ts_us).as_py()
    hi = pc.max(ts_us).as_py()
    stale = t.filter(pc.less(ts_us, pa.scalar(lo + HOUR_US)))
    sentinel_us = (hi // HOUR_US) * HOUR_US + 3 * HOUR_US
    k = len(sentinel_types)
    sentinel = pa.table(
        {
            "event_id": pa.array([-1 - i for i in range(k)], pa.int64()),
            "ts": pa.array([sentinel_us] * k, pa.int64()).cast(pa.timestamp("us")),
            # distinct negative user_ids: multiple sentinels must never
            # join each other (same ts + shared key would match)
            "user_id": pa.array([-1 - i for i in range(k)], pa.int64()),
            "event_type": pa.array(list(sentinel_types), pa.string()),
            "value": pa.array([0.0] * k, pa.float64()),
            "props": pa.array(["{}"] * k, pa.string()),
        }
    ).cast(t.schema)
    f1, f2, f3, f4 = (os.path.join(d, f"b{i}.parquet") for i in (1, 2, 3, 4))
    pq.write_table(t, f1)
    pq.write_table(sentinel, f2)
    pq.write_table(stale, f3)
    pq.write_table(stale.slice(0, 1), f4)
    for i, f in enumerate((f1, f2, f3, f4)):
        os.utime(f, (1_700_000_000 + i * 1000, 1_700_000_000 + i * 1000))
    return {"dir": d, "sentinel_us": sentinel_us}


# ---------------------------------------------------------------------------
# stream_dedup
# ---------------------------------------------------------------------------


@query(
    "stream_dedup",
    oracle=f"""
SELECT event_id, {ts_str_sql('ts')} AS ts, user_id, event_type
FROM events
""",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup of resent samples (NM: at-least-once delivery means
    the collector sees duplicates). Input is every event delivered TWICE;
    ``dropDuplicatesWithinWatermark`` on the unique event_id must emit each
    exactly once, making the batch projection of events the exact oracle."""

    def build(d: str) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = _read_events_arrow(sf_dir)
        pq.write_table(pa.concat_tables([t, t]), os.path.join(d, "doubled.parquet"))
        return d

    src = _stage_once("dedup", sf_dir, build)
    s = _stream_staged(spark, src)
    deduped = (
        s.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", ts_str("ts").alias("ts"), "user_id", "event_type")
    )
    return drain_to_memory(deduped, mode="append")


# ---------------------------------------------------------------------------
# stream_watermark_late
# ---------------------------------------------------------------------------


@query(
    "stream_watermark_late",
    oracle=f"""
SELECT
  {ts_str_sql("date_trunc('hour', CAST(ts AS TIMESTAMP))")} AS window_start,
  event_type,
  COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
""",
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-sample handling (NM): rows arriving beyond the 10-minute
    watermark must NOT perturb already-closed windows.

    Four micro-batches (one file each, mtime-ordered):
      1. every real event;
      2. one future sentinel 3 h past the last real hour — the watermark
         (computed from batch 1) closes and emits all but the last real
         window;
      3. copies of the earliest hour's events, now ~30 days late → MUST be
         dropped (measured Spark behavior: the late-input drop filter in
         batch N uses the watermark committed before the batch starts,
         which lags the data by TWO batches — hence the sentinel buffer
         batch between data and stale input); the sentinel-advanced
         watermark also emits the final real window here;
      4. one more stale copy (still dropped; nothing left to emit).

    The sentinel's own window can never close (the watermark never passes
    it), so the append-mode output is exactly the hourly aggregation of the
    real events — a plain batch oracle. Any late-row leak or lost window
    breaks the hash.
    """

    st = _stage_once("late", sf_dir, lambda d: _build_late_staging(sf_dir, d))
    s = _stream_staged(spark, st["dir"], one_file_per_batch=True)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = drain_to_memory(agg, mode="append")
    # Belt & braces: the sentinel window is structurally un-emittable, but
    # exclude it explicitly so the contract is visible in the plan.
    return out.filter(
        F.col("w.start") < F.expr(f"timestamp_micros({st['sentinel_us']})")
    ).select(
        ts_str(F.col("w.start")).alias("window_start"), "event_type", "n_events"
    )


# ---------------------------------------------------------------------------
# stream_stateful_counter
# ---------------------------------------------------------------------------

_COUNTER_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
_COUNTER_STATE = StructType(
    [StructField("n", LongType()), StructField("dec_sum", StringType())]
)


def _dec6(v: float) -> Decimal:
    """Mirror of CAST(double AS DECIMAL(28,6)): round-half-up at 6 dp on the
    shortest decimal repr (see functions.stable docstring)."""
    return Decimal(repr(float(v))).quantize(Decimal("0.000001"), ROUND_HALF_UP)


def _counter_fn(key, pdf_iter: Iterable[pd.DataFrame], state):
    n, dec_sum = (
        state.get if state.exists else (0, "0")
    )  # type: ignore[misc]
    total = Decimal(dec_sum)
    for pdf in pdf_iter:
        n += len(pdf)
        for v in pdf["value"]:
            total += _dec6(v)
    state.update((n, str(total)))
    rounded = float(total.quantize(Decimal("0.01"), ROUND_HALF_UP))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [rounded]}
    )


@query(
    "stream_stateful_counter",
    oracle=f"""
SELECT user_id, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
FROM events
GROUP BY user_id
""",
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running counters via arbitrary stateful processing
    (NM core: per-host cumulative byte/packet counters held in state).
    ``applyInPandasWithState`` keeps (count, exact-decimal sum) per key and
    emits the running totals each micro-batch; counts are monotone, so the
    final counters are the max-count emission per key — which must equal
    the batch group-by (decimal-sum discipline matches functions.stable)."""
    from .core import events_stream

    s = events_stream(spark, sf_dir, columns=("user_id", "value"))
    updates = (
        s.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _counter_fn, _COUNTER_OUT, _COUNTER_STATE, "update", "NoTimeout"
        )
    )
    out = drain_to_memory(updates, mode="update")
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# stream_rate_ewma
# ---------------------------------------------------------------------------

_EWMA_OUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_hours", LongType()),
        StructField("ewma_rate", DoubleType()),
    ]
)
_EWMA_STATE = StructType(
    [
        StructField("n_hours", LongType()),
        StructField("last_hour_us", LongType()),
        StructField("ewma", DoubleType()),
    ]
)

_ALPHA = 0.5


def _ewma_fn(key, pdf_iter: Iterable[pd.DataFrame], state):
    n_hours, last_hour, ewma = (
        state.get if state.exists else (0, -1, 0.0)
    )  # type: ignore[misc]
    chunks = [pdf for pdf in pdf_iter]
    pdf = pd.concat(chunks) if chunks else pd.DataFrame({"ts": []})
    hours = (
        pdf["ts"].astype("datetime64[us]").dt.floor("h").value_counts().sort_index()
    )
    for hour, count in hours.items():
        hour_us = hour.value // 1000  # Timestamp.value is always ns → µs
        if hour_us <= last_hour:
            continue  # late hour beyond state — netmonitor drops it
        c = float(count)
        ewma = c if n_hours == 0 else _ALPHA * c + (1.0 - _ALPHA) * ewma
        n_hours += 1
        last_hour = hour_us
    state.update((n_hours, last_hour, ewma))
    yield pd.DataFrame(
        {"event_type": [key[0]], "n_hours": [n_hours], "ewma_rate": [ewma]}
    )


@query(
    "stream_rate_ewma",
    oracle=f"""
WITH RECURSIVE hourly AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, c,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hourly
), rec AS (
  SELECT event_type, rn, CAST(c AS DOUBLE) AS ewma FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.event_type, r.rn, 0.5 * r.c + 0.5 * rec.ewma
  FROM ranked r JOIN rec ON r.event_type = rec.event_type AND r.rn = rec.rn + 1
)
SELECT event_type,
       COUNT(*) AS n_hours,
       CAST(ROUND(CAST(arg_max(ewma, rn) AS DECIMAL(28,6)), 6) AS DOUBLE) AS ewma_rate
FROM rec GROUP BY event_type
""",
)
def stream_rate_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA-smoothed hourly event rate per type (NM: smoothing of windowed
    rates), α=0.5, folded in event-time order inside per-key streaming
    state. The recursive-CTE oracle performs the IDENTICAL double
    arithmetic (0.5*c + 0.5*prev, sequential) so results match bit-wise;
    both sides round to 6 dp."""
    from .core import events_stream

    s = events_stream(spark, sf_dir, columns=("event_type", "ts"))
    updates = (
        s.select("event_type", "ts")
        .groupBy("event_type")
        .applyInPandasWithState(
            _ewma_fn, _EWMA_OUT, _EWMA_STATE, "update", "NoTimeout"
        )
    )
    out = drain_to_memory(updates, mode="update")
    final = out.groupBy("event_type").agg(
        F.max("n_hours").alias("n_hours"),
        F.max_by("ewma_rate", "n_hours").alias("ewma_raw"),
    )
    return final.select(
        "event_type",
        "n_hours",
        F.round(F.col("ewma_raw").cast("decimal(28,6)"), 6)
        .cast("double")
        .alias("ewma_rate"),
    )


# ---------------------------------------------------------------------------
# stream_counter_rate
# ---------------------------------------------------------------------------

_RATE_OUT = StructType(
    [
        StructField("event_id", LongType()),
        StructField("delta", DoubleType()),
    ]
)
_RATE_STATE = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("last_event_id", LongType()),
        StructField("last_value", DoubleType()),
    ]
)


def _rate_fn(key, pdf_iter: Iterable[pd.DataFrame], state):
    prev = state.get if state.exists else None  # type: ignore[misc]
    chunks = [p for p in pdf_iter]
    pdf = pd.concat(chunks) if chunks else None
    if pdf is None or pdf.empty:
        yield pd.DataFrame({"event_id": [], "delta": []})
        return
    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    out_ids: list[int] = []
    out_deltas: list[float | None] = []
    last_v = prev[2] if prev is not None else None
    for eid, v in zip(pdf["event_id"], pdf["value"]):
        v = float(v)
        if last_v is None:
            out_deltas.append(None)
        else:
            d = v - last_v  # identical IEEE subtraction in both engines
            out_deltas.append(
                float(_dec6(d))
            )
        out_ids.append(int(eid))
        last_v = v
    last = pdf.iloc[-1]
    state.update(
        (int(last["ts"].value // 1000), int(last["event_id"]), float(last["value"]))
    )
    yield pd.DataFrame(
        {"event_id": out_ids, "delta": pd.array(out_deltas, dtype="object")}
    )


@query(
    "stream_counter_rate",
    oracle="""
SELECT event_id,
       CAST(ROUND(CAST(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS DECIMAL(28,6)), 6) AS DOUBLE) AS delta
FROM events
""",
)
def stream_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE netmonitor core semantic as a stream: per-source counter deltas
    (sample minus previous sample = rate), computed in per-key streaming
    state that carries the last sample across micro-batches. The oracle is
    the batch LAG-window rendering; first sample per key yields NULL.
    Deterministic ordering inside a batch via (ts, event_id) sort."""
    from .core import events_stream

    s = events_stream(spark, sf_dir, columns=("user_id", "ts", "event_id", "value"))
    updates = (
        s.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _rate_fn, _RATE_OUT, _RATE_STATE, "append", "NoTimeout"
        )
    )
    return drain_to_memory(updates, mode="append")

# ---------------------------------------------------------------------------
# sink_stream_parquet
# ---------------------------------------------------------------------------


@query(
    "sink_stream_parquet",
    oracle=f"""
SELECT
  {ts_str_sql("date_trunc('hour', CAST(ts AS TIMESTAMP))")} AS window_start,
  event_type,
  COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
""",
)
def sink_stream_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PARQUET sink — the production output path (memory sinks
    are test-only): append-mode hourly aggregates written to parquet files
    as their windows close, then read back as a batch table. Reuses the
    sentinel-staged source of ``stream_watermark_late`` so every real
    window is emitted and stale input is dropped; the batch oracle is the
    plain hourly aggregation. Exactly-once: the parquet sink commits files
    through the checkpoint's file log."""
    # ensure staging exists (same cache as stream_watermark_late)
    from ..registry import QUERIES  # noqa: F401  (documentation import)

    st = _stage_once(
        "late", sf_dir, lambda d: _build_late_staging(sf_dir, d)
    )
    s = _stream_staged(spark, st["dir"], one_file_per_batch=True)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out_dir = tempfile.mkdtemp(prefix="nm_stream_parquet_")
    drain(
        agg.select(
            ts_str(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
        ),
        "parquet",
        path=out_dir,
    )
    back = spark.read.schema(
        "window_start string, event_type string, n_events long"
    ).parquet(out_dir)
    # the sentinel window never closes → never written; nothing to filter
    return back

# ---------------------------------------------------------------------------
# stream_stream_left_join
# ---------------------------------------------------------------------------


@query(
    "stream_stream_left_join",
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts
""",
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join — the hard streaming-join case: an
    unmatched purchase can only be emitted (with NULL click) once the
    watermark proves no matching click can still arrive. Uses the
    sentinel-staged source so the watermark passes every join window and
    ALL unmatched rows emit; the stale batches are dropped as late. The
    batch oracle is the plain LEFT JOIN with the same time bounds."""
    st = _stage_once(
        "late_pc",
        sf_dir,
        lambda d: _build_late_staging(sf_dir, d, sentinel_types=("purchase", "click")),
    )

    def side(event_type: str, id_alias: str, user_alias: str, ts_alias: str):
        # watermark BEFORE the type filter: the watermark tracks the max
        # event time of rows reaching the EventTimeWatermark node, so a
        # post-filter watermark never sees the sentinel (or any other
        # type) and stalls — measured: the last unmatched purchase then
        # never emits. Production rule: assign the watermark on the raw
        # stream, filter after.
        s = _stream_staged(spark, st["dir"], one_file_per_batch=True)
        return (
            s.withWatermark("ts", "10 minutes")
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(user_alias),
                F.col("ts").alias(ts_alias),
            )
        )

    purchases = side("purchase", "purchase_id", "user_id", "p_ts")
    clicks = side("click", "click_id", "c_user", "c_ts")
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    )
    out = drain_to_memory(joined, mode="append")
    return out.select("purchase_id", "click_id", "user_id")
