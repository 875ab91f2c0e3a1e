"""Windowed streaming aggregations (SURVEY §2.I) — the netmonitor core:
fixed-interval reporting, smoothed sliding rates, connection sessions,
threshold alerts, plus the streaming source/sink operators of §2.A.

Oracle strategy: batch-stream equivalence. Each query drains the events
parquet with ``availableNow`` and its final result is hash-compared to a
DuckDB batch rendering of the same window logic (tumbling = date_trunc;
sliding = explicit 4-offset expansion; session = gap-island SQL).

Scale notes: all aggregations are keyed (window × key) with map-side
partial aggregation; state is bounded by watermarks in continuous
operation. Sliding windows expand each event into window_count rows
map-side — the standard Spark physical shape.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.stable import dsum, dsum_sql, sketch_ok, ts_str, ts_str_sql
from ..registry import query
from .core import cached_stream_df, drain, drain_to_memory, events_stream


@query(
    "source_stream_events",
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def source_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-ingest the events table (file stream source) and re-derive
    the exact batch projection — proves the streaming source loses/alters
    nothing (NM: metric ingestion)."""
    def build() -> DataFrame:
        agg = events_stream(
            spark, sf_dir, columns=("event_id", "user_id", "event_type")
        ).select("event_id", "user_id", "event_type")
        return agg

    agg = cached_stream_df(spark, ("source_stream_events", sf_dir), build)
    return drain_to_memory(agg, mode="append")


@query(
    "stream_tumbling",
    oracle=f"""
SELECT
  {ts_str_sql("date_trunc('hour', CAST(ts AS TIMESTAMP))")} AS window_start,
  event_type,
  COUNT(*) AS n_events,
  {dsum_sql('value')} AS total_value
FROM events
GROUP BY 1, 2
""",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — per-hour per-type tumbling aggregation with watermark
    (NM core: fixed-interval reporting)."""

    def build() -> DataFrame:
        s = events_stream(spark, sf_dir, columns=("ts", "event_type", "value"))
        return (
            s.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value").alias("total_value"),
            )
            # final projection INSIDE the stream: the memory table then
            # already holds the output schema, so reading the result back is
            # a bare table scan, not a second projection job (~0.1 s)
            .select(
                ts_str(F.col("w.start")).alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )

    # the analyzed plan is built once per (session, input) — a continuously
    # running pipeline pays analysis once, and so do repeated drains here
    # (~0.1 s/call of py4j analysis; measured 0.54 → 0.43 s steady-state)
    agg = cached_stream_df(spark, ("stream_tumbling", sf_dir), build)
    # ~3.6k keys of JVM-native state: 2 store partitions beat the default
    # (fewer per-batch commit files; see STREAM_STATE_PARTITIONS)
    return drain_to_memory(agg, mode="complete", state_partitions=2)


@query(
    "stream_sliding",
    oracle=f"""
WITH expanded AS (
  SELECT
    make_timestamp(((epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) - o.o) * 900000000) AS window_start,
    event_type,
    value
  FROM events, (VALUES (0), (1), (2), (3)) o(o)
)
SELECT
  {ts_str_sql('window_start')} AS window_start,
  event_type,
  COUNT(*) AS n_events,
  {dsum_sql('value')} AS total_value
FROM expanded
GROUP BY 1, 2
""",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 min (smoothed rate reporting): every
    event lands in exactly 4 windows. Oracle expands the 4 epoch-aligned
    window starts explicitly — Spark's window() anchors at the epoch, and
    15-min slides stay aligned."""
    def build() -> DataFrame:
        s = events_stream(spark, sf_dir, columns=("ts", "event_type", "value"))
        agg = (
            s.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
            .select(
                ts_str(F.col("w.start")).alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )
        return agg

    agg = cached_stream_df(spark, ("stream_sliding", sf_dir), build)
    # ~14k JVM-native window keys: 4 store partitions (measured 0.74→0.63 s)
    return drain_to_memory(agg, mode="complete", state_partitions=4)


@query(
    "stream_session",
    oracle=f"""
WITH t AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
), marked AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_s
  FROM t
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT
  user_id,
  {ts_str_sql('MIN(ts)')} AS session_start,
  {ts_str_sql('MAX(ts) + INTERVAL 30 MINUTE')} AS session_end,
  COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, sid
""",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap session windows per user (NM: connection sessions) ↔
    gap-island SQL. Spark's session end is last_event + gap and a gap of
    EXACTLY 30:00 starts a new session (window end is exclusive) — the
    oracle's `>=` mirrors that."""
    def build() -> DataFrame:
        s = events_stream(spark, sf_dir, columns=("ts", "user_id"))
        agg = (
            s.withWatermark("ts", "10 minutes")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                ts_str(F.col("w.start")).alias("session_start"),
                ts_str(F.col("w.end")).alias("session_end"),
                "n_events",
            )
        )
        return agg

    agg = cached_stream_df(spark, ("stream_session", sf_dir), build)
    return drain_to_memory(agg, mode="complete")


@query(
    "stream_alert_threshold",
    oracle=f"""
SELECT
  {ts_str_sql("date_trunc('hour', CAST(ts AS TIMESTAMP))")} AS window_start,
  event_type,
  COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
HAVING COUNT(*) > 8
""",
)
def stream_alert_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold alerting (NM: alert when a counter's hourly volume exceeds
    θ) — windowed aggregate + HAVING filter on the stream result."""
    def build() -> DataFrame:
        s = events_stream(spark, sf_dir, columns=("ts", "event_type"))
        agg = (
            s.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .filter(F.col("n_events") > 8)
            .select(
                ts_str(F.col("w.start")).alias("window_start"),
                "event_type",
                "n_events",
            )
        )
        return agg

    agg = cached_stream_df(spark, ("stream_alert_threshold", sf_dir), build)
    return drain_to_memory(agg, mode="complete")


@query(
    "sink_foreach_batch",
    oracle="SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type",
)
def sink_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink (NM: push aggregates to a REST collector): the
    callback receives each micro-batch result; the last complete-mode batch
    is the final answer, re-exposed as a DataFrame."""
    import tempfile

    s = events_stream(spark, sf_dir, columns=("event_type",))
    agg = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))

    out_root = tempfile.mkdtemp(prefix="nm_fe_batches_")
    batch_dirs: list[str] = []

    def push_batch(batch_df: DataFrame, batch_id: int) -> None:
        # stands in for a push to a collector endpoint — the batch is
        # written executor-side (distributed parquet write), never
        # collected to the driver
        d = f"{out_root}/batch_{batch_id}"
        batch_df.write.mode("overwrite").parquet(d)
        batch_dirs.append(d)

    drain(agg, push_batch, "complete")
    # complete mode: the last batch carries the full final aggregate
    return spark.read.parquet(batch_dirs[-1]).select(
        "event_type", F.col("n_events").cast("long").alias("n_events")
    )


@query(
    "source_stream_csv",
    oracle=f"""
SELECT event_type, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
FROM events
GROUP BY event_type
""",
)
def source_stream_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV file-stream ingestion (NM: collectors commonly tail CSV/log
    exports): events staged as CSV once per sf_dir, streamed with an
    explicit schema (no inference on a stream), aggregated, and
    hash-matched against the parquet batch oracle — proving type fidelity
    through the text format (timestamps via ISO strings, doubles via
    shortest-repr round-trip)."""
    import os
    import tempfile

    from ..io import load_table

    key = ("csv_src", os.path.abspath(sf_dir))
    from .stateful import _staged

    if key not in _staged:
        d = tempfile.mkdtemp(prefix="nm_csv_src_")
        (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
                "user_id",
                "event_type",
                F.format_string("%.17g", "value").alias("value"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", "true")
            .csv(d)
        )
        _staged[key] = d

    schema = (
        "event_id long, ts string, user_id long, event_type string, value string"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .csv(_staged[key])
    )
    typed = raw.select(
        "event_type", F.col("value").cast("double").alias("value")
    )
    agg = typed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value")
    )
    return drain_to_memory(agg, mode="complete")


@query(
    "stream_topk_talkers",
    oracle=f"""
WITH hourly AS (
  SELECT
    {ts_str_sql("date_trunc('hour', CAST(ts AS TIMESTAMP))")} AS window_start,
    user_id,
    COUNT(*) AS n_events,
    {dsum_sql('value')} AS total_value
  FROM events
  GROUP BY 1, 2
), ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY window_start
                       ORDER BY n_events DESC, total_value DESC, user_id ASC) AS rnk
  FROM hourly
)
SELECT window_start, user_id, n_events, total_value, rnk
FROM ranked WHERE rnk <= 3
""",
)
def stream_topk_talkers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 heaviest sources per hourly window (NM core: top-k talkers
    per reporting interval). The windowed per-user aggregation runs in the
    stream with watermarked state; the rank-and-trim over the closed
    windows is the reporting stage on the drained result — at scale the
    same rank runs per closed window in foreachBatch. Fully deterministic
    tie-break (count desc, value desc, user asc)."""
    from pyspark.sql import Window

    s = events_stream(spark, sf_dir, columns=("ts", "user_id", "value"))
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
    )
    hourly = drain_to_memory(
        agg.select(
            ts_str(F.col("w.start")).alias("window_start"),
            "user_id",
            "n_events",
            "total_value",
        ),
        mode="complete",
    )
    rank_w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("total_value").desc(), F.col("user_id").asc()
    )
    return hourly.withColumn("rnk", F.row_number().over(rank_w)).filter(
        F.col("rnk") <= 3
    )


@query(
    "stream_static_join",
    oracle=f"""
SELECT n_name AS nation, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
FROM events
JOIN customer ON user_id = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (NM: enrich live samples with topology metadata):
    the unbounded events stream joins the static customer→nation dims —
    broadcast to every micro-batch, no stream-side state — then aggregates
    per nation. The batch oracle is the identical join."""
    from ..io import load_table

    s = events_stream(spark, sf_dir, columns=("user_id", "value"))
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = F.broadcast(
        c.join(n, c.c_nationkey == n.n_nationkey).select(
            F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation")
        )
    )
    agg = (
        s.join(dim, "user_id")
        .groupBy("nation")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
    )
    return drain_to_memory(agg, mode="complete")


@query(
    "stream_stream_join",
    oracle=f"""
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds (NM: correlate two
    live counter streams from the same source): purchases join clicks by
    the same user within the preceding 10 minutes. Both sides carry
    watermarks and the time-range condition bounds the join state — the
    shape that stays finite on an unbounded stream. availableNow drains
    both sides, so the result equals the batch time-range join."""
    s = events_stream(
        spark, sf_dir, columns=("event_id", "ts", "user_id", "event_type")
    )
    purchases = (
        s.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    clicks = (
        events_stream(
            spark, sf_dir, columns=("event_id", "ts", "user_id", "event_type")
        )
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    out = drain_to_memory(joined, mode="append")
    return out.select("purchase_id", "click_id", "user_id")


@query(
    "stream_session_dynamic",
    oracle=f"""
WITH t AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN event_type = 'purchase' THEN INTERVAL 60 MINUTE
              ELSE INTERVAL 30 MINUTE END AS gap
  FROM events
), marked AS (
  SELECT user_id, ts, gap,
    CASE WHEN MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, gap
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
           OR ts >= MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, gap
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_s
  FROM t
), numbered AS (
  SELECT user_id, ts, gap,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, gap ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       {ts_str_sql('MIN(ts)')} AS session_start,
       {ts_str_sql('MAX(ts + gap)')} AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, sid
""",
)
def stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a PER-EVENT dynamic gap (NM: a purchase keeps
    the connection session alive for 60 min, anything else 30): Spark's
    ``session_window(ts, gap_expr)`` merges each event's own [ts, ts+gap)
    extent. The oracle is the cumulative-max island rendering: a new
    session starts when an event's ts is at or past the max end of
    everything before it."""
    def build() -> DataFrame:
        s = events_stream(spark, sf_dir, columns=("ts", "user_id", "event_type"))
        gap = F.when(F.col("event_type") == "purchase", F.lit("60 minutes")).otherwise(
            F.lit("30 minutes")
        )
        agg = (
            s.withWatermark("ts", "10 minutes")
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                ts_str(F.col("w.start")).alias("session_start"),
                ts_str(F.col("w.end")).alias("session_end"),
                "n_events",
            )
        )
        return agg

    agg = cached_stream_df(spark, ("stream_session_dynamic", sf_dir), build)
    return drain_to_memory(agg, mode="complete")


#: rsd for the live unique-talkers sketch: 2% keeps each (window × type)
#: HLL at ~4 KB of state (rsd 0.01 was 16 KB/key — 4× the store commit
#: traffic per batch for accuracy a monitoring rollup never needs;
#: measured: the sf0.1 drain 1.9 s → 0.87 s).
STREAM_DISTINCT_RSD = 0.02


def stream_distinct_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw streamed HLL++ distinct-talker estimates per hourly window (the
    production operator): one sketch per (window × type) — kilobytes of
    state per key regardless of cardinality, the only shape that survives
    a 100 TB keyspace. Estimates are implementation-defined, so the
    registered QUERY wraps this in a deterministic bounds frame."""
    s = events_stream(spark, sf_dir, columns=("ts", "user_id", "event_type"))
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.approx_count_distinct("user_id", STREAM_DISTINCT_RSD).alias(
                "approx_users"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    final = agg.select(
        ts_str(F.col("w.start")).alias("window_start"),
        "event_type",
        "approx_users",
        "n_events",
    )
    # ~3.6k JVM-native sketch keys: sized like stream_tumbling
    return drain_to_memory(final, mode="complete", state_partitions=2)


@query(
    "stream_distinct_approx",
    # Deterministic bounds frame (VERDICT r4 #5 — upgraded from rows-only):
    # exact per-window counts computed independently by both engines; the
    # boolean pins the STREAMED sketch estimate within max(2, 5%) of exact
    # per window. The semantic test keeps the stronger assertion that the
    # streamed estimate EQUALS the batch estimate (register-merge
    # commutativity).
    oracle=f"""
SELECT
  {ts_str_sql("date_trunc('hour', CAST(ts AS TIMESTAMP))")} AS window_start,
  event_type,
  COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users,
  TRUE AS approx_ok
FROM events
GROUP BY 1, 2
""",
)
def stream_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed approximate distinct talkers per hourly window (NM core:
    'how many unique sources reported this interval' without keeping the
    full user set in state), verified against the exact batch count:
    emits per-window exact users plus ``approx_ok`` = streamed estimate
    within max(2, 5%) of exact. The raw streamed path is
    ``stream_distinct_estimates``; the exact side is a batch twin joined
    AFTER the drain, so the sketch state machinery still runs live."""
    from ..io import load_table

    streamed = stream_distinct_estimates(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    exact = e.groupBy(
        ts_str(F.date_trunc("hour", "ts")).alias("window_start"), "event_type"
    ).agg(F.countDistinct("user_id").alias("n_users"))
    ok = sketch_ok("approx_users", "n_users")
    return streamed.join(exact, ["window_start", "event_type"]).select(
        "window_start", "event_type", "n_events", "n_users", ok.alias("approx_ok")
    )
