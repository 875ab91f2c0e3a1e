"""Scans, sources and batch sinks (SURVEY §2.A).

Netmonitor anchor: metric ingestion + log/CSV export sinks. The streaming
source/sink operators live in ``streaming/``.

Scale notes: `scan_pruned` / `scan_filtered` exist to pin column-pruning
and predicate-pushdown behavior — tests/test_plans.py asserts
``ReadSchema``/``PushedFilters`` on their physical plans, because at 100 TB
a scan that reads all columns for a two-column projection is the whole
ballgame.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.stable import dsum, dsum_sql, ts_str, ts_str_sql
from ..io import detach_result, load_table, scratch, scratch_dir, session_memo
from ..registry import query


@query(
    "scan_parquet",
    oracle="""
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer
""",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan, all columns. Raw doubles pass through unchanged (exact in
    parquet → exact in both engines → hash-safe without rounding)."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


@query(
    "scan_pruned",
    oracle="SELECT l_orderkey, l_quantity FROM lineitem",
)
def scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-column projection of the 11-column fact — parquet reads only the
    projected column chunks (ReadSchema assertion in test_plans)."""
    return load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")


@query(
    "scan_filtered",
    oracle=f"""
SELECT l_orderkey, l_linenumber, l_quantity, {ts_str_sql('l_shipdate')} AS ship_day
FROM lineitem
WHERE l_quantity >= 45.0 AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
""",
)
def scan_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pushdown into parquet row groups (PushedFilters assertion
    in test_plans). Timestamp output canonicalized to string (§7.4.3)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.filter(
        (F.col("l_quantity") >= 45.0)
        & (F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        ts_str("l_shipdate").alias("ship_day"),
    )


@query(
    "sink_parquet_roundtrip",
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n, {dsum_sql('o_totalprice')} AS revenue
FROM orders
GROUP BY o_orderpriority
""",
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an aggregate to parquet, read it back — type fidelity through
    the sink. The oracle sees only the original aggregate: a lossless sink
    is exactly what makes them hash-equal."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("revenue")
    )
    with scratch("nm_sink_") as out:
        agg.write.mode("overwrite").parquet(out)
        return detach_result(spark, spark.read.parquet(out))


@query(
    "sink_csv_json_roundtrip",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""",
)
def sink_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write → read with explicit schema, then JSON write → read.
    Ints/strings are lossless through both text formats, so even the hash
    oracle holds (SURVEY marks this rows-only; we can do better)."""
    n = load_table(spark, sf_dir, "nation")
    with scratch("nm_sink_") as base:
        csv_path = os.path.join(base, "nation_csv")
        json_path = os.path.join(base, "nation_json")
        n.write.mode("overwrite").option("header", True).csv(csv_path)
        back = spark.read.schema(n.schema).option("header", True).csv(csv_path)
        back.write.mode("overwrite").json(json_path)
        back = spark.read.schema(n.schema).json(json_path)
        return detach_result(spark, back.select("n_nationkey", "n_name", "n_regionkey"))


def partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per input) the events table as DATE-PARTITIONED
    parquet — the layout a petabyte events table actually uses — and
    return its path. Shared by the static-pruning sink op below and the
    dynamic-partition-pruning probe (scale_probes.join_dpp_prune)."""

    def stage() -> str:
        e = load_table(spark, sf_dir, "events")
        out = os.path.join(scratch_dir("nm_partsink_"), "events_by_date")
        (
            e.withColumn("event_date", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(out)
        )
        return out

    return session_memo(spark, ("partitioned_events",), stage, sf_dir=sf_dir)


def partitioned_events_frame(spark: SparkSession, sf_dir: str):
    """Session-memoized FRAME HANDLE over the staged date-partitioned
    events layout (r14 optimization): the rebuilt-per-sample consumers
    (backfill apply, targeted delete, the DPP probe) each paid a fresh
    partition-discovery listing + schema inference per refresh for a
    layout that is a static staged fixture. No data is cached — only
    the listing/schema work is skipped (the guide §6 manifest-beats-
    listing point; production reads the file list from the table
    format's manifest). Each consumer still plans its own query over
    the handle, so pruning/DPP behave exactly as before."""
    from ..io import session_memo

    path = partitioned_events_path(spark, sf_dir)
    return session_memo(
        spark,
        ("partitioned_events_frame", path),
        lambda: spark.read.parquet(path),
        sf_dir=sf_dir,
    )


@query(
    "sink_parquet_partitioned",
    oracle=f"""
SELECT
  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date,
  event_type,
  COUNT(*) AS n_events,
  {dsum_sql('value')} AS total_value
FROM events
WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10'
  AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-13'
GROUP BY 1, 2
""",
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB data layout (SURVEY §7.3) end-to-end: write events as
    DATE-PARTITIONED parquet (`partitionBy("event_date")` — the layout a
    petabyte events table actually uses), read it back with a date
    predicate, and aggregate. The date filter must prune to 3 of 30
    partition directories at plan time (asserted in tests/test_plans.py);
    the oracle renders the same dates from the unpartitioned source."""
    back = spark.read.parquet(partitioned_events_path(spark, sf_dir))
    pruned = back.filter(
        (F.col("event_date") >= F.lit("2024-01-10"))
        & (F.col("event_date") < F.lit("2024-01-13"))
    )
    return pruned.groupBy(
        F.date_format("event_date", "yyyy-MM-dd").alias("event_date"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )


@query(
    "sql_interface",
    oracle=f"""
SELECT n_name AS nation, COUNT(*) AS n_orders, {dsum_sql('o_totalprice')} AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw Spark SQL entry path: tables registered as temp views, the query
    text handed to ``spark.sql`` — proving the engine's surface is usable
    from SQL exactly as from the DataFrame API (same Catalyst plan)."""
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"nm_{t}")
    return spark.sql(
        f"""
        SELECT n_name AS nation,
               COUNT(*) AS n_orders,
               {dsum_sql('o_totalprice')} AS revenue
        FROM nm_orders
        JOIN nm_customer ON o_custkey = c_custkey
        JOIN nm_nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


def sorted_layout_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as the SURVEY §7.3 production layout: date-partitioned
    parquet, rows sorted by user_id within each partition so parquet
    row-group min/max statistics cluster the dominant filter key."""

    def stage() -> str:
        e = load_table(spark, sf_dir, "events")
        out = os.path.join(scratch_dir("nm_sorted_"), "events_sorted")
        (
            e.withColumn("event_date", F.to_date("ts"))
            .repartition("event_date")
            .sortWithinPartitions("event_date", "user_id")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(out)
        )
        return out

    return session_memo(spark, ("sorted_layout",), stage, sf_dir=sf_dir)


@query(
    "sink_sorted_layout",
    oracle=f"""
SELECT user_id, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
FROM events
WHERE user_id BETWEEN 10 AND 19
GROUP BY user_id
""",
)
def sink_sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the z-order-ish layout (date partitions + user_id-sorted row
    groups), read it back with a user_id range predicate, aggregate. The
    point filter pushes into the parquet reader where the sorted layout's
    row-group min/max stats skip non-matching groups — the mechanism that
    turns a 100 TB scan into a few GB. Layout is lossless, so the oracle
    is the plain filtered aggregate on the original table; the clustering
    itself is asserted from parquet metadata in tests/test_plans.py."""
    back = spark.read.parquet(sorted_layout_dir(spark, sf_dir))
    return (
        back.filter(F.col("user_id").between(10, 19))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
    )


@query(
    "observe_metrics",
    oracle=f"""
SELECT COUNT(*) AS n_samples,
       {dsum_sql('value')} AS total_value,
       COUNT(CASE WHEN value > 400 THEN 1 END) AS n_large
FROM events
""",
)
def observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline self-monitoring via ``Observation`` — the netmonitor idea
    applied to the engine itself: named metrics (row count, byte total,
    anomaly count) are accumulated ON the data path while a downstream
    job runs, with zero extra passes over the input. The observed metrics
    are returned as a table and hash-checked against direct SQL."""
    from pyspark.sql import Observation

    obs = Observation("nm_pipeline")
    e = load_table(spark, sf_dir, "events")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_samples"),
        dsum("value").alias("total_value"),
        F.count(F.when(F.col("value") > 400, 1)).alias("n_large"),
    )
    # the monitored downstream job (its own result is irrelevant here)
    observed.groupBy("event_type").agg(F.count(F.lit(1))).collect()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_samples"], float(m["total_value"]), m["n_large"])],
        "n_samples long, total_value double, n_large long",
    )


@query(
    "source_csv_permissive",
    oracle="""
SELECT
  COUNT(CASE WHEN event_id % 97 = 3 THEN 1 END) AS n_corrupt,
  COUNT(CASE WHEN event_id % 97 <> 3 THEN 1 END) AS n_good,
  CAST(SUM(CASE WHEN event_id % 97 <> 3 THEN user_id END) AS BIGINT) AS sum_good_users
FROM events
""",
)
def source_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record tolerance (NM: collectors must survive garbled log
    lines): a staged CSV where every row with ``event_id % 97 == 3`` is
    corrupted (wrong column count) is read in PERMISSIVE mode with a
    ``_corrupt_record`` column — bad rows are quarantined, good rows
    parse, and the counts reconcile exactly with the oracle's rendering
    of the same deterministic corruption rule."""

    def stage() -> str:
        e = load_table(spark, sf_dir, "events").select("event_id", "user_id")
        d = scratch_dir("nm_messy_csv_")
        # corrupt = drop the user_id column and append junk fields
        lines = e.select(
            F.when(
                F.col("event_id") % 97 == 3,
                F.concat_ws(",", "event_id", F.lit("oops"), F.lit("x"), F.lit("y")),
            )
            .otherwise(F.concat_ws(",", "event_id", "user_id"))
            .alias("line")
        )
        lines.coalesce(1).write.mode("overwrite").text(d)
        return d

    raw = (
        spark.read.schema("event_id long, user_id long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(session_memo(spark, ("messy_csv",), stage, sf_dir=sf_dir))
    )
    raw = raw.cache()  # required: _corrupt_record is only visible when the
    # raw parse is materialized (Spark documents this for corrupt-record queries)
    return raw.agg(
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias("n_corrupt"),
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("user_id"))).alias(
            "sum_good_users"
        ),
    )


@query(
    "scan_merge_schema",
    oracle=f"""
SELECT
  COUNT(*) AS n_rows,
  COUNT(value2) AS n_with_new_col,
  {dsum_sql('value2')} AS sum_new_col
FROM (
  SELECT value AS value2 FROM events WHERE event_id % 2 = 1
  UNION ALL
  SELECT NULL FROM events WHERE event_id % 2 = 0
)
""",
)
def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution (NM: a new metric column appears mid-stream): two
    parquet files — the old schema and one with an added ``value2``
    column — read with ``mergeSchema``; rows from the old file surface
    NULL for the new column. The oracle renders the same split from the
    source table."""

    def stage() -> str:
        e = load_table(spark, sf_dir, "events")
        d = scratch_dir("nm_evolved_")
        e.filter(F.col("event_id") % 2 == 0).select("event_id", "event_type").write.parquet(
            os.path.join(d, "old")
        )
        e.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "event_type", F.col("value").alias("value2")
        ).write.parquet(os.path.join(d, "new"))
        return d

    d = session_memo(spark, ("evolved_schema",), stage, sf_dir=sf_dir)
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(d, "old"), os.path.join(d, "new")
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value2").alias("n_with_new_col"),
        dsum("value2").alias("sum_new_col"),
    )


#: recursion depth cap for the reachability walk — the event-type graph
#: has 5 nodes, so every minimal path fits in 4 hops; the cap also
#: bounds the capped-path-count column deterministically.
_RCTE_MAX_DEPTH = 4

#: the walk (edges from per-user consecutive-type transitions, then a
#: depth-capped BFS-with-path-counting from 'signup') — IDENTICAL text in
#: both engines: this op pins Spark 4's recursive-CTE surface itself.
_RCTE_SQL = f"""
WITH RECURSIVE lagged AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM {{events}}
), edges AS (
  SELECT DISTINCT prev AS src, event_type AS dst
  FROM lagged WHERE prev IS NOT NULL AND prev <> event_type
), walk(node, depth) AS (
  SELECT CAST('signup' AS STRING), 0
  UNION ALL
  SELECT e.dst, w.depth + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.depth < {_RCTE_MAX_DEPTH}
)
SELECT node, CAST(MIN(depth) AS BIGINT) AS min_depth,
       CAST(COUNT(*) AS BIGINT) AS n_walks_capped
FROM walk GROUP BY node
"""


@query(
    "sql_recursive_cte",
    oracle=_RCTE_SQL.replace("{events}", "events").replace(
        "CAST('signup' AS STRING)", "CAST('signup' AS VARCHAR)"
    ),
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE surface (new in Spark 4): reachability over the
    observed event-type transition graph — edges from per-user
    consecutive-type changes, then a depth-capped recursive walk from
    'signup' reporting each node's minimum hop distance AND the number of
    ≤{_RCTE_MAX_DEPTH}-hop walks reaching it (the path count exercises
    true UNION ALL recursion, not just fixpoint reachability). The SAME
    query text runs in both engines (STRING↔VARCHAR cast spelling aside),
    so this pins the recursive-CTE surface itself — the iterative
    DataFrame loops elsewhere (pagerank, Lloyd) are the scale path;
    in-engine recursion is the ergonomic one. The recursion operates on
    the VOCABULARY-sized edge frame (≤|types|²) — corpus-scale-safe; only
    the edge derivation touches raw data (one keyed window exchange)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("nm_rcte_events")
    return spark.sql(_RCTE_SQL.replace("{events}", "nm_rcte_events"))
