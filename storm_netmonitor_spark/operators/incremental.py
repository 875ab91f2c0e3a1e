"""Round-2 incremental-computation extensions: materialized-rollup
maintenance and a custom Python data source (Spark 4 DataSource API).

Registered AFTER ``events_analytics`` (see operators/__init__ note).

Reference citations: /root/reference is empty this round (SURVEY §0.1);
anchors cite the north-star contract [L BASELINE.json:6] and the Storm
metrics model (SURVEY §0.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.stable import davg_sql, dratio, dsum_sql
from ..io import load_table, scratch_dir, session_memo
from ..registry import query

# ---------------------------------------------------------------------------
# Incremental rollup maintenance (100 TB core pattern: yesterday's rollup
# is NEVER recomputed — only today's delta touches raw data)
# ---------------------------------------------------------------------------

_DEC = "decimal(28,6)"

#: History/delta split point — events span 2024-01; the last week is "new".
_INC_CUTOFF = "2024-01-25"


def _daily_partials(e: DataFrame) -> DataFrame:
    """Per (event_type, day) MERGEABLE partial state: count, exact decimal
    sum, min, max. Everything the final rollup needs re-derives from
    these by pure merge (sum of counts, decimal add, min of mins, max of
    maxes; avg = merged sum / merged count) — the algebraic-aggregate
    property that makes incremental maintenance exact, not approximate."""
    return e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("double").cast(_DEC)).alias("sum_dec"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


@query(
    "agg_incremental_rollup",
    oracle=f"""
SELECT event_type, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value,
       MIN(value) AS min_value, MAX(value) AS max_value,
       {davg_sql('value')} AS avg_value
FROM events
GROUP BY event_type
""",
)
def agg_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup incremental maintenance (NM: the daily network
    report at 100 TB): history partials per (type × day) — count, EXACT
    decimal sum, min, max — are persisted once as a KB-sized parquet
    state; each refresh aggregates ONLY the delta days' raw rows and
    merges them with the stored partials (counts add, decimal sums add
    exactly in any order, min/max fold, avg derives from merged sum and
    count). The oracle is the full-table aggregate — proving the
    incremental path is bit-identical to recomputation, which is exactly
    the property (algebraic aggregates + order-independent decimal sums,
    SURVEY §7.4.1) that lets a production rollup never re-read history.
    The delta scan's day predicate is pushed to the parquet reader."""
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")

    def stage() -> str:
        path = os.path.join(scratch_dir("nm_rollup_state_"), "partials")
        _daily_partials(e.where(day < F.lit(_INC_CUTOFF))).write.mode(
            "overwrite"
        ).parquet(path)
        return path

    history = spark.read.parquet(
        session_memo(spark, ("rollup_history",), stage, sf_dir=sf_dir)
    )
    delta = _daily_partials(e.where(day >= F.lit(_INC_CUTOFF)))
    merged = (
        history.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sum_dec").alias("sum_dec"),
            F.min("min_v").alias("min_value"),
            F.max("max_v").alias("max_value"),
        )
    )
    return merged.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(F.col("sum_dec"), 2).cast("double").alias("total_value"),
        "min_value",
        "max_value",
        # dratio over the EXACT scaled merged sum — matches the davg_sql
        # oracle term; the old round-the-double-quotient form diverges at
        # 1/count-rate boundaries (stable.py QUOTIENT hazard)
        dratio(
            (F.col("sum_dec") * 1000000).cast("long"), F.col("n_events"), 6
        ).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance (the bilinear delta rule: a join view
# absorbs a delta batch without recomputing history × history)
# ---------------------------------------------------------------------------

#: both fact tables span 1995–2001; rows dated 2001+ are "the new batch".
_IJV_CUTOFF = "2001-01-01"


def _rev_partials(j: DataFrame) -> DataFrame:
    """Per-priority MERGEABLE revenue partials of a joined orders×lineitem
    frame: count + exact decimal sum of l_extendedprice·(1−l_discount).
    Decimal addition is exact and associative, so partials from any join-
    space decomposition merge to the bit-identical full-recompute total."""
    rev = (
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("double")
        .cast(_DEC)
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"), F.sum(rev).alias("rev_dec")
    )


@query(
    "incremental_join_view",
    oracle=f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 2)} AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""",
)
def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (priority-level revenue over
    orders⋈lineitem) under the bilinear delta rule
    Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB: the history×history term is computed
    ONCE, persisted as KB-sized per-priority partials, and each refresh
    runs only the three delta joins — at 100 TB the view absorbs a daily
    batch by joining the batch against the stored base relations
    (bucketed by the join key in production) instead of re-running the
    full fact×fact join. The oracle is the full recompute, so the hash
    proves the decomposition is EXACT — the disjoint-cover algebra plus
    order-independent decimal partials (agg_incremental_rollup's
    property, lifted from aggregates to joins).

    The delta scans' date predicates push to the parquet readers; the
    three delta joins reuse one broadcast of the delta sides when small
    (AQE picks the strategy per term). The BASE relations are the hot
    maintained tables of a repeated refresh (production keeps them
    bucketed on the join key): cache them per (session, input) so each
    refresh's two base-side scans read memory, not parquet — the
    pagerank edge-frame discipline (measured r11 at sf0.1: refresh
    median 1.38 → 0.82 s)."""
    key = os.path.abspath(sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    cut = F.lit(_IJV_CUTOFF).cast("timestamp")

    def stage_base():
        bo_df = o.where(F.col("o_orderdate") < cut).cache()
        bl_df = li.where(F.col("l_shipdate") < cut).cache()
        bo_df.count(), bl_df.count()  # materialize once at staging
        return bo_df, bl_df

    bo, bl = session_memo(
        spark, ("ijv_base_frames", key, _IJV_CUTOFF), stage_base, sf_dir=sf_dir
    )
    do = o.where(F.col("o_orderdate") >= cut)
    dl = li.where(F.col("l_shipdate") >= cut)

    def stage() -> str:
        path = os.path.join(scratch_dir("nm_joinview_state_"), "partials")
        _rev_partials(
            bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"])
        ).write.mode("overwrite").parquet(path)
        return path

    state = spark.read.parquet(
        session_memo(spark, ("joinview_state", _IJV_CUTOFF), stage, sf_dir=sf_dir)
    )

    # ONE aggregate over the unioned joined ROWS of the three delta
    # terms (r14 optimization, guide §2.4): the per-term _rev_partials
    # each planned partial-agg → Exchange → final-agg before the merge's
    # own exchange (4 exchanges/refresh); emitting (priority, 1, rev)
    # rows instead lets the single groupBy's map-side partials do the
    # identical reduction with ONE exchange. Decimal addition is exact
    # and associative, so the merged sums are bit-identical to the
    # partial-then-merge rendering (the _rev_partials docstring's own
    # algebra); the base term still persists through _rev_partials.
    def _rev_rows(j: DataFrame) -> DataFrame:
        rev = (
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double")
            .cast(_DEC)
        )
        return j.select(
            "o_orderpriority",
            F.lit(1).cast("long").alias("n_lines"),
            rev.cast("decimal(38,6)").alias("rev_dec"),
        )

    t_db = _rev_rows(do.join(bl, do["o_orderkey"] == bl["l_orderkey"]))
    t_bd = _rev_rows(bo.join(dl, bo["o_orderkey"] == dl["l_orderkey"]))
    t_dd = _rev_rows(do.join(dl, do["o_orderkey"] == dl["l_orderkey"]))
    merged = (
        state.unionByName(t_db).unionByName(t_bd).unionByName(t_dd)
        .groupBy("o_orderpriority")
        .agg(F.sum("n_lines").alias("n"), F.sum("rev_dec").alias("rev"))
    )
    return merged.select(
        "o_orderpriority",
        F.col("n").cast("bigint").alias("n_lines"),
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
    )
