"""Round-12 operators, first batch — §2.AB, REGISTERED (registry 297 → 300).

Staged at round-11 close (plain callables + oracle builders, the
§2.W–§2.AA staging discipline applied forward), these three passed BOTH
halves of the registration gate before the registering commit —
vanilla-session DuckDB hash parity in
``tests/test_extensions11_staged.py`` (work-list completeness, bin
capacity/contiguity, planted-orphan, and key-pruned-scan property tests
included) and ``tools/preflight_local_cluster`` (its since-deleted
staged mode) under real executor JVMs (6/6 at round-12 open) — so round
12's opening move registers them with the standard ``@query`` decorator.

Capability anchor: SURVEY §2.AB — the ORCHESTRATION PLANNING &
INTEGRITY triple: the work-list computations a pipeline SCHEDULER runs
before it spends cluster time, plus the cross-table contract check a
publish step runs after:

- ``plan_incremental_backfill`` — the minimal backfill work-list: per
  source partition, is the target MISSING it, STALE on it (row-count
  mismatch), or CURRENT? Comparison is manifest-level (per-partition
  counts), never data-level — the plan costs O(partitions);
- ``plan_compaction`` — the small-file compaction plan for a
  streaming-sink table (one file per hour per date): pack
  TIME-CONTIGUOUS hourly files into target-row bins via a per-date
  prefix sum (bin = cumsum_before DIV target) — the right policy for a
  time-series table (packing preserves time clustering, unlike
  first-fit-decreasing), and pure window arithmetic;
- ``audit_referential_integrity`` — FK orphan census over every edge of
  the relational graph (lineitem→orders/part/supplier,
  orders→customer, customer/supplier→nation, nation→region): per edge
  the child cardinality, orphan count, and exact orphan share.

All three are PLANS/AUDITS — they read counts and keys, never payload
columns, so every scan prunes to the key (asserted in the staged plan
test) and the emitted values are integers and exact ``dratio`` shares.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.stable import dratio, dratio_sql
from ..io import load_table, scratch_dir, session_memo
from ..registry import query

# ---------------------------------------------------------------------------
# audit_referential_integrity — FK orphan census over the relational graph
# ---------------------------------------------------------------------------

#: The FK edges under audit: (child table, child key, parent table,
#: parent key). Every edge of the testdata's TPC-H-ish graph.
_RI_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def audit_referential_integrity_oracle() -> str:
    parts = []
    for child, ckey, parent, pkey in _RI_EDGES:
        parts.append(
            f"""SELECT '{child}.{ckey}' AS fk_edge,
       '{parent}.{pkey}' AS parent_key,
       CAST(COUNT(*) AS BIGINT) AS n_child,
       CAST(COUNT(*) FILTER (WHERE {ckey} IS NULL) AS BIGINT) AS n_null,
       CAST(COUNT(*) FILTER (
         WHERE {ckey} IS NOT NULL
           AND {ckey} NOT IN (SELECT {pkey} FROM {parent})
       ) AS BIGINT) AS n_orphan,
       {dratio_sql(f'''COUNT(*) FILTER (
         WHERE {ckey} IS NOT NULL
           AND {ckey} NOT IN (SELECT {pkey} FROM {parent})
       ) * 1000000''', "COUNT(*)")} AS orphan_pct
FROM {child}"""
        )
    return "\nUNION ALL\n".join(parts)


@query("audit_referential_integrity", oracle=audit_referential_integrity_oracle())
def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (SURVEY §2.AB): for every FK edge of
    the relational graph, the child cardinality, NULL-key count, orphan
    count (non-null child keys with no parent), and the exact orphan
    share — the cross-table contract check a publish step runs after
    loading (single-table expectations are ``pipeline_expectations_gate``;
    this is the BETWEEN-tables half).

    Spark-first shape per edge: the child scan prunes to the key column
    (nothing else is read — at 100 TB the audit reads one column per
    edge), a left anti-ish membership via LEFT JOIN against the
    DISTINCT parent keys (broadcast for the dimension-sized parents,
    shuffle-hash for the big ones — Catalyst's choice), and ONE
    conditional aggregate. The seven per-edge frames are unioned; each
    is a 1-row aggregate, so the union is seven independent jobs'
    partials, not a wide exchange."""
    frames = [
        ri_edge_audit(
            load_table(spark, sf_dir, child),
            ckey,
            load_table(spark, sf_dir, parent),
            pkey,
            f"{child}.{ckey}",
            f"{parent}.{pkey}",
        )
        for child, ckey, parent, pkey in _RI_EDGES
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def ri_edge_audit(
    child: DataFrame,
    ckey: str,
    parent: DataFrame,
    pkey: str,
    edge_label: str,
    parent_label: str,
) -> DataFrame:
    """KERNEL — one FK edge's orphan census over arbitrary frames (the
    staged suite feeds it planted orphans to prove detection; the
    registered op feeds it the relational graph).

    Contract for arbitrary frames (ADVICE r11): an orphan is a non-NULL
    child key absent from the parent's NON-NULL key set — NULL parent
    keys are filtered out explicitly, so the kernel never inherits SQL
    ``NOT IN``'s three-valued collapse (one NULL parent ⇒ zero orphans);
    an oracle for a NULL-bearing parent must therefore be written as
    ``NOT IN (SELECT pk … WHERE pk IS NOT NULL)``. An EMPTY child frame
    yields ``n_child = 0`` with ``orphan_pct = 0`` (no rows, no orphan
    share — the zero denominator is guarded, never fed to ``dratio``).
    The registered graph has non-null PKs and non-empty children, so
    both guards are no-ops there (oracle hash unchanged)."""
    c = child.select(F.col(ckey).alias("k"))
    p = (
        parent.select(F.col(pkey).alias("pk"))
        .filter(F.col("pk").isNotNull())
        .distinct()
    )
    joined = c.join(p, c.k == p.pk, "left")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_child"),
        F.count(F.when(F.col("k").isNull(), 1)).cast("long").alias("n_null"),
        F.count(
            F.when(F.col("k").isNotNull() & F.col("pk").isNull(), 1)
        )
        .cast("long")
        .alias("n_orphan"),
    ).select(
        F.lit(edge_label).alias("fk_edge"),
        F.lit(parent_label).alias("parent_key"),
        "n_child",
        "n_null",
        "n_orphan",
        F.when(
            F.col("n_child") > 0,
            dratio(F.col("n_orphan") * 1000000, F.col("n_child")),
        )
        .otherwise(F.lit(0.0))
        .alias("orphan_pct"),
    )


# ---------------------------------------------------------------------------
# plan_compaction — time-contiguous bin packing of a streaming-sink table
# ---------------------------------------------------------------------------

#: Target rows per compacted output file. The hourly "files" of the
#: modeled streaming sink hold tens-to-hundreds of rows at test SFs, so
#: the target produces multi-file packs at every SF.
_CPT_TARGET_ROWS = 400


def plan_compaction_oracle() -> str:
    return f"""
WITH files AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date,
         EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS hr,
         COUNT(*) AS n_rows
  FROM events GROUP BY 1, 2
), packed AS (
  SELECT event_date, hr, n_rows,
         CAST((COALESCE(SUM(n_rows) OVER (
             PARTITION BY event_date ORDER BY hr
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0)) // {_CPT_TARGET_ROWS} AS BIGINT) AS bin_id
  FROM files
)
SELECT event_date,
       CAST(bin_id AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_input_files,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(MIN(hr) AS INTEGER) AS hr_from,
       CAST(MAX(hr) AS INTEGER) AS hr_to
FROM packed
GROUP BY event_date, bin_id
"""


@query("plan_compaction", oracle=plan_compaction_oracle())
def plan_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction PLAN (SURVEY §2.AB): the scheduler-side
    half of ``sink_compact_small_files`` — given a streaming-sink table
    that lands one file per (date × hour), compute which hourly files
    pack into which compacted output, per date. Packing is
    TIME-CONTIGUOUS: within a date, hours pack in order and a file's
    bin is ``(running rows before it) div target`` — one prefix-sum
    window. For a time-series table this is the RIGHT policy (packs
    preserve time clustering, so min/max pruning keeps working after
    compaction), and unlike first-fit-decreasing it is pure window
    arithmetic — no sequential driver loop, no iteration.

    Shape at scale: the file inventory is a (date, hour) count rollup
    (map-side partials), the prefix sum is a window PARTITIONED by
    date (≤ 24 rows per partition — bounded by the clock, not the
    data), and the plan output is O(files). Integer arithmetic end to
    end."""
    e = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        F.hour("ts").alias("hr"),
    )
    packed = compaction_bin_map(e)
    return packed.groupBy("event_date", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_input_files"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.min("hr").cast("int").alias("hr_from"),
        F.max("hr").cast("int").alias("hr_to"),
    )


def compaction_bin_map(e: DataFrame) -> DataFrame:
    """KERNEL — the per-(date, hour) bin assignment behind the plan:
    ``(event_date, hr, n_rows, bin_id)`` with bin = (running rows
    before the hour) div target. One decision semantics, two consumers:
    the registered plan aggregates it; the staged §2.AD apply op joins
    rows against it so the EXECUTED packing is the PLANNED packing by
    construction."""
    files = e.groupBy("event_date", "hr").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    w = (
        Window.partitionBy("event_date")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return files.select(
        "event_date",
        "hr",
        "n_rows",
        (
            F.coalesce(F.sum("n_rows").over(w), F.lit(0))
            / F.lit(_CPT_TARGET_ROWS)
        )
        .cast("long")
        .alias("bin_id"),
    )

# ---------------------------------------------------------------------------
# plan_incremental_backfill — the minimal work-list from manifest counts
# ---------------------------------------------------------------------------

#: Target watermark: the modeled target table has ingested source dates
#: strictly before this (days 1..22 of the 30-day corpus).
_BF_WATERMARK = "2024-01-23"
#: Stale window: these ingested dates were HALF-written (only even
#: event_ids landed) — the planner must flag them stale by count.
_BF_STALE_FROM, _BF_STALE_TO = "2024-01-18", "2024-01-21"


def plan_incremental_backfill_oracle() -> str:
    return f"""
WITH src AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date,
         COUNT(*) AS n_src,
         COUNT(*) FILTER (WHERE event_id % 2 = 0) AS n_half
  FROM events GROUP BY 1
), cls AS (
  SELECT event_date, n_src,
         CASE WHEN event_date >= '{_BF_WATERMARK}' THEN 0
              WHEN event_date >= '{_BF_STALE_FROM}'
               AND event_date < '{_BF_STALE_TO}' THEN n_half
              ELSE n_src END AS n_tgt
  FROM src
)
SELECT event_date,
       CASE WHEN n_tgt = 0 THEN 'missing'
            WHEN n_tgt <> n_src THEN 'stale'
            ELSE 'current' END AS status,
       CAST(n_src AS BIGINT) AS n_src,
       CAST(n_tgt AS BIGINT) AS n_tgt
FROM cls
"""


def _bf_target_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the modeled TARGET table once per session: source dates
    before the watermark, with the stale window half-written (even
    event_ids only) — a date-partitioned parquet dir, like any real
    incremental target. The target table is the fixture, not the
    measurement."""

    def stage() -> str:
        e = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.date_format("ts", "yyyy-MM-dd")
        )
        tgt = e.filter(F.col("event_date") < _BF_WATERMARK).filter(
            ~(
                (F.col("event_date") >= _BF_STALE_FROM)
                & (F.col("event_date") < _BF_STALE_TO)
            )
            | (F.col("event_id") % 2 == 0)
        )
        out = scratch_dir("nm_bf_tgt_") + "/events_target"
        (
            tgt.repartition("event_date")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(out)
        )
        return out

    return session_memo(spark, ("bf_target",), stage, sf_dir=sf_dir)


@query("plan_incremental_backfill", oracle=plan_incremental_backfill_oracle())
def plan_incremental_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-backfill PLAN (SURVEY §2.AB): the minimal work-list a
    scheduler computes before spending cluster time — per source
    partition, is the target MISSING it (never ingested), STALE on it
    (ingested but row counts disagree — here a half-written window), or
    CURRENT? Emits ``(event_date, status, n_src, n_tgt)``; the backfill
    job then reprocesses exactly the missing+stale dates.

    Manifest-level comparison: both sides reduce to per-partition
    COUNTS — the source side is a count rollup pruned to the date
    column, the target side scans ONLY the staged table's partition
    column (zero payload columns reach either scan; at 100 TB the plan
    reads footers and directory structure, not data pages). The
    classification join is |partitions| rows — the plan costs
    O(partitions) regardless of table size."""
    e = load_table(spark, sf_dir, "events")
    src = e.select(
        F.date_format("ts", "yyyy-MM-dd").alias("event_date")
    ).groupBy("event_date").agg(
        F.count(F.lit(1)).cast("long").alias("n_src")
    )
    tgt_dir = _bf_target_dir(spark, sf_dir)
    tgt = (
        spark.read.parquet(tgt_dir)
        .groupBy(F.date_format("event_date", "yyyy-MM-dd").alias("event_date"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_tgt"))
    )
    plan = src.join(tgt, "event_date", "left").select(
        "event_date",
        F.when(F.col("n_tgt").isNull(), "missing")
        .when(F.col("n_tgt") != F.col("n_src"), "stale")
        .otherwise("current")
        .alias("status"),
        "n_src",
        F.coalesce("n_tgt", F.lit(0)).cast("long").alias("n_tgt"),
    )
    return plan
