"""Joins (SURVEY §2.C).

Netmonitor anchor: metric samples ⋈ topology metadata (tiny dims →
broadcast), correlating samples across counters (range/interval join), and
delta-vs-previous-sample (as-of join).

Scale notes:
- Dimension joins broadcast explicitly (`F.broadcast`) — no shuffle of the
  fact side; AQE converts the rest at runtime.
- The interval self-join is time-BUCKETED so the join is equi on
  (user, bucket) — a hash join with bounded per-key fan-out instead of the
  O(n²) BroadcastNestedLoopJoin a raw inequality predicate would produce.
- The as-of join is the union-tag + running-last pattern: one shuffle on
  the key, one window pass — no point-lookup loop, scales linearly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.stable import dround, dround_sql, dsum, dsum_sql, ts_str, ts_str_sql
from ..io import load_table, scratch_dir, session_memo
from ..registry import query


@query(
    "join_inner_equi",
    oracle="""
SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 250000
""",
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer equi-join (metrics ⋈ entity metadata)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("o_totalprice") > 250000)
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


@query(
    "join_star_multiway",
    oracle=f"""
SELECT
  n_name,
  {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
  COUNT(*) AS n_lineitems
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
""",
)
def join_star_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — 6-table TPC-H-Q5-shaped star join. Facts shuffle on join
    keys; nation/region broadcast explicitly; supplier joins on the
    composite (suppkey, nationkey). AQE handles the rest."""
    c, o, l, s, n, r = (
        load_table(spark, sf_dir, t)
        for t in ("customer", "orders", "lineitem", "supplier", "nation", "region")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_EXPENSIVE_ORDERS_SQL = "SELECT * FROM orders WHERE o_totalprice > 280000"


@query(
    "join_left_outer",
    oracle=f"""
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM customer LEFT JOIN ({_EXPENSIVE_ORDERS_SQL}) o ON c_custkey = o_custkey
""",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer — customers kept even with no expensive orders (the right
    side is filtered so unmatched rows actually exist in the testdata)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 280000)
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_right_outer",
    oracle=f"""
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM ({_EXPENSIVE_ORDERS_SQL}) o RIGHT JOIN customer ON c_custkey = o_custkey
""",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 280000)
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_full_outer",
    oracle="""
WITH buyers AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
), erroring AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
)
SELECT b.user_id AS buyer_id, e.user_id AS error_id
FROM buyers b FULL JOIN erroring e ON b.user_id = e.user_id
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer over two behavioral cohorts — either side may be
    unmatched."""
    ev = load_table(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("buyer_id")
    ).distinct()
    erroring = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("error_id")
    ).distinct()
    return buyers.join(erroring, buyers.buyer_id == erroring.error_id, "full")


@query(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT' AND o_totalprice > 200000
)
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS — customers with ≥1 large urgent order (left-semi join)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 200000)
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT' AND o_totalprice > 200000
)
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS — the complement cohort (left-anti join)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 200000)
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_cross",
    oracle="""
SELECT r_name, n_name
FROM region CROSS JOIN nation
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small Cartesian (5×25) — intentionally tiny; anything larger is a
    plan bug (test_plans asserts no CartesianProduct elsewhere)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_theta",
    oracle=f"""
SELECT
  p_brand,
  COUNT(*) AS n_premium_lines,
  {dsum_sql('l_extendedprice - p_retailprice')} AS total_premium
FROM lineitem JOIN part
  ON l_partkey = p_partkey AND l_extendedprice > p_retailprice
GROUP BY p_brand
""",
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + non-equi residual: lines that sold above retail price. The
    equi key carries the hash join; the inequality is a post-join filter in
    the same operator (no nested-loop)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        l.join(
            p,
            (l.l_partkey == p.p_partkey) & (l.l_extendedprice > p.p_retailprice),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_premium_lines"),
            dsum(F.col("l_extendedprice") - F.col("p_retailprice")).alias(
                "total_premium"
            ),
        )
    )


@query(
    "join_range_interval",
    oracle="""
SELECT
  a.event_id AS a_id,
  b.event_id AS b_id,
  a.user_id AS user_id,
  CAST(epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS BIGINT) AS gap_us
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 60 SECOND
""",
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event pairs of the same user within 60 s (correlating samples across
    counters). TIME-BUCKETED: each left row joins buckets {b, b+1} so the
    join is pure equi on (user_id, bucket) — O(rows × per-bucket density),
    not O(n²). This is the shape that survives 100 TB."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.unix_micros("ts").alias("us")
    )
    bucket = (F.col("us") / F.lit(60_000_000)).cast("long")
    a = e.select(
        F.col("event_id").alias("a_id"),
        F.col("user_id"),
        F.col("us").alias("a_us"),
        F.explode(F.array(bucket, bucket + 1)).alias("jb"),
    )
    b = e.select(
        F.col("event_id").alias("b_id"),
        F.col("user_id").alias("b_user"),
        F.col("us").alias("b_us"),
        bucket.alias("b_bucket"),
    )
    return (
        a.join(
            b,
            (a.user_id == b.b_user)
            & (a.jb == b.b_bucket)
            & (b.b_us > a.a_us)
            & (b.b_us <= a.a_us + 60_000_000),
        )
        .select(
            "a_id",
            "b_id",
            "user_id",
            (F.col("b_us") - F.col("a_us")).alias("gap_us"),
        )
    )


@query(
    "join_asof",
    oracle=f"""
SELECT
  e.event_id,
  e.user_id,
  {ts_str_sql('e.ts')} AS ts_s,
  {dround_sql('p.value')} AS last_purchase_value
FROM events e
ASOF LEFT JOIN (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
) p ON e.user_id = p.user_id AND e.ts >= p.ts
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — each event picks the user's most recent purchase at or
    before its timestamp (netmonitor: delta vs previous sample).

    No native PySpark as-of, so: tag purchase rows, union with all events,
    one window pass per user ordered by (ts, side) taking the running last
    non-null purchase value. One shuffle + one sort — linear at scale.
    Matches DuckDB ASOF (inequality ts_e >= ts_p; purchases sort before
    events at equal ts via the side flag so a purchase matches itself).
    """
    e = load_table(spark, sf_dir, "events")
    left = e.select(
        "event_id", "user_id", "ts", F.lit(1).alias("side"), F.lit(None).cast("double").alias("pval")
    )
    right = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            "ts",
            F.lit(0).alias("side"),
            F.col("value").alias("pval"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        left.unionByName(right)
        .withColumn("last_pv", F.last("pval", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            ts_str("ts").alias("ts_s"),
            dround("last_pv").alias("last_purchase_value"),
        )
    )


@query(
    "join_broadcast",
    oracle=f"""
SELECT n_name, COUNT(*) AS n_customers, {dsum_sql('c_acctbal')} AS total_balance
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the 25-row nation dim — zero shuffle of the
    customer side (test_plans asserts BroadcastHashJoin)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), dsum("c_acctbal").alias("total_balance"))
    )


@query(
    "join_bucketed_colocated",
    oracle=f"""
SELECT o_orderkey, o_totalprice, COUNT(*) AS n_lines, {dsum_sql('l_extendedprice')} AS line_total
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderkey, o_totalprice
""",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact⋈fact join via bucketing — THE co-location lever
    for repeated large joins at 100 TB: both tables are written bucketed by
    the join key (8 buckets, sorted), so the join needs NO exchange on
    either side (asserted in tests/test_plans.py). The one-time bucketed
    write amortizes across every subsequent join/agg on that key.
    """
    import hashlib

    def stage() -> str:
        # table names carry an sf tag so two scale factors in one session
        # cannot clobber each other's bucketed layout
        tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
        # warehouse.dir is static — pin the database location instead so
        # bucketed tables land in a temp dir, never in the repo.
        loc = scratch_dir("nm_warehouse_")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS nm_buckets LOCATION '{loc}'")
        for t, k in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            (
                load_table(spark, sf_dir, t)
                .write.mode("overwrite")
                .bucketBy(8, k)
                .sortBy(k)
                .saveAsTable(f"nm_buckets.{t}_b8_{tag}")
            )
        return tag

    tag = session_memo(spark, ("bucketed_tables",), stage, sf_dir=sf_dir)
    o = spark.table(f"nm_buckets.orders_b8_{tag}").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    l = spark.table(f"nm_buckets.lineitem_b8_{tag}")
    # merge hint: at test scale AQE would broadcast the filtered orders
    # side; at 100 TB both sides are huge and the bucketed sort-merge join
    # (zero exchanges — asserted in tests/test_plans.py) is the point.
    return (
        o.hint("merge").join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice").alias("line_total"),
        )
    )


@query(
    "sub_scalar_correlated",
    oracle=f"""
SELECT c_custkey, c_acctbal,
       (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
FROM customer
WHERE c_custkey < 200
""",
)
def sub_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates it into an
    aggregate + left outer join (RewriteCorrelatedScalarSubquery), so the
    executed plan is the same shuffle-parallel shape as a hand-written
    join; the SQL stays declarative."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("nm_sub_c")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("nm_sub_o")
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal,
               (SELECT COUNT(*) FROM nm_sub_o WHERE o_custkey = c_custkey) AS n_orders
        FROM nm_sub_c
        WHERE c_custkey < 200
        """
    )


@query(
    "sub_in_exists",
    oracle="""
SELECT c_custkey, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
              AND o_orderpriority = '1-URGENT')
""",
)
def sub_in_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN + correlated EXISTS subqueries — both decorrelate to semi-joins
    (no per-row re-execution anywhere)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("nm_sub_c2")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("nm_sub_o2")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM nm_sub_c2
        WHERE c_custkey IN (SELECT o_custkey FROM nm_sub_o2 WHERE o_totalprice > 300000)
          AND EXISTS (SELECT 1 FROM nm_sub_o2 WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')
        """
    )


@query(
    "join_lateral",
    oracle=f"""
SELECT c_custkey, o.o_orderkey, o.o_totalprice
FROM customer,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) o
WHERE c_custkey < 100
""",
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated table subquery — top-2 orders per customer
    expressed as a lateral join (Spark 4 SQL); Catalyst rewrites it to a
    ranked window, so there is no per-customer re-scan."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("nm_lat_c")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("nm_lat_o")
    return spark.sql(
        """
        SELECT c_custkey, o.o_orderkey, o.o_totalprice
        FROM nm_lat_c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM nm_lat_o
          WHERE o_custkey = c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) o
        WHERE c_custkey < 100
        """
    )


#: nearest-asof tolerance: candidates farther than 6 h are no match —
#: chosen so at every SF some events match backward, some forward, and
#: some not at all (all three branches hashed).
_ASOF_NEAR_TOL_US = 21_600_000_000


@query(
    "join_asof_nearest",
    oracle=f"""
WITH p AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
), b AS (
  SELECT e.event_id, e.user_id, e.ts, p.ts AS bts, p.value AS bval
  FROM events e
  ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
), f AS (
  SELECT e.event_id, p.ts AS fts, p.value AS fval
  FROM events e
  ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts < p.ts
), j AS (
  SELECT b.event_id, b.user_id, b.ts,
         CASE WHEN b.bts IS NOT NULL
                AND epoch_us(b.ts) - epoch_us(b.bts) <= {_ASOF_NEAR_TOL_US}
              THEN epoch_us(b.ts) - epoch_us(b.bts) END AS db,
         CASE WHEN f.fts IS NOT NULL
                AND epoch_us(f.fts) - epoch_us(b.ts) <= {_ASOF_NEAR_TOL_US}
              THEN epoch_us(f.fts) - epoch_us(b.ts) END AS df,
         b.bval, f.fval
  FROM b JOIN f USING (event_id)
)
SELECT event_id, user_id, {ts_str_sql('ts')} AS ts_s,
       CASE WHEN db IS NOT NULL AND (df IS NULL OR db <= df)
            THEN {dround_sql('bval')}
            WHEN df IS NOT NULL THEN {dround_sql('fval')} END
         AS near_purchase_value,
       CAST(CASE WHEN db IS NOT NULL AND (df IS NULL OR db <= df) THEN db
                 WHEN df IS NOT NULL THEN df END AS BIGINT) AS delta_us,
       CASE WHEN db IS NOT NULL AND (df IS NULL OR db <= df) THEN 'backward'
            WHEN df IS NOT NULL THEN 'forward' END AS direction
FROM j
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join with tolerance (pandas
    ``merge_asof(direction='nearest', tolerance=...)`` semantics — the
    as-of family member ``join_asof``'s backward-only pass can't express):
    each event pairs with the SAME user's closest purchase within 6 h,
    past or future, ties to the past.

    Spark-first shape: both direction candidates come from ONE
    union-tag-window pass — the backward running-last and the forward
    running-first share the same (user_id, (ts, side)) exchange + sort,
    so Catalyst plans a single shuffle with two window frames over it
    (the join_asof trick, run both ways); the nearest/tolerance pick is a
    row-local CASE. Same-ts purchases sort before their event (side
    flag), so Δ=0 matches resolve backward, exactly like the oracle's
    ASOF `>=`/`<` pair. Linear at scale — never a range self-join."""
    e = load_table(spark, sf_dir, "events")
    tus = F.expr("unix_micros(ts)")
    left = e.select(
        "event_id",
        "user_id",
        "ts",
        tus.alias("tus"),
        F.lit(1).alias("side"),
        F.lit(None)
        .cast("struct<pts:bigint,pval:double>")
        .alias("p"),
    )
    right = e.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        tus.alias("tus"),
        F.lit(0).alias("side"),
        F.struct(
            tus.alias("pts"), F.col("value").alias("pval")
        ).alias("p"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("tus", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("tus", "side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    u = (
        left.unionByName(right)
        .withColumn("bp", F.last("p", ignorenulls=True).over(wb))
        .withColumn("fp", F.first("p", ignorenulls=True).over(wf))
        .filter(F.col("side") == 1)
    )
    db0 = F.col("tus") - F.col("bp.pts")
    df0 = F.col("fp.pts") - F.col("tus")
    db = F.when(
        F.col("bp").isNotNull() & (db0 <= _ASOF_NEAR_TOL_US), db0
    )
    df_ = F.when(
        F.col("fp").isNotNull() & (df0 <= _ASOF_NEAR_TOL_US), df0
    )
    take_b = db.isNotNull() & (df_.isNull() | (db <= df_))
    take_f = ~take_b & df_.isNotNull()
    return u.select(
        "event_id",
        "user_id",
        ts_str("ts").alias("ts_s"),
        F.when(take_b, dround("bp.pval"))
        .when(take_f, dround("fp.pval"))
        .alias("near_purchase_value"),
        F.when(take_b, db)
        .when(take_f, df_)
        .cast("long")
        .alias("delta_us"),
        F.when(take_b, F.lit("backward"))
        .when(take_f, F.lit("forward"))
        .alias("direction"),
    )


@query(
    "join_pointintime_dim",
    oracle="""
WITH dim AS (
  SELECT user_id, ts,
         CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 25
              AS BIGINT) AS tier
  FROM events WHERE event_type = 'purchase'
), f AS (
  SELECT e.event_id, e.user_id, e.event_type, d.tier
  FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
  ASOF LEFT JOIN dim d ON e.user_id = d.user_id AND e.ts >= d.ts
)
SELECT tier, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM f
GROUP BY tier, event_type
""",
)
def join_pointintime_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension join (the warehouse-canonical SCD2 use:
    enrich each fact with the dimension value IN EFFECT at fact time, never
    the current one): a user's "tier" changes with each purchase
    (tier = props.k div 25); every non-purchase event is attributed to
    the tier in effect at its timestamp — NULL before the first purchase
    — then rolled up per (tier, event_type).

    Spark-first shape: the same union-tag single-window pass as
    ``join_asof``/``join_asof_nearest`` (dim-change rows sort before
    facts at equal ts, so a same-instant change applies — the SCD2
    half-open [from, to) convention); consecutive same-tier purchases
    need no collapse because last-value-at-ts is invariant to it. One
    (user_id) exchange + sort, then the tiny rollup — never a
    per-version interval range-join."""
    e = load_table(spark, sf_dir, "events")
    dim = e.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        F.lit(None).cast("string").alias("event_type"),
        "ts",
        F.lit(0).alias("side"),
        F.expr(
            "CAST(CAST(get_json_object(props, '$.k') AS BIGINT) div 25 AS BIGINT)"
        ).alias("dtier"),
    )
    facts = e.filter(F.col("event_type") != "purchase").select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("dtier"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = (
        dim.unionByName(facts)
        .withColumn("tier", F.last("dtier", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
    )
    return enriched.groupBy("tier", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
