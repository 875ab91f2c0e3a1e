"""Round-13 candidate verification (SURVEY §2.AD — staged, NOT registered).

Each §2.AD candidate runs the exact same vanilla-shaped check the driver
will apply once it is registered in round 13: Spark result vs its DuckDB
oracle, column names + row count + canonical values — plus the property
tests that pin the apply discipline (plan/apply reconciliation,
partition-minimal I/O identities, one-file-per-bin packing, row
conservation, planted-departure detection). Keeping these green all
round makes the r13 registration a 3-line diff with zero new risk (the
§2.W–§2.AC precedent, all seven batches registered green so far).
"""

from __future__ import annotations

import pytest

from tests.parity import canon_rows, run_oracle, run_spark

SF = "/root/testdata/sf0.01"


def _assert_staged_parity(fn, oracle_sql: str, spark, sf_dir: str = SF):
    s_cols, s_rows = run_spark(fn, spark, sf_dir)
    o_cols, o_rows = run_oracle(oracle_sql, sf_dir)
    assert sorted(s_cols) == sorted(o_cols)
    assert len(s_rows) == len(o_rows)
    assert canon_rows(s_cols, s_rows) == canon_rows(o_cols, o_rows)


def test_backfill_apply_matches_oracle(spark):
    from storm_netmonitor_spark.operators.extensions13 import (
        sink_backfill_apply,
        sink_backfill_apply_oracle,
    )

    _assert_staged_parity(
        sink_backfill_apply, sink_backfill_apply_oracle(), spark
    )


def test_compaction_apply_matches_oracle(spark):
    from storm_netmonitor_spark.operators.extensions13 import (
        sink_compaction_apply,
        sink_compaction_apply_oracle,
    )

    _assert_staged_parity(
        sink_compaction_apply, sink_compaction_apply_oracle(), spark
    )


def test_orphan_quarantine_matches_oracle(spark):
    from storm_netmonitor_spark.operators.extensions13 import (
        sink_orphan_quarantine,
        sink_orphan_quarantine_oracle,
    )

    _assert_staged_parity(
        sink_orphan_quarantine, sink_orphan_quarantine_oracle(), spark
    )


def test_backfill_apply_reconciles_with_the_plan(spark):
    """Plan/apply reconciliation: the apply's ledger must classify
    exactly the plan's dates, repair exactly the missing+stale ones
    (n_tgt_after == n_src), leave current ones untouched
    (n_tgt_after == n_tgt_before), and the partition-minimality
    identity must hold: partitions written == plan's work-list size,
    strictly less than the partition total."""
    from storm_netmonitor_spark.operators import extensions13 as e13
    from storm_netmonitor_spark.operators.extensions11 import (
        plan_incremental_backfill,
    )

    plan = {
        r["event_date"]: r
        for r in plan_incremental_backfill(spark, SF).collect()
    }
    ledger = {
        r["event_date"]: r for r in e13.sink_backfill_apply(spark, SF).collect()
    }
    assert set(ledger) == set(plan)
    n_work = 0
    for date, p in plan.items():
        r = ledger[date]
        assert r["n_src"] == p["n_src"]
        assert r["n_tgt_before"] == p["n_tgt"]
        if p["status"] == "current":
            assert r["action"] == "current"
            assert r["n_tgt_after"] == r["n_tgt_before"]
        else:
            n_work += 1
            assert r["action"] == "backfilled"
            assert r["n_tgt_after"] == r["n_src"] > r["n_tgt_before"] or (
                p["status"] == "missing" and r["n_tgt_before"] == 0
            )
    written, total = e13.LAST_BACKFILL_IO
    assert written == n_work and total == len(plan) and written < total


def test_backfill_apply_source_read_is_partition_pruned(spark):
    """The apply's source scan must carry a partition filter on the
    work dates — the date-partitioned layout is read partition-
    minimally, never fully."""
    from storm_netmonitor_spark.io import load_table
    from storm_netmonitor_spark.operators.extensions11 import (
        plan_incremental_backfill,
    )
    from storm_netmonitor_spark.operators.scans import (
        partitioned_events_path,
    )
    from pyspark.sql import functions as F

    plan = plan_incremental_backfill(spark, SF)
    work = sorted(
        r["event_date"]
        for r in plan.filter(F.col("status") != "current").collect()
    )
    src = spark.read.parquet(partitioned_events_path(spark, SF))
    scan = src.filter(F.col("event_date").cast("string").isin(work))
    txt = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in txt
    # the filter must actually constrain event_date (non-empty list)
    seg = txt.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_date" in seg


def test_compaction_apply_reconciles_with_the_plan(spark):
    """Executed packing ≡ planned packing: per (date, bin) the ledger's
    row and input-file counts equal the registered plan's, every bin
    landed as exactly ONE file, and the rewrite conserves the corpus."""
    from storm_netmonitor_spark.io import load_table
    from storm_netmonitor_spark.operators import extensions13 as e13
    from storm_netmonitor_spark.operators.extensions11 import plan_compaction

    ledger = {
        (r["event_date"], r["bin_id"]): r
        for r in e13.sink_compaction_apply(spark, SF).collect()
    }
    plan = {
        (r["event_date"], r["bin_id"]): r
        for r in plan_compaction(spark, SF).collect()
    }
    assert set(ledger) == set(plan)
    for key, p in plan.items():
        r = ledger[key]
        assert r["n_rows"] == p["n_rows"]
        assert r["n_input_files"] == p["n_input_files"]
        assert r["n_files_after"] == 1
    n_bins, max_files = e13.LAST_COMPACTION_IO
    assert n_bins == len(plan)
    assert max_files == 1, "a bin landed as more than one file"
    assert sum(r["n_rows"] for r in ledger.values()) == load_table(
        spark, SF, "events"
    ).count()


def test_compaction_apply_plan_shapes(spark):
    """The fan-out rewrite must be executor-parallel inside ONE job —
    a single hash exchange on (event_date, bin_id) feeding the write,
    never per-bin sequential jobs — and the read-back ledger must be a
    metadata-speed count: partition columns only, ``ReadSchema:
    struct<>`` (zero data columns deserialized from the compacted
    layout)."""
    import os

    from pyspark.sql import functions as F

    from storm_netmonitor_spark.io import scratch_dir
    from storm_netmonitor_spark.operators import extensions13 as e13

    src = spark.read.parquet(e13._hourly_layout_dir(spark, SF)).select(
        F.col("event_date").cast("string").alias("event_date"),
        F.col("hr").cast("int").alias("hr"),
        "event_id",
        "user_id",
        "event_type",
        "value",
    )
    bins = e13.compaction_bin_map(src.select("event_date", "hr")).select(
        "event_date", "hr", "bin_id"
    )
    routed = src.join(F.broadcast(bins), ["event_date", "hr"]).repartition(
        "event_date", "bin_id"
    )
    wtxt = routed._jdf.queryExecution().executedPlan().toString()
    # the write-side routing is ONE keyed hash exchange (all rows of a
    # bin meet in one task → one file per bin dir), not a round-robin
    assert "hashpartitioning(event_date" in wtxt
    assert "RoundRobinPartitioning" not in wtxt

    out = os.path.join(scratch_dir("nm_cpt_plan_"), "c")
    try:
        routed.write.mode("overwrite").partitionBy(
            "event_date", "bin_id"
        ).parquet(out)
        back = (
            spark.read.parquet(out)
            .groupBy(
                F.col("event_date").cast("string").alias("event_date"),
                F.col("bin_id").cast("long").alias("bin_id"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        )
        btxt = back._jdf.queryExecution().executedPlan().toString()
        assert "ReadSchema: struct<>" in btxt, (
            "read-back ledger deserializes data columns"
        )
    finally:
        import shutil

        shutil.rmtree(os.path.dirname(out), ignore_errors=True)


def test_apply_job_counts_are_bounded(spark):
    """r14 optimization: the apply ledgers come from written-file
    parquet FOOTERS plus the one collected calendar-bounded plan/bin
    map — each apply must run a BOUNDED number of Spark jobs (census +
    rewrite only; no distributed read-back of its own output, no
    per-partition jobs, no repeated plan actions). Warm job counts
    measured 4 (compaction, was 12 then 7 — the footer-derived bin map
    removed the census job) and 9 (backfill, was 19); the caps leave
    AQE headroom while still failing if a read-back returns."""
    from storm_netmonitor_spark.operators import extensions13 as e13

    sc = spark.sparkContext
    for fn, cap in (
        (e13.sink_compaction_apply, 6),
        (e13.sink_backfill_apply, 13),
    ):
        fn(spark, SF).collect()  # warm the staged layouts/session memos
        group = f"jobcount_{fn.__name__}"
        sc.setJobGroup(group, "r14 job-count audit")
        try:
            fn(spark, SF).collect()
        finally:
            sc.setJobGroup("jobcount_done", "sentinel")
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        assert n <= cap, f"{fn.__name__} ran {n} Spark jobs (cap {cap})"


def test_quarantine_conserves_and_detects_the_departure(spark):
    """kept + quarantined tile the child table exactly, the quarantined
    count equals the direct membership computation against the departed
    customers, and both shares are the exact dratio rationals."""
    from pyspark.sql import functions as F

    from storm_netmonitor_spark.io import load_table
    from storm_netmonitor_spark.operators import extensions13 as e13

    rows = {r["action"]: r for r in e13.sink_orphan_quarantine(spark, SF).collect()}
    assert set(rows) == {"kept", "quarantined"}
    o = load_table(spark, SF, "orders")
    c = load_table(spark, SF, "customer")
    dep_keys = {
        r["c_custkey"]
        for r in c.filter(
            F.col("c_nationkey") == e13._Q_DEPARTED_NATION
        ).collect()
    }
    n_q = o.filter(F.col("o_custkey").isin(list(dep_keys))).count()
    n_total = o.count()
    assert rows["quarantined"]["n_rows"] == n_q > 0
    assert rows["kept"]["n_rows"] == n_total - n_q
    # dratio shares: n*1e6/tot rounded half-away at 6 decimals → the two
    # shares reconstruct the totals
    for r in rows.values():
        assert (
            abs(r["share_pct"] - r["n_rows"] / n_total) < 1e-6
        ), r


def test_quarantine_plan_is_broadcast_semi_no_cartesian(spark):
    """The split must render as broadcast semi/anti joins against the
    dimension-sized departed key set — never a cartesian."""
    from pyspark.sql import functions as F

    from storm_netmonitor_spark.io import load_table
    from storm_netmonitor_spark.operators import extensions13 as e13

    o = load_table(spark, SF, "orders")
    c = load_table(spark, SF, "customer")
    dep = c.filter(F.col("c_nationkey") == e13._Q_DEPARTED_NATION).select(
        F.col("c_custkey").alias("k")
    )
    q = o.join(F.broadcast(dep), o["o_custkey"] == dep["k"], "left_semi")
    txt = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in txt
    assert "LeftSemi" in txt and "Broadcast" in txt


@pytest.mark.parametrize(
    "name",
    [
        "sink_backfill_apply",
        "sink_compaction_apply",
        "sink_orphan_quarantine",
    ],
)
def test_run_to_run_determinism(spark, name):
    from storm_netmonitor_spark.operators import extensions13 as e13

    fn = getattr(e13, name)
    c1, r1 = run_spark(fn, spark, SF)
    c2, r2 = run_spark(fn, spark, SF)
    assert canon_rows(c1, r1) == canon_rows(c2, r2)
