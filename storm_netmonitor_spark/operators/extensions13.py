"""Round-13 operators, first batch — §2.AD, REGISTERED (registry 303 → 306).

Staged at round-12 close (plain callables + oracle builders, the
standing pre-registration discipline: staged-suite parity + property
tests + the two gate halves — vanilla-session oracle parity and
`tools/preflight_local_cluster.py` (its since-deleted staged mode) under
real executor JVMs, run twice at round-13 open for run-to-run
determinism) — so they register with the standard ``@query`` decorator
at round-13 open.

Capability anchor: SURVEY §2.AD — the ORCHESTRATION APPLY triple.
Round 12 registered the PLANS (backfill work-list, compaction packing,
FK orphan census); production then EXECUTES them, and the execution's
ledger must reconcile with the plan it came from:

- ``sink_backfill_apply`` — execute the backfill work-list: rewrite
  exactly the missing+stale target partitions from source (CURRENT
  partitions are neither read nor written — the partition-minimal
  discipline of ``sink_targeted_delete``), and emit the per-date apply
  ledger with ``n_tgt_after`` read back from the written files;
- ``sink_compaction_apply`` — execute the packing plan: rewrite the
  one-file-per-(date×hour) streaming-sink layout into ONE file per
  planned bin (the bin assignment is the registered plan's own kernel,
  so executed packing ≡ planned packing by construction), ledger row
  counts read back from the written bins, file-count identity asserted
  from the output directory listing;
- ``sink_orphan_quarantine`` — execute the referential-integrity
  verdict: when a parent population departs (a nation offboards →
  its customers' orders lose their FK target), split the child table
  into kept / quarantined by membership against the SURVIVING parent
  keys (broadcast semi/anti joins — the ``join_anti`` shape), land the
  quarantined rows as an audit trail, and emit the two-row ledger with
  exact shares.

All three follow the ``sink_targeted_delete`` write discipline: the
rewrite REALLY happens (fresh temp dirs, read-back counts in the
ledger), temp outputs are removed after the ledger materializes, and
every decision input is integers (counts, keys, dates) — no float
boundary anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.stable import dratio_sql
from ..io import load_table, scratch, scratch_dir, session_memo
from ..registry import query
from .extensions11 import (
    _BF_STALE_FROM,
    _BF_STALE_TO,
    _BF_WATERMARK,
    _CPT_TARGET_ROWS,
    compaction_bin_map,
    plan_incremental_backfill,
)

# ---------------------------------------------------------------------------
# sink_backfill_apply — execute the backfill work-list, partition-minimally
# ---------------------------------------------------------------------------

#: I/O accounting of the most recent apply: (partitions written,
#: partitions total) — the partition-minimality identity, asserted by
#: the staged tests against the actual output directory listing.
LAST_BACKFILL_IO: list[int] = []


def sink_backfill_apply_oracle() -> str:
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
              ELSE n_src END AS n_tgt_before
  FROM src
)
SELECT event_date,
       CASE WHEN n_tgt_before = n_src THEN 'current'
            ELSE 'backfilled' END AS action,
       CAST(n_src AS BIGINT) AS n_src,
       CAST(n_tgt_before AS BIGINT) AS n_tgt_before,
       CAST(CASE WHEN n_tgt_before = n_src THEN n_tgt_before
                 ELSE n_src END AS BIGINT) AS n_tgt_after
FROM cls
"""


@query("sink_backfill_apply", oracle=sink_backfill_apply_oracle())
def sink_backfill_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the §2.AB backfill work-list (SURVEY §2.AD): re-ingest
    exactly the missing+stale target partitions from source and emit
    the per-date apply ledger ``(event_date, action, n_src,
    n_tgt_before, n_tgt_after)``.

    Partition-minimal I/O on both sides: the work-list comes from the
    REGISTERED plan op (one decision semantics — the apply never
    re-derives staleness), the source read is the date-partitioned
    layout filtered to the work dates (partition pruning, asserted by
    the staged plan test), CURRENT target partitions are neither read
    nor written by the apply, and ``n_tgt_after`` for applied dates is
    read back from the files the apply actually wrote.
    ``LAST_BACKFILL_IO`` records (partitions written, partitions
    total). The work-list collect is O(partitions) — the scheduler's
    own list, bounded by the calendar, never by table size."""
    from .scans import partitioned_events_path

    from ..io import tiny_local_frame

    # ONE collect of the O(dates) plan (r14: the work-list filter, the
    # date count, and the ledger join each re-executed the plan's
    # manifest-census subtree as separate actions — guide §1.2, don't
    # compute the same thing twice); every downstream decision is
    # driver-side integer arithmetic on the calendar-bounded rows
    plan_rows = plan_incremental_backfill(spark, sf_dir).collect()
    work = sorted(
        r["event_date"] for r in plan_rows if r["status"] != "current"
    )

    LAST_BACKFILL_IO.clear()
    LAST_BACKFILL_IO.extend([len(work), len(plan_rows)])

    ledger_ddl = (
        "event_date string, action string, n_src bigint, "
        "n_tgt_before bigint, n_tgt_after bigint"
    )
    if not work:
        # fully-current target (ADVICE r12): nothing to re-ingest — an
        # empty partitioned write would leave a schema-less dataset the
        # read-back cannot infer. Short-circuit the ledger: every date
        # is 'current' with n_tgt_after = n_tgt_before, zero I/O.
        return tiny_local_frame(
            spark,
            [
                (r["event_date"], "current", int(r["n_src"]),
                 int(r["n_tgt"]), int(r["n_tgt"]))
                for r in sorted(plan_rows, key=lambda r: r["event_date"])
            ],
            ledger_ddl,
        )

    from .scans import partitioned_events_frame

    src = partitioned_events_frame(spark, sf_dir)
    # n_tgt_after read back from the files the apply actually wrote —
    # their parquet FOOTERS hold the authoritative written row counts
    # (O(work dates) driver-side metadata reads; r14 — previously a
    # distributed re-scan + aggregate + join over the just-written
    # partitions for a calendar-bounded ledger, guide §6)
    import pyarrow.parquet as pq

    applied: dict[str, int] = {}
    with scratch("nm_bf_apply_") as out:
        (
            src.filter(F.col("event_date").cast("string").isin(work))
            .withColumn("event_date", F.col("event_date").cast("string"))
            .repartition("event_date")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(out)
        )
        for date_dir in sorted(os.listdir(out)):
            if not date_dir.startswith("event_date="):
                continue
            d = os.path.join(out, date_dir)
            applied[date_dir.split("=", 1)[1]] = sum(
                pq.read_metadata(os.path.join(d, f)).num_rows
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
    return tiny_local_frame(
        spark,
        [
            (
                r["event_date"],
                "current" if r["status"] == "current" else "backfilled",
                int(r["n_src"]),
                int(r["n_tgt"]),
                int(applied.get(r["event_date"], r["n_tgt"])),
            )
            for r in sorted(plan_rows, key=lambda r: r["event_date"])
        ],
        ledger_ddl,
    )


# ---------------------------------------------------------------------------
# sink_compaction_apply — execute the packing plan, one file per bin
# ---------------------------------------------------------------------------

#: (bins written, max files per bin dir) of the most recent apply —
#: the one-file-per-bin identity, asserted by the staged tests.
LAST_COMPACTION_IO: list[int] = []


def _hourly_layout_dir(spark: SparkSession, sf_dir: str) -> str:
    """The fragmented INPUT table is the fixture (one parquet file per
    date × hour, the streaming-sink shape the plan models), staged once
    per session and input."""

    def stage() -> str:
        e = load_table(spark, sf_dir, "events").select(
            F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
            F.hour("ts").alias("hr"),
            "event_id",
            "user_id",
            "event_type",
            "value",
        )
        out = os.path.join(scratch_dir("nm_cpt_in_"), "events_hourly")
        (
            e.repartition("event_date", "hr")
            .write.mode("overwrite")
            .partitionBy("event_date", "hr")
            .parquet(out)
        )
        return out

    return session_memo(spark, ("hourly_layout",), stage, sf_dir=sf_dir)


def sink_compaction_apply_oracle() -> str:
    from .extensions11 import plan_compaction_oracle

    base = plan_compaction_oracle().strip().rstrip()
    return f"""
SELECT event_date, bin_id, n_input_files, n_rows,
       CAST(1 AS BIGINT) AS n_files_after
FROM ({base})
"""


@query("sink_compaction_apply", oracle=sink_compaction_apply_oracle())
def sink_compaction_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the §2.AB compaction plan (SURVEY §2.AD): rewrite the
    one-file-per-(date×hour) streaming-sink layout into ONE file per
    planned bin and emit the per-bin ledger ``(event_date, bin_id,
    n_input_files, n_rows, n_files_after)`` — row counts read back
    from the written bins, the file-count identity from the output
    directory listing.

    The bin assignment is :func:`extensions11.compaction_bin_map` — the
    registered plan's OWN kernel — joined to the rows by (date, hour),
    so the executed packing equals the planned packing by construction
    (no second packing arithmetic to drift). The rewrite routes rows
    with ``repartition(event_date, bin_id)`` (each bin lands in exactly
    one task → exactly one file per bin directory) and time clustering
    survives: each bin holds whole, consecutive hours.

    Plan shape (r14 optimization): the bin map is bounded by the
    calendar (O(dates × 24) rows) and is derived DRIVER-side from the
    layout's parquet footers (one file per (date, hour) by the layout's
    construction, so each footer ``num_rows`` is the hour census; the
    census job this replaces scanned zero data columns but still paid a
    listing + scan stage + (date,hr) shuffle + window + collect), then
    shipped to the write join as a broadcast VALUES relation — the
    write job never re-executes a census+window subtree to build its
    broadcast side.
    The ledger's ``n_rows`` then comes from the written bins' parquet
    FOOTERS (each bin is exactly one file; its footer ``num_rows`` is
    the authoritative written count — still "read back from the
    written bins", at metadata speed): O(bins) driver-side footer
    reads replace the distributed read-back scan + aggregate + join +
    collect the ledger previously paid (guide §2.4/§6 — the only
    remaining distributed work is the one genuine O(corpus) rewrite
    with its single keyed exchange)."""
    layout = _hourly_layout_dir(spark, sf_dir)
    # the source FRAME handle is session-memoized (no data is cached):
    # each rebuilt refresh paid a fresh partition-discovery listing of
    # the 720-directory hourly tree plus schema inference (~0.3 s of
    # the ~3.8 s op, measured phase profile) for a layout that is a
    # static staged fixture — the guide §6 point that manifest
    # metadata beats re-listing; production reads the file list from
    # the table format's manifest (r14 optimization)
    from ..io import session_memo, tiny_local_frame

    src = session_memo(
        spark,
        ("cpt_hourly_src", layout),
        lambda: spark.read.parquet(layout).select(
            F.col("event_date").cast("string").alias("event_date"),
            F.col("hr").cast("int").alias("hr"),
            "event_id",
            "user_id",
            "event_type",
            "value",
        ),
        sf_dir=sf_dir,
    )

    # bin map derived driver-side from the LAYOUT's parquet footers
    # (r14, second pass): the census job this replaces scanned zero
    # data columns (ReadSchema: struct<>) but still paid a full file
    # listing + scan stage + the (date,hr) shuffle + window + collect.
    # The layout is one file per (date, hr) by construction
    # (repartition(event_date, hr) + partitionBy — the same identity
    # the ledger's footer counts already rely on), so each footer's
    # num_rows IS the hour's row count, and the bin boundary is the
    # identical integer arithmetic (running rows before the hour,
    # div target) run over O(dates × 24) footer reads. Equality with
    # the registered plan_compaction is pinned by
    # test_compaction_apply_matches_the_plan.
    import pyarrow.parquet as pq

    bin_rows = []
    for date_dir in sorted(os.listdir(layout)):
        if not date_dir.startswith("event_date="):
            continue
        date = date_dir.split("=", 1)[1]
        hours: list[tuple[int, int]] = []
        for hr_dir in os.listdir(os.path.join(layout, date_dir)):
            if not hr_dir.startswith("hr="):
                continue
            d = os.path.join(layout, date_dir, hr_dir)
            n = sum(
                pq.read_metadata(os.path.join(d, f)).num_rows
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
            hours.append((int(hr_dir.split("=", 1)[1]), n))
        running = 0
        for hr, n in sorted(hours):
            bin_rows.append((date, hr, running // _CPT_TARGET_ROWS))
            running += n
    bins = tiny_local_frame(
        spark, bin_rows, "event_date string, hr int, bin_id bigint"
    )
    # file-count identity from the REAL output layout and row counts
    # from the written files' footers (both bounded by the plan size —
    # O(bins) directory entries and footer reads, never data)
    max_files = 0
    n_rows_by_bin: dict[tuple[str, int], int] = {}
    with scratch("nm_cpt_out_") as out:
        (
            src.join(F.broadcast(bins), ["event_date", "hr"])
            .repartition("event_date", "bin_id")
            .write.mode("overwrite")
            .partitionBy("event_date", "bin_id")
            .parquet(out)
        )
        for date_dir in sorted(os.listdir(out)):
            if not date_dir.startswith("event_date="):
                continue
            date = date_dir.split("=", 1)[1]
            for bin_dir in sorted(os.listdir(os.path.join(out, date_dir))):
                if not bin_dir.startswith("bin_id="):
                    continue
                d = os.path.join(out, date_dir, bin_dir)
                files = [f for f in os.listdir(d) if f.endswith(".parquet")]
                max_files = max(max_files, len(files))
                n_rows_by_bin[(date, int(bin_dir.split("=", 1)[1]))] = sum(
                    pq.read_metadata(os.path.join(d, f)).num_rows for f in files
                )
    LAST_COMPACTION_IO.clear()
    LAST_COMPACTION_IO.extend([len(n_rows_by_bin), max_files])

    n_inputs: dict[tuple[str, int], int] = {}
    for date, _hr, b in bin_rows:
        n_inputs[(date, b)] = n_inputs.get((date, b), 0) + 1
    return tiny_local_frame(
        spark,
        [
            (date, b, n_inputs[(date, b)], n, 1)
            for (date, b), n in sorted(n_rows_by_bin.items())
        ],
        "event_date string, bin_id bigint, n_input_files bigint, "
        "n_rows bigint, n_files_after bigint",
    )


# ---------------------------------------------------------------------------
# sink_orphan_quarantine — execute the RI verdict on a departed parent
# ---------------------------------------------------------------------------

#: The departed parent population: this nation offboards, its customers
#: disappear from the surviving parent set, and their orders lose their
#: FK target. Non-empty at every testdata SF (25 nations, uniform
#: customer spread).
_Q_DEPARTED_NATION = 3


def sink_orphan_quarantine_oracle() -> str:
    share = dratio_sql("n_rows * 1000000", "tot")
    return f"""
WITH dep AS (
  SELECT c_custkey FROM customer WHERE c_nationkey = {_Q_DEPARTED_NATION}
), cls AS (
  SELECT CASE WHEN o_custkey IN (SELECT c_custkey FROM dep)
              THEN 'quarantined' ELSE 'kept' END AS action
  FROM orders
), cnt AS (
  SELECT action, COUNT(*) AS n_rows FROM cls GROUP BY action
), tot AS (SELECT SUM(n_rows) AS tot FROM cnt)
SELECT action, CAST(n_rows AS BIGINT) AS n_rows, {share} AS share_pct
FROM cnt, tot
"""


@query("sink_orphan_quarantine", oracle=sink_orphan_quarantine_oracle())
def sink_orphan_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the referential-integrity verdict (SURVEY §2.AD): nation
    {_Q_DEPARTED_NATION} offboards — its customers depart the parent
    set — and the ORDERS child table splits into kept / quarantined by
    membership against the SURVIVING customers. The quarantined rows
    LAND (the audit trail a takedown pipeline must keep), the kept side
    is a metadata view (never rewritten — at scale it is almost the
    whole table), and the two-row ledger carries exact shares with the
    quarantined count read back from the written files.

    Join shape: the departed key set is dimension-sized → broadcast
    LEFT SEMI for the quarantine side (the ``join_semi`` shape); the
    kept count is pure arithmetic (total − quarantined).

    Job budget (the r13 pre-registration ratio check flagged this op at
    2.5× its vanilla twin, all of it fixed per-job session overhead on a
    ~1 s wall): the child table scans EXACTLY ONCE — ``observe`` folds
    the total-row census into the quarantine write job instead of a
    second full-scan ``count()`` — and the quarantined count reads back
    from the written files' parquet FOOTERS driver-side (r14: the
    distributed read-back count job is gone). ONE Spark job total (the
    quarantine write), which the contract requires."""
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    dep = c.filter(F.col("c_nationkey") == _Q_DEPARTED_NATION).select(
        F.col("c_custkey").alias("k")
    )
    obs = Observation()
    o_obs = o.observe(obs, F.count(F.lit(1)).alias("n_total"))
    quarantined = o_obs.join(
        F.broadcast(dep), o_obs["o_custkey"] == dep["k"], "left_semi"
    )
    with scratch("nm_quar_") as out:
        quarantined.write.mode("overwrite").parquet(out)

        n_total = int(obs.get["n_total"])
        # quarantined count read back from the written files' parquet
        # FOOTERS (r14 — the footer-ledger discipline of the two applies:
        # the distributed count job re-scanned the landing it just wrote)
        import pyarrow.parquet as pq

        n_quar = sum(
            pq.read_metadata(os.path.join(out, f)).num_rows
            for f in os.listdir(out)
            if f.endswith(".parquet")
        )
    # the 2-row ledger is DRIVER-side arithmetic on the two distributed
    # counts — the exact dratio integer formula in python (identical
    # half-away rounding, so the hash matches the SQL twin bit-for-bit;
    # a crossJoin'd 1-row total attach here would spend three extra
    # Spark jobs formatting two rows)
    rows = [
        (action, n, _py_dratio(n * 1_000_000, n_total))
        for action, n in (
            ("kept", n_total - n_quar),
            ("quarantined", n_quar),
        )
    ]
    from ..io import tiny_local_frame

    return tiny_local_frame(
        spark, rows, "action string, n_rows long, share_pct double"
    )


def _py_dratio(num_scaled: int, den: int, round_to: int = 6, in_scale: int = 6) -> float:
    """``functions.stable.dratio``'s half-away integer rounding, in
    python, for driver-side ledgers over already-collected exact counts
    — same formula, same result bits."""
    s = 10 ** (in_scale - round_to)
    d = den * s
    a = 2 * abs(num_scaled) + d
    b = 2 * d
    q = (a - a % b) // b
    return (-q if num_scaled < 0 else q) / 10**round_to
