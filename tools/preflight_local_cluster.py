#!/usr/bin/env python
"""Multi-executor smoke preflight (VERDICT r8 #3): run a representative
slice of the registry — one-plus op per §2 family, including a streaming
drain, the pagerank loop, ANN, and the session-memo/localCheckpoint
machinery — under ``local-cluster[2,2,2048]`` and compare each against
its DuckDB oracle.

Everything else in this repo runs ``local[N]`` (driver and executors in
ONE JVM), where broadcast serialization, closure shipping, Python-worker
environments on executors, and localCheckpoint block placement are
invisible. local-cluster spawns two REAL executor JVMs (2 cores / 2 GiB
each) against the in-process master — the closest a single machine gets
to the 1000-executor deployment without a resource manager.

Usage:
    python tools/preflight_local_cluster.py [SF_DIR]          # 26-op slice
    python tools/preflight_local_cluster.py --full [SF_DIR]   # ALL registered ops
    python tools/preflight_local_cluster.py START END [SF_DIR]  # a window
    python tools/preflight_local_cluster.py --recovery [SF_DIR]
        # exactly-once RocksDB checkpoint recovery with real executors:
        # stop a stateful aggregation mid-stream, restart from the SAME
        # checkpoint (state reloads into executor-side RocksDB stores),
        # assert the final totals equal the batch aggregation
    python tools/preflight_local_cluster.py --chaos-serve [SF_DIR]
        # round-11 extension: SIGKILL one executor mid-stream_ann_serve
        # drain; the served top-k must be identical to the healthy run
        # (streaming replay + idempotent batch_id sink + cached-frame
        # broadcast all composed in one op)
    python tools/preflight_local_cluster.py --chaos-apply [SF_DIR]
        # round-14 extension (VERDICT r13 #8): SIGKILL one executor JVM
        # while an orchestration APPLY sink's FileOutputCommitter
        # ``_temporary`` job directory exists (the in-flight marker —
        # the kill provably lands mid-write), then assert the fan-out
        # write's idempotence: the apply ledger is identical to the
        # healthy run and the one-file-per-bin identity holds (retried
        # task attempts must not double up output files)
    python tools/preflight_local_cluster.py --chaos [SF_DIR]
        # executor-LOSS drill (VERDICT r9 #4): SIGKILL a real executor
        # JVM mid-query and assert each recovery class behaves as
        # designed — (A) batch lineage recovery: a shuffling aggregation
        # completes with the correct result after losing an executor
        # mid-stage; (B) localCheckpoint frames are documented
        # NON-recoverable: killing the executors holding the checkpoint
        # blocks must fail the consumer (the agg_pareto_talkers /
        # pagerank-round caveat, now measured); (C) streaming
        # exactly-once survives an executor kill mid-drain (RocksDB
        # store reloads from the checkpoint on the replacement executor)

Default sf0.01. Exits non-zero on any mismatch. ``--full`` walks the
whole ``driver_ordered`` registry — the strongest multi-executor claim a
single machine can make.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
import duckdb  # noqa: E402

from storm_netmonitor_spark.io import scratch  # noqa: E402
from tests.parity import canon_rows  # noqa: E402

_args = sys.argv[1:]
FULL = "--full" in _args
if FULL:
    _args.remove("--full")
RECOVERY = "--recovery" in _args
if RECOVERY:
    _args.remove("--recovery")
CHAOS = "--chaos" in _args
if CHAOS:
    _args.remove("--chaos")
CHAOS_SERVE = "--chaos-serve" in _args
if CHAOS_SERVE:
    _args.remove("--chaos-serve")
CHAOS_APPLY = "--chaos-apply" in _args
if CHAOS_APPLY:
    _args.remove("--chaos-apply")
WINDOW = None
if len(_args) >= 2 and _args[0].isdigit() and _args[1].isdigit():
    WINDOW = (int(_args[0]), int(_args[1]))
    _args = _args[2:]
SF = _args[0] if _args else "/root/testdata/sf0.01"

#: One per §2 family plus every machinery family that behaves differently
#: with real executors: broadcast joins, iterative localCheckpoint loops,
#: session-memoized trained artifacts, Arrow/pandas workers, streaming
#: state stores (RocksDB opens PER EXECUTOR here), applyInPandas, and the
#: two-level prefix-sum census pattern.
SLICE = [
    "scan_filtered",          # 2.A scan + pushdown
    "project_computed",       # 2.B projection
    "join_star_multiway",     # 2.C broadcast star join (real broadcast ship)
    "join_bucketed_colocated",  # 2.C bucketed SMJ (bucket files on executors)
    "agg_group_pricing",      # 2.D partial agg
    "agg_pareto_talkers",     # census prefix sum + localCheckpoint
    "win_topk_group",         # 2.E window
    "limit_global_topk",      # 2.F TakeOrdered
    "set_except",             # 2.G
    "fn_json_map",            # 2.H
    "stream_tumbling",        # 2.I drain — RocksDB store on executors
    "stream_stateful_counter",  # 2.I applyInPandasWithState on executors
    "udf_pandas_scalar",      # 2.J Arrow worker
    "udf_grouped_map",        # 2.J applyInPandas
    "text_exact_dedup",       # 2.K digest dedup
    "text_near_dedup_minhash",  # 2.K banding self-join
    "vec_knn_cosine",         # 2.K broadcast query vector
    "vec_ann_ivf",            # session-memo trained centroids (executor-built)
    "vec_semantic_dedup",     # k-means + per-cluster BLAS gram via mapInPandas
    "multimodal_chunk_dedup", # binary chunking, digests-only shuffle
    "tpch_q08",               # 2.N heavy multi-broadcast join
    "events_funnel",          # 2.O keyed conditional windows
    "agg_incremental_rollup", # 2.P incremental
    "graph_pagerank_links",   # 2.Q iterative loop + checkpoint cadence
    "sample_weighted_systematic",  # band-census prefix PPS draw
    "text_ppl_buckets",       # band-census terciles (driver census collects)
]

spark = (
    SparkSession.builder.master("local-cluster[2,2,2048]")
    .appName("nm-preflight-local-cluster")
    .config("spark.ui.enabled", "false")
    # executors are separate JVMs here: keep their Python workers pointed
    # at this interpreter (driver + executors share the host env)
    .config("spark.executorEnv.PYSPARK_PYTHON", sys.executable)
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as m  # noqa: E402

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
    )


def run_recovery() -> int:
    """Exactly-once recovery drill under real executors: phase-1 live
    trigger commits ≥1 batch against a RocksDB checkpoint and stops
    mid-stream; phase-2 restarts from the SAME checkpoint (executor-side
    stores reload their version from it — possibly on the OTHER
    executor) and drains the rest. Totals must equal the batch
    aggregation: nothing lost, nothing double-counted."""
    import glob
    import time as _t

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from storm_netmonitor_spark.session import apply_runtime_confs
    from storm_netmonitor_spark.streaming.stateful import _read_events_arrow

    apply_runtime_confs(spark)
    prov = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    assert "RocksDB" in prov, f"expected the RocksDB provider, got {prov}"

    t = _read_events_arrow(SF)
    with scratch("nm_rec_src_") as src, scratch("nm_rec_ckpt_") as ckpt:
        step = (t.num_rows + 3) // 4
        for i in range(4):
            pq.write_table(t.slice(i * step, step), os.path.join(src, f"p{i}.parquet"))

        schema = spark.read.parquet(src).schema

        def start(name, trigger_kwargs, max_files=None):
            r = spark.readStream.schema(schema)
            if max_files:
                r = r.option("maxFilesPerTrigger", str(max_files))
            df = (
                r.parquet(src)
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            return (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(**trigger_kwargs)
                .start()
            )

        q1 = start("nm_lc_rec_p1", {"processingTime": "200 milliseconds"}, 1)
        try:
            deadline = _t.time() + 90
            while _t.time() < deadline:
                p = q1.lastProgress
                if p is not None and p["batchId"] >= 1:
                    break
                _t.sleep(0.25)
            else:
                raise TimeoutError("phase-1 batch never committed")
        finally:
            q1.stop()
            q1.awaitTermination()

        # the checkpoint must hold RocksDB artifacts, not HDFS-provider deltas:
        # full SST snapshots (.zip), or per-batch .changelog files under
        # changelog checkpointing (round 11 — snapshots then upload lazily,
        # so an early-stopped phase 1 may hold only changelogs)
        zips = glob.glob(
            os.path.join(ckpt, "state", "**", "*.zip"), recursive=True
        ) + glob.glob(
            os.path.join(ckpt, "state", "**", "*.changelog"), recursive=True
        )
        assert zips, f"no RocksDB state artifacts under {ckpt}/state"

        q2 = start("nm_lc_rec_p2", {"availableNow": True})
        q2.awaitTermination()

        got = {
            r["event_type"]: r["n"] for r in spark.table("nm_lc_rec_p2").collect()
        }
        want = {
            r["event_type"]: r["n"]
            for r in spark.read.parquet(src)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        print(f"recovered totals: {sorted(got.items())}")
        if got != want:
            print(f"BAD: recovered totals drifted vs batch: {want}")
            return 1
        print("OK recovery: exactly-once totals match batch; "
              f"{len(zips)} RocksDB state artifact(s) in checkpoint")
        return 0


def _executor_pids() -> list[int]:
    """PIDs of the two real executor JVMs (children of the in-process
    local-cluster master's Workers)."""
    import subprocess

    out = subprocess.run(
        ["pgrep", "-f", "CoarseGrainedExecutorBackend"],
        capture_output=True,
        text=True,
    ).stdout.split()
    return [int(p) for p in out]


def _wait_executors(n: int, timeout: float = 90.0) -> list[int]:
    import time as _t

    deadline = _t.time() + timeout
    while _t.time() < deadline:
        pids = _executor_pids()
        if len(pids) >= n:
            return pids
    raise TimeoutError(f"cluster never reached {n} executors")


def run_chaos() -> int:
    """Executor-loss drill (VERDICT r9 #4). Three cases, three recovery
    classes:

    A) LINEAGE (recoverable): a 48-task shuffling aggregation loses one
       executor mid-stage — task retry + shuffle-fetch-failure stage
       retry must complete it with the exact correct total.
    B) localCheckpoint (NON-recoverable, by design): checkpoint blocks
       live only on executors; killing them must FAIL the consumer.
       This measures the documented caveat on agg_pareto_talkers and the
       pagerank rounds: a production job that must survive executor loss
       uses reliable checkpoints (or recomputes), accepting the extra
       I/O — localCheckpoint is the single-job fast path.
    C) STREAMING checkpoint (recoverable, exactly-once): an executor
       dies mid-drain with its RocksDB store open; the replacement
       executor reloads the store version from the checkpoint and the
       final totals still equal the batch aggregation.
    """
    import signal
    import threading
    import time as _t

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from storm_netmonitor_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    failures = []

    # ---- case A: lineage recovery of a batch aggregation ----------------
    pids = _wait_executors(2)
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    expected = ev.agg(F.sum("user_id").alias("s")).collect()[0]["s"]

    import pandas as pd  # noqa: F401 — pandas_udf import side

    @F.pandas_udf("long")
    def slow_ident(v):
        _t.sleep(0.12)  # stretch the stage so the kill lands mid-flight
        return v

    slow_total = (
        ev.repartition(48)
        .select(slow_ident(F.col("user_id")).alias("u"))
        .agg(F.sum("u").alias("s"))
    )
    result_box: dict = {}

    def run_query():
        try:
            result_box["value"] = slow_total.collect()[0]["s"]
        except Exception as exc:  # noqa: BLE001
            result_box["error"] = f"{type(exc).__name__}: {str(exc)[:200]}"

    th = threading.Thread(target=run_query)
    th.start()
    _t.sleep(1.5)  # ~48 tasks × 0.12 s on 4 cores ≈ 1.8 s+: mid-stage
    victim = pids[0]
    os.kill(victim, signal.SIGKILL)
    print(f"chaos A: killed executor pid {victim} mid-aggregation")
    th.join(timeout=180)
    if th.is_alive():
        failures.append("A: query hung after executor kill")
    elif "error" in result_box:
        failures.append(f"A: query failed: {result_box['error']}")
    elif result_box.get("value") != expected:
        failures.append(
            f"A: wrong total {result_box.get('value')} != {expected}"
        )
    else:
        print(f"OK chaos A: lineage recovery, exact total {expected}")

    # ---- case B: localCheckpoint blocks are NOT recoverable -------------
    _wait_executors(2)  # replacement executor registered
    lc = ev.groupBy("event_type").count().localCheckpoint()
    n_before = lc.count()  # materialize blocks on current executors
    for pid in _executor_pids():
        os.kill(pid, signal.SIGKILL)
    print("chaos B: killed ALL executors holding localCheckpoint blocks")
    _wait_executors(2)
    try:
        n_after = lc.count()
        failures.append(
            f"B: localCheckpoint consumer SUCCEEDED after block loss "
            f"({n_before}->{n_after}) — the documented caveat is stale"
        )
    except Exception as exc:  # noqa: BLE001
        print(
            "OK chaos B: localCheckpoint consumer failed as documented "
            f"({type(exc).__name__}) — production jobs needing "
            "executor-loss tolerance must use reliable checkpoints"
        )

    # ---- case C: streaming exactly-once across an executor kill ---------
    from storm_netmonitor_spark.streaming.stateful import _read_events_arrow

    prov = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    assert "RocksDB" in prov, f"expected the RocksDB provider, got {prov}"
    t = _read_events_arrow(SF)
    with scratch("nm_chaos_src_") as src, scratch("nm_chaos_ckpt_") as ckpt:
        step = (t.num_rows + 7) // 8
        for i in range(8):
            pq.write_table(
                t.slice(i * step, step), os.path.join(src, f"p{i}.parquet")
            )
        schema = spark.read.parquet(src).schema
        q1 = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("memory")
            .queryName("nm_chaos_p1")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = _t.time() + 90
            while _t.time() < deadline:
                p = q1.lastProgress
                if p is not None and p["batchId"] >= 2:
                    break
                _t.sleep(0.2)
            else:
                raise TimeoutError("chaos C: no committed batch before kill")
            victim = _executor_pids()[0]
            os.kill(victim, signal.SIGKILL)
            print(f"chaos C: killed executor pid {victim} mid-drain")
            killed_at = q1.lastProgress["batchId"]
            deadline = _t.time() + 120
            while _t.time() < deadline:
                p = q1.lastProgress
                if p is not None and p["batchId"] >= killed_at + 2:
                    break  # the stream advanced ON the replacement executor
                _t.sleep(0.2)
            else:
                raise TimeoutError("chaos C: stream never advanced after kill")
        except Exception as exc:  # noqa: BLE001
            failures.append(f"C: {type(exc).__name__}: {str(exc)[:200]}")
            q1.stop()
        else:
            q1.stop()
            q1.awaitTermination()
            # drain the remainder from the SAME checkpoint, then compare
            q2 = (
                spark.readStream.schema(schema)
                .parquet(src)
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .writeStream.format("memory")
                .queryName("nm_chaos_p2")
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q2.awaitTermination()
            got = {
                r["event_type"]: r["n"]
                for r in spark.table("nm_chaos_p2").collect()
            }
            want = {
                r["event_type"]: r["n"]
                for r in spark.read.parquet(src)
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            if got != want:
                failures.append(f"C: totals drifted got={got} want={want}")
            else:
                print(
                    "OK chaos C: exactly-once totals match batch across an "
                    "executor kill mid-drain"
                )

    print("CHAOS:", failures if failures else "all three classes as designed")
    return 1 if failures else 0


def run_chaos_serve() -> int:
    """Round-11 extension of the chaos drill: SIGKILL one executor JVM
    mid-``stream_ann_serve`` drain and assert the served top-k rows are
    IDENTICAL to the healthy run — the serving path composes the
    streaming-checkpoint recovery class (file-source replay + batch_id-
    keyed idempotent sink) with broadcast joins against the cached cell
    frame, so this pins the composition, not just the classes."""
    import signal
    import threading
    import time as _t

    from storm_netmonitor_spark.operators.extensions6 import stream_ann_serve
    from storm_netmonitor_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    _wait_executors(2)
    healthy = sorted(
        tuple(r) for r in stream_ann_serve(spark, SF).collect()
    )

    killed: dict = {}
    done = threading.Event()

    def kill_one() -> None:
        # the healthy run warmed every session memo, so the chaos drain
        # can be FAST — a fixed sleep could fire after it already
        # finished and the drill would pass without exercising anything.
        # Honesty gate: only kill while the drain's streaming query is
        # active AND its LAST committed batch is not the final one (the
        # staged stream is 2 files ⇒ batch ids 0 and 1), so the SIGKILL
        # provably lands with work still outstanding. `done` stops the
        # poll the moment the main thread returns — no deadline stall.
        deadline = _t.time() + 60.0
        while _t.time() < deadline and not done.is_set():
            qs = spark.streams.active
            if qs:
                try:
                    lp = qs[0].lastProgress
                except Exception:
                    lp = None
                last_batch = lp["batchId"] if lp else -1
                if last_batch < 1:
                    pids = _executor_pids()
                    if pids:
                        os.kill(pids[0], signal.SIGKILL)
                        killed["pid"] = pids[0]
                        killed["ts"] = _t.time()
                        killed["pre_final_batch"] = True
                        return
            _t.sleep(0.02)

    t = threading.Thread(target=kill_one, daemon=True)
    t.start()
    survived = sorted(
        tuple(r) for r in stream_ann_serve(spark, SF).collect()
    )
    done_ts = _t.time()
    done.set()
    t.join()
    if "pid" not in killed:
        print(
            "BAD chaos-serve: the drain finished before a pre-final-batch "
            "kill window opened — the failure path was never exercised"
        )
        return 1
    if not killed.get("pre_final_batch") or killed["ts"] >= done_ts:
        print(
            "BAD chaos-serve: the kill landed after the drain finished — "
            "the failure path was never exercised"
        )
        return 1
    if survived != healthy:
        print(
            f"BAD chaos-serve: served rows drifted after killing executor "
            f"{killed['pid']} ({len(survived)} vs {len(healthy)} rows)"
        )
        return 1
    print(
        f"OK chaos-serve: executor {killed['pid']} SIGKILLed while the "
        f"drain's streaming query was active ({done_ts - killed['ts']:.1f}s "
        f"before completion); served top-k identical to the healthy run "
        f"({len(healthy)} rows)"
    )
    return 0


def run_chaos_apply() -> int:
    """Round-14 extension of the chaos drill (VERDICT r13 #8): the
    orchestration APPLY sinks (``sink_backfill_apply``,
    ``sink_compaction_apply``) write REAL partitioned directories via
    the FileOutputCommitter fan-out — SIGKILL one executor JVM while a
    write job's ``_temporary`` directory exists (the committer's
    in-flight marker, so the kill provably lands with uncommitted task
    attempts outstanding) and assert the write discipline's idempotence
    claims hold through the loss:

    - the apply LEDGER is identical to the healthy run (task retry +
      stage retry re-execute the lost attempts; the committer only
      promotes committed attempts, so read-back counts cannot drift);
    - the one-file-per-bin identity survives (``LAST_COMPACTION_IO``
      max-files-per-bin stays 1 — a retried attempt whose orphaned
      files leaked past the commit would read 2);
    - the partition-minimality accounting (``LAST_BACKFILL_IO``) is
      unchanged — the apply rewrites the same work-list, not more.

    Honesty gate (the chaos-serve discipline): if no kill landed while
    a ``_temporary`` marker existed, the drill FAILS loudly rather
    than passing without exercising anything.
    """
    import glob
    import signal
    import threading
    import time as _t

    from storm_netmonitor_spark.operators import extensions13 as x13
    from storm_netmonitor_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    import tempfile as _tf

    failures = []
    cases = [
        # (op name, callable, IO box, temp-dir prefix of the apply's
        #  own output — the dir whose _temporary marker gates the kill)
        (
            "sink_compaction_apply",
            x13.sink_compaction_apply,
            x13.LAST_COMPACTION_IO,
            "nm_cpt_out_",
        ),
        (
            "sink_backfill_apply",
            x13.sink_backfill_apply,
            x13.LAST_BACKFILL_IO,
            "nm_bf_apply_",
        ),
    ]
    for op_name, fn, io_box, prefix in cases:
        _wait_executors(2)
        # healthy pass — also warms the session fixtures (the staged
        # hourly layout, the partitioned events layout), so the chaos
        # pass's wall is dominated by the write under test
        healthy = sorted(tuple(r) for r in fn(spark, SF).collect())
        healthy_io = list(io_box)

        pat = os.path.join(_tf.gettempdir(), prefix + "*")
        pre_dirs = set(glob.glob(pat))
        killed: dict = {}
        done = threading.Event()

        def kill_mid_write() -> None:
            # poll for a NEW apply output dir carrying an uncommitted
            # FileOutputCommitter ``_temporary`` job dir; kill while it
            # exists. 2 ms cadence — the write fans out over dozens of
            # partition dirs on 2×2 cores, a multi-second window.
            deadline = _t.time() + 60.0
            while _t.time() < deadline and not done.is_set():
                for d in glob.glob(pat):
                    if d in pre_dirs:
                        continue
                    if glob.glob(os.path.join(d, "*", "_temporary")):
                        pids = _executor_pids()
                        if pids:
                            os.kill(pids[0], signal.SIGKILL)
                            killed["pid"] = pids[0]
                            killed["ts"] = _t.time()
                            return
                _t.sleep(0.002)

        th = threading.Thread(target=kill_mid_write, daemon=True)
        th.start()
        try:
            survived = sorted(tuple(r) for r in fn(spark, SF).collect())
        except Exception as exc:  # noqa: BLE001
            done.set()
            th.join()
            failures.append(
                f"{op_name}: apply FAILED after executor kill "
                f"({type(exc).__name__}: {str(exc)[:160]})"
            )
            continue
        done_ts = _t.time()
        done.set()
        th.join()
        survived_io = list(io_box)

        if "pid" not in killed:
            failures.append(
                f"{op_name}: no kill landed while a _temporary marker "
                f"existed — the failure path was never exercised"
            )
            continue
        if killed["ts"] >= done_ts:
            failures.append(
                f"{op_name}: the kill landed after the apply returned — "
                f"the failure path was never exercised"
            )
            continue
        if survived != healthy:
            failures.append(
                f"{op_name}: ledger drifted after killing executor "
                f"{killed['pid']} ({len(survived)} vs {len(healthy)} rows)"
            )
            continue
        if survived_io != healthy_io:
            failures.append(
                f"{op_name}: I/O accounting drifted {survived_io} != "
                f"{healthy_io} after executor loss"
            )
            continue
        if op_name == "sink_compaction_apply" and survived_io[1] != 1:
            failures.append(
                f"{op_name}: one-file-per-bin identity broken after "
                f"executor loss (max files/bin = {survived_io[1]})"
            )
            continue
        print(
            f"OK chaos-apply {op_name}: executor {killed['pid']} "
            f"SIGKILLed with _temporary in flight "
            f"({done_ts - killed['ts']:.1f}s before the apply returned); "
            f"ledger identical ({len(healthy)} rows), IO {survived_io}"
        )

    print(
        "CHAOS-APPLY:",
        failures if failures else "both apply sinks idempotent under "
        "executor loss mid-write",
    )
    return 1 if failures else 0


if RECOVERY:
    sys.exit(run_recovery())
if CHAOS:
    sys.exit(run_chaos())
if CHAOS_SERVE:
    sys.exit(run_chaos_serve())
if CHAOS_APPLY:
    sys.exit(run_chaos_apply())

qd, od = m.queries(), m.oracle_sql()
if FULL:
    RUN = list(qd)
elif WINDOW is not None:
    RUN = list(qd)[WINDOW[0] : WINDOW[1]]
else:
    RUN = SLICE
t_all = time.time()
bad = []
for name in RUN:
    t0 = time.time()
    try:
        df = qd[name](spark, SF)
        cols = sorted(df.columns)
        rows = canon_rows(df.columns, df.collect())
    except Exception as exc:  # noqa: BLE001 — report and continue
        bad.append((name, f"SPARK {type(exc).__name__}: {str(exc)[:200]}"))
        continue
    if name not in od:
        if not rows:
            bad.append((name, "rows-only op returned 0 rows"))
        else:
            print(f"OK-rowsonly {name}: {len(rows)} rows "
                  f"{time.time() - t0:.1f}s", flush=True)
        continue
    try:
        cur = con.execute(od[name])
        ocols = [d[0] for d in cur.description]
        ora = canon_rows(ocols, cur.fetchall())
    except Exception as exc:  # noqa: BLE001
        bad.append((name, f"ORACLE {type(exc).__name__}: {str(exc)[:200]}"))
        continue
    if sorted(ocols) != cols:
        bad.append((name, f"cols spark={cols} oracle={sorted(ocols)}"))
    elif rows != ora:
        diff = [(a, b) for a, b in zip(rows, ora) if a != b][:1]
        bad.append(
            (name, f"values differ rows={len(rows)}/{len(ora)} first={diff}")
        )
    else:
        print(f"OK {name}: {len(rows)} rows {time.time() - t0:.1f}s",
              flush=True)
print(f"TOTAL {time.time() - t_all:.1f}s slice={len(RUN)}")
print("BAD:", bad if bad else "none")
sys.exit(1 if bad else 0)
