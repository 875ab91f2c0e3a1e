"""The measured process: sets the engine up, runs whole rotations of one
workload's ops closed-loop, checks every result against its DuckDB oracle
and writes the metrics as JSON.

``run.py`` starts it with the repository root on ``PYTHONPATH`` (Spark's
``local[N]`` Python workers import the engine from there) and hands it the
generated input directory; it is not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback

from spans import ProgressListener, Tracer
from workloads import WORKLOADS

SHM = "/dev/shm"

#: Progress ``durationMs`` parts summed per drain, by per-layer metric name.
DURATION_PARTS = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.get_batch_ms": "getBatch",
}


def ckpt_dirs() -> set[str]:
    """The engine's throwaway checkpoint dirs (it puts them on tmpfs)."""
    try:
        return {n for n in os.listdir(SHM) if n.startswith("nm_ckpt_")}
    except OSError:
        return set()


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.tracer = Tracer()
        self.calls: list[dict] = []
        self.expected: dict[str, tuple] = {}
        self.warm_rows: dict[str, tuple | None] = {}
        self.warm_ok = True

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        t = self.tracer
        with t.span("setup") as setup:
            setup["start"] = self.args.t0  # from process start
            with t.span("registry.load", setup):
                from storm_netmonitor_spark import registry

                registry.load_all()
            with t.span("session.start", setup):
                from storm_netmonitor_spark import session

                spark = session.get_spark(app_name="perfbench")
                spark.sparkContext.setLogLevel("ERROR")
                session.quiet_expected_warnings(spark)
            with t.span("setup.warm_pass", setup):
                for op in self.wl.ops:
                    try:
                        _, _, cols, rows = self.invoke(registry.QUERIES[op], spark)
                        self.warm_rows[op] = (cols, rows)
                    except Exception:
                        traceback.print_exc()
                        self.warm_rows[op] = None
        self.registry, self.spark = registry, spark
        self.setup_span = setup

    def invoke(self, fn, spark):
        a = time.perf_counter()
        df = fn(spark, self.args.data_dir)
        b = time.perf_counter()
        rows = df.collect()
        c = time.perf_counter()
        return b - a, c - b, [f.name for f in df.schema.fields], rows

    def load_oracles(self) -> None:
        import duckdb
        from tests.parity import canon_rows

        self.canon_rows = canon_rows
        events = os.path.join(self.args.data_dir, "events.parquet")
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
            for op in self.wl.ops:
                cur = con.execute(self.registry.resolve_oracle(op, self.args.data_dir))
                cols = [d[0] for d in cur.description]
                self.expected[op] = (sorted(cols), canon_rows(cols, cur.fetchall()))
        finally:
            con.close()

    def matches(self, op: str, cols, rows) -> bool:
        return (sorted(cols), self.canon_rows(cols, rows)) == self.expected[op]

    # -- timed loop ------------------------------------------------------
    def run(self) -> None:
        """Whole rotations, one call at a time, after the workload's untimed
        warm rotations (their rows are checked too). A traced run makes half as
        many rotations and calls every op twice per rotation, once with
        tracing and once without, alternating which goes first."""
        ops = self.wl.ops
        n_rot = self.wl.rotations(self.args.seconds)
        for _ in range(self.wl.warm_rotations):
            for op in ops:
                self.warm_ok &= self.plain_call(op)["ok"]
        if not self.args.trace:
            for _ in range(n_rot):
                for op in ops:
                    self.calls.append(self.plain_call(op))
            return
        from storm_netmonitor_spark import io as nm_io

        self.nm_io = nm_io
        listener = ProgressListener()
        i = 0
        for r in range(max(1, n_rot // 2)):
            for j, op in enumerate(ops):
                for traced in (False, True) if (r + j) % 2 == 0 else (True, False):
                    if traced:
                        self.spark.streams.addListener(listener)
                        self.calls.append(self.traced_call(i, op))
                        self.spark.streams.removeListener(listener)
                    else:
                        self.calls.append(self.plain_call(op))
                    i += 1
        self.attach_progress(listener.settle())

    def plain_call(self, op: str) -> dict:
        rec = {"op": op, "traced": False}
        try:
            build, collect, cols, rows = self.invoke(self.registry.QUERIES[op], self.spark)
            rec.update(lat=build + collect, ok=self.matches(op, cols, rows))
        except Exception:
            traceback.print_exc()
            rec.update(lat=None, ok=False)
        return rec

    def traced_call(self, i: int, op: str) -> dict:
        t, sc, nm_io = self.tracer, self.spark.sparkContext, self.nm_io
        group = f"perfbench-{i}"
        rec = {"op": op, "traced": True, "group": group}
        memo0 = len(nm_io._SESSION_MEMO)
        arts0 = len(os.listdir(nm_io.artifact_root()))
        sc.setJobGroup(group, op)
        try:
            with t.span("call", op=op, i=i) as call:
                rec["span"] = call
                fn = self.registry.QUERIES[op]
                with t.span("drain" if self.wl.streaming else "build", call) as s1:
                    rec["inner"] = s1
                    df = fn(self.spark, self.args.data_dir)
                with t.span("collect", call) as s2:
                    rows = df.collect()
                with t.span("check", call):
                    ok = self.matches(op, [f.name for f in df.schema.fields], rows)
            rec.update(
                ok=ok,
                lat=s2["end"] - s1["start"],
                first=s1["end"] - s1["start"],
                collect=s2["end"] - s2["start"],
            )
        except Exception:
            traceback.print_exc()
            rec.update(lat=None, ok=False)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        rec["memo_growth"] = len(nm_io._SESSION_MEMO) - memo0
        rec["artifacts"] = len(os.listdir(nm_io.artifact_root())) - arts0
        return rec

    def attach_progress(self, reports: list[dict]) -> None:
        """Hang each micro-batch report under the drain of the traced call
        whose span holds its trigger start."""
        traced = [c for c in self.calls if c.get("span")]
        for c in traced:
            c["progress"] = []
        for r in reports:
            for c in traced:
                s = c["span"]
                if s["start"] <= r["_start"] <= s["end"]:
                    c["progress"].append(r)
                    d = r.get("durationMs", {})
                    self.tracer.add(
                        "microbatch", c["inner"], r["_start"],
                        r["_start"] + d.get("triggerExecution", 0) / 1000.0,
                        batch=r.get("batchId"), rows=r.get("numInputRows"),
                        duration_ms=d,
                    )
                    break

    # -- metrics ---------------------------------------------------------
    def end_to_end(self, setup_s: float) -> dict:
        lats = [c["lat"] for c in self.calls if c["lat"] is not None]
        heap_mb = self.retained_heap_mb()
        n_ok = sum(c["ok"] for c in self.calls)
        return {
            "setup_s": (setup_s, "s"),
            "events_per_s": (self.wl.n_events * len(lats) / sum(lats), "events/s"),
            "op_p50_s": (statistics.median(lats), "s"),
            "op_p90_s": (p90(lats), "s"),
            "retained_heap_mb": (heap_mb, "MB"),
            "ok_frac": (n_ok / len(self.calls), "ratio"),
        }

    def retained_heap_mb(self) -> float:
        gc.collect()  # drop Python-side handles so the JVM can free them
        jvm = self.spark.sparkContext._jvm
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = []
        # a single full GC can leave garbage a concurrent cycle still holds;
        # the least of three readings is what survives collection
        for _ in range(3):
            jvm.java.lang.System.gc()
            used.append(bean.getHeapMemoryUsage().getUsed())
        return min(used) / 2**20

    def per_layer(self, ckpt_before: set[str]) -> dict:
        spans = {s["name"]: s for s in self.tracer.spans if s["parent"] == self.setup_span["id"]}
        dur = {k: s["end"] - s["start"] for k, s in spans.items()}
        traced = [c for c in self.calls if c["traced"] and c["lat"] is not None]
        stream = traced if self.wl.streaming else []
        batch = [] if self.wl.streaming else traced
        st = self.spark.sparkContext.statusTracker()

        def job_counts(c) -> tuple[int, int, int]:
            groups = [c["group"]] + sorted({r["runId"] for r in c.get("progress", [])})
            jobs = stages = tasks = 0
            for g in groups:
                for j in st.getJobIdsForGroup(g):
                    jobs += 1
                    info = st.getJobInfo(j)
                    for sid in info.stageIds if info else ():
                        stages += 1
                        sinfo = st.getStageInfo(sid)
                        tasks += sinfo.numTasks if sinfo else 0
            return jobs, stages, tasks

        counts = [job_counts(c) for c in traced]
        m = {
            "registry.load_s": (dur["registry.load"], "s"),
            "session.start_s": (dur["session.start"], "s"),
            "setup.warm_pass_s": (dur["setup.warm_pass"], "s"),
            "operators.build_s": (mean(c["first"] for c in batch), "s"),
            "operators.exec_s": (mean(c["collect"] for c in batch), "s"),
            "operators.jobs_per_call": (mean(x[0] for x in counts), "count"),
            "operators.stages_per_call": (mean(x[1] for x in counts), "count"),
            "operators.tasks_per_call": (mean(x[2] for x in counts), "count"),
            "io.memo_growth_per_call": (mean(c["memo_growth"] for c in traced), "count"),
            "io.artifact_trainings": (sum(c["artifacts"] for c in traced), "count"),
            "streaming.drain_s": (mean(c["first"] for c in stream), "s"),
            "streaming.collect_s": (mean(c["collect"] for c in stream), "s"),
            "streaming.batches_per_drain": (mean(len(c["progress"]) for c in stream), "count"),
        }
        for name, part in DURATION_PARTS.items():
            m[name] = (
                mean(sum(r["durationMs"].get(part, 0) for r in c["progress"]) for c in stream),
                "ms",
            )
        m["streaming.outside_trigger_ms"] = (
            mean(
                c["first"] * 1000.0
                - sum(r["durationMs"].get("triggerExecution", 0) for r in c["progress"])
                for c in stream
            ),
            "ms",
        )

        def state(c, key):
            return [sum(o.get(key, 0) for o in r.get("stateOperators", [])) for r in c["progress"]]

        m["streaming.state_rows_total"] = (
            mean((state(c, "numRowsTotal") or [0])[-1] for c in stream), "count")
        m["streaming.state_memory_mb"] = (
            mean(max(state(c, "memoryUsedBytes") or [0]) / 2**20 for c in stream), "MB")
        m["streaming.state_commit_ms"] = (
            mean(sum(state(c, "commitTimeMs")) for c in stream), "ms")
        sinks = [t for t in self.spark.catalog.listTables() if t.name.startswith("nm_mem_")]
        live = ckpt_dirs() - ckpt_before
        m["streaming.sink_tables_live"] = (len(sinks), "count")
        m["streaming.ckpt_dirs_live"] = (len(live), "count")
        m["streaming.ckpt_mb_live"] = (
            sum(tree_bytes(os.path.join(SHM, d)) for d in live) / 2**20, "MB")
        m["trace.overhead_frac"] = (self.trace_overhead(), "ratio")
        return m

    def trace_overhead(self) -> float:
        """(untraced − traced) events/s ÷ untraced, over the ops that have
        calls both ways. events/s is inversely proportional to the summed
        per-op mean latency, so the ratio is 1 − untraced ÷ traced."""
        by = {}
        for c in self.calls:
            if c["lat"] is not None:
                by.setdefault((c["op"], c["traced"]), []).append(c["lat"])
        both = [op for op in self.wl.ops if (op, True) in by and (op, False) in by]
        if not both:
            return 0.0
        plain = sum(mean(by[(op, False)]) for op in both)
        traced = sum(mean(by[(op, True)]) for op in both)
        return 1 - plain / traced


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True, help="wall time the process was spawned")
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()

    ckpt_before = ckpt_dirs()
    b = Bench(args)
    b.setup()
    setup_s = time.time() - args.t0
    b.load_oracles()
    warm_ok = all(
        w is not None and b.matches(op, *w) for op, w in b.warm_rows.items()
    )
    b.warm_rows.clear()
    b.run()
    for op in b.wl.ops:
        lats = [f"{c['lat']:.3f}" for c in b.calls if c["op"] == op and c["lat"] is not None]
        print(f"perfbench {op}: {' '.join(lats)}", file=sys.stderr)
    metrics = b.per_layer(ckpt_before) if args.trace else b.end_to_end(setup_s)
    failed = sum(not c["ok"] for c in b.calls)
    result = {
        "correct": warm_ok and b.warm_ok and failed == 0,
        "attempted": len(b.calls),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if args.trace:
        b.tracer.write(args.spans)
    b.spark.stop()
    with open(args.result, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    sys.exit(main())
