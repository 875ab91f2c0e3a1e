"""Benchmark of the netmonitor engine: one closed-loop workload per call.

    python3 perfbench/run.py --workload stream_core --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the workload's seeded
``events.parquet``, starts the measured process (``worker.py``) with the
repository root on ``PYTHONPATH`` and every scratch directory inside
``.perfbench_work/``, removes what that process left behind, and prints
the metrics: a readable summary, then one JSON object as the last line.
``--trace 1`` prints the per-layer metrics instead of the end-to-end ones
and writes the run's spans to ``.perfbench_work/traces/``. See
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gen import write_events  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SHM = "/dev/shm"
#: The measured process must be done well inside the 180 s a run may take.
CHILD_TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def shm_entries() -> set[str]:
    try:
        return {n for n in os.listdir(SHM) if n.startswith("nm_")}
    except OSError:
        return set()


def become_subreaper() -> None:
    """Adopt the measured process's orphans (Spark's JVM and its Python
    workers) so they can be reaped here once the process exits."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """Terminate whatever is left in the measured process's group and wait
    until every member has ended (SIGKILL after ``grace_s``; give up on
    members still listed after twice that, which can only be zombies
    another parent has yet to reap)."""
    sig = signal.SIGTERM
    deadline = time.time() + grace_s
    while time.time() < deadline + grace_s:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)


def child_env(run_dir: str, work: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark")
    artifacts = os.path.join(work, "artifacts")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.makedirs(artifacts, mode=0o700, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        NM_ARTIFACT_DIR=artifacts,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONWARNINGS="ignore::FutureWarning",
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false"
        + " --driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        + " pyspark-shell",
    )
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description="netmonitor engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "storm_netmonitor_spark", "registry.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    tag = f"{wl.name}-s{args.seed}-t{args.trace}"
    data_dir = os.path.join(work, "data", tag)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    result_path = os.path.join(run_dir, "result.json")
    spans_dir = os.path.join(work, "traces")
    os.makedirs(spans_dir, exist_ok=True)
    write_events(data_dir, args.seed, wl.n_events, wl.n_users, wl.zipf_s)

    become_subreaper()
    shm_before = shm_entries()
    env = child_env(run_dir, work)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", wl.name, "--data-dir", data_dir,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--result", result_path,
        "--spans", os.path.join(spans_dir, f"{tag}.json"),
    ]
    t0 = time.time()
    proc = subprocess.Popen(
        cmd + ["--t0", repr(t0)], cwd=run_dir, env=env,
        stdout=sys.stderr, start_new_session=True,
    )
    result = code = None
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
        if code == 0:
            with open(result_path) as fh:
                result = json.load(fh)
    except subprocess.TimeoutExpired:
        print(f"measured process exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
    finally:
        stop_group(proc.pid)
        proc.wait()
        for name in shm_entries() - shm_before:
            shutil.rmtree(os.path.join(SHM, name), ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(data_dir, ignore_errors=True)
    if result is None:
        print(f"measured process failed (exit {code})", file=sys.stderr)
        return 1

    for name, m in result["metrics"].items():
        print(f"{wl.name:12s} {name:34s} {m['value']:14.6g} {m['unit']}")
    if not args.trace:
        frac = result["failed"] / result["attempted"]
        print(f"{wl.name:12s} {'failed_frac':34s} {frac:14.6g} ratio")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
