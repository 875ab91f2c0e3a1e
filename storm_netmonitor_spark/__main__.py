"""Command-line entry point: run any registered operator from a shell.

Usage:
    python -m storm_netmonitor_spark list [substring]
    python -m storm_netmonitor_spark run <query_id> [--sf-dir DIR] [--limit N]
    python -m storm_netmonitor_spark run <query_id> [--sf-dir DIR] --profile
    python -m storm_netmonitor_spark explain <query_id> [--sf-dir DIR]
    python -m storm_netmonitor_spark prune-artifacts [--max-age-days N]

The reference tool is operated from a shell; this is the equivalent
surface here — every SURVEY §2 operator is invocable by id against any
testdata directory, printing results (or the physical plan) to stdout.

``run --profile`` makes one warm call, then prints one JSON line per
timed call (``PROFILE_CALLS``): the wall and its plan-build part, the
Spark jobs the calling thread started while building the frame and while
collecting it, and each drain's ``streaming.core.DrainRecord`` with the
jobs of its ``runId`` group (its stream-execution thread). Each call then
collects its frame once more (``recollect``): ``bench.py`` times a batch
op that way, one built frame re-collected after a warm collect; an op
whose work runs inside the call (its ``RERUN_FULL`` set) re-collects a
finished result. Last comes the median of both walls.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import statistics
import sys
import time

#: Timed calls of ``run --profile``, after one warm call.
PROFILE_CALLS = 3


def _profile(spark, query_id: str, sf_dir: str) -> None:
    """``run --profile`` (module docstring)."""
    from .registry import QUERIES
    from .streaming.core import DRAINS

    fn, sc = QUERIES[query_id], spark.sparkContext
    jobs = sc.statusTracker().getJobIdsForGroup
    fn(spark, sf_dir).collect()  # warm: JIT, artifacts, memoized plans
    walls, rewalls = [], []
    for i in range(PROFILE_CALLS):
        seen = DRAINS[-1].seq if DRAINS else 0
        groups = {k: f"nm-profile-{i}-{k}" for k in ("build", "collect", "recollect")}
        try:
            sc.setJobGroup(groups["build"], query_id)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(groups["collect"], query_id)
            df.collect()
            walls.append(time.perf_counter() - t0)
            sc.setJobGroup(groups["recollect"], query_id)
            t2 = time.perf_counter()
            df.collect()
            rewalls.append(time.perf_counter() - t2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        drains = [
            dict(dataclasses.asdict(r), jobs=len(jobs(r.run_id)))
            for r in DRAINS
            if r.seq > seen
        ]
        print(json.dumps({
            "query": query_id, "call": i, "wall_s": round(walls[-1], 4),
            "build_s": round(t1 - t0, 4), "recollect_s": round(rewalls[-1], 4),
            "jobs": {k: len(jobs(g)) for k, g in groups.items()},
            "drains": drains,
        }), flush=True)
    print(json.dumps({
        "query": query_id, "median_wall_s": round(statistics.median(walls), 4),
        "median_recollect_s": round(statistics.median(rewalls), 4),
    }))


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="storm_netmonitor_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered operator ids")
    p_list.add_argument("substring", nargs="?", default="")

    for name in ("run", "explain"):
        p = sub.add_parser(name)
        p.add_argument("query_id")
        p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
        if name == "run":
            p.add_argument("--limit", type=int, default=20)
            p.add_argument("--profile", action="store_true",
                           help="print timed calls and drain records as JSON")

    p_prune = sub.add_parser(
        "prune-artifacts",
        help="drop trained-artifact store entries older than --max-age-days",
    )
    p_prune.add_argument("--max-age-days", type=float, default=14.0)

    args = parser.parse_args(argv)

    if args.cmd == "prune-artifacts":
        from .io import artifact_root, prune_artifacts

        n = prune_artifacts(max_age_days=args.max_age_days)
        print(f"pruned {n} entr{'y' if n == 1 else 'ies'} from {artifact_root()}")
        return 0

    from . import registry

    registry.load_all()

    if args.cmd == "list":
        for qid in sorted(registry.QUERIES):
            if args.substring in qid:
                kind = "hash" if qid in registry.ORACLES else "rows"
                print(f"{qid}\t{kind}")
        return 0

    if args.query_id not in registry.QUERIES:
        print(f"unknown query id: {args.query_id}", file=sys.stderr)
        return 2

    from .session import get_spark

    spark = get_spark(app_name=f"nm-cli-{args.cmd}")
    try:
        if args.cmd == "run" and args.profile:
            _profile(spark, args.query_id, args.sf_dir)
            return 0
        df = registry.QUERIES[args.query_id](spark, args.sf_dir)
        if args.cmd == "explain":
            df.explain("formatted")
        else:
            df.show(args.limit, truncate=False)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
