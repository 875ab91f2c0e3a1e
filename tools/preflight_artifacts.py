#!/usr/bin/env python
"""Artifact-store cold-path preflight (VERDICT r10 #7).

The store's value claim is FRESH-PROCESS reads: a production scheduler
runs one process per job, so the train must happen exactly once and every
later process must read, never re-train. This tool proves that claim
end-to-end with real process boundaries:

1. point ``NM_ARTIFACT_DIR`` at a CLEARED scratch directory;
2. process A runs the whole artifact-backed operator family at sf0.01
   (vanilla SparkSession) — every trained model trains and publishes;
3. process B (a genuinely fresh interpreter + JVM) re-runs the same
   family;
4. assert (a) B produced byte-identical canonical results to A, and
   (b) B re-published NOTHING — every store entry's inode is unchanged
   (a re-train would atomic-rename a fresh inode onto the path; a read
   merely refreshes mtime, which is why mtime cannot be the signal).

Exit 0 = the family is cold-path clean. Any re-publish, result drift, or
op failure exits 1 with the offending names.

Usage:
    python tools/preflight_artifacts.py [SF_DIR]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from storm_netmonitor_spark.io import scratch  # noqa: E402

#: Every registered operator that persists a trained model through the
#: cross-process store (see docs/SCALING.md, artifact family tables).
FAMILY = (
    "vec_ann_ivf",  # ivf_cents
    "vec_semantic_dedup",  # semdedup centroids
    "text_ngram_jaccard",  # verified jaccard pair list
    "text_near_dedup_minhash",  # verified minhash pair list
    "text_dedup_components",  # composes on the jaccard pair artifact
    "graph_pagerank_links",  # staged graph dir (edges/deg/meta)
    "text_ppl_buckets",  # scored frame
    "graph_knn_triangles",  # kNN edge frame
    "text_minhash_index_merge",  # standing band index (r11)
    "multimodal_joined_dedup",  # union edge frame (r11)
    "stream_ann_serve",  # ivf_cents + ivf_cells routing (r11)
    "vec_ivf_index_insert",  # base-trained centroids (r11 §2.X)
    "vec_index_drift",  # base-trained centroids, shared key (r11 §2.X)
    "stream_minhash_index_merge",  # standing band index, shared key (r11 §2.X)
    "dedup_components_merge",  # standing CC labeling + band index (r11 §2.Y)
    "stream_index_drift",  # base census json, shared cents key (r11 §2.Y)
    "dedup_components_retract",  # full-corpus CC labeling (r11 §2.AA)
    "vec_ivf_cell_retrain",  # composes on the base-trained cents (r11 §2.AA)
    "text_filter_agreement",  # gopher_flags + ppl_scores tables (r11 §2.Z)
)

_CHILD = r"""
import hashlib, json, os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as m

out = {{}}
for name in {family!r}:
    df = m.queries()[name](spark, {sf_dir!r})
    cols = sorted(df.columns)
    rows = sorted(
        tuple(str(r[c]) for c in cols) for r in df.collect()
    )
    h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    out[name] = {{"rows": len(rows), "hash": h}}
print("CHILD_RESULT " + json.dumps(out))
"""


def _inode_map(root: str) -> dict[str, int]:
    return {name: os.stat(os.path.join(root, name)).st_ino for name in os.listdir(root)}


def _run_child(store: str, sf_dir: str, label: str) -> dict:
    script = _CHILD.format(repo=REPO, family=list(FAMILY), sf_dir=sf_dir)
    env = dict(os.environ, NM_ARTIFACT_DIR=store)
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    wall = time.perf_counter() - t0
    for line in proc.stdout.splitlines():
        if line.startswith("CHILD_RESULT "):
            print(f"{label}: ok in {wall:.1f}s")
            return json.loads(line[len("CHILD_RESULT "):])
    print(f"{label}: FAILED in {wall:.1f}s", file=sys.stderr)
    print(proc.stdout[-2000:], file=sys.stderr)
    print(proc.stderr[-4000:], file=sys.stderr)
    raise SystemExit(1)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    with scratch("nm_preflight_artifacts_") as store:
        a = _run_child(store, sf_dir, "process A (cold: train+publish)")
        inodes_after_a = _inode_map(store)
        print(f"store after A: {len(inodes_after_a)} entries")
        tmp_left = [n for n in inodes_after_a if ".tmp." in n]
        b = _run_child(store, sf_dir, "process B (fresh: must only read)")
        inodes_after_b = _inode_map(store)

        bad: list[str] = []
        if tmp_left:
            bad.append(f"staging leftovers after A: {tmp_left}")
        for name in FAMILY:
            if a[name] != b[name]:
                bad.append(f"{name}: A={a[name]} B={b[name]} (result drift)")
        republished = sorted(
            n
            for n in inodes_after_a
            if inodes_after_b.get(n) != inodes_after_a[n]
        )
        created = sorted(set(inodes_after_b) - set(inodes_after_a))
        if republished:
            bad.append(f"re-published by B (inode changed): {republished}")
        if created:
            bad.append(f"new entries created by B (re-train): {created}")
        if bad:
            print("BAD:", *bad, sep="\n  ", file=sys.stderr)
            return 1
        print(
            f"OK: {len(FAMILY)} artifact-family ops identical across "
            f"processes; {len(inodes_after_a)} store entries, zero "
            "re-publishes, zero re-trains, zero staging leftovers"
        )
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
