"""Round-11 operators, fifth batch — §2.AA, REGISTERED (registry 294 → 297).

Staged first (plain callables + oracle builders, the §2.W–§2.Z staging
discipline applied forward), these three passed BOTH halves of the
registration gate before the registering commit — vanilla-session DuckDB
hash parity in ``tests/test_extensions10_staged.py`` (12/12, including
the partition-minimality, retraction-equivalence, and spliced-Lloyd
identity tests) and ``tools/preflight_local_cluster`` (its since-deleted
staged mode) under real executor JVMs — so the continued round-11
session registers them with the standard ``@query`` decorator.

Capability anchor: SURVEY §2.AA — the RETRACTION & REPAIR triple,
closing the lifecycle arc (build → serve → maintain → monitor →
evaluate → **repair**): what a pipeline DOES when retention policy,
takedown requests, or the monitoring/evaluation layer fire:

- ``sink_targeted_delete`` — retention + tombstone hard-delete over the
  date-partitioned events layout with PARTITION-MINIMAL I/O: expired
  partitions drop by omission (metadata-only), tombstoned users rewrite
  only the partitions inside the active window, everything newer is
  never read or written;
- ``dedup_components_retract`` — duplicate-component labels after the
  DELTA DOCS LEAVE the corpus (the deletion direction of the §2.Y
  fold): components untouched by the retraction keep their labels
  verbatim, only components that lost a member re-resolve — over their
  own surviving pair subgraph, never the full historical pair set;
- ``vec_ivf_cell_retrain`` — partial index repair: cells the §2.X
  drift monitor flags re-center on their CURRENT population (one
  spherical recenter step over members of drifted cells only), stable
  cells keep their trained centroids byte-identical; emitted per cell
  as the decimal displacement + population census.

All three ACT on decisions existing audited machinery makes (partition
pruning, the banded pair index + min-label components, the drift
census) — the new surface is the repair action, not new decision
arithmetic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import load_table, scatter, scratch, session_memo
from ..registry import query

# ---------------------------------------------------------------------------
# sink_targeted_delete — retention + tombstones with partition-minimal I/O
# ---------------------------------------------------------------------------

#: Retention cutoff: partitions strictly before this date are EXPIRED —
#: they drop by omission (a metadata operation, zero data I/O).
_DEL_DROP_BEFORE = "2024-01-08"
#: Active rewrite window end: partitions in [drop_before, window_end)
#: contain tombstoned rows and are REWRITTEN; partitions at or after
#: this date are untouched (never read, never written).
_DEL_WINDOW_END = "2024-01-16"
#: Tombstone set: users with user_id % mod == 0 (the deterministic
#: takedown list — non-empty at every testdata SF).
_DEL_TOMB_MOD = 100

#: I/O accounting of the most recent run: (partitions_written,
#: partitions_total) — the partition-minimality claim, asserted by the
#: staged tests against the actual output directory listing.
LAST_DELETE_IO: list[int] = []


def sink_targeted_delete_oracle() -> str:
    return f"""
WITH base AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date,
         user_id
  FROM events
), per AS (
  SELECT event_date,
         COUNT(*) AS n_before,
         COUNT(*) FILTER (WHERE user_id % {_DEL_TOMB_MOD} <> 0) AS n_kept
  FROM base GROUP BY event_date
)
SELECT event_date,
       CASE WHEN event_date < '{_DEL_DROP_BEFORE}' THEN 'dropped'
            WHEN event_date < '{_DEL_WINDOW_END}' THEN 'rewritten'
            ELSE 'untouched' END AS action,
       CAST(n_before AS BIGINT) AS n_before,
       CAST(CASE WHEN event_date < '{_DEL_DROP_BEFORE}' THEN 0
                 WHEN event_date < '{_DEL_WINDOW_END}' THEN n_kept
                 ELSE n_before END AS BIGINT) AS n_after
FROM per
"""


@query("sink_targeted_delete", oracle=sink_targeted_delete_oracle())
def sink_targeted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted hard-delete over the date-partitioned events layout
    (SURVEY §2.AA): retention expiry plus a tombstoned-user takedown,
    executed with PARTITION-MINIMAL I/O — the shape a 100 TB GDPR /
    retention job must have. Three partition classes:

    - ``dropped``  (date < {_DEL_DROP_BEFORE}): expired — removed by
      OMISSION from the surviving table, a metadata operation; the
      REWRITE never reads them;
    - ``rewritten`` ([{_DEL_DROP_BEFORE}, {_DEL_WINDOW_END})): contain
      tombstoned rows (user_id % {_DEL_TOMB_MOD} == 0) — ONLY these are
      read, filtered, and written back (the partition filter is pushed
      to the scan, asserted by the staged plan test);
    - ``untouched`` (date ≥ {_DEL_WINDOW_END}): the rewrite neither
      reads nor writes them — at scale this is almost the whole table.

    Scope of the minimality claim (ADVICE r11): partition-minimal I/O
    is a property of the REWRITE path only. The emitted LEDGER
    (``n_before`` per partition, and the partition total in
    ``LAST_DELETE_IO``) is a census over every partition — column-
    pruned to the partition column and ``user_id``, but still a full-
    table scan. A compliance job that already tracks per-partition row
    counts in a manifest would derive the ledger from metadata
    (directory listing + parquet footer ``num_rows``) and skip that
    scan; here the census is computed from data because the ledger IS
    part of the op's verified output.

    The rewrite REALLY happens (filtered window written date-partitioned
    to a fresh directory; ``n_after`` for rewritten partitions is read
    back from the written files), and ``LAST_DELETE_IO`` records
    (partitions written, partitions total) for the minimality identity.
    The report is the per-partition delete ledger — the auditable
    artifact a compliance job emits."""
    import pyarrow.parquet as pq

    from ..io import tiny_local_frame
    from .scans import partitioned_events_frame, partitioned_events_path

    src = partitioned_events_path(spark, sf_dir)
    back = partitioned_events_frame(spark, sf_dir)

    def _footer_counts(layout: str) -> dict[str, int]:
        # per-date row counts from the date-partitioned layout's parquet
        # FOOTERS — O(partitions) driver-side metadata reads (r14: both
        # the before census and the read-back census compiled to
        # ReadSchema struct<> scans + a shuffle each, fixed distributed
        # cost for a calendar-bounded ledger; partition dirs ARE the
        # dates, footer num_rows IS the written count)
        out: dict[str, int] = {}
        for entry in sorted(os.listdir(layout)):
            if not entry.startswith("event_date="):
                continue
            d = os.path.join(layout, entry)
            out[entry.split("=", 1)[1]] = sum(
                pq.read_metadata(os.path.join(d, f)).num_rows
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
        return out

    before = _footer_counts(src)

    # the rewrite: ONLY the active window is read (partition-pruned
    # scan) and only its kept rows are written back, re-partitioned by
    # date so the output keeps the layout
    window = back.filter(
        (F.col("event_date") >= F.lit(_DEL_DROP_BEFORE))
        & (F.col("event_date") < F.lit(_DEL_WINDOW_END))
    )
    kept = window.filter(F.col("user_id") % _DEL_TOMB_MOD != 0)
    with scratch("nm_tdel_") as out:
        (
            kept.repartition("event_date")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(out)
        )
        after_rw = _footer_counts(out)
    LAST_DELETE_IO.clear()
    LAST_DELETE_IO.extend((len(after_rw), len(before)))
    # the per-partition ledger in driver-side python — string date
    # comparison is lexicographic == chronological for yyyy-MM-dd, the
    # same decision the Spark CASE expressions made
    rows = []
    for date in sorted(before):
        nb = before[date]
        if date < _DEL_DROP_BEFORE:
            action, na = "dropped", 0
        elif date < _DEL_WINDOW_END:
            action, na = "rewritten", after_rw.get(date, 0)
        else:
            action, na = "untouched", nb
        rows.append((date, action, nb, na))
    return tiny_local_frame(
        spark,
        rows,
        "event_date string, action string, n_before bigint, n_after bigint",
    )

# ---------------------------------------------------------------------------
# dedup_components_retract — label maintenance under deletions
# ---------------------------------------------------------------------------

#: Retraction fold record of the most recent run: (affected components,
#: pass-through labels, fold edges) — the incrementality claim: the
#: re-resolution touches ONLY components that lost a member, asserted by
#: the staged tests.
LAST_RETRACT_STATS: list[int] = []


def dedup_components_retract_oracle() -> str:
    from .extensions6 import _MERGE_SPLIT_DEN, _MERGE_SPLIT_NUM
    from .extensions8 import _PAIR_CTES

    return f"""
WITH RECURSIVE split AS (
  SELECT (MAX(doc_id) + 1) * {_MERGE_SPLIT_NUM} // {_MERGE_SPLIT_DEN} AS v
  FROM documents
), {_PAIR_CTES}, surv AS (
  SELECT doc_a AS s, doc_b AS d FROM sim
  WHERE doc_a < (SELECT v FROM split) AND doc_b < (SELECT v FROM split)
  UNION ALL
  SELECT doc_b, doc_a FROM sim
  WHERE doc_a < (SELECT v FROM split) AND doc_b < (SELECT v FROM split)
), reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  WHERE doc_id < (SELECT v FROM split)
  UNION
  SELECT b.d, r.lbl FROM reach r JOIN surv b ON b.s = r.node
)
SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS component
FROM reach GROUP BY node
"""


@query("dedup_components_retract", oracle=dedup_components_retract_oracle())
def dedup_components_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental component maintenance under DELETIONS (SURVEY §2.AA):
    the delta docs (doc_id ≥ split) leave the corpus; return the updated
    ``(doc_id, component)`` labeling of the SURVIVORS (component = min
    reachable doc_id among survivors — the standing contract).

    Deletion is the hard direction of the §2.Y fold: an addition can
    only MERGE components (the star-edge fold), but a departure can
    SPLIT one (the departed doc may have been the bridge — or the
    label itself, when the minimum doc_id leaves). The incremental
    shape: (1) components with NO departed member keep their labels
    VERBATIM (pass-through — no recompute, no scan of their pairs);
    (2) only components that lost a member re-resolve, via
    ``connected_components`` over their own SURVIVING pair subgraph —
    edge volume is the affected components' surviving pairs, iteration
    count their diameter, never the corpus's. The full-corpus labeling
    and the verified pair set are artifact-store entries (the §2.W
    dedup pair list — ``text_near_dedup_minhash``'s maintained
    artifact — and a full-corpus CC labeling trained once per corpus
    version); a fresh retracting process re-trains nothing."""
    from ..io import disk_artifact_frame
    from .corpus import connected_components
    from .extensions8 import _doc_split
    from .text import text_near_dedup_minhash

    d = load_table(spark, sf_dir, "documents")
    split = _doc_split(spark, sf_dir)
    full_pairs = text_near_dedup_minhash(spark, sf_dir)

    def train_full_labels() -> DataFrame:
        return connected_components(
            d.select("doc_id"), full_pairs.select("doc_a", "doc_b")
        )

    full_labels = session_memo(
        spark,
        ("retract_cc_full", os.path.abspath(sf_dir)),
        lambda: disk_artifact_frame(
            spark, "retract_cc_full", "v1", sf_dir, train_full_labels
        ),
        sf_dir=sf_dir,
    )

    # the three state frames lazy-checkpoint and their
    # LAST_RETRACT_STATS counts are the jobs that MATERIALIZE them, in
    # dependency order BEFORE the CC fold consumes them (r14
    # optimization): the eager form paid a staging job each PLUS the
    # three count jobs; fusing count-with-materialization halves that.
    # Ordering matters — `sub_pairs` must be pinned before
    # `_symmetrized`'s edges ∪ edges.swap union reads it twice, or the
    # full_pairs verification pipeline would execute once per branch
    # (measured: the count-after-CC rendering recomputed the chain in
    # round 1's diamond and read ~2× the eager wall).
    affected = (
        full_labels.filter(F.col("doc_id") >= split)
        .select("component")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # pass-through: every label in a component that lost nobody
    untouched = full_labels.join(
        affected, "component", "left_anti"
    ).select("doc_id", "component")
    # re-resolve: surviving members of affected components over their
    # own surviving pairs (a pair's endpoints share a component by
    # construction, so one endpoint's membership selects the pair)
    members = (
        full_labels.join(affected, "component")
        .filter(F.col("doc_id") < split)
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    sub_pairs = (
        full_pairs.filter(
            (F.col("doc_a") < split) & (F.col("doc_b") < split)
        )
        .join(members.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    LAST_RETRACT_STATS.clear()
    n_affected = affected.count()  # materializes affected
    n_sub_pairs = sub_pairs.count()  # materializes members + sub_pairs
    resolved = connected_components(
        members,
        sub_pairs,
    )
    LAST_RETRACT_STATS.extend(
        (n_affected, untouched.count(), n_sub_pairs)
    )
    return untouched.unionByName(resolved)

# ---------------------------------------------------------------------------
# vec_ivf_cell_retrain — partial index repair: recenter the drifted cells
# ---------------------------------------------------------------------------


def vec_ivf_cell_retrain_oracle() -> str:
    from .extensions7 import _DRIFT_DEN, _base_lloyd_ctes
    from .vectors import IVF_ITERS, IVF_K, lloyd_route_sql

    n_fin = IVF_ITERS
    return f"""
WITH {_base_lloyd_ctes()}, cb AS (
  SELECT cid, COUNT(*) AS n_base FROM broute GROUP BY cid
), cd AS (
  SELECT cid, COUNT(*) AS n_delta FROM droute GROUP BY cid
), cells AS (
  SELECT r AS cid FROM range(0, {IVF_K}) t(r)
), census AS (
  SELECT cells.cid,
         COALESCE(cb.n_base, 0) AS n_base,
         COALESCE(cd.n_delta, 0) AS n_delta
  FROM cells
  LEFT JOIN cb ON cb.cid = cells.cid
  LEFT JOIN cd ON cd.cid = cells.cid
), tot AS (
  SELECT SUM(n_base) AS tot_b, SUM(n_delta) AS tot_d FROM census
), flags AS (
  SELECT census.cid, n_base, n_delta,
         tot_b > 0 AND tot_d > 0
         AND ABS(CAST(n_delta AS DECIMAL(38,0)) * tot_b
                 - CAST(n_base AS DECIMAL(38,0)) * tot_d) * {_DRIFT_DEN}
               >= CAST(tot_b AS DECIMAL(38,0)) * tot_d AS drifted
  FROM census, tot
), allr AS MATERIALIZED (
  SELECT vec_id, cid FROM broute UNION ALL SELECT vec_id, cid FROM droute
), alle AS MATERIALIZED (
  SELECT * FROM be UNION ALL SELECT * FROM de
), dm AS MATERIALIZED (
  SELECT a.cid, e.pos, SUM(e.x) / COUNT(*) AS mx
  FROM alle e
  JOIN allr a USING (vec_id)
  JOIN flags f ON f.cid = a.cid AND f.drifted
  GROUP BY 1, 2
), dn AS MATERIALIZED (
  SELECT cid, sqrt(SUM(mx * mx)) AS nrm FROM dm GROUP BY 1
), rep AS MATERIALIZED (
  SELECT c.cid, c.pos,
         COALESCE(m.mx / (CASE WHEN n.nrm = 0 THEN 1.0 ELSE n.nrm END),
                  c.cx) AS cx
  FROM bc{n_fin} c
  LEFT JOIN dm m ON m.cid = c.cid AND m.pos = c.pos
  LEFT JOIN dn n ON n.cid = c.cid
){lloyd_route_sql("rroute", "alle", "rep")}, ca AS (
  SELECT cid, COUNT(*) AS n_after FROM rroute GROUP BY cid
)
SELECT CAST(f.cid AS INTEGER) AS cid,
       f.drifted AS retrained,
       CAST(f.n_base + f.n_delta AS BIGINT) AS n_before,
       CAST(COALESCE(ca.n_after, 0) AS BIGINT) AS n_after
FROM flags f LEFT JOIN ca ON ca.cid = f.cid
"""


@query("vec_ivf_cell_retrain", oracle=vec_ivf_cell_retrain_oracle())
def vec_ivf_cell_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial index repair (SURVEY §2.AA): cells the §2.X drift monitor
    flags RE-CENTER on their current population (one spherical recenter
    step — the Lloyd update restricted to drifted cells), while stable
    cells keep their trained centroids BYTE-IDENTICAL (no global
    re-train, no churn in cells that didn't drift). Emitted per cell:
    the retrain decision and the before/after census under the repaired
    model — the reroute that happens when serving switches to the
    repaired centroids.

    Composition discipline: the drift decision comes from the
    REGISTERED ``vec_index_drift`` (one decision semantics); the
    recenter means come from the shared ``_lloyd_round`` kernel (one
    partial-sums pass, model-scale collect — the index's own training
    arithmetic, so the repaired cells are exactly what one more Lloyd
    iteration would have produced for them); rerouting is the shared
    argmax kernel. Every EMITTED value is an integer or the drift flag
    — centroid floats never reach the output, so the only float
    dependence is the argmax/drift DECISION class, margin-audited like
    the Lloyd chain itself.

    Shape at scale: the model reads from the artifact store; the
    recenter is ONE mapInPandas partial-sums pass over the population
    (assignment and update share the scan, K×dim partials collect) and
    the reroute is one more Arrow argmax pass — O(2·N·K·dim) row-local
    work, zero keyed shuffles beyond the K-row censuses."""
    from .extensions7 import (
        _embed_split,
        base_trained_cents,
        route_to_centroids,
        vec_index_drift,
    )
    from .vectors import _lloyd_round

    split = _embed_split(spark, sf_dir)
    cents = base_trained_cents(spark, sf_dir, split)
    drift = vec_index_drift(spark, sf_dir)
    drows = sorted(
        (r["cid"], bool(r["drifted"]), int(r["n_base"]) + int(r["n_delta"]))
        for r in drift.collect()
    )
    drifted = {cid for cid, flag, _ in drows if flag}

    pop = scatter(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") >= 1)
        .select("vec_id", "embedding"),
        8,
    ).localCheckpoint()
    lloyd_means = _lloyd_round(spark, pop, cents)
    repaired = [
        lloyd_means[k] if k in drifted else cents[k]
        for k in range(len(cents))
    ]
    after = (
        route_to_centroids(pop, repaired)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_after"))
    )
    before = spark.createDataFrame(
        [(int(c), f, int(n)) for c, f, n in drows],
        "cid int, retrained boolean, n_before long",
    )
    return before.join(after, "cid", "left").select(
        "cid",
        "retrained",
        "n_before",
        F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
    )
