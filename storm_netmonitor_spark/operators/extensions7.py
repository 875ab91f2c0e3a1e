"""Round-11 operators, second batch — §2.X, REGISTERED (registry 285 → 288).

Staged first (plain callables + oracle builders, the r10→r11
discipline), these three passed BOTH halves of the registration gate
before the registering commit — vanilla-session DuckDB hash parity in
``tests/test_extensions7_staged.py`` (9/9, including property tests) and
``tools/preflight_local_cluster`` (its since-deleted staged mode) under
real executor JVMs — so the continued round-11 session registers them
with the standard ``@query`` decorator.

Capability anchor: SURVEY §2.X — the INDEX LIFECYCLE triple. Round 11
completed serve (``stream_ann_serve``) and one-shot merge
(``text_minhash_index_merge``); a production index also needs:

- ``vec_ivf_index_insert`` — route NEW vectors into the existing trained
  IVF index without re-training the quantizer (the insert path every
  vector database runs between re-trains);
- ``vec_index_drift`` — per-cell census drift between the index's
  training corpus and the newly-inserted population (the monitoring
  signal that TRIGGERS a re-train);
- ``stream_minhash_index_merge`` — the streaming twin of the r11 batch
  merge: micro-batched doc deltas folded into the standing banded index,
  newly-discovered duplicate pairs emitted per batch, final pair set ≡
  the batch merge (the ``stream_sketch_cms`` batch-equivalence
  discipline).

All three compose EXISTING audited kernels (the Lloyd trainer, the
mapInPandas argmax router, the banded-MinHash index artifact, the exact
shingle-Jaccard verifier) — new surface is lifecycle composition, not
new numeric decision paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.stable import dratio, dratio_sql
from ..io import (
    disk_artifact_frame,
    disk_artifact_json,
    load_table,
    scatter,
    session_memo,
)
from ..registry import query
from .vectors import IVF_ITERS, IVF_K, _lloyd_round

#: The index's training corpus is vec_id ∈ [1, split); the INSERTED
#: population is vec_id ≥ split — the same 4/5 split discipline as
#: ``text_minhash_index_merge`` (both engines compute it in integer
#: arithmetic from the corpus itself; no per-SF constant).
_SPLIT_NUM = 4
_SPLIT_DEN = 5

#: Drift flag threshold: a cell is drifted when its share of the
#: inserted population differs from its share of the training population
#: by ≥ 1/200 (0.5 percentage points). The flag is decided in EXACT
#: integer arithmetic on both engines (cross-multiplied counts), so
#: there is no float boundary anywhere in the decision.
_DRIFT_DEN = 200


def _embed_split(spark: SparkSession, sf_dir: str) -> int:
    def compute() -> int:
        e = load_table(spark, sf_dir, "embeddings")
        max_id = e.agg(F.max("vec_id").alias("m")).collect()[0]["m"]
        return (int(max_id) + 1) * _SPLIT_NUM // _SPLIT_DEN

    # a per-call scalar collect is a driver round-trip every invocation;
    # the split is a pure function of the (read-only) input table, so it
    # rides the session memo like the trained centroids do
    return session_memo(
        spark,
        ("embed_split", os.path.abspath(sf_dir)),
        compute,
        sf_dir=sf_dir,
    )


def _base_corpus(spark: SparkSession, sf_dir: str, split: int) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") >= 1) & (F.col("vec_id") < split)
    ).select("vec_id", "embedding")


def _delta_corpus(spark: SparkSession, sf_dir: str, split: int) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") >= split
    ).select("vec_id", "embedding")


def base_trained_cents(
    spark: SparkSession, sf_dir: str, split: int
) -> list[list[float]]:
    """The IVF quantizer trained on the BASE population only (vec_id <
    split) — seeds vec_id 1..K, the exact ``ivf_index`` recipe on the
    restricted corpus. Persisted in the cross-process artifact store: the
    insert/drift path is what runs BETWEEN re-trains, so a fresh process
    must read, never train."""

    def train() -> list[list[float]]:
        corpus = scatter(_base_corpus(spark, sf_dir, split), 8).cache()
        try:
            seeds = corpus.filter(F.col("vec_id").between(1, IVF_K)).orderBy(
                "vec_id"
            )
            cents = [
                [float(x) for x in r["embedding"]] for r in seeds.collect()
            ]
            for _ in range(IVF_ITERS):
                cents = _lloyd_round(spark, corpus, cents)
            return cents
        finally:
            corpus.unpersist()

    return session_memo(
        spark,
        ("ivf_base_cents", os.path.abspath(sf_dir), split),
        lambda: disk_artifact_json(
            "ivf_base_cents",
            "v1",
            sf_dir,
            train,
            extra=(IVF_K, IVF_ITERS, split),
        ),
        sf_dir=sf_dir,
    )


def base_routed_assignments(
    spark: SparkSession, sf_dir: str, split: int
) -> DataFrame:
    """The index's POSTING-LIST view under the standing (base-trained)
    snapshot: the full corpus's ``(vec_id, cid)`` assignments, persisted
    in the artifact store NEXT TO the centroids they were routed
    against. A real IVF index IS its assignments — serving reads the
    posting lists, it never re-routes the standing corpus — so every
    monitor that audits the standing snapshot (the §2.X drift census,
    the §2.AG snapshot-churn census) reads this artifact instead of
    re-running the O(N·K·dim) routing pass per invocation (VERDICT r13
    #5: the census consumers share one materialized routing). Routing
    is deterministic (argmax, first-max tie-break), so the artifact
    round-trip's order loss is invisible to the census/join consumers;
    population labels derive row-locally from ``vec_id`` (both
    consumers slice by the split point, never by a second read)."""
    cents = base_trained_cents(spark, sf_dir, split)

    def build() -> DataFrame:
        corpus = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") >= 1)
            .select("vec_id", "embedding")
        )
        return route_to_centroids(scatter(corpus, 8), cents)

    return session_memo(
        spark,
        ("ivf_base_routed", os.path.abspath(sf_dir), split),
        lambda: disk_artifact_frame(
            spark,
            "ivf_base_routed",
            "v1",
            sf_dir,
            build,
            extra=(IVF_K, IVF_ITERS, split),
        ),
        sf_dir=sf_dir,
    )


def route_to_centroids(
    corpus: DataFrame,
    cents: list[list[float]],
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """KERNEL — (vec_id, cid): argmax-dot routing of ``corpus`` (columns
    ``vec_id, embedding``) against a fixed centroid model, one Arrow
    pass, zero shuffles (the ``_ivf_cells`` kernel shape). Ties break to
    the smallest cid (``np.argmax`` takes the first maximum), matching
    the SQL twin's ``ROW_NUMBER … ORDER BY dot DESC, cid``. Extra
    ``passthrough`` columns of ``corpus`` ride along unchanged (so a
    caller can tag rows — e.g. a population label — and route several
    populations in ONE pass instead of one pass each). Library export
    via ``storm_netmonitor_spark.kernels``."""
    import numpy as np

    cmat_rows = [[float(x) for x in c] for c in cents]
    schema = "vec_id long, cid int" + "".join(
        f", {c} {corpus.schema[c].dataType.simpleString()}"
        for c in passthrough
    )

    def route_iter(batches):
        import pandas as pd

        cm = np.array(cmat_rows, dtype=np.float64).T
        for pdf in batches:
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            out = {
                "vec_id": pdf["vec_id"],
                "cid": np.argmax(m @ cm, axis=1).astype("int32"),
            }
            for c in passthrough:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return corpus.mapInPandas(route_iter, schema)


def route_to_centroids_codegen(
    corpus: DataFrame,
    cents: list[list[float]],
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """KERNEL — the LATENCY-CLASS twin of :func:`route_to_centroids`:
    the same argmax-dot routing decision, rendered as row-local JVM
    expressions (one ``zip_with``/``aggregate`` dot per centroid, argmax
    via ``array_position`` of ``array_max`` — FIRST maximum, so ties
    break to the smallest cid exactly like ``np.argmax``). Zero Python
    workers, zero exchanges, whole-stage-codegen eligible; the K×dim
    model inlines as literal arrays — plan size is bounded by the MODEL
    (a constant), never by the data (the serve-path rule: literals may
    encode the model, never the batch).

    When to use which: the Arrow kernel amortizes numpy BLAS over large
    batches — the bulk path for corpus-wide routing; this one wins when
    the routed frame is small or latency-critical (a delta insert, a
    micro-batch) because it skips the Python-worker round trip
    entirely. Decision parity between the two is asserted in the staged
    suite on both populations; the float accumulation orders differ
    (BLAS blocked vs sequential fold) but the audited assignment
    margins (≥1.1e-5 at the driver SFs) dwarf double noise (~1e-13).
    Library export via ``storm_netmonitor_spark.kernels``."""
    dots = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in cents
        ]
    )
    return corpus.select(
        "vec_id",
        (F.array_position(dots, F.array_max(dots)) - 1)
        .cast("int")
        .alias("cid"),
        *passthrough,
    )


# ---------------------------------------------------------------------------
# oracle chain: base-trained Lloyd + routing, shared by insert and drift
# ---------------------------------------------------------------------------


def _base_lloyd_ctes() -> str:
    """The ``_ivf_cand_ctes`` Lloyd chain re-emitted with a ``b`` prefix
    and the corpus restricted to the BASE split — same seeds, same
    rounds, same normalization, same tie-breaks. Defines ``bsplit``
    (the integer split point), ``be`` (pos-exploded base), ``de``
    (pos-exploded delta), the trained ``bc{N}`` centroids, and the
    routings ``broute``/``droute`` of base/delta against the FINAL
    centroids."""
    head = f"""bsplit AS MATERIALIZED (
  SELECT (MAX(vec_id) + 1) * {_SPLIT_NUM} // {_SPLIT_DEN} AS v
  FROM embeddings
), be AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
  WHERE vec_id >= 1 AND vec_id < (SELECT v FROM bsplit)
), de AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE vec_id >= (SELECT v FROM bsplit)
), bc0 AS MATERIALIZED (
  SELECT vec_id - 1 AS cid, pos, x AS cx FROM be
  WHERE vec_id BETWEEN 1 AND {IVF_K}
)"""
    from .vectors import lloyd_rounds_sql, lloyd_route_sql

    rounds = [lloyd_rounds_sql("b", "be", IVF_ITERS)]
    n_fin = IVF_ITERS
    tail = lloyd_route_sql(
        "broute", "be", f"bc{n_fin}"
    ) + lloyd_route_sql("droute", "de", f"bc{n_fin}")
    return head + "".join(rounds) + tail


def vec_ivf_index_insert_oracle() -> str:
    return f"""
WITH {_base_lloyd_ctes()}
SELECT vec_id, CAST(cid AS INTEGER) AS cid
FROM droute
"""


@query("vec_ivf_index_insert", oracle=vec_ivf_index_insert_oracle())
def vec_ivf_index_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index insert (SURVEY §2.X): route the DELTA
    population (vec_id ≥ split) into the index trained on the BASE
    population — the quantizer is NOT re-trained, exactly what a vector
    store does between scheduled re-trains. Returns the delta
    assignments ``(vec_id, cid)``.

    Shape at scale: the K×dim centroid model reads from the artifact
    store (a fresh inserting process trains nothing), routing is one
    row-local argmax pass over the delta only — O(|delta|·K·dim) work,
    zero shuffles — and the emitted values are INTEGERS (ids and
    cells), so no centroid float ever reaches the output: the only
    float-dependent step is the argmax DECISION, the same
    margin-audited class as ``vec_ann_ivf``'s cell assignment. An
    insert is the index's LATENCY path (a delta lands, its routing must
    land with it), so it routes through the codegen kernel — pure JVM,
    no Python-worker round trip, no exchange (r12: 235 ms → ~130 ms
    per refresh at sf0.1; decision-identical to the Arrow kernel,
    asserted in the staged suite)."""
    split = _embed_split(spark, sf_dir)
    cents = base_trained_cents(spark, sf_dir, split)
    return route_to_centroids_codegen(
        _delta_corpus(spark, sf_dir, split), cents
    )


def vec_index_drift_oracle() -> str:
    share_b = dratio_sql("n_base * 1000000", "tot_b")
    share_d = dratio_sql("n_delta * 1000000", "tot_d")
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
)
SELECT CAST(census.cid AS INTEGER) AS cid,
       CAST(n_base AS BIGINT) AS n_base,
       CAST(n_delta AS BIGINT) AS n_delta,
       {share_b} AS share_base,
       {share_d} AS share_delta,
       tot_b > 0 AND tot_d > 0
       AND ABS(CAST(n_delta AS DECIMAL(38,0)) * tot_b
               - CAST(n_base AS DECIMAL(38,0)) * tot_d) * {_DRIFT_DEN}
             >= CAST(tot_b AS DECIMAL(38,0)) * tot_d AS drifted
FROM census, tot
"""


@query("vec_index_drift", oracle=vec_index_drift_oracle())
def vec_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index population drift audit (SURVEY §2.X): per-cell census of the
    index's TRAINING population vs the newly-INSERTED population, both
    routed against the same base-trained centroids, with exact share
    ratios and an integer-exact drift flag — the monitoring signal that
    tells an operator the quantizer no longer matches the data and a
    re-train is due.

    Float discipline: shares are exact rationals rendered through
    ``dratio`` (integer arithmetic, bit-identical in DuckDB); the
    drifted flag is a cross-multiplied INTEGER comparison
    |n_d·tot_b − n_b·tot_d|·{_DRIFT_DEN} ≥ tot_b·tot_d in DECIMAL(38,0)
    — boundary-free by construction and exact within its stated bounds:
    the ``dratio`` numerator (n·10^6) fits int64 to ~9.2×10^12 rows per
    cell, and the 38-digit flag product holds to ~2×10^17 total rows per
    population — five orders of magnitude above a 100 TB corpus
    (~10^12 rows at ~100 B/row). The only float decision anywhere is
    the routing argmax, shared with ``vec_ivf_index_insert``.

    Shape at scale: the monitor reads the index's PERSISTED posting
    lists (:func:`base_routed_assignments` — the artifact the snapshot
    already maintains; nothing re-routes), derives the population label
    row-locally from vec_id, and folds ONE keyed exchange for the
    ≤K-row census. The census is then COLLECTED (a model scalar — K
    rows by construction, never data) and the drift tail computes
    driver-side through :func:`drift_table_local` (r14 optimization:
    the cells-join + unpartitioned-window + decimal tail was fixed
    distributed plan cost per refresh for a {IVF_K}-row table)."""
    split = _embed_split(spark, sf_dir)
    routed = base_routed_assignments(spark, sf_dir, split).select(
        "cid", (F.col("vec_id") >= split).cast("int").alias("pop")
    )
    counts = routed.groupBy("cid").agg(
        F.count(F.when(F.col("pop") == 0, 1)).alias("n_base"),
        F.count(F.when(F.col("pop") == 1, 1)).alias("n_delta"),
    ).collect()
    return drift_table_local(
        spark,
        {int(r["cid"]): int(r["n_base"]) for r in counts},
        {int(r["cid"]): int(r["n_delta"]) for r in counts},
        IVF_K,
    )


def index_drift_over(
    base_routed: DataFrame,
    delta_routed: DataFrame,
    n_cells: int,
    drift_den: int = _DRIFT_DEN,
) -> DataFrame:
    """KERNEL — per-cell census drift between two routed populations
    (frames with a ``cid`` column, e.g. from :func:`route_to_centroids`):
    counts, exact ``dratio`` share rationals, and the integer-exact
    drifted flag |n_d·tot_b − n_b·tot_d|·drift_den ≥ tot_b·tot_d in
    DECIMAL(38,0) (exact to ~9.2×10^12 rows per cell and ~2×10^17 rows
    per population — see :func:`vec_index_drift`). Tag-unions the two
    frames and delegates to :func:`index_drift_tagged` — each input
    subtree appears exactly once in the union plan, so the census is ONE
    keyed exchange whose volume is ``n_cells`` rows regardless of
    population size. Library export via
    ``storm_netmonitor_spark.kernels``."""
    tagged = base_routed.select(
        "cid", F.lit(0).alias("pop")
    ).unionByName(delta_routed.select("cid", F.lit(1).alias("pop")))
    return index_drift_tagged(tagged, n_cells, drift_den)


def index_drift_tagged(
    routed: DataFrame,
    n_cells: int,
    drift_den: int = _DRIFT_DEN,
) -> DataFrame:
    """KERNEL — :func:`index_drift_over` for a SINGLE routed frame whose
    ``pop`` column labels the population (0 = base/training, 1 =
    delta/inserted). This is the fused shape the registered op uses: one
    scan, one routing pass (:func:`route_to_centroids` with
    ``passthrough``), one conditional-count groupBy — instead of routing
    and counting each population separately. Library export via
    ``storm_netmonitor_spark.kernels``."""
    counts = routed.groupBy("cid").agg(
        F.count(F.when(F.col("pop") == 0, 1)).alias("n_base"),
        F.count(F.when(F.col("pop") == 1, 1)).alias("n_delta"),
    )
    return drift_from_census(counts, n_cells, drift_den)


def drift_from_census(
    counts: DataFrame,
    n_cells: int,
    drift_den: int = _DRIFT_DEN,
) -> DataFrame:
    """KERNEL — the census→drift-table tail shared by every drift
    monitor: ``counts`` is a (possibly sparse) ``(cid, n_base, n_delta)``
    frame; cells ``0..n_cells-1`` are pinned by a left join (absent
    buckets census as 0/0), shares are exact ``dratio`` rationals, and
    the drifted flag is the integer cross-multiplication in
    DECIMAL(38,0). Library export via ``storm_netmonitor_spark.kernels``
    (the §2.Y streaming/profile drift candidates fold their own censuses
    and delegate here)."""
    spark = counts.sparkSession
    cells = spark.range(0, n_cells).select(
        F.col("id").cast("int").alias("cid")
    )
    census = cells.join(counts, "cid", "left").select(
        "cid",
        F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
        F.coalesce("n_delta", F.lit(0)).cast("long").alias("n_delta"),
    )
    # totals via ONE unpartitioned window over the census — which is
    # ALWAYS exactly n_cells rows (the cells left-join pins it; K=16 for
    # the registered op) regardless of population size, so the single
    # window partition is constant-bounded. This keeps the whole op one
    # job: a separate totals aggregate would either re-derive the census
    # (re-running the Arrow routing pass — the repeated-python-eval
    # class the registry sweep forbids) or force a materialization
    # barrier before a 1-row broadcast combine.
    from pyspark.sql import Window

    w = Window.partitionBy()
    dec = "decimal(38,0)"
    tot_b = F.sum("n_base").over(w)
    tot_d = F.sum("n_delta").over(w)
    return census.select(
        "cid",
        "n_base",
        "n_delta",
        dratio(F.col("n_base") * 1_000_000, tot_b).alias("share_base"),
        dratio(F.col("n_delta") * 1_000_000, tot_d).alias("share_delta"),
        # an EMPTY population is no drift evidence: without the guard,
        # tot_d = 0 degenerates the inequality to 0 ≥ 0 and every cell
        # would flag, telling a monitoring consumer to re-train on
        # nothing (library-kernel edge; the registered op's populations
        # are nonempty by the split construction)
        (
            (tot_b > 0)
            & (tot_d > 0)
            & (
                F.abs(
                    F.col("n_delta").cast(dec) * tot_b.cast(dec)
                    - F.col("n_base").cast(dec) * tot_d.cast(dec)
                )
                * drift_den
                >= tot_b.cast(dec) * tot_d.cast(dec)
            )
        ).alias("drifted"),
    )


def drift_table_local(
    spark: SparkSession,
    base: dict[int, int],
    delta: dict[int, int],
    n_cells: int,
    drift_den: int = _DRIFT_DEN,
) -> DataFrame:
    """KERNEL — :func:`drift_from_census` computed DRIVER-side from
    collected census dicts (cid → count), shipped back as a VALUES
    local relation (r14 optimization). The census is ≤ n_cells rows by
    construction (a model scalar, never data), so the distributed tail
    — cells left-join + unpartitioned window + decimal expressions —
    was fixed plan/collect cost per refresh. Same ``_py_dratio``
    half-away rounding, same exact integer cross-multiplication
    (python ints are exact at any magnitude), same empty-population
    guard; parity-pinned against the same oracles as the distributed
    tail. Consumers: ``vec_index_drift``, ``text_profile_drift``, and
    the §2.AK streaming census fold (``stream_index_drift``). The
    distributed :func:`drift_from_census` stays as the library-kernel
    shape for un-collected census frames."""
    from ..io import tiny_local_frame
    from .extensions13 import _py_dratio

    tot_b = sum(base.values())
    tot_d = sum(delta.values())
    rows = []
    for cid in range(n_cells):
        nb, nd = base.get(cid, 0), delta.get(cid, 0)
        rows.append(
            (
                cid,
                nb,
                nd,
                _py_dratio(nb * 1_000_000, tot_b) if tot_b > 0 else None,
                _py_dratio(nd * 1_000_000, tot_d) if tot_d > 0 else None,
                tot_b > 0
                and tot_d > 0
                and abs(nd * tot_b - nb * tot_d) * drift_den
                >= tot_b * tot_d,
            )
        )
    return tiny_local_frame(
        spark,
        rows,
        "cid int, n_base long, n_delta long, share_base double, "
        "share_delta double, drifted boolean",
    )


def census_drift_local(
    spark: SparkSession,
    base_census: list,
    delta_rows: list[tuple],
    n_cells: int,
) -> DataFrame:
    """:func:`drift_table_local` of the landed ``(cid, n)`` delta census
    rows of a streaming monitor (summed per cell — python ints, exact)
    against a standing ``[[cid, n], ...]`` census artifact."""
    delta: dict[int, int] = {}
    for cid, n in delta_rows:
        delta[int(cid)] = delta.get(int(cid), 0) + int(n)
    base = {int(c): int(n) for c, n in base_census}
    return drift_table_local(spark, base, delta, n_cells)


# ---------------------------------------------------------------------------
# stream_minhash_index_merge — the streaming twin of the r11 batch merge
# ---------------------------------------------------------------------------

#: Delta docs per micro-batch file — ≥2 committed batches, so per-batch
#: incremental folding (not one big merge) is what the oracle checks.
_STREAM_MERGE_BATCHES = 2

#: Per-batch walls of the most recent drain (the serve-latency record
#: discipline of ``stream_ann_serve``).
LAST_MERGE_BATCH_WALLS: list[float] = []


def stream_minhash_index_merge_oracle() -> str:
    """The streaming merge folds the SAME delta into the SAME standing
    index as the registered batch op, so the contract — and therefore
    the full-recompute oracle — is shared verbatim (the
    ``stream_sketch_cms`` batch-twin precedent: one semantics, two
    execution modes)."""
    from .extensions6 import text_minhash_index_merge_oracle

    return text_minhash_index_merge_oracle()


@query(
    "stream_minhash_index_merge", oracle=stream_minhash_index_merge_oracle()
)
def stream_minhash_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash index maintenance (SURVEY §2.X): the delta
    corpus (doc_id ≥ split) arrives as a STREAM of micro-batches; each
    batch's signatures band into the index, candidates are the batch's
    bands joined against (standing index ∪ previously-folded batches ∪
    the batch itself), survivors verify by exact shingle Jaccard, and
    the batch's bands then append to the folded index. Per-batch COMPUTE
    (signatures, banding, verification) is O(|batch| + matches); the
    candidate equi-join's probe side is |batch| but its build side SCANS
    the standing index parquet each batch at this layout — at 100 TB the
    index would be bucketed/partitioned by band_hash so the scan prunes
    to the batch's buckets (the I/O term the O-claim deliberately does
    NOT hide; the measured wall vs a 256× index is in docs/SCALING.md).
    Every pair is discovered exactly once (in the batch of its LARGER
    doc_id; batches arrive in doc_id order).

    The final emitted pair set must equal the registered batch merge —
    ``text_minhash_index_merge``'s full-recompute oracle runs verbatim.
    foreachBatch writes batch_id-keyed outputs (retry-idempotent), the
    standing index reads from the same ``minhash_band_index`` artifact
    the batch op maintains (one index, three consumers: batch merge,
    streaming merge, and any future serve path)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..streaming.core import drain_partials, stage_stream, staged_stream
    from .extensions6 import minhash_band_rows, verify_band_candidates
    from .text import _with_shingles

    d = load_table(spark, sf_dir, "documents")
    # the split point is the session-memoized scalar every §2.W/§2.X/§2.Y
    # consumer shares — the inline MAX(doc_id) collect was one extra Spark
    # job per rebuilt sample (r14 optimization; extensions8._doc_split is
    # the same key, so the batch merge and CC folds hit the same memo)
    from .extensions8 import _doc_split

    split = _doc_split(spark, sf_dir)

    # standing index: THE SAME artifact the registered batch merge stages
    base_docs = d.filter(F.col("doc_id") < split)
    from ..io import disk_artifact_frame

    standing = session_memo(
        spark,
        ("minhash_band_index", os.path.abspath(sf_dir), split),
        lambda: disk_artifact_frame(
            spark,
            "minhash_band_index",
            "v1",
            sf_dir,
            lambda: minhash_band_rows(scatter(base_docs)),
            extra=(split,),
        ),
        sf_dir=sf_dir,
    )

    # shingle table for exact verification, staged once per session (every
    # batch verifies against it; only candidate rows are ever joined)
    sh_tbl = session_memo(
        spark,
        ("merge_shingles", os.path.abspath(sf_dir)),
        lambda: _with_shingles(scatter(d)).select("doc_id", "sh").cache(),
        sf_dir=sf_dir,
    )

    # ---- stage the delta doc stream, doc_id-ordered micro-batch files ----
    def parts() -> list:
        t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
        dt = t.filter(pc.greater_equal(t.column("doc_id"), pa.scalar(split)))
        dt = dt.sort_by("doc_id")
        per = max(1, -(-dt.num_rows // _STREAM_MERGE_BATCHES))
        return [dt.slice(i, per) for i in range(0, dt.num_rows, per)]

    src = stage_stream(spark, ("merge_stream", split), sf_dir, parts)

    # the fold state: the already-materialized band frames of the folded
    # batches, keyed by batch_id. localCheckpoint pins each batch's bands
    # on the executors, so folding is a union of cached frames — the
    # previous parquet round-trip (write job + per-batch listing/scan of
    # the fold directory) was 2 extra jobs' worth of work per micro-batch
    # for state this op deletes at drain end anyway (r14 optimization,
    # guide §2.4/§5). Retry-idempotent: a batch never sees its own slot,
    # and a batch_id re-delivery overwrites that slot, so a retry sees the
    # same prior state as the first attempt. (At 100 TB the fold state is
    # the standing index's own bucketed table — this dict is the
    # micro-batch-scale stand-in.)
    folded_bands: dict[int, DataFrame] = {}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # no take(1) emptiness guard (r14): the staged delta stream
        # delivers one NON-EMPTY batch per file, so the guard was a
        # full extra Spark job per micro-batch; a hypothetical empty
        # batch would fold zero bands and land empty-but-typed outputs
        batch_bands = minhash_band_rows(batch_df).localCheckpoint()
        index = standing
        for bid in sorted(folded_bands):
            if bid != batch_id:  # a retried batch must not see itself
                index = index.unionByName(folded_bands[bid])
        index = index.unionByName(batch_bands)
        folded_bands[batch_id] = batch_bands
        # one merge step, two execution modes: the shared kernels keep the
        # candidate dedup, threshold, and rounding identical to the
        # registered batch merge (their test-pinned equivalence depends
        # on it)
        return verify_band_candidates(batch_bands, index, sh_tbl)

    try:
        return drain_partials(
            # the staged delta files are pyarrow rewrites of the documents
            # table, so the already-loaded frame's schema IS the stream's
            # read schema (the previous spark.read.parquet(...) paid a
            # second driver-side footer read per rebuilt sample)
            staged_stream(spark, src, d.schema),
            merge_batch,
            lambda landed: landed.select("doc_a", "doc_b", "jaccard"),
            "doc_a long, doc_b long, jaccard double",
            walls=LAST_MERGE_BATCH_WALLS,
        )
    finally:
        folded_bands.clear()  # checkpoint blocks release via the ContextCleaner
