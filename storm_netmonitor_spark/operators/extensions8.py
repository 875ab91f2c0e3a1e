"""Round-11 operators, third batch — §2.Y, REGISTERED (registry 288 → 291).

Staged first (plain callables + oracle builders, the §2.W/§2.X staging
discipline applied forward), these three passed BOTH halves of the
registration gate before the registering commit — vanilla-session DuckDB
hash parity in ``tests/test_extensions8_staged.py`` (10/10, including
the incrementality and exact-boundary property tests) and
``tools/preflight_local_cluster`` (its since-deleted staged mode) under
real executor JVMs — so the continued round-11 session registers them
with the standard ``@query`` decorator.

Capability anchor: SURVEY §2.Y — the MONITORING / INCREMENTAL
MAINTENANCE triple. Rounds 10–11 shipped the index lifecycle (serve,
merge, insert, drift); a production corpus pipeline also needs:

- ``dedup_components_merge`` — fold newly-discovered duplicate pairs
  into the STANDING component labeling without re-running connected
  components over the full historical edge set (the labels a keeper
  election reads must stay current as deltas land);
- ``stream_index_drift`` — the streaming twin of ``vec_index_drift``:
  the inserted vectors arrive as micro-batches, per-batch censuses fold
  into a running delta census against the persisted base census, final
  drift table ≡ the batch op (the ``stream_sketch_cms`` batch-twin
  discipline);
- ``text_profile_drift`` — corpus-profile drift between the standing
  corpus and the delta: docs bucket by (token-count log2 band ×
  alphabetic-share decile), and the per-bucket census drifts through the
  SAME exact-rational kernel the vector monitor uses — the pre-ingest
  gate that tells an operator the delta's shape no longer matches the
  corpus it joins.

All three compose EXISTING audited kernels (banded MinHash + exact
Jaccard verification, min-label connected components, the argmax router,
``drift_from_census``) — the new surface is lifecycle composition, not
new numeric decision paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import (
    disk_artifact_frame,
    disk_artifact_json,
    load_table,
    raw_table_schema,
    scatter,
    session_memo,
)
from .corpus import connected_components
from .extensions6 import (
    _MERGE_SPLIT_DEN,
    _MERGE_SPLIT_NUM,
    minhash_band_rows,
    verify_band_candidates,
)
from ..registry import query
from .extensions7 import (
    _embed_split,
    base_trained_cents,
    route_to_centroids,
    vec_index_drift_oracle,
)
from .text import _with_shingles
from .vectors import IVF_ITERS, IVF_K


def _doc_split(spark: SparkSession, sf_dir: str) -> int:
    """The documents split point of the §2.W/§2.X merge family — standing
    corpus is doc_id < split, the delta is doc_id ≥ split."""

    def compute() -> int:
        d = load_table(spark, sf_dir, "documents")
        max_id = d.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
        return (int(max_id) + 1) * _MERGE_SPLIT_NUM // _MERGE_SPLIT_DEN

    return session_memo(
        spark,
        ("doc_split", os.path.abspath(sf_dir)),
        compute,
        sf_dir=sf_dir,
    )


def _standing_bands(
    spark: SparkSession, sf_dir: str, split: int
) -> DataFrame:
    """THE standing banded index — same artifact name/key as the §2.W
    batch merge and the §2.X streaming merge stage, so one index serves
    every consumer (merge, streaming merge, and this CC fold)."""
    base_docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < split
    )
    return session_memo(
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


def _shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-session shingle table for exact verification — same key as
    the merge ops (only candidate rows are ever joined against it)."""
    d = load_table(spark, sf_dir, "documents")
    return session_memo(
        spark,
        ("merge_shingles", os.path.abspath(sf_dir)),
        lambda: _with_shingles(scatter(d)).select("doc_id", "sh").cache(),
        sf_dir=sf_dir,
    )


# ---------------------------------------------------------------------------
# dedup_components_merge — fold new pairs into the standing CC labeling
# ---------------------------------------------------------------------------

#: Shared with the §2.W merge oracle: the exact pair contract is word-3-
#: shingle Jaccard ≥ 0.5 (decimal-4 rounded), the registered
#: ``text_near_dedup_minhash`` definition.
_PAIR_CTES = """tk AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id,
    list_distinct([array_to_string(tk[i:i+2], ' ')
                   FOR i IN range(1, greatest(len(tk) - 2, 1) + 1)]) AS sh
  FROM tk
), ex AS (
  SELECT doc_id, unnest(sh) AS s FROM sh
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sizes AS (
  SELECT doc_id, len(sh) AS n FROM sh
), sim AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = inter.doc_a
  JOIN sizes sb ON sb.doc_id = inter.doc_b
  WHERE ROUND(ninter / (sa.n + sb.n - ninter), 4) >= 0.5
)"""


def dedup_components_merge_oracle() -> str:
    """Full-recompute twin: components over the COMPLETE exact pair set
    of the merged corpus (standing pairs ∪ pairs touching the delta) —
    by the merge contract that union IS every ≥0.5-Jaccard pair of the
    full corpus, so the incremental fold must reproduce plain connected
    components over all pairs."""
    return f"""
WITH RECURSIVE {_PAIR_CTES}, bi AS (
  SELECT doc_a AS s, doc_b AS d FROM sim
  UNION ALL
  SELECT doc_b, doc_a FROM sim
), reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT b.d, r.lbl FROM reach r JOIN bi b ON b.s = r.node
)
SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS component
FROM reach GROUP BY node
"""


#: Fold-size record of the most recent run: (star_edges, delta_pairs) —
#: the refresh's edge set is their sum, NOT the full historical pair
#: count (the incrementality claim, asserted by the staged tests).
LAST_CC_FOLD_EDGES: list[int] = []


@query("dedup_components_merge", oracle=dedup_components_merge_oracle())
def dedup_components_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental component maintenance (SURVEY §2.Y): fold the pairs a
    delta merge discovers into the STANDING duplicate-component labeling
    — standing×standing work never re-runs. Returns the full updated
    labeling ``(doc_id, component)``, component = min reachable doc_id
    (the ``text_dedup_components`` contract over the merged pair set).

    Shape at scale: (1) pair DISCOVERY is the §2.W merge step — delta
    bands ⋈ (standing ∪ delta) buckets + exact verification, cost
    O(|delta| + matches), never corpus²; (2) the standing labeling and
    the standing band index read from the artifact store (a fresh
    folding process re-trains nothing); (3) the label fold runs
    connected components over the REDUCED graph — one star edge
    (label → member) per standing non-singleton member plus the new
    pairs — which collapses every standing component in one hop, so the
    iteration count is bounded by the DELTA's diameter, not the
    corpus's, and the edge volume is (non-singleton members + new
    pairs), not the historical pair set."""
    d = load_table(spark, sf_dir, "documents")
    split = _doc_split(spark, sf_dir)
    standing = _standing_bands(spark, sf_dir, split)
    sh_tbl = _shingle_table(spark, sf_dir)

    # the standing labeling: THE maintained artifact of this op — CC over
    # the standing corpus's own pairs, trained once per corpus version
    def train_labels() -> DataFrame:
        base_pairs = verify_band_candidates(standing, standing, sh_tbl)
        return connected_components(
            d.filter(F.col("doc_id") < split).select("doc_id"),
            base_pairs.select("doc_a", "doc_b"),
        )

    labels = session_memo(
        spark,
        ("dedup_cc_base", os.path.abspath(sf_dir), split),
        lambda: disk_artifact_frame(
            spark,
            "dedup_cc_base",
            "v1",
            sf_dir,
            train_labels,
            extra=(split,),
        ),
        sf_dir=sf_dir,
    )

    delta_bands = minhash_band_rows(
        scatter(d.filter(F.col("doc_id") >= split))
    ).localCheckpoint()
    delta_pairs = verify_band_candidates(
        delta_bands, standing.unionByName(delta_bands), sh_tbl
    )
    # star edges: one (label, member) edge per non-singleton standing
    # member — singletons contribute nothing to connectivity and stay
    # out of the fold entirely
    star = labels.filter(F.col("component") != F.col("doc_id")).select(
        F.col("component").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    # ONE staging job (r14 optimization): the tagged union lazy-
    # checkpoints and the fold-size aggregate below both materializes
    # it and computes BOTH identity counters — the eager checkpoint
    # plus two separate count() actions were three jobs for the same
    # information
    tagged = star.withColumn("is_star", F.lit(True)).unionByName(
        delta_pairs.select("doc_a", "doc_b").withColumn(
            "is_star", F.lit(False)
        )
    ).localCheckpoint(eager=False)
    n_total, n_star = tagged.agg(
        F.count(F.lit(1)), F.sum(F.col("is_star").cast("long"))
    ).collect()[0]
    LAST_CC_FOLD_EDGES.clear()
    LAST_CC_FOLD_EDGES.extend((int(n_star or 0), int(n_total) - int(n_star or 0)))
    return connected_components(
        d.select("doc_id"),
        tagged.select("doc_a", "doc_b"),
    )


# ---------------------------------------------------------------------------
# stream_index_drift — the streaming twin of vec_index_drift
# ---------------------------------------------------------------------------

#: Delta vectors per micro-batch file — ≥2 committed batches, so the
#: per-batch census FOLD (not one big batch) is what the oracle checks.
_STREAM_DRIFT_BATCHES = 2

#: Per-batch walls of the most recent drain (the serve/merge latency
#: record discipline).
LAST_DRIFT_BATCH_WALLS: list[float] = []


def stream_index_drift_oracle() -> str:
    """The streaming monitor folds the SAME delta against the SAME
    base-trained index as the registered batch op, so the contract — and
    therefore the oracle — is ``vec_index_drift``'s, verbatim (the
    ``stream_sketch_cms`` batch-twin precedent)."""
    return vec_index_drift_oracle()


@query("stream_index_drift", oracle=stream_index_drift_oracle())
def stream_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming index-drift monitoring (SURVEY §2.Y): the inserted
    vector population arrives as a STREAM of micro-batches; each batch
    routes against the base-trained centroids (ONE Arrow pass over the
    batch), its per-cell counts land batch_id-keyed (retry-idempotent),
    and the final drift table — running delta census vs the PERSISTED
    base census — must equal the batch op's.

    Shape at scale: the base population routes ZERO times per monitoring
    run — its 16-row census is an artifact-store entry trained once per
    index version; per batch the work is O(|batch|·K·dim) row-local
    routing plus a K-row counter fold, so the monitor's steady-state
    cost tracks the insert stream, never the standing corpus."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..streaming.core import drain_partials, stage_stream, staged_stream
    from .extensions7 import census_drift_local

    split = _embed_split(spark, sf_dir)
    cents = base_trained_cents(spark, sf_dir, split)

    def train_base_census() -> list[list[int]]:
        base = load_table(spark, sf_dir, "embeddings").filter(
            (F.col("vec_id") >= 1) & (F.col("vec_id") < split)
        ).select("vec_id", "embedding")
        routed = route_to_centroids(scatter(base, 8), cents)
        return sorted(
            [int(r["cid"]), int(r["n"])]
            for r in routed.groupBy("cid")
            .agg(F.count("*").alias("n"))
            .collect()
        )

    base_census = session_memo(
        spark,
        ("ivf_base_census", os.path.abspath(sf_dir), split),
        lambda: disk_artifact_json(
            "ivf_base_census",
            "v1",
            sf_dir,
            train_base_census,
            extra=(IVF_K, IVF_ITERS, split),
        ),
        sf_dir=sf_dir,
    )

    # ---- stage the delta vector stream, vec_id-ordered micro-batches ----
    def parts() -> list:
        t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
        dt = t.filter(
            pc.greater_equal(t.column("vec_id"), split)
        ).sort_by("vec_id")
        per = max(1, -(-dt.num_rows // _STREAM_DRIFT_BATCHES))
        return [dt.slice(i, per) for i in range(0, dt.num_rows, per)]

    src = stage_stream(spark, ("drift_stream", split), sf_dir, parts)

    def census_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # routing kernel choice (r14, measured): the Arrow kernel keeps
        # the batch wall at ~0.28 s; the codegen twin was TRIED here and
        # measured 1.48 s/batch — its K×dim literal expression tree is
        # re-analyzed/compiled per micro-batch plan, which dwarfs the
        # Python-worker round trip it avoids at this batch size. ONE
        # executor-side census job + a driver-side ≤K-row landing (r14:
        # measured −28% per-drain at sf0.1 vs the executor write path)
        return (
            route_to_centroids(batch_df.select("vec_id", "embedding"), cents)
            .groupBy("cid")
            .agg(F.count("*").alias("n_delta"))
        )

    return drain_partials(
        staged_stream(spark, src, raw_table_schema(spark, sf_dir, "embeddings")),
        census_batch,
        # the drift arithmetic runs in PYTHON on the landed ≤K-row
        # censuses (r14: the distributed read-back + range-join-window
        # drift plan was ~1.6 s of fixed plan/collect cost per refresh
        # for a 16-row table)
        lambda rows: census_drift_local(spark, base_census, rows, IVF_K),
        None,
        bounded=True,
        walls=LAST_DRIFT_BATCH_WALLS,
    )


# ---------------------------------------------------------------------------
# text_profile_drift — corpus-profile drift through the same exact kernel
# ---------------------------------------------------------------------------

#: Token-count log2 band cap: length(bin(tok)) spans 1..cap (bin() has no
#: leading zeros on either engine); buckets above the cap fold into it.
_PROFILE_LOG2_CAP = 15

#: Composite bucket id = log2_band * 10 + alpha_decile ∈ [10, 159]; the
#: fixed cell frame covers 0..159 (ids 0..9 are structurally empty).
_PROFILE_CELLS = (_PROFILE_LOG2_CAP + 1) * 10


def text_profile_drift_oracle() -> str:
    from ..functions.stable import dratio_sql

    share_b = dratio_sql("n_base * 1000000", "tot_b")
    share_d = dratio_sql("n_delta * 1000000", "tot_d")
    return f"""
WITH split AS (
  SELECT (MAX(doc_id) + 1) * {_MERGE_SPLIT_NUM} // {_MERGE_SPLIT_DEN} AS v
  FROM documents
), feat AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS tok,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS al,
         length(text) AS tot
  FROM documents
), buck AS (
  SELECT CAST(least({_PROFILE_LOG2_CAP}, length(bin(tok))) * 10
              + CASE WHEN tot > 0 THEN least(9, al * 10 // tot)
                     ELSE 0 END AS INTEGER) AS cid,
         CASE WHEN doc_id >= (SELECT v FROM split) THEN 1 ELSE 0 END AS pop
  FROM feat
), cb AS (
  SELECT cid,
         COUNT(*) FILTER (WHERE pop = 0) AS nb,
         COUNT(*) FILTER (WHERE pop = 1) AS nd
  FROM buck GROUP BY cid
), cells AS (
  SELECT r AS cid FROM range(0, {_PROFILE_CELLS}) t(r)
), census AS (
  SELECT cells.cid,
         COALESCE(nb, 0) AS n_base,
         COALESCE(nd, 0) AS n_delta
  FROM cells LEFT JOIN cb ON cb.cid = cells.cid
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
               - CAST(n_base AS DECIMAL(38,0)) * tot_d) * 200
             >= CAST(tot_b AS DECIMAL(38,0)) * tot_d AS drifted
FROM census, tot
"""


@query("text_profile_drift", oracle=text_profile_drift_oracle())
def text_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-profile drift gate (SURVEY §2.Y): bucket every document by
    (token-count log2 band × alphabetic-share decile) and census-drift
    the standing corpus (doc_id < split) against the delta (doc_id ≥
    split) through the SAME exact-rational kernel the vector-index
    monitor uses (``index_drift_tagged``) — the pre-ingest check that a
    delta's length/character profile still matches the corpus it joins.

    Float discipline: every bucketing decision is INTEGER arithmetic —
    the log2 band is the bit length (``length(bin(tok))``, identical
    no-leading-zeros rendering on both engines), the decile is
    ``al*10 DIV tot``, and the drift flag is the DECIMAL(38,0) cross
    multiplication — so there is no float boundary anywhere in the op.

    Shape at scale: one codegen'd scan (token count via row-local
    ``split``/``filter`` size, character counts via ``regexp_replace``
    length — no explode, no Python) and one {_PROFILE_CELLS}-row keyed
    exchange. The census is then COLLECTED (a model scalar —
    {_PROFILE_CELLS} rows by construction, never data) and the drift
    tail computes driver-side through ``drift_table_local`` (r14
    optimization: the cells-join + window + decimal tail was fixed
    distributed plan cost per refresh for a bounded table)."""
    from .extensions7 import drift_table_local

    d = load_table(spark, sf_dir, "documents")
    split = _doc_split(spark, sf_dir)
    buck = profile_cells(d).select(
        "cid", (F.col("doc_id") >= split).cast("int").alias("pop")
    )
    counts = buck.groupBy("cid").agg(
        F.count(F.when(F.col("pop") == 0, 1)).alias("n_base"),
        F.count(F.when(F.col("pop") == 1, 1)).alias("n_delta"),
    ).collect()
    return drift_table_local(
        spark,
        {int(r["cid"]): int(r["n_base"]) for r in counts},
        {int(r["cid"]): int(r["n_delta"]) for r in counts},
        _PROFILE_CELLS,
    )


def profile_cells(d: DataFrame) -> DataFrame:
    """KERNEL — ``(doc_id, cid)`` profile-bucket assignment of a
    ``(doc_id, text)`` frame: cid = log2-band(token count) × 10 +
    alphabetic-share decile, all INTEGER arithmetic (``length(bin(…))``
    bit length, ``al*10 DIV tot`` decile). One bucketing semantics, two
    consumers: the registered batch monitor above and the staged §2.AF
    streaming twin fold per-batch censuses with it."""
    feat = d.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
        ).alias("tok"),
        F.length(
            F.regexp_replace(F.col("text"), "[^A-Za-z]", "")
        ).alias("al"),
        F.length(F.col("text")).alias("tot"),
    )
    return feat.select(
        "doc_id",
        (
            F.least(
                F.lit(_PROFILE_LOG2_CAP), F.length(F.bin(F.col("tok")))
            )
            * 10
            + F.when(
                F.col("tot") > 0,
                F.least(F.lit(9), F.expr("al * 10 DIV tot")),
            ).otherwise(F.lit(0))
        )
        .cast("int")
        .alias("cid"),
    )
