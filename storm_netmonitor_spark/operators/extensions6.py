"""Round-11 operators — the §2.W batch, REGISTERED (VERDICT r10 #1).

Staged unregistered through round 10 (plain callables + oracle builders,
registry frozen at 282), these three passed BOTH halves of the
registration gate all round — vanilla-session DuckDB hash parity in
``tests/test_extensions6_staged.py`` and ``tools/preflight_local_cluster
--staged`` under real executor JVMs — so round 11 registers them with
the standard ``@query`` decorator (registry 282 → 285).

Capability anchor: SURVEY §2.W (the three ops compose EXISTING audited
kernels — the IVF router, the banded/shingled pair CTEs, the SemDeDup
clustering, connected components — into the serving/incremental/
joined-modality shapes a production corpus pipeline runs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import (
    disk_artifact_frame,
    load_table,
    raw_table_schema,
    scatter,
    session_memo,
)
from ..registry import query
from .vectors import (
    _DOT_SUM_SQL,
    IVF_ITERS,
    IVF_K,
    IVF_NPROBE,
    _dot_arrays,
    ivf_index,
)
from .corpus import (
    SEMDEDUP_CLUSTER_TARGET,
    SEMDEDUP_ITERS,
    SEMDEDUP_K_MIN,
    SEMDEDUP_TAU,
    _symmetric_edges,
    connected_components,
    semantic_dup_pairs,
)
from .text import NGRAM_JACCARD_MIN, NGRAM_PAIRS_CTE, text_ngram_jaccard


# ---------------------------------------------------------------------------
# multimodal_joined_dedup — documents and their embeddings vote together
# ---------------------------------------------------------------------------


def _sd_pairs_ctes() -> str:
    """The SemDeDup chain from ``corpus._semdedup_oracle`` re-emitted with
    an ``sd_`` prefix (the unprefixed chain's ``sizes`` collides with
    ``NGRAM_PAIRS_CTE``'s) and a PAIR tail instead of the census tail:
    ``sd_pairs(doc_a, doc_b)`` = within-cluster pairs with decimal cosine
    ≥ tau. Same Lloyd rounds, same seeds, same assignment tie-breaks —
    one clustering semantics, two consumers."""
    head = f"""sd_kk AS MATERIALIZED (
  SELECT GREATEST({SEMDEDUP_K_MIN}, COUNT(*) // {SEMDEDUP_CLUSTER_TARGET}) AS k
  FROM embeddings
), sd_e AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), sd_c0 AS MATERIALIZED (
  SELECT vec_id - 1 AS cid, pos, x AS cx FROM sd_e
  WHERE vec_id BETWEEN 1 AND (SELECT k FROM sd_kk)
)"""
    from .vectors import lloyd_rounds_sql, lloyd_route_sql

    rounds = [lloyd_rounds_sql("sd_", "sd_e", SEMDEDUP_ITERS)]
    n_fin = SEMDEDUP_ITERS
    tail = lloyd_route_sql(
        "sd_afin", "sd_e", f"sd_c{n_fin}"
    ) + f""", sd_pairs AS MATERIALIZED (
  SELECT a.vec_id AS doc_a, a2.vec_id AS doc_b
  FROM sd_afin a
  JOIN sd_afin a2 ON a.cid = a2.cid AND a.vec_id < a2.vec_id
  JOIN sd_e ea ON ea.vec_id = a.vec_id
  JOIN sd_e eb ON eb.vec_id = a2.vec_id AND eb.pos = ea.pos
  GROUP BY 1, 2
  HAVING SUM(CAST(ea.x * eb.x AS DECIMAL(28,12))) >= {SEMDEDUP_TAU}
)"""
    return head + "".join(rounds) + tail


def multimodal_joined_dedup_oracle() -> str:
    """Both pair definitions verbatim from their registered twins
    (``NGRAM_PAIRS_CTE`` + the prefixed SemDeDup chain), unioned, then
    components via the ``text_dedup_components`` recursive-CTE
    precedent."""
    return f"""
WITH RECURSIVE {NGRAM_PAIRS_CTE}, tsim AS (
  SELECT doc_a, doc_b
  FROM pairs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)
        >= {NGRAM_JACCARD_MIN}
), {_sd_pairs_ctes()}, allp AS (
  SELECT doc_a, doc_b FROM tsim
  UNION
  SELECT doc_a, doc_b FROM sd_pairs
), bi AS (
  SELECT doc_a AS s, doc_b AS d FROM allp
  UNION ALL
  SELECT doc_b, doc_a FROM allp
), reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT b.d, r.lbl FROM reach r JOIN bi b ON b.s = r.node
)
SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS component
FROM reach GROUP BY node
"""


@query("multimodal_joined_dedup", oracle=multimodal_joined_dedup_oracle())
def multimodal_joined_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joined-modality dedup (SURVEY §2.W): a pair is duplicate iff its
    TEXT is near-duplicate (word-3-gram Jaccard ≥ {NGRAM_JACCARD_MIN},
    the ``text_ngram_jaccard`` definition) OR its EMBEDDING is
    near-duplicate (within-SemDeDup-cluster cosine ≥ {SEMDEDUP_TAU});
    components elected over the UNION edge set so a doc caught by either
    modality lands in the same cluster as its twins. doc_id ≡ vec_id by
    the testdata contract (1:1, verified in
    tests/test_extensions6_staged.py).

    Shape at scale: BOTH edge lists already exist as bounded pipelines —
    the df-capped blocked shingle join and the cluster-blocked BLAS pair
    scan — so the union adds no new pairwise term anywhere; the combined
    symmetric edge frame stages to the cross-process artifact store like
    ``dedup_edges``, and component resolution is the standard
    min-label-propagation loop on that sparse frame."""
    d = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )

    def build_edges() -> DataFrame:
        text_edges = text_ngram_jaccard(spark, sf_dir).select(
            "doc_a", "doc_b"
        )
        vec_edges = semantic_dup_pairs(
            spark, emb, cache_key=os.path.abspath(sf_dir)
        ).select(
            F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b")
        )
        return _symmetric_edges(text_edges.unionByName(vec_edges).distinct())

    # bucketed standing edge table (guide §3.3/§6.4, the dedup_edges
    # discipline): every CC round's label⋈edge join reads the static
    # side pre-clustered by doc_a instead of re-exchanging it
    from ..io import bucketed_artifact_frame
    from .corpus import CC_EDGE_BUCKETS

    bi = session_memo(
        spark,
        ("joined_dedup_edges", os.path.abspath(sf_dir)),
        lambda: bucketed_artifact_frame(
            spark,
            "joined_dedup_edges",
            "v2",
            sf_dir,
            build_edges,
            "doc_a",
            CC_EDGE_BUCKETS,
        ),
        sf_dir=sf_dir,
    )
    return connected_components(d.select("doc_id"), bi, pre_symmetrized=True)


# ---------------------------------------------------------------------------
# stream_ann_serve — streaming ANN serving against the persisted IVF index
# ---------------------------------------------------------------------------

#: The served query set: deterministic, tiny (a stream stands in for the
#: online query feed). vec_id 0 is the registered op's canonical query —
#: its top-10 here must equal ``vec_ann_ivf``'s output exactly (asserted
#: in the staged test); 1..3 are corpus members (self-match included, cos
#: ≈ 1 — deterministic by construction).
STREAM_ANN_QUERY_IDS = (0, 1, 2, 3)
STREAM_ANN_TOPK = 10
#: Queries per micro-batch file — 2 files ⇒ the drain commits ≥2 batches,
#: so per-batch serving (not one big batch) is what the oracle checks.
_ANN_BATCH = 2

#: Wall seconds of each ``serve_batch`` invocation of the MOST RECENT
#: ``stream_ann_serve`` drain (reset at query start). Serving is a LATENCY
#: claim, not a throughput claim (VERDICT r10 #6) — bench.py reads this to
#: record per-micro-batch p50/p95 alongside the drain wall.
LAST_SERVE_BATCH_WALLS: list[float] = []


def _ivf_multiquery_ctes() -> str:
    """The IVF Lloyd chain from ``vectors._ivf_cand_ctes`` re-emitted
    with an ``iv_`` prefix and a MULTI-QUERY tail: probe/candidate CTEs
    are keyed by ``qid`` instead of hard-coding the single vec_id-0
    query. Same rounds, same seeds, same tie-breaks."""
    head = f"""iv_e AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE vec_id <> 0
), iv_c0 AS MATERIALIZED (
  SELECT vec_id - 1 AS cid, pos, x AS cx FROM iv_e
  WHERE vec_id BETWEEN 1 AND {IVF_K}
)"""
    from .vectors import lloyd_rounds_sql, lloyd_route_sql

    rounds = [lloyd_rounds_sql("iv_", "iv_e", IVF_ITERS)]
    n_fin = IVF_ITERS
    ids = ", ".join(str(i) for i in STREAM_ANN_QUERY_IDS)
    tail = lloyd_route_sql(
        "iv_afin", "iv_e", f"iv_c{n_fin}"
    ) + f""", iv_q AS MATERIALIZED (
  SELECT vec_id AS qid, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS qx
  FROM embeddings WHERE vec_id IN ({ids})
), iv_qd AS MATERIALIZED (
  SELECT q.qid, c.cid, SUM(q.qx * c.cx) AS dot
  FROM iv_q q JOIN iv_c{n_fin} c USING (pos) GROUP BY 1, 2
), iv_probe AS MATERIALIZED (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY dot DESC, cid) AS rn
    FROM iv_qd
  ) WHERE rn <= {IVF_NPROBE}
), iv_cand AS MATERIALIZED (
  SELECT p.qid, a.vec_id FROM iv_afin a JOIN iv_probe p ON p.cid = a.cid
)"""
    return head + "".join(rounds) + tail


def stream_ann_serve_oracle() -> str:
    return f"""
WITH {_ivf_multiquery_ctes()}, iv_dots AS MATERIALIZED (
  SELECT qid, vec_id, {_DOT_SUM_SQL} AS cos_sim
  FROM (SELECT cand.qid, e.vec_id, e.x * q.qx AS px
        FROM iv_cand cand
        JOIN iv_e e ON e.vec_id = cand.vec_id
        JOIN iv_q q ON q.qid = cand.qid AND q.pos = e.pos)
  GROUP BY qid, vec_id
)
SELECT CAST(qid AS BIGINT) AS qid, vec_id, cos_sim FROM (
  SELECT qid, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, vec_id) AS rn
  FROM iv_dots
) WHERE rn <= {STREAM_ANN_TOPK}
"""


def _ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector IVF cell assignment ``(vec_id, k)`` — query-independent,
    so it is a property of the INDEX, staged once to the artifact store
    (the registered op fuses this routing with its single query's dots;
    the serve path reuses it across every batch and every query)."""
    corpus, cents = ivf_index(spark, sf_dir)

    def build() -> DataFrame:
        # one routing kernel, every consumer (serve cells, §2.X insert/
        # drift) — the tie-break-sensitive argmax lives in ONE place.
        # Local import: extensions7 imports this module's banding helpers.
        from .extensions7 import route_to_centroids

        return route_to_centroids(corpus, cents).withColumnRenamed(
            "cid", "k"
        )

    # a serving session pins the routing table in executor memory: every
    # micro-batch joins against it, so the artifact parquet is read once
    # per process, not once per batch (the cached-index discipline of the
    # pagerank edge frames)
    return session_memo(
        spark,
        ("ivf_cells", os.path.abspath(sf_dir)),
        lambda: disk_artifact_frame(
            spark, "ivf_cells", "v1", sf_dir, build, extra=(IVF_K, IVF_ITERS)
        ).cache(),
        sf_dir=sf_dir,
    )


def serve_topk_plan(
    cells: DataFrame,
    corpus: DataFrame,
    cents: list[list[float]],
    qframe: DataFrame,
) -> DataFrame:
    """One serving batch as a PLAN — ``(qid, vec_id, cos_sim)`` IVF
    top-{STREAM_ANN_TOPK} of the ``(qid, qvec)`` query frame against the
    staged index. Factored out of the foreachBatch closure so the plan
    guard can pin its scale discipline directly (VERDICT r11 hygiene):

    - probe routing runs EXECUTOR-side via ``mapInPandas`` — the
      ``route_to_centroids`` Arrow-pass shape widened from argmax to the
      top-NPROBE cut. Tie-break matches the oracle's ``ROW_NUMBER …
      ORDER BY dot DESC, cid``: a STABLE argsort of ``-dots`` breaks
      ties by ascending cid. The probe cut margin is margin-audited
      (≥7e-3 at the driver SFs), so numpy accumulation order is
      decision-safe. No per-query driver loop: serving QPS scales with
      executors.
    - the query side joins as a broadcast FRAME, never plan literals:
      plan size is independent of batch size and vector dim, so a
      production batch cannot bloat Catalyst analysis per micro-batch
      (the centroid matrix ships once per session inside the
      mapInPandas closure — pickled task binary, not plan text).
    """
    cmat = [[float(x) for x in c] for c in cents]

    def probe_iter(batches):
        import numpy as np
        import pandas as pd

        cm = np.array(cmat, dtype=np.float64).T
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf["qvec"].tolist(), dtype=np.float64)
            order = np.argsort(-(m @ cm), axis=1, kind="stable")
            probes = order[:, :IVF_NPROBE].astype("int32")
            yield pd.DataFrame(
                {
                    "qid": np.repeat(pdf["qid"].to_numpy(), IVF_NPROBE),
                    "k": probes.ravel(),
                }
            )

    probes = qframe.mapInPandas(probe_iter, "qid long, k int")
    cand = cells.join(F.broadcast(probes), "k").select("qid", "vec_id")
    scored = (
        cand.join(corpus, "vec_id")
        .join(F.broadcast(qframe), "qid")
        .select(
            "qid",
            "vec_id",
            _dot_arrays(F.col("embedding"), F.col("qvec")).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= STREAM_ANN_TOPK)
        .select("qid", "vec_id", "cos_sim")
    )


@query("stream_ann_serve", oracle=stream_ann_serve_oracle())
def stream_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN serving (SURVEY §2.W): a micro-batched stream of
    query vectors, each batch answered with its IVF top-{STREAM_ANN_TOPK}
    against the TRAINED index — the serve side of the index the r10
    artifact store persists (`ivf_cents` + the staged `ivf_cells`
    routing; a fresh serving process trains NOTHING).

    Per batch: probe routing runs EXECUTOR-side (an Arrow pass over the
    query frame — the ``route_to_centroids`` shape widened to the
    top-NPROBE cut, so serving QPS scales with executors, not the
    driver), the candidate scan is ONE broadcast join — (qid, cell)
    probe pairs against the staged cell frame — and the query vectors
    attach by a second broadcast join (a FRAME, never plan literals:
    plan size stays independent of batch size and vector dim), followed
    by the row-local decimal dot and a per-qid top-k window. No pairwise
    term, no full-corpus scan per query: only probed cells are read.
    foreachBatch writes per-batch results keyed by batch_id
    (retry-idempotent, the stream_sketch_cms discipline). Exact-decimal
    scoring of ALL candidates keeps the cut margin-free; at 100 TB the
    float-prefilter shortlist of the registered op slots in front
    unchanged."""
    import tempfile

    import pyarrow.parquet as pq

    corpus, cents = ivf_index(spark, sf_dir)
    cells = _ivf_cells(spark, sf_dir)

    # ---- stage the query stream: _ANN_BATCH queries per file ------------
    def build_stream(d: str) -> str:
        t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
        import pyarrow.compute as pc

        qt = t.filter(
            pc.is_in(
                t.column("vec_id"),
                value_set=__import__("pyarrow").array(
                    list(STREAM_ANN_QUERY_IDS)
                ),
            )
        ).sort_by("vec_id")
        for i in range(0, qt.num_rows, _ANN_BATCH):
            f = os.path.join(d, f"q{i // _ANN_BATCH}.parquet")
            pq.write_table(qt.slice(i, _ANN_BATCH), f)
            os.utime(f, (1_700_000_000 + i * 1000, 1_700_000_000 + i * 1000))
        return d

    src = session_memo(
        spark,
        ("ann_serve_stream", os.path.abspath(sf_dir)),
        lambda: build_stream(tempfile.mkdtemp(prefix="nm_ann_q_")),
        sf_dir=sf_dir,
    )

    def serve_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # (plain re-reads of the tiny micro-batch file, NOT a
        # localCheckpoint: checkpoint blocks are the one non-recoverable
        # class under executor loss, and the --chaos-serve drill SIGKILLs
        # an executor mid-drain)
        qframe = batch_df.select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
        )
        # the probe/join/top-k work stays executor-side; only the
        # ≤Q·topk-row result lands driver-side
        return serve_topk_plan(cells, corpus, cents, qframe)

    from ..streaming.core import drain_partials

    # the landed columns ARE the result columns
    return drain_partials(
        spark.readStream.schema(
            raw_table_schema(spark, sf_dir, "embeddings")
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        serve_batch,
        lambda landed: landed,
        "qid long, vec_id long, cos_sim double",
        bounded=True,
        walls=LAST_SERVE_BATCH_WALLS,
    )


# ---------------------------------------------------------------------------
# text_minhash_index_merge — incremental maintenance of the banded index
# ---------------------------------------------------------------------------

#: The standing index covers doc_id < split, the delta is doc_id >= split;
#: split = 4/5 of the id space, computed from the corpus so the op needs
#: no per-SF constant (both engines compute it identically in integer
#: arithmetic).
_MERGE_SPLIT_NUM = 4
_MERGE_SPLIT_DEN = 5


def text_minhash_index_merge_oracle() -> str:
    """Full-recompute twin: the registered ``text_near_dedup_minhash``
    contract ("every pair with exact word-3-shingle Jaccard ≥ 0.5") holds
    for the MERGED corpus, so the newly-discovered pairs are exactly the
    full pair set restricted to pairs TOUCHING the delta — doc_b ≥ split
    (doc_b is the larger id, so a pair with doc_b < split is base-only)."""
    return f"""
WITH tk AS (
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
), split AS (
  SELECT (MAX(doc_id) + 1) * {_MERGE_SPLIT_NUM} // {_MERGE_SPLIT_DEN} AS v
  FROM documents
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sizes AS (
  SELECT doc_id, len(sh) AS n FROM sh
)
SELECT doc_a, doc_b,
       ROUND(ninter / (sa.n + sb.n - ninter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = inter.doc_a
JOIN sizes sb ON sb.doc_id = inter.doc_b
WHERE ROUND(ninter / (sa.n + sb.n - ninter), 4) >= 0.5
  AND doc_b >= (SELECT v FROM split)
"""


def minhash_band_rows(docs: DataFrame) -> DataFrame:
    """KERNEL — (doc_id, band_idx, band_hash): the LSH index rows for a
    doc frame (signature + banding, zero shuffles; shared by the
    standing-index staging, the delta paths, and the §2.X streaming
    merge). Library export via ``storm_netmonitor_spark.kernels``."""
    from .text import MINHASH_BANDS, MINHASH_SEEDS, minhash_signatures

    sig = minhash_signatures(docs)
    rows_per_band = len(MINHASH_SEEDS) // MINHASH_BANDS
    return sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.xxhash64(
                        *[
                            F.col(f"mh_{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                        F.lit(b),
                    ).alias("band_hash"),
                )
                for b in range(MINHASH_BANDS)
            ])
        ).alias("bh"),
    ).select("doc_id", "bh.band_idx", "bh.band_hash")


@query("text_minhash_index_merge", oracle=text_minhash_index_merge_oracle())
def text_minhash_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash index maintenance (SURVEY §2.W): MERGE the
    delta (doc_id ≥ split) into the STANDING banded index (doc_id <
    split, read from the artifact store — its signatures are NOT
    recomputed) and emit the newly-discovered verified duplicate pairs —
    exactly the pairs a full re-run would add, which is what the
    full-recompute oracle pins.

    Shape at scale: signature+banding for the DELTA ONLY (row-local,
    zero shuffles — the maintenance cost is O(|delta|), not O(corpus));
    new candidates = delta bands ⋈ (standing ∪ delta) bands per bucket
    (the bilinear-delta discipline of ``incremental_join_view`` applied
    to the dedup index: the standing×standing term never re-runs); exact
    shingle-Jaccard verification only on those candidates, with the
    shingle arrays of the non-delta side read as needed."""
    from .text import _with_shingles

    d = load_table(spark, sf_dir, "documents")
    max_id = d.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    split = (int(max_id) + 1) * _MERGE_SPLIT_NUM // _MERGE_SPLIT_DEN

    base_docs = d.filter(F.col("doc_id") < split)
    delta_docs = d.filter(F.col("doc_id") >= split)

    # the STANDING index is a maintained artifact: staged once per input
    # fingerprint, read (not recomputed) by every merge
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
    delta = minhash_band_rows(scatter(delta_docs))
    sh_tbl = _with_shingles(scatter(d)).select("doc_id", "sh")
    return verify_band_candidates(
        delta, standing.unionByName(delta), sh_tbl
    )


def band_candidate_pairs(
    probe_bands: DataFrame, index_bands: DataFrame
) -> DataFrame:
    """KERNEL — distinct ordered candidate pairs ``(doc_a < doc_b)`` from
    a band-bucket equi-join of ``probe_bands`` against ``index_bands``
    (both ``(doc_id, band_idx, band_hash)`` frames). With the probe side
    also present in the index, probe-probe pairs double-match — the
    least/greatest ordering plus distinct dedups them exactly once.
    Shared by the batch merge and the §2.X streaming merge."""
    a = probe_bands.alias("a")
    b = index_bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )


def verify_jaccard_pairs(
    cand: DataFrame, sh_tbl: DataFrame, min_jaccard: float = 0.5
) -> DataFrame:
    """KERNEL — exact word-3-shingle Jaccard verification of candidate
    pairs: joins only the candidate rows back to their shingle arrays in
    ``sh_tbl`` (``(doc_id, sh)``) and keeps pairs at ≥ ``min_jaccard``
    (decimal-4 rounded, the ``text_near_dedup_minhash`` contract).
    Shared by the batch merge and the §2.X streaming merge — one
    threshold, one rounding, every consumer."""
    from ..functions.stable import dround

    sh_a = sh_tbl.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    sh_b = sh_tbl.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    n_inter = F.size(F.array_intersect("sa", "sb"))
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            dround(
                n_inter
                / (F.size("sa") + F.size("sb") - n_inter).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def verify_band_candidates(
    probe_bands: DataFrame,
    index_bands: DataFrame,
    sh_tbl: DataFrame,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Candidates then verification — the full merge step both merge
    execution modes run per delta/batch."""
    return verify_jaccard_pairs(
        band_candidate_pairs(probe_bands, index_bands), sh_tbl, min_jaccard
    )
