"""Round-13 operators, second batch — §2.AE, REGISTERED (registry 306 → 309).

Staged at round-12 close; both gate halves re-run green at round-13
open (staged local-cluster 12/12 twice — hash-identical across runs,
which pins the LPA kernel's determinism under real partitioning —
and vanilla-session oracle parity), so they register with the
standard ``@query`` decorator.

Capability anchor: SURVEY §2.AE — the RANKING-QUALITY & COMMUNITY
triple, deepening the §2.Z evaluation family from set-overlap (recall)
to order-sensitive metrics and from pairwise dedup to graph structure:

- ``vec_rank_metrics`` — MRR@k and NDCG@k of the SERVED IVF ranking
  against exact brute-force top-k, per query at the registered serving
  default (nprobe = 6). Recall says WHETHER the right neighbors
  surface; rank metrics say WHERE — the measurement that decides if a
  re-rank stage is needed in front of the index;
- ``graph_community_lpa`` — fixed-round synchronous label propagation
  (3 rounds, majority label, ties to the smallest) over the verified
  near-dup edge artifact: the bounded-cost community pass a corpus
  pipeline runs when full convergence (the CC op) is not worth the
  iteration tail;
- ``stream_serve_recall`` — the serving-quality MONITOR: the §2.W
  query stream drains, each batch's SERVED top-k is scored against the
  exact top-k computed on the same batch, per-qid hit counts land
  batch_id-keyed, and the final recall table ≡ the batch evaluation of
  those queries (the batch-twin discipline).

Float discipline: the NDCG gain table is PRECOMPUTED integer constants
(round(1e6/log2(rank+1)) for ranks 1..k, inlined identically into the
Spark plan and the SQL twin — no cross-engine libm anywhere), MRR and
recall are dratio exact rationals, LPA is pure integer counting, and
the only float decisions (probe ranks, top-k cuts) are the audited
§2.Z margin classes.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.stable import dratio, dratio_sql
from ..io import load_table, raw_table_schema, session_memo
from ..registry import query

# ---------------------------------------------------------------------------
# vec_rank_metrics — MRR@k / NDCG@k of the served IVF ranking
# ---------------------------------------------------------------------------

#: Shortlist size and query block — the §2.Z conventions (vec_ann_recall
#: / vec_batch_knn); nprobe pinned at the registered serving default.
_RM_K = 10
_RM_QUERIES = 10

#: The NDCG gain table: e6-scaled 1/log2(rank+1) for ranks 1..k,
#: computed ONCE here and inlined as the same integer constants into
#: both engines — rank-metric arithmetic is thereby integer-exact
#: cross-engine (no libm log2 in either plan).
_RM_GAINS_E6 = tuple(
    int(round(1_000_000 / math.log2(i + 1))) for i in range(1, _RM_K + 1)
)
_RM_IDCG_E6 = sum(_RM_GAINS_E6)


def vec_rank_metrics_oracle() -> str:
    from .vectors import (
        _DOT_SUM_SQL,
        IVF_ITERS,
        IVF_K,
        IVF_NPROBE,
        lloyd_rounds_sql,
        lloyd_route_sql,
    )

    gain_case = " ".join(
        f"WHEN {i + 1} THEN {g}" for i, g in enumerate(_RM_GAINS_E6)
    )
    n_fin = IVF_ITERS
    return f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE vec_id <> 0
), qe AS MATERIALIZED (
  SELECT vec_id AS q_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS qx
  FROM embeddings WHERE vec_id < {_RM_QUERIES}
), c0 AS MATERIALIZED (
  SELECT vec_id - 1 AS cid, pos, x AS cx FROM e
  WHERE vec_id BETWEEN 1 AND {IVF_K}
){lloyd_rounds_sql("", "e", IVF_ITERS)}{lloyd_route_sql("afin", "e", f"c{n_fin}")}, qd AS MATERIALIZED (
  SELECT qe.q_id, c.cid, SUM(qe.qx * c.cx) AS dot
  FROM qe JOIN c{n_fin} c USING (pos) GROUP BY 1, 2
), prank AS MATERIALIZED (
  SELECT q_id, cid,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot DESC, cid) AS pr
  FROM qd
), sims AS MATERIALIZED (
  SELECT q_id, vec_id, {_DOT_SUM_SQL} AS sim
  FROM (SELECT qe.q_id, e.vec_id, e.x * qe.qx AS px
        FROM e JOIN qe USING (pos)
        WHERE e.vec_id <> qe.q_id)
  GROUP BY q_id, vec_id
), exact AS MATERIALIZED (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY sim DESC, vec_id) AS rn
    FROM sims
  ) WHERE rn <= {_RM_K}
), approx AS MATERIALIZED (
  SELECT q_id, vec_id, rn FROM (
    SELECT s.q_id, s.vec_id,
           ROW_NUMBER() OVER (PARTITION BY s.q_id
                              ORDER BY s.sim DESC, s.vec_id) AS rn
    FROM sims s
    JOIN afin a ON a.vec_id = s.vec_id
    JOIN prank r ON r.q_id = s.q_id AND r.cid = a.cid
    WHERE r.pr <= {IVF_NPROBE}
  ) WHERE rn <= {_RM_K}
), scored AS (
  SELECT a.q_id, a.rn,
         CASE WHEN x.vec_id IS NULL THEN 0 ELSE 1 END AS hit,
         CASE WHEN x.vec_id IS NULL THEN 0
              ELSE CASE a.rn {gain_case} END END AS gain_e6
  FROM approx a
  LEFT JOIN exact x ON x.q_id = a.q_id AND x.vec_id = a.vec_id
), per AS (
  SELECT q.q_id,
         CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hits,
         CAST(COALESCE(MIN(CASE WHEN hit = 1 THEN rn END), 0) AS INTEGER)
           AS first_hit_rank,
         CAST(COALESCE(SUM(gain_e6), 0) AS BIGINT) AS dcg_e6
  FROM (SELECT DISTINCT q_id FROM qe) q
  LEFT JOIN scored s ON s.q_id = q.q_id
  GROUP BY q.q_id
)
SELECT q_id, n_hits, first_hit_rank,
       CASE WHEN first_hit_rank = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE {dratio_sql("1000000", "first_hit_rank")} END AS mrr,
       {dratio_sql("dcg_e6 * 1000000", str(_RM_IDCG_E6))} AS ndcg
FROM per
"""


@query("vec_rank_metrics", oracle=vec_rank_metrics_oracle())
def vec_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive quality of the SERVED IVF ranking (SURVEY
    §2.AE): per query of the §2.Z block, MRR@{_RM_K} and NDCG@{_RM_K}
    of the index's nprobe-6 shortlist against exact brute-force
    top-{_RM_K} (binary relevance, self-matches excluded — the
    ``vec_ann_recall`` conventions). Recall answers WHETHER the right
    neighbors surface; these answer WHERE they rank — the measurement
    that decides whether a re-rank stage must sit in front of the
    index.

    Exactness: the gain table is {_RM_K} PRECOMPUTED integer constants
    (e6-scaled 1/log2(rank+1)) inlined identically into both engines,
    so DCG sums, MRR, and NDCG are integer/dratio arithmetic end to
    end — the only float decisions are the probe rank and the two
    top-k cuts, the §2.Z margin-audited classes.

    Plan shape: the ``vec_ann_recall`` eval shape at ONE nprobe — the
    corpus's cells read from the served snapshot's persisted posting
    lists (``ivf_posting_lists`` — an index IS its assignments; no
    per-eval corpus re-route, r14 optimization), one broadcast Q-row
    dot block (the only pairwise term, Q fixed), a localCheckpoint
    barrier so the two rank windows consume one materialized N×Q
    frame, and Q-bounded window partitions."""
    import numpy as np

    from ..io import tiny_local_frame
    from .vectors import IVF_NPROBE, ivf_index, ivf_posting_lists

    corpus, cents = ivf_index(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    # the Q-row query block collects ONCE per session (a fixed
    # model-scale fetch — the eval reruns per bench sample, the query
    # set does not change between samples; the vec_ann_recall rendering)
    qrows = session_memo(
        spark,
        ("rm_qrows", os.path.abspath(sf_dir)),
        lambda: (
            e.filter(F.col("vec_id") < _RM_QUERIES)
            .select("vec_id", "embedding")
            .collect()
        ),
        sf_dir=sf_dir,
    )
    cmat = np.array([[float(x) for x in c] for c in cents], dtype=np.float64)
    pr_rows = []
    for r in qrows:
        qv = np.array([float(x) for x in r["embedding"]], dtype=np.float64)
        dots = cmat @ qv
        order = np.lexsort((np.arange(len(cents)), -dots))
        pr_rows.extend(
            (int(r["vec_id"]), int(cid), int(rank))
            for rank, cid in enumerate(order, start=1)
        )
    # VALUES local relation, not createDataFrame: the Q×K rank table is
    # plain ints and the driver-job-free rendering saves ~150 ms per
    # rebuilt sample (the r12 tiny_local_frame measurement)
    pr = tiny_local_frame(spark, pr_rows, "q_id long, cid int, pr int")
    # the broadcast Q block reads straight from the table scan (no
    # driver round-trip per sample; the dot's zip_with casts both sides
    # to double, and CAST(float AS double) is exactly the python
    # float() the old local-relation rendering shipped, so the dots are
    # bit-identical — the vec_ann_recall argument)
    qb = e.filter(F.col("vec_id") < _RM_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    # the served snapshot's posting lists read from the artifact store
    # (an index IS its assignments) — no per-eval corpus re-route
    routed = ivf_posting_lists(spark, sf_dir)
    # sims feed RANK DECISIONS only (no sim value is emitted), so the
    # dot is a plain double fold — the audited §2.Z top-k cut margins
    # (≥3.5e-3) dwarf double accumulation noise (~1e-13), the same
    # float-prefilter argument as vec_ann_ivf's shortlist. The decimal
    # _dot_arrays discipline is for ops that EMIT the value.
    fdot = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("q_emb"),
            lambda a, b: a.cast("double") * b.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sims = corpus.join(
        F.broadcast(qb), F.col("vec_id") != F.col("q_id")
    ).select("q_id", "vec_id", fdot.alias("sim"))
    enriched = (
        sims.join(routed.select("vec_id", "cid"), "vec_id")
        .join(F.broadcast(pr), ["q_id", "cid"])
        .localCheckpoint()
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    exact = (
        enriched.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RM_K)
        .select("q_id", "vec_id")
    )
    approx = (
        enriched.filter(F.col("pr") <= IVF_NPROBE)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RM_K)
        .select("q_id", "vec_id", "rn")
    )
    qids = tiny_local_frame(
        spark, [[int(r["vec_id"])] for r in qrows], "q_id long"
    )
    return rank_metrics_over(qids, approx, exact)


def rank_metrics_over(
    qids: DataFrame, approx: DataFrame, exact: DataFrame
) -> DataFrame:
    """KERNEL — binary-relevance rank metrics of a served list against a
    truth set: ``approx`` carries ``(q_id, vec_id, rn)`` (ranks 1..k),
    ``exact`` the relevant ``(q_id, vec_id)`` pairs, ``qids`` the full
    query universe (queries with no served rows emit zero-metric rows).
    Returns ``(q_id, n_hits, first_hit_rank, mrr, ndcg)`` with the
    precomputed integer gain table — rank arithmetic is integer/dratio
    exact. Factored out of :func:`vec_rank_metrics` so the hypothesis
    suite can drive it against a pure-python reference on arbitrary hit
    patterns."""
    gain = F.element_at(
        F.array(*[F.lit(g) for g in _RM_GAINS_E6]), F.col("rn")
    )
    scored = approx.join(
        exact.withColumn("hit", F.lit(1)), ["q_id", "vec_id"], "left"
    ).select(
        "q_id",
        "rn",
        F.coalesce("hit", F.lit(0)).alias("hit"),
        F.when(F.col("hit").isNotNull(), gain).otherwise(0).alias("gain_e6"),
    )
    per = qids.join(scored, "q_id", "left").groupBy("q_id").agg(
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
        F.coalesce(
            F.min(F.when(F.col("hit") == 1, F.col("rn"))), F.lit(0)
        )
        .cast("int")
        .alias("first_hit_rank"),
        F.coalesce(F.sum("gain_e6"), F.lit(0)).cast("long").alias("dcg_e6"),
    )
    return per.select(
        "q_id",
        "n_hits",
        "first_hit_rank",
        F.when(F.col("first_hit_rank") == 0, F.lit(0.0))
        .otherwise(dratio(F.lit(1000000), F.col("first_hit_rank")))
        .alias("mrr"),
        dratio(F.col("dcg_e6") * 1000000, F.lit(_RM_IDCG_E6)).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# graph_community_lpa — fixed-round synchronous label propagation
# ---------------------------------------------------------------------------

#: Synchronous rounds — fixed, so the pass is deterministic and its
#: cost bounded regardless of graph diameter (the production trade the
#: op documents: R rounds of majority voting vs CC's convergence tail).
_LPA_ROUNDS = 3


def graph_community_lpa_oracle() -> str:
    from .text import NGRAM_JACCARD_MIN, NGRAM_PAIRS_CTE

    rounds_sql = ""
    prev = "lab0"
    for r in range(1, _LPA_ROUNDS + 1):
        rounds_sql += f""", cnt{r} AS (
  SELECT b.d AS node, l.label, COUNT(*) AS n
  FROM bi b JOIN {prev} l ON l.node = b.s
  GROUP BY 1, 2
), win{r} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY n DESC, label) AS rn
    FROM cnt{r}
  ) WHERE rn = 1
), lab{r} AS (
  SELECT p.node, COALESCE(w.label, p.label) AS label
  FROM {prev} p LEFT JOIN win{r} w ON w.node = p.node
)"""
        prev = f"lab{r}"
    return f"""
WITH {NGRAM_PAIRS_CTE}, sim AS (
  SELECT doc_a, doc_b
  FROM pairs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)
        >= {NGRAM_JACCARD_MIN}
), bi AS (
  SELECT doc_a AS s, doc_b AS d FROM sim
  UNION ALL
  SELECT doc_b, doc_a FROM sim
), lab0 AS (
  SELECT doc_id AS node, doc_id AS label FROM documents
){rounds_sql}
SELECT node AS doc_id, CAST(label AS BIGINT) AS community
FROM {prev}
"""


@query("graph_community_lpa", oracle=graph_community_lpa_oracle())
def graph_community_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round community detection (SURVEY §2.AE): {_LPA_ROUNDS}
    SYNCHRONOUS rounds of majority label propagation over the verified
    near-dup edge artifact (the ``text_dedup_components`` edge set —
    one pair semantics, N consumers). Each round every node adopts the
    most frequent label among its neighbors (ties to the SMALLEST
    label; isolated nodes keep their own), all nodes updating from the
    same previous-round snapshot — fully deterministic, pure integer
    counting, and cost bounded by R × |edges| regardless of graph
    diameter. This is the production trade against the registered CC
    op: when the duplicate graph is shallow, R rounds of voting get
    the clusters without CC's convergence tail; when it is deep, the
    disagreement between the two ops IS the signal that the graph has
    long chains.

    Shape at scale: per round one edge-keyed exchange (neighbor-label
    counts) + one node-keyed window over per-node candidate labels —
    both proportional to |edges|, never |nodes|²; the edge artifact
    reads from the store (no rediscovery)."""
    from .corpus import standing_dedup_edges

    d = load_table(spark, sf_dir, "documents")
    # the SAME standing bucketed edge artifact text_dedup_components
    # maintains (shared memo key) — per LPA round the edge side of the
    # label join is read bucket-clustered, never re-exchanged
    bi = standing_dedup_edges(spark, sf_dir)
    return lpa_rounds(d.select("doc_id"), bi, _LPA_ROUNDS)


def lpa_rounds(nodes: DataFrame, bi: DataFrame, rounds: int) -> DataFrame:
    """KERNEL — ``rounds`` synchronous majority-label-propagation rounds
    over a SYMMETRIZED edge frame (columns ``doc_a, doc_b``; labels
    travel a→b), nodes initialized to their own ids. Per round every
    node adopts the most frequent neighbor label (ties to the SMALLEST;
    no-neighbor nodes keep theirs), all nodes updating from the same
    previous-round snapshot. Returns ``(doc_id, community)``. Factored
    out of :func:`graph_community_lpa` so the hypothesis suite can
    drive it against a pure-python reference on arbitrary graphs."""
    lab = nodes.select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("label")
    )
    for i in range(rounds):
        cnt = (
            bi.join(lab.withColumnRenamed("node", "doc_a"), "doc_a")
            .groupBy(F.col("doc_b").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("n"), F.asc("label"))
        win = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )
        lab = lab.join(win, "node", "left").select(
            "node",
            F.coalesce("new_label", "label").alias("label"),
        )
        # lineage truncation every OTHER round (r14 — the measured
        # pagerank cadence, extensions3._PR_CKPT_EVERY: the checkpoint
        # job is the dominant per-round fixed cost at test scale, while
        # cadence-2 still bounds plan growth for long production runs);
        # values are checkpoint-invariant (deterministic expressions)
        if (i + 1) % 2 == 0:
            lab = lab.localCheckpoint()
    return lab.select(
        F.col("node").alias("doc_id"),
        F.col("label").cast("long").alias("community"),
    )


# ---------------------------------------------------------------------------
# stream_serve_recall — the serving-quality monitor on the query stream
# ---------------------------------------------------------------------------

#: Per-batch walls of the most recent drain (the serve/merge/drift/gate
#: latency record discipline).
LAST_SERVE_RECALL_WALLS: list[float] = []


def stream_serve_recall_oracle() -> str:
    from .extensions6 import (
        STREAM_ANN_TOPK,
        _ivf_multiquery_ctes,
    )
    from .vectors import _DOT_SUM_SQL

    return f"""
WITH {_ivf_multiquery_ctes()}, iv_dots AS MATERIALIZED (
  SELECT qid, vec_id, {_DOT_SUM_SQL} AS cos_sim
  FROM (SELECT cand.qid, e.vec_id, e.x * q.qx AS px
        FROM iv_cand cand
        JOIN iv_e e ON e.vec_id = cand.vec_id
        JOIN iv_q q ON q.qid = cand.qid AND q.pos = e.pos)
  GROUP BY qid, vec_id
), served AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, vec_id) AS rn
    FROM iv_dots
  ) WHERE rn <= {STREAM_ANN_TOPK}
), ex_sims AS MATERIALIZED (
  SELECT qid, vec_id, {_DOT_SUM_SQL} AS cos_sim
  FROM (SELECT q.qid, e.vec_id, e.x * q.qx AS px
        FROM iv_e e JOIN iv_q q USING (pos))
  GROUP BY qid, vec_id
), exact AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, vec_id) AS rn
    FROM ex_sims
  ) WHERE rn <= {STREAM_ANN_TOPK}
), hits AS (
  SELECT s.qid, COUNT(*) AS h
  FROM served s JOIN exact x ON x.qid = s.qid AND x.vec_id = s.vec_id
  GROUP BY s.qid
)
SELECT CAST(q.qid AS BIGINT) AS qid,
       CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
       {dratio_sql("COALESCE(h.h, 0) * 1000000", str(STREAM_ANN_TOPK))}
         AS recall_pct
FROM (SELECT DISTINCT qid FROM iv_q) q
LEFT JOIN hits h ON h.qid = q.qid
"""


@query("stream_serve_recall", oracle=stream_serve_recall_oracle())
def stream_serve_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-quality monitor (SURVEY §2.AE): the §2.W query stream
    drains; for each micro-batch the SERVED top-k (the registered serve
    path — ``serve_topk_plan`` against the staged index, verbatim) is
    scored against the EXACT top-k computed for the same batch queries
    (one broadcast Q-row dot block over the corpus — the documented
    monitor cost: at production scale this exact side runs on a QUERY
    SAMPLE, which is precisely what the staged stream is). Per-qid hit
    counts land batch_id-keyed (retry-idempotent), and the drained
    recall table must equal the batch evaluation of those queries.

    This closes the serving loop: §2.W serves, §2.X/§2.Y watch the
    INDEX's population, this op watches the SERVED RESULTS — the alarm
    that catches quality regressions that population censuses cannot
    (e.g. a drifted quantizer still balanced by cell count but routing
    queries into the wrong cells)."""
    import tempfile

    from ..streaming.core import drain_partials
    from .extensions6 import (
        STREAM_ANN_QUERY_IDS,
        STREAM_ANN_TOPK,
        _ivf_cells,
        serve_topk_plan,
    )
    from .vectors import ivf_index

    corpus, cents = ivf_index(spark, sf_dir)
    cells = _ivf_cells(spark, sf_dir)

    # the SAME staged query stream the serve op drains (one stream
    # fixture per session — shared session_memo key)
    import pyarrow.compute as pc  # noqa: F401
    import pyarrow.parquet as pq

    def build_stream(d: str) -> str:
        t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
        import pyarrow as pa

        qt = t.filter(
            pc.is_in(
                t.column("vec_id"),
                value_set=pa.array(list(STREAM_ANN_QUERY_IDS)),
            )
        ).sort_by("vec_id")
        from .extensions6 import _ANN_BATCH

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

    def score_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        qframe = batch_df.select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        served = serve_topk_plan(cells, corpus, cents, qframe).select(
            "qid", "vec_id"
        )
        w = Window.partitionBy("qid").orderBy(
            F.desc("cos_sim"), F.asc("vec_id")
        )
        # exact-side sims feed the RANK CUT only (no sim value is
        # emitted — the output is integer hits + a dratio rational), so
        # the dot is a plain double fold: the measured top-k cut margin
        # is 2.0e-5 at sf0.1 / 2.4e-4 at sf0.01 (margin_audit §2.AE
        # row), ten orders above double accumulation noise (~1e-13) —
        # the vec_ann_recall / vec_matryoshka_recall precedent. The
        # decimal _dot_arrays discipline stays on the SERVED side
        # (serve_topk_plan, the registered serve path) and on every op
        # that EMITS the value. (r14 optimization: the decimal
        # aggregate was the exact pass's per-batch hot loop.)
        fdot = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.col("qvec"),
                lambda a, b: a.cast("double") * b.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        exact = (
            corpus.join(F.broadcast(qframe), F.lit(True))
            .select("qid", "vec_id", fdot.alias("cos_sim"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= STREAM_ANN_TOPK)
            .select("qid", "vec_id")
        )
        hits = (
            qframe.select("qid")
            .join(
                served.join(exact, ["qid", "vec_id"])
                .groupBy("qid")
                .agg(F.count(F.lit(1)).cast("long").alias("n_hits")),
                "qid",
                "left",
            )
            .select("qid", F.coalesce("n_hits", F.lit(0)).alias("n_hits"))
        )
        # one executor-side census job + a driver-side ≤|batch queries|-
        # row landing replaces the take(1) guard and per-batch write
        # jobs (io.land_bounded_frame, r14)
        return hits

    def fold(landed: DataFrame) -> DataFrame:
        # the SAME Spark projection runs on the local relation
        return landed.select(
            F.col("qid").cast("long").alias("qid"),
            F.col("n_hits").cast("long").alias("n_hits"),
            dratio(F.col("n_hits") * 1000000, F.lit(STREAM_ANN_TOPK)).alias(
                "recall_pct"
            ),
        )

    return drain_partials(
        spark.readStream.schema(
            raw_table_schema(spark, sf_dir, "embeddings")
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        score_batch,
        fold,
        "qid long, n_hits long",
        bounded=True,
        walls=LAST_SERVE_RECALL_WALLS,
    )
