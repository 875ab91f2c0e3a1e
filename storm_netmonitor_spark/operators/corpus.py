"""Corpus safety + quality operators for training-data pipelines
(SURVEY §2.L addendum, round 2): PII redaction, Gopher-style repetition
quality rules, benchmark decontamination, and SemDeDup-style semantic
(embedding-space) deduplication.

Scale notes (100 TB):
- PII redaction is a pure row-local regexp pass — zero shuffle, stays in
  whole-stage codegen.
- Repetition rules use array higher-order functions (no explode, no
  shuffle): per-row cost is O(len × distinct), bounded by document length,
  never by corpus size.
- Decontamination explodes per-doc DISTINCT n-grams (bounded fan-out) and
  semi-joins against the benchmark gram set, which is tiny relative to the
  training corpus → broadcast; the contaminated-id set drives one anti-join.
- Semantic dedup blocks the quadratic pairwise term by k-means cluster
  (the SemDeDup shape): with K ∝ corpus size, per-cluster cost stays
  bounded; the cluster model is K×dim, collected/broadcast like vec_ann_ivf.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.stable import DEC, DEC_SQL, dround, dround_sql
from ..io import (
    bucketed_artifact_frame,
    disk_artifact_frame,
    disk_artifact_json,
    load_table,
    scatter,
    session_memo,
)
from ..registry import query
from .text import NGRAM_JACCARD_MIN, NGRAM_PAIRS_CTE, text_ngram_jaccard
from .vectors import _GRAM_CHUNK, _assign_rowlocal, _lloyd_round

# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: Regex dialect note: both patterns stay inside the Java-regex ∩ RE2
#: common subset (character classes + bounded repetition, no lookaround)
#: so Spark and DuckDB match identically.
_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"


@query(
    "text_pii_redact",
    oracle=f"""
WITH s AS (
  SELECT doc_id,
         'reach u' || CAST(doc_id AS VARCHAR) || '@mail.example.com or +1-555-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' re: ' || text
           AS synth
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(synth, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(synth, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(synth, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5,
       CAST(length(regexp_replace(regexp_replace(synth, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{_PHONE_RE}', '<PHONE>', 'g')) AS BIGINT)
         AS redacted_len
FROM s
""",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (NORTH: mandatory pre-training hygiene pass): count
    and redact email addresses and phone numbers with anchored regexes.

    The synthetic corpus contains no natural PII, so the query plants a
    deterministic contact line derived from ``doc_id`` in front of each
    document before scrubbing — the redaction logic is exercised on every
    row and the oracle plants the identical line, keeping full hash parity.

    Scale: row-local ``regexp_replace``/``regexp_count`` inside
    whole-stage codegen — no shuffle, no UDF; linear in corpus bytes."""
    return pii_report(load_table(spark, sf_dir, "documents"))


def pii_report(d: DataFrame) -> DataFrame:
    """KERNEL — the scrub pass over a ``(doc_id, text)`` frame (the
    planted contact line, both redactions, counts, md5/length of the
    redacted text). One scrub semantics, two consumers: the registered
    batch op above and the staged §2.AF streaming ingest gate run the
    identical row-local expressions."""
    synth = F.concat(
        F.lit("reach u"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" re: "),
        F.col("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(synth, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(synth, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(synth, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition quality rules
# ---------------------------------------------------------------------------

#: Keep thresholds (Gopher table A1 shape, tuned loose for the synthetic
#: word-salad corpus): most-frequent-word share and duplicate-bigram share.
TOP_WORD_MAX = 0.20
DUP_BIGRAM_MAX = 0.50


@query(
    "text_quality_gopher",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), b AS (
  SELECT doc_id, toks,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1]) AS bgs
  FROM t
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       {dround_sql('list_max(list_transform(list_distinct(toks), w -> len(list_filter(toks, t -> t = w)))) / len(toks)')} AS top_word_frac,
       {dround_sql('(len(toks) - len(list_distinct(toks))) / len(toks)')} AS dup_word_frac,
       {dround_sql('(len(bgs) - len(list_distinct(bgs))) / len(bgs)')} AS dup_bigram_frac,
       (list_max(list_transform(list_distinct(toks), w -> len(list_filter(toks, t -> t = w)))) / len(toks) <= {TOP_WORD_MAX}
        AND (len(bgs) - len(list_distinct(bgs))) / len(bgs) <= {DUP_BIGRAM_MAX}) AS keep
FROM b
""",
)
def text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality rules (Gopher/MassiveText style): share of
    the most frequent word, duplicate-word share, duplicate-bigram share,
    and a keep/drop verdict per document.

    Scale: pure array higher-order functions — zero explode, no keyed
    shuffle. Per-row cost is bounded by document length; the whole filter
    is row-local at any corpus size (contrast: the explode → groupBy
    word-count shape would shuffle the full token stream). The testdata
    parquet is a single row group, which Spark cannot split — so the scan
    is scattered round-robin first; on a real multi-file corpus the scan
    arrives pre-parallel and the scatter collapses to a no-op-sized
    exchange (measured here: 6.6 s single-task → 0.7 s)."""
    raw = scatter(load_table(spark, sf_dir, "documents"))
    # tokens materialized as a column first: element_at over an inline
    # split() re-splits the text per lambda element (O(len²)/doc)
    d = raw.select("doc_id", F.split(F.lower("text"), " ").alias("tk"))
    toks = F.col("tk")
    n = F.size(toks)
    # bigrams: adjacent-pair join; documents always have ≥ 2 tokens but
    # guard anyway — Spark sequence(0, -1) DESCENDS instead of emitting
    # empty, unlike DuckDB generate_series
    bgs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # max word multiplicity via sorted-run fold: O(n log n) per row vs the
    # O(distinct × n) transform+filter scan (same VALUE, ~4× the wall at
    # sf0.1 — the oracle compares values, so its clearer quadratic
    # spelling stays)
    run_next = lambda acc, w: F.when(w == acc.prev, acc.run + 1).otherwise(
        F.lit(1)
    )
    top_cnt = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            run_next(acc, w).alias("run"),
            F.greatest(acc.best, run_next(acc, w)).alias("best"),
        ),
        lambda acc: acc.best,
    )
    nb = F.size(bgs)
    top_frac = top_cnt / n
    dup_bg_frac = (nb - F.size(F.array_distinct(bgs))) / nb
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        dround(top_frac).alias("top_word_frac"),
        dround((n - F.size(F.array_distinct(toks))) / n).alias("dup_word_frac"),
        dround(dup_bg_frac).alias("dup_bigram_frac"),
        ((top_frac <= TOP_WORD_MAX) & (dup_bg_frac <= DUP_BIGRAM_MAX)).alias(
            "keep"
        ),
    )


def gopher_flags_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE maintained Gopher-verdict table ``(doc_id, keep)`` — the HOT
    input of every repeated gate-composition refresh (the §2.Z
    agreement audit, the §2.AC gate-drift monitor): staged once per
    (session, input) and persisted across PROCESSES through the
    artifact store, the ppl_scored_frame convention. The keep values
    are ``text_quality_gopher``'s own output (the artifact trains by
    running it), so every decision derived from this frame is
    bit-identical to the registered op's; production at 100 TB persists
    the flags table instead of re-running the row-local rule scan per
    consumer."""

    def stage():
        df = disk_artifact_frame(
            spark,
            "gopher_flags",
            "v1",
            sf_dir,
            lambda: text_quality_gopher(spark, sf_dir).select(
                "doc_id", "keep"
            ),
        ).cache()
        df.count()  # materialize once at staging
        return df

    return session_memo(
        spark,
        ("gopher_flags", os.path.abspath(sf_dir)),
        stage,
        sf_dir=sf_dir,
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

#: Contamination n-gram width (13 in GPT-3/Gopher; 8 here so the synthetic
#: small-vocab docs produce non-trivial overlap) and the source partition
#: standing in for the held-out benchmark set.
DECON_NGRAM = 8
BENCH_SOURCE = "src0"


@query(
    "text_decontaminate",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, lang, string_split(lower(text), ' ') AS toks
  FROM documents
), g AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
             generate_series(1, len(toks) - {DECON_NGRAM - 1}),
             i -> array_to_string(toks[i : i + {DECON_NGRAM - 1}], ' ')))) AS gram
  FROM t
), cont AS (
  SELECT DISTINCT doc_id FROM g
  WHERE source <> '{BENCH_SOURCE}'
    AND gram IN (SELECT gram FROM g WHERE source = '{BENCH_SOURCE}')
)
SELECT lang,
       COUNT(*) AS n_train,
       CAST(SUM(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(SUM(CASE WHEN cont.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM t LEFT JOIN cont USING (doc_id)
WHERE source <> '{BENCH_SOURCE}'
GROUP BY lang
""",
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (NORTH: drop training docs sharing any
    word 8-gram with the held-out eval set — the GPT-3/Gopher rule).
    Docs from ``BENCH_SOURCE`` stand in for the benchmark.

    Scale: per-doc DISTINCT grams bound the explode fan-out to ≈ doc
    length; the benchmark gram set is tiny next to the training corpus →
    broadcast semi-join (no shuffle of the training grams); contaminated
    ids then drive one broadcast left join for the accounting."""
    d = load_table(spark, sf_dir, "documents")
    # tokens materialized as a column first: slice over an inline split()
    # re-splits the text per lambda element (O(len²)/doc)
    t = d.select(
        "doc_id", "source", F.split(F.lower("text"), " ").alias("tk")
    )
    n = F.size("tk")
    grams = F.when(
        n >= DECON_NGRAM,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (DECON_NGRAM - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("tk"), i, DECON_NGRAM)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = t.select("doc_id", "source", F.explode(grams).alias("gram"))
    bench = (
        g.filter(F.col("source") == BENCH_SOURCE).select("gram").distinct()
    )
    contaminated = (
        g.filter(F.col("source") != BENCH_SOURCE)
        .join(F.broadcast(bench), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = d.filter(F.col("source") != BENCH_SOURCE).select("doc_id", "lang")
    flagged = train.join(F.broadcast(contaminated), "doc_id", "left")
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_contaminated"),
        F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Semantic (embedding-space) dedup — SemDeDup shape
# ---------------------------------------------------------------------------

#: Target k-means cluster size: K grows ∝ corpus size so the per-cluster
#: pairwise term stays O(SEMDEDUP_CLUSTER_TARGET²) at ANY scale — the
#: property that makes SemDeDup the embedding-dedup scale path (a fixed K
#: would re-create the unbounded O(block²) shape the block caps exist to
#: prevent).
SEMDEDUP_CLUSTER_TARGET = 250
SEMDEDUP_K_MIN = 8
SEMDEDUP_ITERS = 3
SEMDEDUP_TAU = 0.95


def semdedup_assignment(
    spark: SparkSession,
    emb: DataFrame,
    k: int | None = None,
    iters: int = SEMDEDUP_ITERS,
    cache_key: str | None = None,
) -> DataFrame:
    """The SemDeDup CLUSTERING stage, shared by the census op and the
    pair-level kernel: k-means the embeddings (distributed Lloyd, only
    the K×dim model collected — same pattern as ``vec_ann_ivf``) and
    return the clustered frame ``(k, vec_id, embedding)`` with the
    assignment checkpointed once.

    The one driver-side action (``emb.count()``) sizes K for the index
    build — legitimate: this is build-time accounting, amortized exactly
    like the per-iteration K×dim model collect."""
    def train() -> list[list[float]]:
        kk = k
        if kk is None:
            kk = max(SEMDEDUP_K_MIN, emb.count() // SEMDEDUP_CLUSTER_TARGET)
        corpus = scatter(emb.select("vec_id", "embedding"), 8).cache()
        seeds = (
            corpus.filter(F.col("vec_id").isin(*range(1, kk + 1)))
            .orderBy("vec_id")
        )
        cents = [[float(x) for x in r["embedding"]] for r in seeds.collect()]
        for _ in range(iters):
            cents = _lloyd_round(spark, corpus, cents)
        return cents

    # Like the IVF index, ONLY the K×dim centroid MODEL is the cached
    # artifact (keyed by every hyperparameter the model depends on);
    # every call re-routes the CURRENT frame's vectors against it, so a
    # refreshed corpus with new vec_ids is fully covered — a frozen
    # assignment would silently drop them from the census. With a
    # cache_key (a real sf_dir) the model ALSO persists across processes
    # (VERDICT r9 #3): the Lloyd build is seeded/deterministic, so a
    # fresh session reads the fingerprint-keyed artifact instead of
    # re-training.
    if cache_key is not None:
        cents = session_memo(
            spark,
            ("semdedup_model", cache_key, k, iters),
            lambda: disk_artifact_json(
                "semdedup_cents", "v1", cache_key, train, extra=(k, iters)
            ),
            sf_dir=cache_key,
        )
    else:
        cents = train()

    # materialize the (vec_id, k) assignment ONCE per call: it feeds the
    # census groups, and the branch would otherwise re-run the routing
    # UDF per consumer (plan showed 5 ArrowEvalPython nodes). O(corpus)
    # rows of two ints — model-adjacent, not data-scale.
    assign = (
        _assign_rowlocal(scatter(emb.select("vec_id", "embedding"), 8), cents)
        .select("vec_id", "k")
        .localCheckpoint()
    )
    return emb.join(assign, "vec_id").select("k", "vec_id", "embedding")


def semantic_dedup_summary(
    spark: SparkSession,
    emb: DataFrame,
    k: int | None = None,
    iters: int = SEMDEDUP_ITERS,
    tau: float = SEMDEDUP_TAU,
    cache_key: str | None = None,
) -> DataFrame:
    """Core SemDeDup: cluster via :func:`semdedup_assignment`, then
    WITHIN each cluster mark the higher ``vec_id`` of every pair with
    cosine ≥ tau as a duplicate. Returns one row per cluster:
    (cluster, n_vecs, n_dups). Exposed as a helper so the planted-pair
    semantics test can run it over a constructed frame."""
    ve = semdedup_assignment(spark, emb, k=k, iters=iters, cache_key=cache_key)
    # pairwise WITHIN cluster as a per-cluster BLAS census: each group
    # is the cluster's (≈CLUSTER_TARGET × dim) matrix, scanned in
    # _GRAM_CHUNK row strips (one strip @ cluster.T matmul each) —
    # replacing the per-pair HOF self-join (250k pair-rows × 64-element
    # folds at sf0.1, measured 4.6 → ~1.5 s steady). Quadratic work per
    # cluster is identical; it just runs in BLAS instead of codegen'd
    # per-pair expressions. Deterministic: assignment is checkpointed,
    # groups are sorted by vec_id, numpy matmul is fixed-order per array,
    # and the tau decision margin (≥0.35 on the testdata, audited by
    # tools/margin_audit.py) dwarfs any float-order difference — the SQL
    # oracle's decimal census agrees exactly.

    def census(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        n = len(pdf)
        if n < 2:
            n_dups = 0
        else:
            # same row-strip scan as vectors._gram_candidates: transient
            # memory is O(_GRAM_CHUNK × cluster) per strip, never the full
            # cluster² gram + triangle index arrays — a skewed clustering
            # that lands one oversized cluster stays worker-memory-bounded
            # (ADVICE r5). dup = the HIGHER vec_id of any qualifying pair,
            # counted once: the boolean column-vote accumulates across
            # strips to exactly the old np.unique(upper-tri) census.
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            dup = np.zeros(n, dtype=bool)
            col_idx = np.arange(n)[None, :]
            for lo in range(0, n - 1, _GRAM_CHUNK):
                hi = min(lo + _GRAM_CHUNK, n - 1)
                strip = m[lo:hi] @ m.T
                upper = col_idx > np.arange(lo, hi)[:, None]
                dup[np.nonzero(upper & (strip >= tau))[1]] = True
            n_dups = int(dup.sum())
        return pd.DataFrame(
            {
                "cluster": [int(pdf["k"].iloc[0])],
                "n_vecs": [n],
                "n_dups": [n_dups],
            }
        )

    return (
        ve.groupBy("k")
        .applyInPandas(census, "cluster int, n_vecs long, n_dups long")
        .orderBy("cluster")
    )


def semantic_dup_pairs(
    spark: SparkSession,
    emb: DataFrame,
    tau: float = SEMDEDUP_TAU,
    cache_key: str | None = None,
) -> DataFrame:
    """PAIR-level SemDeDup (the §2.W joined-modality dedup's vec edge
    source): the same clustering + strip-scan as the census, but
    EMITTING each within-cluster pair with cosine ≥ tau as an undirected
    edge ``(a_id, b_id)``, a_id < b_id. O(cluster·k) output rows, same
    bounded worker memory; the tau margin (≥0.35, margin-audited) makes
    the float decision identical to the oracle's decimal one."""
    ve = semdedup_assignment(spark, emb, cache_key=cache_key)

    def pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"a_id": [], "b_id": []})
        m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        a_parts, b_parts = [], []
        col_idx = np.arange(n)[None, :]
        for lo in range(0, n - 1, _GRAM_CHUNK):
            hi = min(lo + _GRAM_CHUNK, n - 1)
            strip = m[lo:hi] @ m.T
            upper = col_idx > np.arange(lo, hi)[:, None]
            r, c = np.nonzero(upper & (strip >= tau))
            a_parts.append(ids[r + lo])
            b_parts.append(ids[c])
        return pd.DataFrame(
            {
                "a_id": np.concatenate(a_parts),
                "b_id": np.concatenate(b_parts),
            }
        )

    return ve.groupBy("k").applyInPandas(pairs, "a_id long, b_id long")


# ---------------------------------------------------------------------------
# Inter-document boilerplate detection (CCNet-style repetition ACROSS docs)
# ---------------------------------------------------------------------------

#: Boilerplate = a word 3-gram appearing in more than BOILER_DF distinct
#: documents (the cross-document sibling of the within-document Gopher
#: rules); a doc is dropped when boilerplate grams exceed BOILER_SHARE_MAX
#: of its distinct grams.
BOILER_NGRAM = 3
BOILER_DF = 5
BOILER_SHARE_MAX = 0.30


@query(
    "text_boilerplate_share",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, len(toks) - {BOILER_NGRAM - 1}),
             i -> array_to_string(toks[i : i + {BOILER_NGRAM - 1}], ' ')))) AS gram
  FROM t
), boiler AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > {BOILER_DF}
), per_doc AS (
  SELECT g.doc_id,
         COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler
  FROM g LEFT JOIN boiler b USING (gram)
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_boiler, 0) AS BIGINT) AS n_boiler,
       {dround_sql('COALESCE(p.n_boiler / p.n_grams, 0.0)')} AS boiler_share,
       COALESCE(p.n_boiler / p.n_grams, 0.0) <= {BOILER_SHARE_MAX} AS keep
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
)
def text_boilerplate_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal (CCNet/RefinedWeb shape): a word
    3-gram present in > BOILER_DF distinct documents is boilerplate
    (headers, footers, nav chrome in real corpora); each doc reports its
    boilerplate share and a keep verdict.

    Scale: per-doc DISTINCT grams bound the explode fan-out (so per-gram
    counts ARE document frequencies); one shuffle on gram computes the DF
    table; the resulting blocklist is small by construction (high-DF grams
    only) → broadcast back — no second shuffle of the gram stream. The
    scan is scattered first (io.scatter — single-row-group testdata)."""
    d = scatter(load_table(spark, sf_dir, "documents"))
    # tokens materialized as a column first (see text_decontaminate note)
    t = d.select("doc_id", F.split(F.lower("text"), " ").alias("tk"))
    n = F.size("tk")
    grams = F.when(
        n >= BOILER_NGRAM,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (BOILER_NGRAM - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("tk"), i, BOILER_NGRAM)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = t.select("doc_id", F.explode(grams).alias("gram"))
    boiler = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > BOILER_DF)
        .select("gram")
        .withColumn("hit", F.lit(1))
    )
    per_doc = (
        g.join(F.broadcast(boiler), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_boiler"),
        )
    )
    share = F.col("n_boiler") / F.col("n_grams")
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_boiler", F.lit(0)).cast("long").alias("n_boiler"),
            dround(F.coalesce(share, F.lit(0.0))).alias("boiler_share"),
            (F.coalesce(share, F.lit(0.0)) <= BOILER_SHARE_MAX).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Source-mixture weighting (temperature sampling)
# ---------------------------------------------------------------------------

#: Mixture temperature alpha (weights ∝ tokens^alpha, the multilingual
#: pretraining standard — alpha=1 keeps the natural mix, alpha→0 goes
#: uniform) and the token budget as a fraction of the corpus.
MIX_ALPHA = 0.5
MIX_BUDGET_FRAC = 0.5


@query(
    "pipeline_mixture_weights",
    oracle=f"""
WITH per_src AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS toks,
         pow(CAST(SUM(n_chars) AS DOUBLE), {MIX_ALPHA}) AS w_raw
  FROM documents GROUP BY source
), tot AS (
  SELECT source, n_docs, toks, w_raw,
         CAST(SUM(CAST(w_raw AS {DEC_SQL})) OVER () AS DOUBLE) AS sum_w,
         CAST(SUM(CAST(toks AS {DEC_SQL})) OVER () AS DOUBLE) AS sum_toks
  FROM per_src
), shares AS (
  SELECT source, n_docs, toks,
         {dround_sql('w_raw / sum_w')} AS target_share,
         {dround_sql('toks / sum_toks')} AS actual_share,
         sum_toks
  FROM tot
)
SELECT source, n_docs, toks, target_share, actual_share,
       {dround_sql(f'least(1.0, target_share * sum_toks * {MIX_BUDGET_FRAC} / toks)')}
         AS sampling_rate
FROM shares
""",
)
def pipeline_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture weighting (NORTH: temperature sampling over corpus
    sources, the mBERT/XLM alpha-scaling rule): per source, the
    alpha-scaled target share, the natural share, and the deterministic
    sampling rate that hits a half-of-corpus token budget (MIX_BUDGET_FRAC)
    at the target mixture.

    Scale: one partial-aggregated shuffle reduces the corpus to ONE ROW
    PER SOURCE; the unpartitioned windows run over that reduced frame
    (dozens of rows at any corpus size), never over raw documents. Sums
    bounce through decimal so the shares are partition-order-independent."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("toks"),
    )
    w_raw = F.pow(F.col("toks").cast("double"), MIX_ALPHA)
    everything = Window.partitionBy()
    tot = per_src.select(
        "source",
        "n_docs",
        "toks",
        w_raw.alias("w_raw"),
        F.sum(w_raw.cast(DEC)).over(everything).cast("double").alias("sum_w"),
        F.sum(F.col("toks").cast(DEC))
        .over(everything)
        .cast("double")
        .alias("sum_toks"),
    )
    shares = tot.select(
        "source",
        "n_docs",
        "toks",
        dround(F.col("w_raw") / F.col("sum_w")).alias("target_share"),
        dround(F.col("toks") / F.col("sum_toks")).alias("actual_share"),
        "sum_toks",
    )
    rate = F.least(
        F.lit(1.0),
        F.col("target_share") * F.col("sum_toks") * MIX_BUDGET_FRAC / F.col("toks"),
    )
    return shares.select(
        "source",
        "n_docs",
        "toks",
        "target_share",
        "actual_share",
        dround(rate).alias("sampling_rate"),
    )


# ---------------------------------------------------------------------------
# Document chunking (fixed windows with overlap)
# ---------------------------------------------------------------------------

#: Chunk window and stride in characters (stride < window ⇒ overlapping
#: context windows, the long-document training prep).
CHUNK_CHARS = 200
CHUNK_STRIDE = 150


@query(
    "pipeline_chunk_documents",
    oracle=f"""
WITH c AS (
  SELECT doc_id,
         unnest(generate_series(
             0, CAST(floor((length(text) - 1) / {CHUNK_STRIDE}.0) AS BIGINT)))
           AS chunk_id,
         text
  FROM documents
)
SELECT doc_id,
       chunk_id,
       CAST(chunk_id * {CHUNK_STRIDE} + 1 AS BIGINT) AS chunk_start,
       CAST(length(substr(text, CAST(chunk_id * {CHUNK_STRIDE} + 1 AS INT),
                          {CHUNK_CHARS})) AS BIGINT) AS chunk_len,
       md5(substr(text, CAST(chunk_id * {CHUNK_STRIDE} + 1 AS INT),
                  {CHUNK_CHARS})) AS chunk_md5
FROM c
""",
)
def pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking with overlap (NORTH: long-document →
    training-window prep; CHUNK_CHARS-wide windows every CHUNK_STRIDE
    chars ⇒ 50-char overlap between consecutive chunks).

    Scale: row-local sequence+explode — fan-out is len/stride per doc
    (bounded by document length), no shuffle anywhere; the chunk table
    inherits the input partitioning, ready for a downstream tokenize/pack
    stage."""
    d = load_table(spark, sf_dir, "documents")
    n_last = F.floor((F.length("text") - 1) / CHUNK_STRIDE)
    c = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("long"), n_last)).alias("chunk_id"),
    )
    start = (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("int")
    chunk = F.substring(F.col("text"), start, CHUNK_CHARS)
    return c.select(
        "doc_id",
        "chunk_id",
        start.cast("long").alias("chunk_start"),
        F.length(chunk).cast("long").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution — connected components over near-dup pairs
# ---------------------------------------------------------------------------

#: Iteration cap for min-label propagation: components converge within
#: their graph diameter, and near-dup clusters are shallow; the cap only
#: guards a pathological chain from looping forever.
CC_MAX_ITERS = 20

#: Bucket count for the STANDING symmetric edge tables (guide §3.3/§6.4;
#: VERDICT r14 #5): the persisted edge artifact is hash-clustered by
#: ``doc_a`` into this many bucket files so every CC/LPA propagation
#: round joins it WITHOUT re-exchanging the static side. Sized for the
#: small-keyspace harness (the streaming ``STREAM_STATE_PARTITIONS``
#: rationale); a production cluster edits it to its executor-core
#: count — it is part of the artifact fingerprint, so a change retrains
#: instead of mis-reading.
CC_EDGE_BUCKETS = 8


def _symmetric_edges(edges: DataFrame) -> DataFrame:
    """The symmetric, de-duplicated edge list as a plain (unpinned)
    plan — the shared definition for both the in-loop checkpointed form
    below and the bucketed standing-table builders (io.
    ``bucketed_artifact_frame``), so both layouts hold identical rows."""
    return edges.union(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).distinct()


def _symmetrized(edges: DataFrame) -> DataFrame:
    """Materialize the symmetric, de-duplicated edge list once (the CC
    loop would otherwise re-execute a possibly expensive upstream edge
    pipeline every round)."""
    return (
        _symmetric_edges(edges)
        # LAZY: round 1's fused propagate+count job materializes the
        # edge blocks (one job fewer per CC call); rounds ≥ 2 read the
        # pinned blocks exactly as with the eager form
        .localCheckpoint(eager=False)
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    pre_symmetrized: bool = False,
) -> DataFrame:
    """Min-label-propagation connected components: every node starts as its
    own component; each round a node adopts the smallest component id among
    itself and its neighbors, until a fixpoint. Returns (doc_id, component)
    where component = min doc_id reachable.

    Scale: the classic Spark CC loop — per round one shuffle to propagate
    labels over edges plus one join to update, O(diameter) rounds (near-dup
    clusters are shallow; power graphs would use large-star/small-star).
    ``localCheckpoint`` truncates the lineage each round so the plan does
    not grow with iterations; the per-round convergence count is the only
    driver action, the data never leaves the executors.

    A caller that maintains a STANDING bucketed edge artifact passes
    ``pre_symmetrized=True`` with that table."""
    labels = nodes.select("doc_id", F.col("doc_id").alias("component"))
    # materialize the symmetric edge list ONCE: edges may be an expensive
    # upstream pipeline (text_dedup_components feeds the full shingle-join
    # Jaccard plan in here) and the loop would otherwise re-execute it
    # every round — measured 2× wall at sf0.1.
    bi = edges if pre_symmetrized else _symmetrized(edges)
    return _cc_loop(labels, bi)


def _cc_loop(labels: DataFrame, bi: DataFrame) -> DataFrame:
    for _ in range(CC_MAX_ITERS):
        neigh = (
            labels.join(bi, labels.doc_id == bi.doc_a)
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(F.min("component").alias("neigh_min"))
        )
        updated = (
            labels.join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    "component", F.coalesce("neigh_min", F.col("component"))
                ).alias("component"),
                (
                    F.coalesce("neigh_min", F.col("component"))
                    < F.col("component")
                ).alias("changed"),
            )
            # LAZY checkpoint: the convergence count below is the job
            # that materializes it, so each round runs ONE Spark job
            # (propagate+checkpoint+count fused) instead of two — the
            # eager-checkpoint-then-count split paid a full extra job
            # per round across every CC consumer (r14 optimization).
            # Lineage truncation is identical: the checkpointed blocks
            # are pinned by the count's execution.
            .localCheckpoint(eager=False)
        )
        n_changed = updated.filter(F.col("changed")).count()
        labels = updated.select("doc_id", "component")
        if n_changed == 0:
            break
    return labels


@query(
    "text_dedup_components",
    oracle=f"""
WITH RECURSIVE {NGRAM_PAIRS_CTE}, sim AS (
  SELECT doc_a, doc_b
  FROM pairs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= {NGRAM_JACCARD_MIN}
), bi AS (
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
""",
)
def text_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution (NORTH: the finishing stage of every
    near-dedup pipeline): connected components over the n-gram-Jaccard
    near-dup pairs, so A~B and B~C land in ONE cluster even when A≁C and a
    single keeper (the min doc_id = the component label) can be elected
    per cluster.

    The edge set is the SAME pair definition text_ngram_jaccard checks
    (shared CTE / threshold constants), and the oracle resolves components
    with a recursive CTE — a full hash check of a genuinely iterative
    distributed algorithm."""
    d = load_table(spark, sf_dir, "documents")
    bi = standing_dedup_edges(spark, sf_dir)
    return connected_components(d.select("doc_id"), bi, pre_symmetrized=True)


def standing_dedup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetric near-dup edge list — the maintained artifact of a
    production dedup pipeline (rebuilt when the corpus changes, reused
    by every refresh; VERDICT r9 #3: the full shingle-join pair pipeline
    is ~2 s of the COLD wall at sf0.1, a fresh session/process pays one
    read instead). Persisted BUCKETED by ``doc_a`` (guide §3.3/§6.4;
    VERDICT r14 #5) so each CC/LPA round's label⋈edge join reads a scan
    that already satisfies the join's distribution — the standing side
    is never re-exchanged; at local SF the planner may still pick a
    broadcast (the edge file is tiny), which is equally exchange-free.
    Shared by ``text_dedup_components`` and ``graph_community_lpa``
    (same memo key), with the session memo keeping the handle."""
    return session_memo(
        spark,
        ("dedup_edges", os.path.abspath(sf_dir)),
        lambda: bucketed_artifact_frame(
            spark,
            "dedup_edges",
            "v2",
            sf_dir,
            lambda: _symmetric_edges(
                text_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
            ),
            "doc_a",
            CC_EDGE_BUCKETS,
        ),
        sf_dir=sf_dir,
    )


def _semdedup_oracle() -> str:
    """Full SQL twin of SemDeDup (VERDICT r4 #5 — upgraded from rows-only,
    the last such op): the 3 Lloyd rounds, final assignment, and within-
    cluster pair census are unrolled as one generated MATERIALIZED CTE
    chain, with K computed from the corpus size exactly like the engine
    (GREATEST(K_MIN, n // CLUSTER_TARGET)). The engine's Lloyd is float
    (numpy partials) vs the oracle's SQL double sums, but every decision
    margin dwarfs ~1e-13 accumulation error (measured: assignment margin
    ≥ 1.1e-5 across both test SFs and all rounds; the nearest in-cluster
    pair sits 0.35 below tau), so assignments and dup counts agree
    exactly."""
    head = f"""
WITH kk AS MATERIALIZED (
  SELECT GREATEST({SEMDEDUP_K_MIN}, COUNT(*) // {SEMDEDUP_CLUSTER_TARGET}) AS k
  FROM embeddings
), e AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), c0 AS MATERIALIZED (
  SELECT vec_id - 1 AS cid, pos, x AS cx FROM e
  WHERE vec_id BETWEEN 1 AND (SELECT k FROM kk)
)"""
    from .vectors import lloyd_rounds_sql, lloyd_route_sql

    rounds = [lloyd_rounds_sql("", "e", SEMDEDUP_ITERS)]
    n_fin = SEMDEDUP_ITERS
    tail = lloyd_route_sql("afin", "e", f"c{n_fin}") + f""", pair_dots AS MATERIALIZED (
  SELECT a.cid, a2.vec_id AS b_id,
         SUM(CAST(ea.x * eb.x AS DECIMAL(28,12))) AS cos
  FROM afin a
  JOIN afin a2 ON a.cid = a2.cid AND a.vec_id < a2.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = a2.vec_id AND eb.pos = ea.pos
  GROUP BY 1, a.vec_id, a2.vec_id
), dups AS MATERIALIZED (
  SELECT cid, COUNT(DISTINCT b_id) AS n_dups
  FROM pair_dots WHERE cos >= {SEMDEDUP_TAU} GROUP BY cid
), sizes AS MATERIALIZED (
  SELECT cid, COUNT(*) AS n_vecs FROM afin GROUP BY cid
)
SELECT CAST(s.cid AS INTEGER) AS cluster,
       CAST(s.n_vecs AS BIGINT) AS n_vecs,
       CAST(COALESCE(d.n_dups, 0) AS BIGINT) AS n_dups
FROM sizes s LEFT JOIN dups d USING (cid)"""
    return head + "".join(rounds) + tail


@query("vec_semantic_dedup", oracle=_semdedup_oracle())
def vec_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023 shape): embedding-space near-dup removal
    with the quadratic term BLOCKED BY K-MEANS CLUSTER — the scale path
    for embedding dedup, next to the label-blocked exact
    ``vec_near_dup_cosine``. With K grown ∝ corpus size, per-cluster
    pairwise cost stays bounded at 100 TB; only the K×dim model is ever
    collected. Hash oracle (r5): the unrolled Lloyd + pair-census twin in
    ``_semdedup_oracle``; the planted-duplicate test in
    tests/test_semantics.py keeps asserting dup detection and
    determinism."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return semantic_dedup_summary(spark, emb, cache_key=os.path.abspath(sf_dir))
