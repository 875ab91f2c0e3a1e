"""Round-12 operators, second batch — §2.AC, REGISTERED (registry 300 → 303).

Staged at round-11 close (plain callables + oracle builders, the
§2.W–§2.AB staging discipline applied forward), these three passed BOTH
halves of the registration gate before the registering commit —
vanilla-session DuckDB hash parity in
``tests/test_extensions12_staged.py`` (planted-OOV, gate-census
conservation, streaming-fold, and plan-guard property tests included)
and ``tools/preflight_local_cluster --staged`` under real executor JVMs
(6/6 at round-12 open) — so they register with the standard ``@query``
decorator right after the §2.AB batch.

Capability anchor: SURVEY §2.AC — the FROZEN-MODEL SCORING lifecycle.
The registered quality gates score the corpus against a model trained
on that same corpus; production scores INCOMING data against a FROZEN
model trained on the standing corpus (the CCNet deployment shape: the
KenLM is fixed, the delta streams through it):

- ``text_ppl_frozen_score`` — the delta scored under the STANDING
  corpus's unigram LM (artifact-trained once per corpus version);
  out-of-vocabulary tokens take the 1/total pseudo-count, and the OOV
  count is emitted per doc (the vocabulary-shift signal);
- ``quality_gate_drift`` — gate-outcome census drift: every doc lands
  in a (gopher keep × frozen-ppl keep) cell, and the standing
  population's cell census drifts against the delta's through the
  SAME exact-rational kernel the vector and profile monitors use —
  the "is incoming data passing gates at the standing rate" alarm;
- ``stream_gate_scores`` — the streaming twin of the frozen scorer:
  delta docs arrive as micro-batches, each scored against the
  broadcast frozen LM (a stream-static join), landed batch_id-keyed;
  final table ≡ the batch op (the ``stream_sketch_cms`` discipline).

All three compose existing audited machinery — the unigram-LM
arithmetic (``dec_scaled``/``dratio`` exact-rational cross-entropy, the
QUOTIENT-hazard discipline), the Gopher gate, ``index_drift_tagged``,
the artifact store, and the batch_id-keyed streaming fold — the new
surface is the frozen-model deployment shape, not new numeric paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.stable import dec_scaled, dec_scaled_sql, dratio, dratio_sql
from ..io import (
    disk_artifact_frame,
    load_table,
    raw_table_schema,
    session_memo,
)
from ..registry import query

#: The corpus split (standing = doc_id < split, delta = doc_id ≥ split)
#: — the §2.W/§2.Y merge-family convention, via extensions8._doc_split.

#: Frozen-gate keep threshold: the registered self-trained gate's
#: constant (corpus2._XENT_KEEP_MAX) reused VERBATIM — one decision
#: constant for the gate family. Margin to the nearest delta doc under
#: the frozen LM: 2.2e-2 / 6.8e-3 / 3.2e-3 at sf0.001/0.01/0.1 — and
#: xent is engine-identical EXACT (dratio), so the margin guards
#: testdata regeneration only, never float error. At sf0.01 one delta
#: doc drops and 99 keep — both branches exercised where the driver
#: verifies.

_TOKS = "array_remove(split(lower(text), ' '), '')"
_TOKS_SQL = "list_filter(string_split(lower(text), ' '), x -> x <> '')"


def _frozen_lm(spark: SparkSession, sf_dir: str, split: int) -> DataFrame:
    """THE frozen unigram LM — ``(w, cw, total)`` trained on the
    standing corpus (doc_id < split), persisted through the artifact
    store (a fresh scoring process reads, never re-trains) and
    session-memoized. ``total`` rides every row so scoring needs no
    second scalar attach."""

    def train() -> DataFrame:
        d = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < split
        )
        dw = (
            d.select("doc_id", F.explode(F.expr(_TOKS)).alias("w"))
            .groupBy("doc_id", "w")
            .agg(F.count("*").alias("c"))
        )
        lm = dw.groupBy("w").agg(F.sum("c").cast("long").alias("cw"))
        total_row = d.select(
            F.size(F.expr(_TOKS)).cast("long").alias("nt")
        ).agg(F.sum("nt").cast("long").alias("total"))
        return lm.crossJoin(F.broadcast(total_row))

    return session_memo(
        spark,
        ("ppl_frozen_lm", os.path.abspath(sf_dir), split),
        lambda: disk_artifact_frame(
            spark, "ppl_frozen_lm", "v1", sf_dir, train, extra=(split,)
        ),
        sf_dir=sf_dir,
    )


def _frozen_lm_total(spark: SparkSession, sf_dir: str, split: int) -> int:
    """The frozen LM's token-count scalar — ONE 8-byte model scalar,
    session-memoized beside the lm artifact (the _doc_split class), so
    repeated scoring runs (and every micro-batch of the streaming gate)
    attach it as a literal instead of re-aggregating + re-broadcasting
    the 1-row frame per invocation (r14 optimization)."""

    def fetch() -> int:
        lm = _frozen_lm(spark, sf_dir, split)
        return int(lm.agg(F.max("total").alias("t")).collect()[0]["t"])

    return session_memo(
        spark,
        ("ppl_frozen_lm_total", os.path.abspath(sf_dir), split),
        fetch,
        sf_dir=sf_dir,
    )


def frozen_ppl_score(
    docs: DataFrame, lm: DataFrame, total: int | None = None
) -> DataFrame:
    """KERNEL — score a ``(doc_id, text)`` frame against a frozen
    ``(w, cw, total)`` unigram LM: per-doc exact-rational cross-entropy
    with the 1/total pseudo-count for out-of-vocabulary tokens, OOV
    token count emitted. Returns ``(doc_id, n_tokens, oov_tokens, xent,
    keep)`` — keep reuses the registered gate's threshold constant.

    Scoring-contract completeness (ADVICE r11): EVERY input doc gets a
    row — a doc whose text tokenizes to nothing (empty/whitespace-only)
    would vanish in the explode, so the rollup left-joins back to the
    input ids and emits ``n_tokens = 0, oov_tokens = 0, xent = NULL,
    keep = false`` for it: an explicit drop decision, not a silent gap.
    (No such doc exists in the testdata, so oracle hashes are
    unchanged; the twin SQL carries the same LEFT JOIN.)

    The (doc, word) pre-aggregation collapses repeated words BEFORE the
    LM join (one row per distinct word per doc); the LM side is
    vocabulary-sized and broadcast-eligible; every emitted number is an
    integer or a dratio exact rational — the QUOTIENT-hazard discipline
    of the self-trained gate, unchanged."""
    from .corpus2 import _XENT_KEEP_MAX

    dw = (
        docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    joined = dw.join(lm, "w", "left")
    # OOV pseudo-count: an unseen token takes cw = 1 of the standing
    # total (the add-nothing floor — deterministic, engine-identical).
    # `total` rides the lm frame and is therefore NULL on OOV rows, so
    # the scalar is re-attached to EVERY row — all-OOV docs score
    # correctly too (property-tested: their xent is exactly ln total).
    # Callers scoring against a MAINTAINED lm pass the session-memoized
    # scalar (r14 optimization: the 1-row aggregate + broadcast per
    # invocation — per micro-batch in the streaming gate — becomes a
    # literal; the division is the same long→double coercion, so every
    # emitted number is bit-identical).
    term = F.col("c") * -F.log(
        F.coalesce(F.col("cw"), F.lit(1)).cast("double")
        / F.col("tot")
    )
    if total is not None:
        joined = joined.withColumn("tot", F.lit(int(total)).cast("long"))
    else:
        tot_row = lm.select(F.max("total").alias("tot"))
        joined = joined.crossJoin(F.broadcast(tot_row))
    scored = (
        joined
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("cw").isNull(), F.col("c")).otherwise(0))
            .cast("long")
            .alias("oov_tokens"),
            dec_scaled(term).alias("nll_e6"),
        )
    )
    xent = dratio(F.col("nll_e6"), F.col("n_tokens"))
    rolled = scored.select(
        "doc_id",
        "n_tokens",
        "oov_tokens",
        xent.alias("xent"),
        (xent <= F.lit(_XENT_KEEP_MAX)).alias("keep"),
    )
    return docs.select("doc_id").join(rolled, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("oov_tokens", F.lit(0)).cast("long").alias("oov_tokens"),
        "xent",
        F.coalesce("keep", F.lit(False)).alias("keep"),
    )


def _frozen_chain_sql() -> str:
    """The shared oracle CTE chain: split point, standing-trained LM,
    and the frozen-scored table over EVERY doc (standing docs have no
    OOV by construction; delta docs may). Defines ``fsplit``, ``flm``,
    ``ftot``, and ``fscore(doc_id, n_tokens, oov_tokens, xent)``."""
    from .extensions6 import _MERGE_SPLIT_DEN, _MERGE_SPLIT_NUM

    return f"""fsplit AS (
  SELECT (MAX(doc_id) + 1) * {_MERGE_SPLIT_NUM} // {_MERGE_SPLIT_DEN} AS v
  FROM documents
), ftok AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents
), fdw AS (
  SELECT doc_id, w, COUNT(*) AS c FROM ftok GROUP BY doc_id, w
), flm AS (
  SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM fdw
  WHERE doc_id < (SELECT v FROM fsplit) GROUP BY w
), ftot AS (
  SELECT CAST(SUM(cw) AS BIGINT) AS total FROM flm
), fscore AS (
  SELECT d.doc_id,
         CAST(SUM(d.c) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN l.w IS NULL THEN d.c ELSE 0 END) AS BIGINT)
           AS oov_tokens,
         {dratio_sql(
             dec_scaled_sql(
                 "d.c * -ln(CAST(COALESCE(l.cw, 1) AS DOUBLE) / ftot.total)"
             ),
             "SUM(d.c)",
         )} AS xent
  FROM fdw d LEFT JOIN flm l USING (w), ftot
  GROUP BY d.doc_id
)"""


def text_ppl_frozen_score_oracle() -> str:
    from .corpus2 import _XENT_KEEP_MAX

    return f"""
WITH {_frozen_chain_sql()}
SELECT d.doc_id,
       COALESCE(f.n_tokens, 0) AS n_tokens,
       COALESCE(f.oov_tokens, 0) AS oov_tokens,
       f.xent AS xent,
       COALESCE(f.xent <= {_XENT_KEEP_MAX!r}, FALSE) AS keep
FROM documents d LEFT JOIN fscore f ON f.doc_id = d.doc_id
WHERE d.doc_id >= (SELECT v FROM fsplit)
"""


@query("text_ppl_frozen_score", oracle=text_ppl_frozen_score_oracle())
def text_ppl_frozen_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-model quality scoring (SURVEY §2.AC): the DELTA corpus
    (doc_id ≥ split) scored against the unigram LM trained on the
    STANDING corpus — the CCNet deployment shape (the model is frozen;
    incoming data streams through it), vs the registered self-trained
    gate which re-trains on whatever it scores. Out-of-vocabulary
    tokens take the 1/total pseudo-count and are counted per doc (the
    vocabulary-shift signal a corpus operator watches).

    Shape at scale: the LM is a vocabulary-sized artifact (train once
    per corpus version, read forever); scoring the delta is one
    (doc, word) rollup + one broadcast-class join + one keyed aggregate
    — O(|delta|) work that never touches the standing corpus. Float
    discipline unchanged from the registered gate: decimal-accumulated
    −ln p terms, dratio exact-rational xent, the shared keep constant."""
    from .extensions8 import _doc_split

    split = _doc_split(spark, sf_dir)
    lm = _frozen_lm(spark, sf_dir, split)
    delta = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") >= split
    )
    return frozen_ppl_score(
        delta, lm, _frozen_lm_total(spark, sf_dir, split)
    )

# ---------------------------------------------------------------------------
# quality_gate_drift — gate-outcome census drift, standing vs delta
# ---------------------------------------------------------------------------

#: Gate-outcome cells: cid = gopher_keep·2 + frozen_ppl_keep ∈ [0, 4).
_GATE_CELLS = 4


def quality_gate_drift_oracle(sf_dir: str | None = None) -> str:
    from ..registry import resolve_oracle
    from .corpus2 import _XENT_KEEP_MAX

    gop = resolve_oracle("text_quality_gopher", sf_dir)
    share_b = dratio_sql("n_base * 1000000", "tot_b")
    share_d = dratio_sql("n_delta * 1000000", "tot_d")
    # drift flag: the shared drift_from_census contract (|share diff|
    # ≥ 1/drift_den via DECIMAL cross-multiplication; den = 200 — the
    # extensions7._DRIFT_DEN constant, imported to stay in lockstep)
    from .extensions7 import _DRIFT_DEN

    return f"""
WITH {_frozen_chain_sql()}, g AS ({gop}),
cellt AS (
  SELECT dd.doc_id,
         CAST(CASE WHEN g.keep THEN 2 ELSE 0 END
              + CASE WHEN f.xent <= {_XENT_KEEP_MAX!r} THEN 1 ELSE 0 END
              AS INTEGER) AS cid,
         CASE WHEN dd.doc_id >= (SELECT v FROM fsplit) THEN 1 ELSE 0 END
           AS pop
  FROM documents dd
  LEFT JOIN fscore f ON f.doc_id = dd.doc_id
  JOIN g ON g.doc_id = dd.doc_id
), cb AS (
  SELECT cid,
         COUNT(*) FILTER (WHERE pop = 0) AS nb,
         COUNT(*) FILTER (WHERE pop = 1) AS nd
  FROM cellt GROUP BY cid
), cells AS (
  SELECT r AS cid FROM range(0, {_GATE_CELLS}) t(r)
), census AS (
  SELECT cells.cid,
         COALESCE(nb, 0) AS n_base,
         COALESCE(nd, 0) AS n_delta
  FROM cells LEFT JOIN cb ON cb.cid = cells.cid
), tot AS (
  SELECT SUM(n_base) AS tot_b, SUM(n_delta) AS tot_d FROM census
)
SELECT CAST(census.cid AS INTEGER) AS cid,
       census.cid >= 2 AS gopher_keep,
       census.cid % 2 = 1 AS ppl_keep,
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


@query("quality_gate_drift", oracle=quality_gate_drift_oracle)
def quality_gate_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-outcome drift monitor (SURVEY §2.AC): every document lands
    in a (Gopher keep × frozen-ppl keep) cell — BOTH populations scored
    under the SAME frozen standing-corpus LM, so the comparison
    isolates the DATA's shift, not a model change — and the standing
    census drifts against the delta's through the shared
    ``index_drift_tagged`` kernel. This is the "is incoming data
    passing the gates at the standing rate" alarm: a drifted keep-cell
    share is the earliest sign a crawl snapshot changed character.

    Shape at scale: the Gopher flags are one row-local scan (the
    registered op's own arithmetic), the frozen scoring is one rollup +
    broadcast-class join (O(corpus) with the vocabulary-sized LM), and
    the census is one 4-row keyed exchange + the constant-bounded
    totals window. The cell labels are derived row-locally from cid —
    integers end to end outside the audited xent rational."""
    from .corpus import gopher_flags_frame
    from .extensions7 import drift_table_local
    from .extensions8 import _doc_split

    split = _doc_split(spark, sf_dir)
    lm = _frozen_lm(spark, sf_dir, split)
    d = load_table(spark, sf_dir, "documents")
    scores = frozen_ppl_score(
        d, lm, _frozen_lm_total(spark, sf_dir, split)
    ).select(
        "doc_id", F.col("keep").alias("pk")
    )
    gop = gopher_flags_frame(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gk")
    )
    cells = scores.join(gop, "doc_id").select(
        (
            F.when(F.col("gk"), 2).otherwise(0)
            + F.when(F.col("pk"), 1).otherwise(0)
        )
        .cast("int")
        .alias("cid"),
        (F.col("doc_id") >= split).cast("int").alias("pop"),
    )
    # the ≤{_GATE_CELLS}-row census is a model scalar: collect it and
    # compute the drift tail driver-side (drift_table_local — r14; the
    # distributed cells-join + window + decimal tail was fixed plan
    # cost per refresh for a 4-row table)
    counts = cells.groupBy("cid").agg(
        F.count(F.when(F.col("pop") == 0, 1)).alias("n_base"),
        F.count(F.when(F.col("pop") == 1, 1)).alias("n_delta"),
    ).collect()
    out = drift_table_local(
        spark,
        {int(r["cid"]): int(r["n_base"]) for r in counts},
        {int(r["cid"]): int(r["n_delta"]) for r in counts},
        _GATE_CELLS,
    )
    return out.select(
        "cid",
        (F.col("cid") >= 2).alias("gopher_keep"),
        (F.col("cid") % 2 == 1).alias("ppl_keep"),
        "n_base",
        "n_delta",
        "share_base",
        "share_delta",
        "drifted",
    )

# ---------------------------------------------------------------------------
# stream_gate_scores — the frozen scorer on the ingest stream
# ---------------------------------------------------------------------------

#: Delta docs per micro-batch file — ≥2 committed batches, so the
#: per-batch scoring FOLD (not one big batch) is what the oracle checks.
_STREAM_GATE_BATCHES = 2

#: Per-batch walls of the most recent drain (the serve/merge/drift
#: latency record discipline).
LAST_GATE_BATCH_WALLS: list[float] = []


def stream_gate_scores_oracle() -> str:
    """The streaming scorer folds the SAME delta against the SAME frozen
    LM as the batch op, so the contract — and therefore the oracle — is
    ``text_ppl_frozen_score``'s, verbatim (the batch-twin precedent)."""
    return text_ppl_frozen_score_oracle()


@query("stream_gate_scores", oracle=stream_gate_scores_oracle())
def stream_gate_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming frozen-model scoring (SURVEY §2.AC): the delta corpus
    arrives as a STREAM of micro-batches; each batch scores against the
    broadcast frozen LM (a stream-static join — the LM is the static
    side, read once from the artifact store), lands batch_id-keyed
    (retry-idempotent), and the drained table must equal the batch
    scorer's. This is the production ingest gate: documents stream in,
    quality flags stream out, the model never re-trains mid-stream.

    Shape at scale: per batch O(|batch| distinct words) rollup + one
    broadcast-class join + a keyed aggregate — the monitor's
    steady-state cost tracks the ingest stream, never the standing
    corpus; the LM artifact loads once per scoring session."""
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..streaming.core import drain_partials
    from .extensions8 import _doc_split

    split = _doc_split(spark, sf_dir)
    lm = _frozen_lm(spark, sf_dir, split)
    lm_total = _frozen_lm_total(spark, sf_dir, split)

    def build_stream(dir_: str) -> str:
        t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
        dt = t.filter(
            pc.greater_equal(t.column("doc_id"), split)
        ).sort_by("doc_id")
        per = max(1, -(-dt.num_rows // _STREAM_GATE_BATCHES))
        for i in range(0, dt.num_rows, per):
            f = os.path.join(dir_, f"d{i // per}.parquet")
            pq.write_table(dt.slice(i, per), f)
            os.utime(f, (1_700_000_000 + i * 1000, 1_700_000_000 + i * 1000))
        return dir_

    src = session_memo(
        spark,
        ("gate_stream", os.path.abspath(sf_dir), split),
        lambda: build_stream(tempfile.mkdtemp(prefix="nm_gate_d_")),
        sf_dir=sf_dir,
    )

    def score_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # no take(1) emptiness guard (r14): the staged delta stream
        # delivers one NON-EMPTY batch per file, so the guard was a
        # full extra Spark job per micro-batch; a hypothetical empty
        # batch would land an empty-but-typed parquet
        return frozen_ppl_score(batch_df.select("doc_id", "text"), lm, lm_total)

    return drain_partials(
        spark.readStream.schema(
            raw_table_schema(spark, sf_dir, "documents")
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        score_batch,
        lambda landed: landed.select(
            "doc_id", "n_tokens", "oov_tokens", "xent", "keep"
        ),
        "doc_id long, n_tokens long, oov_tokens long, xent double,"
        " keep boolean",
        walls=LAST_GATE_BATCH_WALLS,
    )
