"""Round-13 operators, third batch — §2.AF, REGISTERED (registry 309 → 312).

Staged at round-12 close; both gate halves re-run green at round-13
open, so they register with the standard ``@query`` decorator.

Capability anchor: SURVEY §2.AF — the STREAMING INGEST-HYGIENE triple.
The mandatory pre-training hygiene passes exist as BATCH ops
(decontamination, PII scrubbing, profile drift); production runs them
ON THE INGEST STREAM, each delta batch checked before it lands — the
same batch-twin discipline as ``stream_gate_scores`` /
``stream_index_drift``:

- ``stream_decontaminate_gate`` — the benchmark 8-gram index is a
  standing ARTIFACT (built once from the benchmark source, read
  forever); each delta batch's distinct grams broadcast-semi-join it,
  per-lang contamination counters land batch_id-keyed, and the drained
  report equals the batch rule applied to the delta;
- ``stream_pii_gate`` — the scrub pass (the registered op's
  ``pii_report`` kernel verbatim) runs per batch, redaction rows land
  batch_id-keyed, drained table ≡ the batch op restricted to the
  delta;
- ``stream_profile_gate`` — the streaming twin of
  ``text_profile_drift``: per batch the delta docs bucket through the
  registered ``profile_cells`` kernel, censuses fold against the
  PERSISTED standing census (the ``ivf_base_census`` artifact
  precedent), and the final drift table ≡ the batch monitor's.

All three compose EXISTING audited kernels — the new surface is the
ingest-stream deployment shape, not new decision arithmetic. Counters
are integers; the only rationals are the batch ops' own dratio shares.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.stable import dratio_sql
from ..io import (
    disk_artifact_frame,
    disk_artifact_json,
    load_table,
    raw_table_schema,
    session_memo,
)
from ..registry import query

#: Micro-batches in the staged delta stream — the extensions12
#: ``gate_stream`` fixture is REUSED (same session-memo key), so one
#: staging serves every §2.AC/§2.AF gate drain in a session.
from .extensions12 import _STREAM_GATE_BATCHES


def _delta_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """The staged delta-doc stream (doc_id ≥ split, doc_id-ordered,
    {_STREAM_GATE_BATCHES} files) — the extensions12 fixture, shared
    through the same memo key."""
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from .extensions8 import _doc_split

    split = _doc_split(spark, sf_dir)

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

    return session_memo(
        spark,
        ("gate_stream", os.path.abspath(sf_dir), split),
        lambda: build_stream(tempfile.mkdtemp(prefix="nm_gate_d_")),
        sf_dir=sf_dir,
    )


def _delta_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged delta-doc stream, one file per micro-batch."""
    return (
        spark.readStream.schema(raw_table_schema(spark, sf_dir, "documents"))
        .option("maxFilesPerTrigger", "1")
        .parquet(_delta_stream_dir(spark, sf_dir))
    )


# ---------------------------------------------------------------------------
# stream_decontaminate_gate — benchmark-overlap check on the ingest stream
# ---------------------------------------------------------------------------

#: Per-batch walls of the most recent drain (the gate latency record
#: discipline).
LAST_DECON_BATCH_WALLS: list[float] = []


def stream_decontaminate_gate_oracle() -> str:
    from .corpus import BENCH_SOURCE, DECON_NGRAM

    return f"""
WITH dsplit AS (
  SELECT (MAX(doc_id) + 1) * 4 // 5 AS v FROM documents
), t AS (
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
    AND doc_id >= (SELECT v FROM dsplit)
    AND gram IN (SELECT gram FROM g WHERE source = '{BENCH_SOURCE}')
)
SELECT lang,
       COUNT(*) AS n_train,
       CAST(SUM(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(SUM(CASE WHEN cont.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM t LEFT JOIN cont USING (doc_id)
WHERE source <> '{BENCH_SOURCE}' AND doc_id >= (SELECT v FROM dsplit)
GROUP BY lang
"""


def _bench_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE benchmark gram index — distinct {DECON_NGRAM}-grams of the
    benchmark source docs, persisted through the artifact store (a
    fresh gating process reads, never re-extracts) and session-
    memoized."""
    from .corpus import BENCH_SOURCE, DECON_NGRAM

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents").filter(
            F.col("source") == BENCH_SOURCE
        )
        t = d.select("doc_id", F.split(F.lower("text"), " ").alias("tk"))
        n = F.size("tk")
        grams = F.when(
            n >= DECON_NGRAM,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n - (DECON_NGRAM - 1)),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("tk"), i, DECON_NGRAM)
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
        return (
            t.select(F.explode(grams).alias("gram")).distinct()
        )

    return session_memo(
        spark,
        ("decon_bench_grams", os.path.abspath(sf_dir)),
        lambda: disk_artifact_frame(
            spark, "decon_bench_grams", "v1", sf_dir, build
        ).cache(),
        sf_dir=sf_dir,
    )


def decon_lang_counts(train: DataFrame, bench: DataFrame) -> DataFrame:
    """KERNEL — per-lang contamination counters of a ``(doc_id, lang,
    text)`` frame against a benchmark gram set (one column ``gram``):
    distinct {DECON_NGRAM}-gram extraction (row-local), ONE broadcast
    semi-join, one lang-keyed counter rollup. The registered batch rule
    (``text_decontaminate``), factored for the streaming gate and the
    planted-contamination property test."""
    from .corpus import DECON_NGRAM

    t = train.select(
        "doc_id", "lang", F.split(F.lower("text"), " ").alias("tk")
    )
    n = F.size("tk")
    grams = F.when(
        n >= DECON_NGRAM,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (DECON_NGRAM - 1)),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("tk"), i, DECON_NGRAM)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = t.select("doc_id", F.explode(grams).alias("gram"))
    contaminated = (
        g.join(F.broadcast(bench), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        t.select("doc_id", "lang")
        .join(contaminated, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated"),
            F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
    )


@query("stream_decontaminate_gate", oracle=stream_decontaminate_gate_oracle())
def stream_decontaminate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming benchmark decontamination (SURVEY §2.AF): delta train
    docs arrive as micro-batches; each batch's distinct word
    {DECON_NGRAM}-grams broadcast-semi-join the standing benchmark gram
    ARTIFACT, per-lang (n_train, n_contaminated, n_kept) partial
    counters land batch_id-keyed (retry-idempotent, exact in any
    arrival order — pure integer sums), and the drained report must
    equal the batch rule applied to the delta.

    Shape at scale: per batch O(|batch| × doc grams) row-local gram
    extraction + ONE broadcast semi-join against the benchmark index
    (tiny next to any training corpus) + a lang-keyed counter fold —
    the gate's steady-state cost tracks the ingest stream; the
    benchmark index extracts once per benchmark version."""
    from ..streaming.core import drain_partials
    from .corpus import BENCH_SOURCE, DECON_NGRAM

    bench = _bench_grams(spark, sf_dir)

    def gate_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # one executor-side census job + a driver-side ≤|langs|-row
        # landing replaces the take(1) guard and per-batch write jobs
        # (io.land_bounded_frame, r14)
        train = batch_df.filter(F.col("source") != BENCH_SOURCE)
        return decon_lang_counts(train, bench)

    def fold(landed: DataFrame) -> DataFrame:
        # the SAME Spark aggregate runs on the local relation (r14: the
        # distributed read-back + shuffle was ~0.9 s of fixed cost per
        # drain)
        return landed.groupBy("lang").agg(
            F.sum("n_train").cast("long").alias("n_train"),
            F.sum("n_contaminated").cast("long").alias("n_contaminated"),
            F.sum("n_kept").cast("long").alias("n_kept"),
        )

    return drain_partials(
        _delta_docs(spark, sf_dir),
        gate_batch,
        fold,
        "lang string, n_train long, n_contaminated long, n_kept long",
        bounded=True,
        walls=LAST_DECON_BATCH_WALLS,
    )


# ---------------------------------------------------------------------------
# stream_pii_gate — the scrub pass on the ingest stream
# ---------------------------------------------------------------------------

LAST_PII_BATCH_WALLS: list[float] = []


def stream_pii_gate_oracle() -> str:
    from .corpus import _EMAIL_RE, _PHONE_RE

    return f"""
WITH dsplit AS (
  SELECT (MAX(doc_id) + 1) * 4 // 5 AS v FROM documents
), s AS (
  SELECT doc_id,
         'reach u' || CAST(doc_id AS VARCHAR) || '@mail.example.com or +1-555-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' re: ' || text
           AS synth
  FROM documents
  WHERE doc_id >= (SELECT v FROM dsplit)
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
"""


@query("stream_pii_gate", oracle=stream_pii_gate_oracle())
def stream_pii_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PII scrubbing (SURVEY §2.AF): the registered scrub
    kernel (``corpus.pii_report`` — identical row-local regex
    expressions) runs over each delta micro-batch, redaction rows land
    batch_id-keyed, and the drained table must equal the batch op
    restricted to the delta. Row-local end to end: per batch the gate
    costs one codegen'd pass over the batch bytes — no shuffle, no
    Python, no state."""
    from ..streaming.core import drain_partials
    from .corpus import pii_report

    # no take(1) emptiness guard (r14): the staged delta stream delivers
    # one NON-EMPTY batch per file (maxFilesPerTrigger=1, availableNow),
    # so the guard was a full extra Spark job per micro-batch; a
    # hypothetical empty batch would land an empty-but-typed parquet
    return drain_partials(
        _delta_docs(spark, sf_dir),
        lambda batch_df, batch_id: pii_report(batch_df),
        lambda landed: landed.select(
            "doc_id", "n_emails", "n_phones", "redacted_md5", "redacted_len"
        ),
        "doc_id long, n_emails long, n_phones long, redacted_md5 string,"
        " redacted_len long",
        walls=LAST_PII_BATCH_WALLS,
    )


# ---------------------------------------------------------------------------
# stream_profile_gate — the profile monitor on the ingest stream
# ---------------------------------------------------------------------------

LAST_PROFILE_BATCH_WALLS: list[float] = []


def stream_profile_gate_oracle() -> str:
    """The streaming monitor folds the SAME delta against the SAME
    standing census as the batch op, so the contract — and therefore
    the oracle — is ``text_profile_drift``'s, verbatim (the
    ``stream_index_drift`` batch-twin precedent)."""
    from .extensions8 import text_profile_drift_oracle

    return text_profile_drift_oracle()


@query("stream_profile_gate", oracle=stream_profile_gate_oracle())
def stream_profile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-profile monitoring (SURVEY §2.AF): delta docs
    arrive as micro-batches; each batch buckets through the registered
    ``profile_cells`` kernel (ONE codegen'd pass — integer bucketing,
    no explode), its {`_PROFILE_CELLS`}-bounded census lands
    batch_id-keyed, and the final drift table — folded delta census vs
    the PERSISTED standing census — must equal the batch monitor's.

    Shape at scale: the standing corpus buckets ZERO times per
    monitoring run (its census is an artifact-store entry, the
    ``ivf_base_census`` precedent); per batch the work is a row-local
    scan plus a bounded counter fold, so the monitor's steady-state
    cost tracks the ingest stream, never the standing corpus."""
    from ..streaming.core import drain_partials
    from .extensions7 import census_drift_local
    from .extensions8 import _PROFILE_CELLS, _doc_split, profile_cells

    split = _doc_split(spark, sf_dir)

    def train_base_census() -> list[list[int]]:
        base = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < split
        )
        return sorted(
            [int(r["cid"]), int(r["n"])]
            for r in profile_cells(base)
            .groupBy("cid")
            .agg(F.count("*").alias("n"))
            .collect()
        )

    base_census = session_memo(
        spark,
        ("profile_base_census", os.path.abspath(sf_dir), split),
        lambda: disk_artifact_json(
            "profile_base_census",
            "v1",
            sf_dir,
            train_base_census,
            extra=(split,),
        ),
        sf_dir=sf_dir,
    )

    def census_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # one executor-side census job + a driver-side ≤|cells|-row
        # landing replaces the take(1) guard and per-batch write jobs
        # (io.land_bounded_frame, r14)
        return (
            profile_cells(batch_df)
            .groupBy("cid")
            .agg(F.count("*").alias("n_delta"))
        )

    return drain_partials(
        _delta_docs(spark, sf_dir),
        census_batch,
        # the final drift table is BOUNDED (exactly _PROFILE_CELLS rows)
        # and both censuses are driver-side integers, so the fold runs in
        # PYTHON (drift_table_local: same dratio formula, exact integer
        # cross-multiplication, same empty-population guard) — a
        # distributed 160-row fold cost ~0.7 s of plan/window work per
        # monitoring refresh for zero scale benefit
        lambda rows: census_drift_local(
            spark, base_census, rows, _PROFILE_CELLS
        ),
        None,
        bounded=True,
        walls=LAST_PROFILE_BATCH_WALLS,
    )
