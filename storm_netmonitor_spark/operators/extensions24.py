"""Round-15 candidate operators, fourth batch, PRE-STAGED (SURVEY
§2.AO; the staging discipline of the §2.W–§2.AN batches applied
forward).

NOTHING in this module is registered: the registry closed the round-14
registrations at 327, so there is no ``@query`` decorator here — each
candidate ships as a plain callable plus a module-level oracle builder,
wired into ``tests/test_extensions24_staged.py``.

Capability anchor: SURVEY §2.AO — INGEST GATES FOR THE ROUND-15
FAMILIES. The §2.AM/§2.AN batch measurements (mixture allocation,
curriculum stage census, dimension-energy concentration) run in
production ON the arriving data, each delta batch checked before it
lands — the ``stream_vocab_gate``/``stream_profile_gate`` batch-twin
discipline applied to the round-15 families:

- ``stream_mixture_gate`` — the arriving delta's realized source mix
  vs the STANDING corpus's temperature-allocation target (§2.AM's
  exact integer largest-remainder shares, trained once on the
  standing corpus): per batch one source-keyed doc counter lands
  batch_id-keyed; the drained mix and its ppm drift vs target ≡ the
  batch computation on the delta;
- ``stream_curriculum_gate`` — the arriving delta's stage-band
  doc/token counters (§2.AM's fixed short→xlong bands) vs the
  standing corpus's token shares — the "is incoming data still the
  length mix the curriculum priced" alarm; counters are ADDITIVE
  integers, so the fold is exact in any batch-arrival order;
- ``stream_energy_gate`` — the arriving delta embeddings' per-
  dimension energy fold (§2.AN's decimal micro-units — EXACTLY
  additive across batches by construction) vs the standing corpus's
  energy shares, as ppm drift per dimension — encoder-regression
  detection at ingest time.

All per-batch landings are batch_id-keyed (retry-idempotent); every
folded quantity is an integer counter or an exact scaled-decimal
BIGINT, so arrival order cannot change a single output bit.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.stable import dec_scaled, dec_scaled_sql, dratio, dratio_sql
from ..io import load_table, raw_table_schema, session_memo, tiny_local_frame
from .extensions8 import _doc_split
from .extensions12 import _STREAM_GATE_BATCHES
from .extensions15 import _delta_docs
from .extensions22 import (
    _RESAMPLE_BUDGET,
    _STAGE_BOUNDS,
    _STAGE_LABELS,
    temperature_alloc_over,
)

#: Shared split-point SQL (the extensions8/12/15/20 delta convention).
_DSPLIT_SQL = "SELECT (MAX(doc_id) + 1) * 4 // 5 AS v FROM documents"

#: The embeddings delta convention, same 4/5 carve on vec_id.
_VSPLIT_SQL = "SELECT (MAX(vec_id) + 1) * 4 // 5 AS v FROM embeddings"


# ---------------------------------------------------------------------------
# stream_mixture_gate — realized delta mix vs the standing allocation
# ---------------------------------------------------------------------------

LAST_MIX_GATE_WALLS: list[float] = []


def stream_mixture_gate_oracle() -> str:
    from .extensions22 import temperature_ctes_sql

    dshare = dratio_sql("n_docs_delta * 1000000", "dtot.t")
    tshare = dratio_sql("alloc_n * 1000000", f"{_RESAMPLE_BUDGET}")
    return f"""
WITH dsplit AS ({_DSPLIT_SQL}),
{temperature_ctes_sql("doc_id < (SELECT v FROM dsplit)")},
d AS (
  SELECT source, COUNT(*) AS n_docs_delta FROM documents
  WHERE doc_id >= (SELECT v FROM dsplit) GROUP BY source
), dtot AS (SELECT SUM(n_docs_delta) AS t FROM d)
SELECT d.source,
       CAST(n_docs_delta AS BIGINT) AS n_docs_delta,
       {dshare} AS delta_share_pct,
       {tshare} AS target_share_pct,
       CAST({dshare} - {tshare} AS DOUBLE) AS drift_ppm
FROM d JOIN alloc ON alloc.source = d.source, dtot
"""


def _standing_mix_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE standing allocation target — the §2.AM kernel over the
    standing corpus's source census, session-memoized per corpus
    version (the ``_standing_vocab`` precedent)."""
    split = _doc_split(spark, sf_dir)

    def build() -> DataFrame:
        src = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < split)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        return (
            temperature_alloc_over(src, _RESAMPLE_BUDGET)
            .select("source", F.col("alloc_share_pct").alias("target_share_pct"))
            .cache()
        )

    return session_memo(
        spark,
        ("standing_mix_target", os.path.abspath(sf_dir), split),
        build,
        sf_dir=sf_dir,
    )


def stream_mixture_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture monitor on the ingest stream (SURVEY §2.AO): delta
    docs arrive as micro-batches, each batch's per-source doc counter
    lands batch_id-keyed, and the drained realized mix compares
    against the STANDING corpus's temperature-allocation target
    (§2.AM, trained once per corpus version — the frozen-artifact
    split). Sustained positive drift on one source means the resample
    budget the owner signed is stale before the next retrain.

    Shape at scale: per batch ONE source-keyed integer counter fold
    (S-row landing); the final fold and the S-row broadcast target
    join run on censuses. Counters are additive — arrival order
    cannot change a bit."""
    from ..streaming.core import drain_partials

    target = _standing_mix_target(spark, sf_dir)

    def fold(landed: DataFrame) -> DataFrame:
        folded = landed.groupBy("source").agg(
            F.sum("n_docs").cast("long").alias("n_docs_delta")
        )
        tot = folded.agg(F.sum("n_docs_delta").alias("t"))
        dshare = dratio(F.col("n_docs_delta") * 1_000_000, F.col("t"))
        return (
            folded.crossJoin(F.broadcast(tot))
            .join(F.broadcast(target), "source")
            .select(
                "source",
                "n_docs_delta",
                dshare.alias("delta_share_pct"),
                "target_share_pct",
                (dshare - F.col("target_share_pct"))
                .cast("double")
                .alias("drift_ppm"),
            )
        )

    return drain_partials(
        _delta_docs(spark, sf_dir),
        lambda batch_df, batch_id: batch_df.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs")
        ),
        fold,
        "source string, n_docs long",
        walls=LAST_MIX_GATE_WALLS,
    )


# ---------------------------------------------------------------------------
# stream_curriculum_gate — delta length mix vs the standing stage shares
# ---------------------------------------------------------------------------

LAST_CURR_GATE_WALLS: list[float] = []


def _stage_census_sql(where: str) -> str:
    b1, b2, b3 = _STAGE_BOUNDS
    return f"""
  SELECT CASE WHEN tok_n < {b1} THEN 1
              WHEN tok_n < {b2} THEN 2
              WHEN tok_n < {b3} THEN 3
              ELSE 4 END AS stage,
         COUNT(*) AS n_docs, SUM(tok_n) AS n_tokens
  FROM (
    SELECT len(list_filter(string_split(lower(text), ' '),
                           x -> x <> '')) AS tok_n
    FROM documents WHERE {where}
  ) GROUP BY 1"""


def stream_curriculum_gate_oracle() -> str:
    dshare = dratio_sql("d.n_tokens * 1000000", "dtot.t")
    sshare = dratio_sql("s.n_tokens * 1000000", "stot.t")
    labels = ", ".join(
        f"({i + 1}, '{lab}')" for i, lab in enumerate(_STAGE_LABELS)
    )
    return f"""
WITH dsplit AS ({_DSPLIT_SQL}),
d AS ({_stage_census_sql("doc_id >= (SELECT v FROM dsplit)")}),
s AS ({_stage_census_sql("doc_id < (SELECT v FROM dsplit)")}),
lab(stage, stage_label) AS (VALUES {labels}),
dtot AS (SELECT SUM(n_tokens) AS t FROM d),
stot AS (SELECT SUM(n_tokens) AS t FROM s)
SELECT d.stage, stage_label,
       CAST(d.n_docs AS BIGINT) AS n_docs_delta,
       CAST(d.n_tokens AS BIGINT) AS n_tokens_delta,
       {dshare} AS delta_token_share_pct,
       {sshare} AS standing_token_share_pct,
       CAST({dshare} - {sshare} AS DOUBLE) AS drift_ppm
FROM d JOIN s ON s.stage = d.stage
JOIN lab ON lab.stage = d.stage, dtot, stot
"""


def stage_counters_over(docs: DataFrame) -> DataFrame:
    """KERNEL — the per-stage (n_docs, n_tokens) integer counters of
    any frame with a ``text`` column (the §2.AM bands). Factored for
    the per-batch fold and the planted boundary test."""
    b1, b2, b3 = _STAGE_BOUNDS
    toks = docs.select(
        F.size(
            F.expr("array_remove(split(lower(text), ' '), '')")
        ).alias("tok_n")
    )
    return (
        toks.select(
            F.when(F.col("tok_n") < b1, 1)
            .when(F.col("tok_n") < b2, 2)
            .when(F.col("tok_n") < b3, 3)
            .otherwise(4)
            .alias("stage"),
            "tok_n",
        )
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tok_n").cast("long").alias("n_tokens"),
        )
    )


def _standing_stage_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    split = _doc_split(spark, sf_dir)

    def build() -> DataFrame:
        census = stage_counters_over(
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < split)
            .select("text")
        )
        tot = census.agg(F.sum("n_tokens").alias("t"))
        return (
            census.crossJoin(F.broadcast(tot))
            .select(
                "stage",
                dratio(F.col("n_tokens") * 1_000_000, F.col("t")).alias(
                    "standing_token_share_pct"
                ),
            )
            .cache()
        )

    return session_memo(
        spark,
        ("standing_stage_shares", os.path.abspath(sf_dir), split),
        build,
        sf_dir=sf_dir,
    )


def stream_curriculum_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The length-mix monitor on the ingest stream (SURVEY §2.AO):
    each delta batch's stage-band doc/token counters (§2.AM's fixed
    short→xlong bands) land batch_id-keyed; the drained token mix
    compares against the STANDING corpus's stage shares. A band
    drifting heavy means the curriculum schedule the owner priced
    (``pipeline_curriculum_stages``) no longer matches what arrives.

    Shape at scale: per batch one row-local token count + a 4-row
    stage fold; counters are additive integers, the final fold and
    the 4-row standing join are census-sized."""
    from ..streaming.core import drain_partials

    standing = _standing_stage_shares(spark, sf_dir)
    lab = tiny_local_frame(
        spark,
        [(i + 1, l) for i, l in enumerate(_STAGE_LABELS)],
        "stage int, stage_label string",
    )

    def fold(landed: DataFrame) -> DataFrame:
        folded = landed.groupBy("stage").agg(
            F.sum("n_docs").cast("long").alias("n_docs_delta"),
            F.sum("n_tokens").cast("long").alias("n_tokens_delta"),
        )
        tot = folded.agg(F.sum("n_tokens_delta").alias("t"))
        dshare = dratio(F.col("n_tokens_delta") * 1_000_000, F.col("t"))
        return (
            folded.crossJoin(F.broadcast(tot))
            .join(F.broadcast(standing), "stage")
            .join(F.broadcast(lab), "stage")
            .select(
                "stage",
                "stage_label",
                "n_docs_delta",
                "n_tokens_delta",
                dshare.alias("delta_token_share_pct"),
                "standing_token_share_pct",
                (dshare - F.col("standing_token_share_pct"))
                .cast("double")
                .alias("drift_ppm"),
            )
        )

    return drain_partials(
        _delta_docs(spark, sf_dir),
        lambda batch_df, batch_id: stage_counters_over(batch_df.select("text")),
        fold,
        "stage int, n_docs long, n_tokens long",
        walls=LAST_CURR_GATE_WALLS,
    )


# ---------------------------------------------------------------------------
# stream_energy_gate — delta dimension energy vs the standing shares
# ---------------------------------------------------------------------------

LAST_ENERGY_GATE_WALLS: list[float] = []


def _vec_split(spark: SparkSession, sf_dir: str) -> int:
    """The embeddings split point — standing index is vec_id < split,
    the delta is vec_id ≥ split (the ``_doc_split`` 4/5 carve)."""

    def compute() -> int:
        e = load_table(spark, sf_dir, "embeddings")
        max_id = e.agg(F.max("vec_id").alias("m")).collect()[0]["m"]
        return (int(max_id) + 1) * 4 // 5

    return session_memo(
        spark,
        ("vec_split", os.path.abspath(sf_dir)),
        compute,
        sf_dir=sf_dir,
    )


def _vec_delta_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """The staged delta-embedding stream (vec_id ≥ split,
    vec_id-ordered, {_STREAM_GATE_BATCHES} files) — the
    ``_delta_stream_dir`` fixture applied to embeddings."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    split = _vec_split(spark, sf_dir)

    def build_stream(dir_: str) -> str:
        t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
        dt = t.filter(
            pc.greater_equal(t.column("vec_id"), split)
        ).sort_by("vec_id")
        per = max(1, -(-dt.num_rows // _STREAM_GATE_BATCHES))
        for i in range(0, dt.num_rows, per):
            f = os.path.join(dir_, f"v{i // per}.parquet")
            pq.write_table(dt.slice(i, per), f)
            os.utime(f, (1_700_000_000 + i * 1000, 1_700_000_000 + i * 1000))
        return dir_

    return session_memo(
        spark,
        ("vec_gate_stream", os.path.abspath(sf_dir), split),
        lambda: build_stream(tempfile.mkdtemp(prefix="nm_vgate_d_")),
        sf_dir=sf_dir,
    )


def _delta_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged delta-embedding stream, one file per micro-batch."""
    return (
        spark.readStream.schema(raw_table_schema(spark, sf_dir, "embeddings"))
        .option("maxFilesPerTrigger", "1")
        .parquet(_vec_delta_stream_dir(spark, sf_dir))
    )


def _energy_cells_sql(where: str) -> str:
    e_scaled = dec_scaled_sql("CAST(x AS DOUBLE) * CAST(x AS DOUBLE)")
    return f"""
  SELECT pos, {e_scaled} AS e_scaled FROM (
    SELECT generate_subscripts(embedding, 1) AS pos,
           unnest(embedding) AS x
    FROM embeddings WHERE {where}
  ) GROUP BY pos"""


def stream_energy_gate_oracle() -> str:
    dshare = dratio_sql("d.e_scaled * 1000000", "dtot.t")
    sshare = dratio_sql("s.e_scaled * 1000000", "stot.t")
    return f"""
WITH vsplit AS ({_VSPLIT_SQL}),
d AS ({_energy_cells_sql("vec_id >= (SELECT v FROM vsplit)")}),
s AS ({_energy_cells_sql("vec_id < (SELECT v FROM vsplit)")}),
dtot AS (SELECT SUM(e_scaled) AS t FROM d),
stot AS (SELECT SUM(e_scaled) AS t FROM s)
SELECT CAST(d.pos AS BIGINT) AS pos,
       CAST(d.e_scaled AS BIGINT) AS energy_micro_delta,
       {dshare} AS delta_share_pct,
       {sshare} AS standing_share_pct,
       CAST({dshare} - {sshare} AS DOUBLE) AS drift_ppm
FROM d JOIN s ON s.pos = d.pos, dtot, stot
"""


def energy_counters_over(vecs: DataFrame) -> DataFrame:
    """KERNEL — the per-dimension scaled-decimal energy counters of
    any frame with an ``embedding`` column. The micro-unit BIGINTs are
    EXACTLY additive across any partition of the rows (each cell's
    decimal cast is row-local, decimal addition is exact), which is
    what makes the streaming fold ≡ the batch computation."""
    cells = vecs.select(
        F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        (F.col("pos0") + 1).alias("pos"),
        F.col("xf").cast("double").alias("x"),
    )
    return cells.groupBy("pos").agg(
        dec_scaled(F.col("x") * F.col("x")).alias("e_scaled")
    )


def _standing_energy_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    split = _vec_split(spark, sf_dir)

    def build() -> DataFrame:
        census = energy_counters_over(
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < split)
            .select("embedding")
        )
        tot = census.agg(F.sum("e_scaled").alias("t"))
        return (
            census.crossJoin(F.broadcast(tot))
            .select(
                "pos",
                dratio(F.col("e_scaled") * 1_000_000, F.col("t")).alias(
                    "standing_share_pct"
                ),
            )
            .cache()
        )

    return session_memo(
        spark,
        ("standing_energy_shares", os.path.abspath(sf_dir), split),
        build,
        sf_dir=sf_dir,
    )


def stream_energy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-geometry monitor on the ingest stream (SURVEY
    §2.AO): each delta batch of embeddings folds its per-dimension
    energy (§2.AN's decimal micro-units — exactly additive by
    construction) into a batch_id-keyed landing; the drained energy
    mix compares against the STANDING corpus's shares as ppm drift
    per dimension. A dimension gaining share across batches is an
    encoder regression caught at ingest, before the index inherits
    the skew.

    Shape at scale: per batch one posexplode + ONE pos-keyed decimal
    fold (dim-row landing — 64 rows per batch regardless of batch
    size); the final fold and the dim-row standing join are
    census-sized. Scaled-decimal BIGINTs are additive, so arrival
    order cannot change a bit."""
    from ..streaming.core import drain_partials

    standing = _standing_energy_shares(spark, sf_dir)

    def fold(landed: DataFrame) -> DataFrame:
        folded = landed.groupBy("pos").agg(
            F.sum("e_scaled").cast("long").alias("energy_micro_delta")
        )
        tot = folded.agg(F.sum("energy_micro_delta").alias("t"))
        dshare = dratio(F.col("energy_micro_delta") * 1_000_000, F.col("t"))
        return (
            folded.crossJoin(F.broadcast(tot))
            .join(F.broadcast(standing), "pos")
            .select(
                F.col("pos").cast("long").alias("pos"),
                "energy_micro_delta",
                dshare.alias("delta_share_pct"),
                "standing_share_pct",
                (dshare - F.col("standing_share_pct"))
                .cast("double")
                .alias("drift_ppm"),
            )
        )

    return drain_partials(
        _delta_vecs(spark, sf_dir),
        lambda batch_df, batch_id: energy_counters_over(
            batch_df.select("embedding")
        ),
        fold,
        "pos int, e_scaled long",
        walls=LAST_ENERGY_GATE_WALLS,
    )
