"""Round-14 candidate verification, fourth batch (SURVEY §2.AK —
staged, NOT registered).

Each §2.AK candidate runs the exact same vanilla-shaped check the
driver will apply once it is registered in round 14: Spark result vs
its DuckDB oracle — plus the property tests that pin the streaming
fold discipline: drained table ≡ the batch kernel on the same
population (batch-twin identity), ≥2-batch folds with per-batch
walls, planted-OOV detection through the factored coverage kernel,
and run-to-run determinism.
"""

from __future__ import annotations

import pytest

from tests.parity import canon_rows, run_oracle, run_spark

SF = "/root/testdata/sf0.01"


def _assert_staged_parity(fn, oracle_sql: str, spark, sf_dir: str = SF):
    s_cols, s_rows = run_spark(fn, spark, sf_dir)
    o_cols, o_rows = run_oracle(oracle_sql, sf_dir)
    assert sorted(s_cols) == sorted(o_cols)
    assert len(s_rows) == len(o_rows)
    assert canon_rows(s_cols, s_rows) == canon_rows(o_cols, o_rows)


def test_vocab_gate_matches_oracle(spark):
    from storm_netmonitor_spark.operators.extensions20 import (
        stream_vocab_gate,
        stream_vocab_gate_oracle,
    )

    _assert_staged_parity(stream_vocab_gate, stream_vocab_gate_oracle(), spark)


def test_fertility_gate_matches_oracle(spark):
    from storm_netmonitor_spark.operators.extensions20 import (
        stream_fertility_gate,
        stream_fertility_gate_oracle,
    )

    _assert_staged_parity(
        stream_fertility_gate, stream_fertility_gate_oracle(), spark
    )


def test_fano_fold_matches_oracle(spark):
    from storm_netmonitor_spark.operators.extensions20 import (
        stream_fano_fold,
        stream_fano_fold_oracle,
    )

    _assert_staged_parity(stream_fano_fold, stream_fano_fold_oracle(), spark)


def test_gates_fold_over_multiple_batches(spark):
    """The staged streams must split into ≥2 micro-batches (a 1-batch
    drain would make the fold vacuous) and every batch records a
    wall."""
    from storm_netmonitor_spark.operators import extensions20 as e20

    e20.stream_vocab_gate(spark, SF).collect()
    assert len(e20.LAST_VOCAB_GATE_WALLS) >= 2
    e20.stream_fertility_gate(spark, SF).collect()
    assert len(e20.LAST_FERTILITY_GATE_WALLS) >= 2
    e20.stream_fano_fold(spark, SF).collect()
    assert len(e20.LAST_FANO_BATCH_WALLS) >= 2


def test_fano_fold_equals_the_batch_twin(spark):
    """Batch-twin identity: the drained moment fold must equal the
    registered batch op row-for-row — minute counters are additive,
    so batch boundaries (which the staged stream deliberately cuts
    mid-minute) cannot shift a single bit."""
    from storm_netmonitor_spark.operators.extensions19 import (
        events_burstiness_fano,
    )
    from storm_netmonitor_spark.operators.extensions20 import (
        stream_fano_fold,
    )

    a = stream_fano_fold(spark, SF)
    b = events_burstiness_fano(spark, SF)
    assert canon_rows(a.columns, a.collect()) == canon_rows(
        b.columns, b.collect()
    )


def test_vocab_gate_equals_the_batch_kernel_on_the_delta(spark):
    """Batch-twin identity for the coverage gate: the drained counters
    must equal the coverage kernel run on the whole delta at once
    against the same standing vocabulary."""
    from pyspark.sql import functions as F

    from storm_netmonitor_spark.io import load_table
    from storm_netmonitor_spark.operators import extensions20 as e20

    split = e20._doc_split_point(spark, SF)
    delta = load_table(spark, SF, "documents").filter(
        F.col("doc_id") >= split
    )
    vocab = e20._standing_vocab_tokens(spark, SF)
    batch = e20.vocab_coverage_counters(delta, vocab)
    drained = e20.stream_vocab_gate(spark, SF).select(
        "source", "n_tokens", "n_covered_tokens"
    )
    assert canon_rows(batch.columns, batch.collect()) == canon_rows(
        drained.columns, drained.collect()
    )


def test_coverage_kernel_detects_planted_oov(spark):
    """A document speaking entirely outside the vocabulary must census
    at zero coverage; one inside it at full coverage."""
    from storm_netmonitor_spark.io import tiny_local_frame
    from storm_netmonitor_spark.operators.extensions20 import (
        vocab_coverage_counters,
    )

    docs = tiny_local_frame(
        spark,
        [("known", "alpha beta alpha"), ("oov", "qqq zzz qqq www")],
        "source string, text string",
    )
    vocab = ("alpha", "beta")
    rows = {
        r["source"]: r for r in vocab_coverage_counters(docs, vocab).collect()
    }
    assert rows["known"]["n_tokens"] == 3
    assert rows["known"]["n_covered_tokens"] == 3
    assert rows["oov"]["n_tokens"] == 4
    assert rows["oov"]["n_covered_tokens"] == 0


def test_fertility_gate_uses_standing_trained_merges(spark):
    """Train-standing / score-delta: the gate's counters must equal
    the fertility kernel run on the whole delta under the STANDING
    merge artifact (never the full-corpus-trained table)."""
    from pyspark.sql import functions as F

    from storm_netmonitor_spark.io import load_table
    from storm_netmonitor_spark.operators import extensions20 as e20

    split = e20._doc_split_point(spark, SF)
    delta = load_table(spark, SF, "documents").filter(
        F.col("doc_id") >= split
    )
    merges = e20._standing_merges(spark, SF)
    assert len(merges) == 3
    batch = e20.fertility_counters(delta, merges)
    drained = e20.stream_fertility_gate(spark, SF).select(
        "source", "n_words", "n_chars", "n_tokens"
    )
    assert canon_rows(batch.columns, batch.collect()) == canon_rows(
        drained.columns, drained.collect()
    )


@pytest.mark.parametrize(
    "name",
    [
        "stream_vocab_gate",
        "stream_fertility_gate",
        "stream_fano_fold",
    ],
)
def test_run_to_run_determinism(spark, name):
    from storm_netmonitor_spark.operators import extensions20 as e20

    fn = getattr(e20, name)
    a = fn(spark, SF)
    b = fn(spark, SF)
    assert canon_rows(a.columns, a.collect()) == canon_rows(
        b.columns, b.collect()
    )


def test_read_landed_tolerates_an_all_empty_stream(spark):
    """The gates early-return without landing on empty micro-batches,
    so an all-empty stream leaves NO batch_id=* directory — the
    read-back must produce the empty ledger frame (right schema,
    foldable), executor-side and bounded alike, not PATH_NOT_FOUND."""
    from pyspark.sql import functions as F

    from storm_netmonitor_spark.io import scratch_dir
    from storm_netmonitor_spark.streaming.core import _read_landed

    for bounded in (False, True):
        d = scratch_dir("nm_empty_landing_")
        df = _read_landed(
            spark, d, "source string, n_tokens long, n_covered_tokens long", bounded
        )
        assert df.columns == ["source", "n_tokens", "n_covered_tokens"]
        assert df.count() == 0
        # the downstream fold over the empty landing must also run clean
        folded = df.groupBy("source").agg(F.sum("n_tokens").alias("n_tokens"))
        assert folded.collect() == []
