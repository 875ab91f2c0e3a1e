"""Round-15 candidate verification, fourth batch (SURVEY §2.AO —
staged, NOT registered).

Each §2.AO candidate runs the exact same vanilla-shaped check the
driver will apply once it is registered in round 15: Spark result vs
its DuckDB oracle — plus the batch-twin identities that pin the
ingest-gate discipline: every gate's drained fold must equal the
batch computation on the whole delta (counters are additive integers
/ exact scaled decimals, so batch boundaries cannot shift a bit)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.parity import canon_rows, run_oracle, run_spark

SF = "/root/testdata/sf0.01"


def _assert_staged_parity(fn, oracle_sql: str, spark, sf_dir: str = SF):
    s_cols, s_rows = run_spark(fn, spark, sf_dir)
    o_cols, o_rows = run_oracle(oracle_sql, sf_dir)
    assert sorted(s_cols) == sorted(o_cols)
    assert len(s_rows) == len(o_rows)
    assert canon_rows(s_cols, s_rows) == canon_rows(o_cols, o_rows)


def test_mixture_gate_matches_oracle(spark):
    from storm_netmonitor_spark.operators.extensions24 import (
        stream_mixture_gate,
        stream_mixture_gate_oracle,
    )

    _assert_staged_parity(
        stream_mixture_gate, stream_mixture_gate_oracle(), spark
    )


def test_curriculum_gate_matches_oracle(spark):
    from storm_netmonitor_spark.operators.extensions24 import (
        stream_curriculum_gate,
        stream_curriculum_gate_oracle,
    )

    _assert_staged_parity(
        stream_curriculum_gate, stream_curriculum_gate_oracle(), spark
    )


def test_energy_gate_matches_oracle(spark):
    from storm_netmonitor_spark.operators.extensions24 import (
        stream_energy_gate,
        stream_energy_gate_oracle,
    )

    _assert_staged_parity(
        stream_energy_gate, stream_energy_gate_oracle(), spark
    )


def test_gates_fold_over_multiple_batches(spark):
    """The staged streams must split into ≥2 micro-batches (a 1-batch
    drain would make the fold vacuous) and every batch records a
    wall."""
    from storm_netmonitor_spark.operators import extensions24 as e24

    e24.stream_mixture_gate(spark, SF).collect()
    assert len(e24.LAST_MIX_GATE_WALLS) >= 2
    e24.stream_curriculum_gate(spark, SF).collect()
    assert len(e24.LAST_CURR_GATE_WALLS) >= 2
    e24.stream_energy_gate(spark, SF).collect()
    assert len(e24.LAST_ENERGY_GATE_WALLS) >= 2


def test_mixture_gate_equals_the_batch_twin(spark):
    """Batch-twin identity: the drained per-source counters must equal
    one source-keyed count over the whole delta, and the target shares
    must be the standing allocation's."""
    from storm_netmonitor_spark.io import load_table
    from storm_netmonitor_spark.operators import extensions24 as e24
    from storm_netmonitor_spark.operators.extensions8 import _doc_split

    split = _doc_split(spark, SF)
    want = {
        r["source"]: r["n"]
        for r in load_table(spark, SF, "documents")
        .filter(F.col("doc_id") >= split)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    target = {
        r["source"]: r["target_share_pct"]
        for r in e24._standing_mix_target(spark, SF).collect()
    }
    rows = e24.stream_mixture_gate(spark, SF).collect()
    assert {r["source"]: r["n_docs_delta"] for r in rows} == want
    for r in rows:
        assert r["target_share_pct"] == target[r["source"]]
        assert (
            abs(
                r["drift_ppm"]
                - (r["delta_share_pct"] - r["target_share_pct"])
            )
            < 1e-9
        )


def test_curriculum_gate_equals_the_batch_twin(spark):
    """Batch-twin identity: the drained stage counters must equal the
    stage kernel run on the whole delta at once."""
    from storm_netmonitor_spark.io import load_table
    from storm_netmonitor_spark.operators import extensions24 as e24
    from storm_netmonitor_spark.operators.extensions8 import _doc_split

    split = _doc_split(spark, SF)
    batch = {
        r["stage"]: (r["n_docs"], r["n_tokens"])
        for r in e24.stage_counters_over(
            load_table(spark, SF, "documents")
            .filter(F.col("doc_id") >= split)
            .select("text")
        ).collect()
    }
    drained = {
        r["stage"]: (r["n_docs_delta"], r["n_tokens_delta"])
        for r in e24.stream_curriculum_gate(spark, SF).collect()
    }
    assert drained == batch


def test_energy_gate_equals_the_batch_twin(spark):
    """Batch-twin identity: the drained per-dimension micro-energies
    must equal the energy kernel run on the whole delta at once — the
    scaled-decimal counters are exactly additive by construction."""
    from storm_netmonitor_spark.io import load_table
    from storm_netmonitor_spark.operators import extensions24 as e24

    split = e24._vec_split(spark, SF)
    batch = {
        r["pos"]: r["e_scaled"]
        for r in e24.energy_counters_over(
            load_table(spark, SF, "embeddings")
            .filter(F.col("vec_id") >= split)
            .select("embedding")
        ).collect()
    }
    drained = {
        r["pos"]: r["energy_micro_delta"]
        for r in e24.stream_energy_gate(spark, SF).collect()
    }
    assert drained == batch


def test_energy_counters_are_exactly_additive(spark):
    """The additivity law the streaming fold stands on: partial
    censuses over any row partition must sum to the whole-frame
    census, bit for bit."""
    from storm_netmonitor_spark.io import tiny_local_frame
    from storm_netmonitor_spark.operators.extensions24 import (
        energy_counters_over,
    )

    rows = [
        (1, [0.5, 0.25, 0.125]),
        (2, [0.75, 0.0, 0.375]),
        (3, [0.1, 0.9, 0.3]),   # NOT exactly representable: the
        (4, [0.7, 0.2, 0.6]),   # decimal cast truncation must still
    ]                            # split additively across partitions
    ddl = "vec_id long, embedding array<float>"
    whole = {
        r["pos"]: r["e_scaled"]
        for r in energy_counters_over(
            tiny_local_frame(spark, rows, ddl)
        ).collect()
    }
    h1 = {
        r["pos"]: r["e_scaled"]
        for r in energy_counters_over(
            tiny_local_frame(spark, rows[:2], ddl)
        ).collect()
    }
    h2 = {
        r["pos"]: r["e_scaled"]
        for r in energy_counters_over(
            tiny_local_frame(spark, rows[2:], ddl)
        ).collect()
    }
    assert whole == {p: h1[p] + h2[p] for p in whole}


def test_mixture_target_trains_on_the_standing_corpus_only(spark):
    """Frozen-artifact split: the target allocation must equal the
    §2.AM kernel over the STANDING corpus census — not the full
    corpus's (the train/serve split the vocab/fertility gates pin)."""
    from storm_netmonitor_spark.io import load_table
    from storm_netmonitor_spark.operators import extensions24 as e24
    from storm_netmonitor_spark.operators.extensions8 import _doc_split
    from storm_netmonitor_spark.operators.extensions22 import (
        _RESAMPLE_BUDGET,
        temperature_alloc_over,
    )

    split = _doc_split(spark, SF)
    standing_src = (
        load_table(spark, SF, "documents")
        .filter(F.col("doc_id") < split)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    want = {
        r["source"]: r["alloc_share_pct"]
        for r in temperature_alloc_over(
            standing_src, _RESAMPLE_BUDGET
        ).collect()
    }
    got = {
        r["source"]: r["target_share_pct"]
        for r in e24._standing_mix_target(spark, SF).collect()
    }
    assert got == want


def test_read_landed_guard_covers_the_new_gates(spark):
    """An all-empty stream leaves no batch_id=* landing — the read-back
    must produce the empty ledger with each gate's schema, executor-side
    and bounded alike, and the downstream fold must run clean."""
    import tempfile

    from storm_netmonitor_spark.streaming.core import _read_landed

    for ddl, key in (
        ("source string, n_docs long", "source"),
        ("stage int, n_docs long, n_tokens long", "stage"),
        ("pos int, e_scaled long", "pos"),
    ):
        for bounded in (False, True):
            d = tempfile.mkdtemp(prefix="nm_empty_landing24_")
            df = _read_landed(spark, d, ddl, bounded)
            assert df.schema == spark.createDataFrame([], ddl).schema
            assert df.count() == 0
            folded = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
            assert folded.collect() == []


def test_run_to_run_determinism(spark):
    from storm_netmonitor_spark.operators.extensions24 import (
        stream_mixture_gate,
    )

    a = stream_mixture_gate(spark, SF)
    b = stream_mixture_gate(spark, SF)
    assert canon_rows(a.columns, a.collect()) == canon_rows(
        b.columns, b.collect()
    )
