"""``streaming.core.drain`` — the one streaming query lifecycle — and
``drain_partials``, the one per-micro-batch partials fold on top of it.

Every drain sizes the shuffle (and so the state store) to
``STREAM_STATE_PARTITIONS`` and runs under the session-wide drain confs,
whichever op drains first in a session; the per-drain confs it scopes are
restored to the session's previous values afterwards, also when the
query fails. A partials fold counts a retried batch once, reads an
all-empty stream as an empty frame typed by its ddl, and deletes its
landings also when the fold fails.
"""

from __future__ import annotations

import json
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from storm_netmonitor_spark.session import RUNTIME_CONFS, apply_runtime_confs
from storm_netmonitor_spark.streaming import core
from storm_netmonitor_spark.streaming.core import (
    STREAM_STATE_PARTITIONS,
    ckpt_dir,
    drain,
    drain_partials,
)

_SHUFFLE = "spark.sql.shuffle.partitions"
_NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"
_DRAIN_CONF_KEYS = (
    "spark.sql.streaming.minBatchesToRetain",
    "spark.sql.streaming.stateStore.maintenanceInterval",
    "spark.sql.streaming.checkpointFileManagerClass",
)


def _keyed_stream(session):
    d = tempfile.mkdtemp(prefix="nm_drain_src_")
    pq.write_table(
        pa.table({"k": ["a", "b", "a", "c"], "v": [1, 2, 3, 4]}),
        os.path.join(d, "p0.parquet"),
    )
    return (
        session.readStream.schema("k string, v long")
        .parquet(d)
        .groupBy("k")
        .agg(F.sum("v").alias("v"))
    )


def test_first_drain_in_fresh_session_is_state_sized_and_drain_tuned(spark):
    """A foreachBatch op draining first in a session used to run at the
    batch shuffle width and without the drain confs."""
    fresh = spark.newSession()
    for k in _DRAIN_CONF_KEYS:
        fresh.conf.unset(k)
    assert fresh.conf.get("spark.sql.streaming.minBatchesToRetain") != "1"
    seen: dict[str, str] = {}

    def fold(batch_df, batch_id):
        batch_df.count()  # a stateful drain must consume its batch
        seen.update(
            {k: batch_df.sparkSession.conf.get(k) for k in _DRAIN_CONF_KEYS}
        )

    ckpt = ckpt_dir()
    drain(_keyed_stream(fresh), fold, "complete", checkpoint=ckpt)
    with open(os.path.join(ckpt, "offsets", "0")) as f:
        # line 0 is the log version, line 1 the batch metadata
        meta = json.loads(f.read().splitlines()[1])
    assert meta["conf"][_SHUFFLE] == str(STREAM_STATE_PARTITIONS)
    # Spark's offset-log metadata records only its own fixed conf set, so
    # the drain confs are read from the micro-batch's session instead
    assert seen == {k: RUNTIME_CONFS[k] for k in _DRAIN_CONF_KEYS}


@pytest.mark.parametrize("raises", [False, True], ids=["ok", "raises"])
def test_drain_restores_scoped_confs(spark, raises):
    fresh = spark.newSession()
    apply_runtime_confs(fresh)
    fresh.conf.set(_SHUFFLE, "5")
    fresh.conf.set(_NO_DATA, "false")
    during: dict[str, str] = {}

    def fold(batch_df, batch_id):
        batch_df.count()
        during.update(
            {k: fresh.conf.get(k) for k in (_SHUFFLE, _NO_DATA)}
        )
        if raises:
            raise RuntimeError("sink failed")

    if raises:
        with pytest.raises(StreamingQueryException, match="sink failed"):
            drain(_keyed_stream(fresh), fold, "complete", state_partitions=3)
    else:
        drain(_keyed_stream(fresh), fold, "complete", state_partitions=3)
    assert during == {_SHUFFLE: "3", _NO_DATA: "false"}
    assert fresh.conf.get(_SHUFFLE) == "5"
    assert fresh.conf.get(_NO_DATA) == "false"


def _source_dir(table: pa.Table) -> str:
    d = tempfile.mkdtemp(prefix="nm_fold_src_")
    pq.write_table(table, os.path.join(d, "p0.parquet"))
    return d


def _count_by_k(batch_df, batch_id):
    return batch_df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))


@pytest.mark.parametrize("bounded", [False, True], ids=["executor", "bounded"])
def test_drain_partials_counts_a_retried_batch_once(spark, bounded):
    """foreachBatch is at-least-once: a replayed batch_id must replace its
    own landing. (An append-mode landing, as stream_incremental_rollup
    used to write, counts the replayed batch twice.)"""
    out = tempfile.mkdtemp(prefix="nm_retry_landing_")
    sink = core._landing_sink(out, _count_by_k, bounded, None)
    batch = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    sink(batch, 0)
    sink(batch, 0)  # the retry of batch 0
    sink(batch, 1)
    landed = core._read_landed(spark, out, "k string, n long", bounded)
    folded = landed.groupBy("k").agg(F.sum("n").alias("n"))
    assert sorted(map(tuple, folded.collect())) == [("a", 4), ("b", 2)]


def test_drain_partials_deletes_its_landings_when_the_fold_raises(
    spark, monkeypatch
):
    made: list[str] = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(core.tempfile, "mkdtemp", recording_mkdtemp)

    def landing_dir() -> str:
        [out] = [
            d for d in made if os.path.basename(d).startswith("nm_partials_")
        ]
        return out

    def fold(landed):
        assert any(
            e.startswith("batch_id=") for e in os.listdir(landing_dir())
        )
        raise RuntimeError("fold failed")

    src = _source_dir(pa.table({"k": ["a", "b"]}))
    stream = spark.readStream.schema("k string").parquet(src)
    with pytest.raises(RuntimeError, match="fold failed"):
        drain_partials(stream, _count_by_k, fold, "k string, n long")
    assert not os.path.exists(landing_dir())


#: (landed ddl, fold key) of the streaming gates whose read-back must
#: survive an all-empty stream: stream_vocab_gate and the three
#: extensions24 gates.
_GATE_LANDINGS = (
    ("source string, n_tokens long, n_covered_tokens long", "source"),
    ("source string, n_docs long", "source"),
    ("stage int, n_docs long, n_tokens long", "stage"),
    ("pos int, e_scaled long", "pos"),
)

_ARROW_TYPES = {"string": pa.string(), "bigint": pa.int64(), "int": pa.int32()}


@pytest.mark.parametrize("bounded", [False, True], ids=["executor", "bounded"])
def test_drain_partials_over_an_all_empty_stream(spark, bounded):
    """A stream that delivers no rows — no batch at all, or a batch of
    zero rows — lands no bounded partials and at most empty
    executor-side ones, so the read-back must hand the fold an empty
    frame typed by ``ddl`` (not PATH_NOT_FOUND), and the fold over it
    must run clean."""
    for ddl, key in _GATE_LANDINGS:
        schema = spark.createDataFrame([], ddl).schema
        no_batch = tempfile.mkdtemp(prefix="nm_fold_src_")
        zero_rows = _source_dir(
            pa.table(
                {
                    f.name: pa.array([], _ARROW_TYPES[f.dataType.simpleString()])
                    for f in schema
                }
            )
        )
        for src in (no_batch, zero_rows):
            seen, walls = [], []

            def fold(landed, key=key):
                # read inside the fold: the landings are gone afterwards
                seen.append(
                    (
                        [(f.name, f.dataType) for f in landed.schema],
                        landed.count(),
                    )
                )
                return landed.groupBy(key).agg(F.count(F.lit(1)).alias("n"))

            out = drain_partials(
                spark.readStream.schema(schema).parquet(src),
                lambda batch_df, batch_id: batch_df,
                fold,
                ddl,
                bounded=bounded,
                walls=walls,
            )
            assert seen == [([(f.name, f.dataType) for f in schema], 0)]
            assert out.collect() == []
            if bounded or src == no_batch:
                assert walls == []  # nothing landed
