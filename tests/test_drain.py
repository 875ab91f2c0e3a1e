"""``streaming.core.drain`` — the one streaming query lifecycle — and
``drain_partials``, the one per-micro-batch partials fold on top of it.

Every drain sizes the shuffle (and so the state store) to one partition
per task slot, ``min(STREAM_STATE_PARTITIONS, defaultParallelism)``,
unless the op passes ``state_partitions``, and runs under the
session-wide drain confs, whichever op drains first in a session; the
per-drain confs it scopes are restored to the session's previous values
afterwards, also when the query fails. A drain removes the checkpoint it
made, also when the query fails, and keeps one its caller passed; a
memory-sink drain also drops its sink. A partials fold counts a retried
batch once, reads an all-empty stream as an empty frame typed by its
ddl, and deletes its landings also when the fold fails. Every query the
core starts leaves a plain-data record of its batches in ``DRAINS``, a
failed one too, whose exception is noted with the micro-batch it died
in when that batch is known.
"""

from __future__ import annotations

import dataclasses
import json
import os
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from storm_netmonitor_spark.io import scratch_dir, table_path
from storm_netmonitor_spark.session import RUNTIME_CONFS, apply_runtime_confs
from storm_netmonitor_spark.streaming import core
from storm_netmonitor_spark.streaming.core import (
    STREAM_STATE_PARTITIONS,
    ckpt_dir,
    drain,
    drain_partials,
    drain_to_memory,
    drain_to_memory_until,
    events_stream,
    staged_stream,
)
from storm_netmonitor_spark.sources.pysource import register

from .conftest import SF_SMOKE

_SHUFFLE = "spark.sql.shuffle.partitions"
_NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"
_DRAIN_CONF_KEYS = (
    "spark.sql.streaming.minBatchesToRetain",
    "spark.sql.streaming.stateStore.maintenanceInterval",
    "spark.sql.streaming.checkpointFileManagerClass",
)


def _keyed_stream(session):
    d = scratch_dir("nm_drain_src_")
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

    with ckpt_dir() as ckpt:
        drain(_keyed_stream(fresh), fold, "complete", checkpoint=ckpt)
        with open(os.path.join(ckpt, "offsets", "0")) as f:
            # line 0 is the log version, line 1 the batch metadata
            meta = json.loads(f.read().splitlines()[1])
    slots = fresh.sparkContext.defaultParallelism
    assert meta["conf"][_SHUFFLE] == str(min(STREAM_STATE_PARTITIONS, slots))
    # Spark's offset-log metadata records only its own fixed conf set, so
    # the drain confs are read from the micro-batch's session instead
    assert seen == {k: RUNTIME_CONFS[k] for k in _DRAIN_CONF_KEYS}


def test_default_state_width_is_capped_by_task_slots(spark, monkeypatch):
    """The default state-store width is one partition per task slot, with
    ``STREAM_STATE_PARTITIONS`` as the upper bound: more partitions than
    slots run the state stages in extra task waves."""
    slots = spark.sparkContext.defaultParallelism
    below = max(1, slots - 1)
    for bound, want in ((slots + 4, slots), (below, below)):
        monkeypatch.setattr(core, "STREAM_STATE_PARTITIONS", bound)
        with ckpt_dir() as ckpt:
            drain(
                _keyed_stream(spark),
                lambda batch_df, batch_id: batch_df.count(),
                "complete",
                checkpoint=ckpt,
            )
            with open(os.path.join(ckpt, "offsets", "0")) as f:
                meta = json.loads(f.read().splitlines()[1])
        assert meta["conf"][_SHUFFLE] == str(want), bound


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


def _ckpt_dirs() -> set[str]:
    """Throwaway checkpoint dirs on tmpfs and in the temp dir."""
    roots = [r for r in ("/dev/shm", tempfile.gettempdir()) if os.path.isdir(r)]
    return {
        os.path.join(r, n) for r in roots for n in os.listdir(r)
        if n.startswith("nm_ckpt_")
    }


def _sink_tables(session) -> set[str]:
    return {
        t.name for t in session.catalog.listTables()
        if t.name.startswith("nm_mem_")
    }


def test_drain_to_memory_leaves_only_its_result(spark):
    """The result is detached: the memory sink is dropped from the
    catalog and the drain's checkpoint removed, and the rows survive."""
    ckpts, sinks = _ckpt_dirs(), _sink_tables(spark)
    out = drain_to_memory(_keyed_stream(spark), mode="complete")
    assert sorted(map(tuple, out.collect())) == [("a", 4), ("b", 2), ("c", 4)]
    assert _sink_tables(spark) - sinks == set()
    assert _ckpt_dirs() - ckpts == set()


def test_caller_checkpoint_survives_its_drain(spark, tmp_path):
    """A checkpoint the caller passed outlives the drain (a restarted
    query resumes from it); one the drain made does not."""
    ckpts = _ckpt_dirs()
    ckpt = str(tmp_path / "ckpt")
    count = lambda batch_df, batch_id: batch_df.count()  # noqa: E731
    drain(_keyed_stream(spark), count, "complete", checkpoint=ckpt)
    assert os.path.isfile(os.path.join(ckpt, "offsets", "0"))
    drain(_keyed_stream(spark), count, "complete")
    assert _ckpt_dirs() - ckpts == set()


def test_failing_drain_removes_its_checkpoint(spark):
    ckpts = _ckpt_dirs()

    def fold(batch_df, batch_id):
        raise RuntimeError("sink failed")

    with pytest.raises(StreamingQueryException, match="sink failed"):
        drain(_keyed_stream(spark), fold, "complete")
    assert _ckpt_dirs() - ckpts == set()


def _source_dir(table: pa.Table) -> str:
    d = scratch_dir("nm_fold_src_")
    pq.write_table(table, os.path.join(d, "p0.parquet"))
    return d


def _count_by_k(batch_df, batch_id):
    return batch_df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))


@pytest.mark.parametrize("bounded", [False, True], ids=["executor", "bounded"])
def test_drain_partials_counts_a_retried_batch_once(spark, bounded):
    """foreachBatch is at-least-once: a replayed batch_id must replace its
    own landing. (An append-mode landing, as stream_incremental_rollup
    used to write, counts the replayed batch twice.)"""
    out = scratch_dir("nm_retry_landing_")
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

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)

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


#: (landed ddl, fold key) shapes whose read-back must survive an
#: all-empty stream: stream_vocab_gate's landing plus three more
#: partials shapes (a string key, an int key, a two-measure int key).
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
        no_batch = scratch_dir("nm_fold_src_")
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


def _four_part_stream(session):
    """A staged stream of 4 one-file micro-batches, 2 rows each."""
    d = scratch_dir("nm_drain_parts_")
    for i in range(4):
        f = os.path.join(d, f"part-{i:05d}.parquet")
        pq.write_table(pa.table({"k": [f"a{i}", f"b{i}"]}), f)
        os.utime(f, (1_700_000_000 + i * 1000,) * 2)
    return staged_stream(session, d, "k string")


@pytest.mark.fast
def test_failed_drain_names_its_batch(spark):
    """A fold that raises in micro-batch 2 of 4 fails the drain with the
    query's own exception, noted with the batch, and the failure is
    recorded. (The exception used to name the query, its runId and the
    offset log entry, but not the batch.)"""

    def per_batch(batch_df, batch_id):
        if batch_id == 2:
            raise RuntimeError("fold failed")
        return batch_df

    with pytest.raises(StreamingQueryException, match="fold failed") as info:
        drain_partials(_four_part_stream(spark), per_batch, lambda x: x, "k string")
    assert any("micro-batch 2" in n for n in getattr(info.value, "__notes__", []))
    rec = core.DRAINS[-1]
    assert rec.error == "micro-batch 2: StreamingQueryException"
    assert [b["batchId"] for b in rec.batches] == [0, 1]


@pytest.mark.fast
def test_resumed_drain_does_not_name_batch_zero(spark):
    """A drain on a passed checkpoint continues its batch ids, so one that
    fails before completing a batch names no batch; a raise that is not
    the query's (a timeout) names none either."""
    d = scratch_dir("nm_drain_resume_")

    def add(i):
        f = os.path.join(d, f"part-{i:05d}.parquet")
        pq.write_table(pa.table({"k": [f"a{i}"]}), f)
        os.utime(f, (1_700_000_000 + i * 1000,) * 2)

    def sink(batch_df, batch_id):
        if batch_id == 2:
            raise RuntimeError("fold failed")

    for i in range(2):
        add(i)
    with ckpt_dir() as ckpt:
        first = drain(staged_stream(spark, d, "k string"), sink, checkpoint=ckpt)
        assert [b["batchId"] for b in first.batches] == [0, 1]
        for i in range(2, 4):
            add(i)
        with pytest.raises(StreamingQueryException, match="fold failed") as info:
            drain(staged_stream(spark, d, "k string"), sink, checkpoint=ckpt)
    error = "before its first completed batch: StreamingQueryException"
    assert core.DRAINS[-1].error == error
    assert any(error in n for n in getattr(info.value, "__notes__", []))
    assert core._failed_at(_Ended(), TimeoutError(), False) == "TimeoutError"


@pytest.mark.fast
def test_memory_drain_records_one_batch_of_every_event(spark):
    name = "nm_mem_record_test"
    try:
        rec = drain(
            events_stream(spark, SF_SMOKE).groupBy("event_type").count(),
            "memory",
            "complete",
            query_name=name,
        )
    finally:
        spark.catalog.dropTempView(name)
    events = pq.ParquetFile(table_path(SF_SMOKE, "events")).metadata.num_rows
    assert (rec.sink, rec.mode, len(rec.batches), rec.rows) == (
        "memory", "complete", 1, events,
    )
    assert rec.state_rows > 0 and rec.state_memory_bytes > 0
    assert rec.error is None and core.DRAINS[-1] == rec


@pytest.mark.fast
def test_foreach_batch_drain_records_its_batches_and_jobs(spark):
    """Each staged file is one batch; the batches' jobs, those the
    foreachBatch function starts included, sit in the query's runId job
    group. The record is plain data (it serializes as JSON)."""
    rec = drain(_four_part_stream(spark), lambda batch_df, batch_id: batch_df.count())
    assert [(b["batchId"], b["numInputRows"]) for b in rec.batches] == [
        (i, 2) for i in range(4)
    ]
    assert rec.rows == 8 and rec.sink == "foreachBatch"
    assert rec.duration_ms["addBatch"] == sum(
        b["durationMs"]["addBatch"] for b in rec.batches
    )
    assert rec.outside_trigger_ms == pytest.approx(
        rec.wall_ms - rec.duration_ms["triggerExecution"], abs=0.2
    )
    assert -1 < rec.start_to_first_batch_ms < rec.wall_ms
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(rec.run_id)
    assert len(jobs) >= 4
    json.dumps(dataclasses.asdict(rec))


@pytest.mark.fast
def test_drain_to_memory_until_leaves_a_record(spark):
    register(spark)
    stream = (
        spark.readStream.format("nm_counters")
        .option("hosts", 2)
        .option("samples", 8)
        .option("batch_samples", 4)
        .load()
    )
    seen = core.DRAINS[-1].seq if core.DRAINS else 0
    out = drain_to_memory_until(
        stream.groupBy("host").count(), lambda off: off.get("i", -1) >= 8
    )
    assert sorted(map(tuple, out.collect())) == [("host0", 8), ("host1", 8)]
    [rec] = [r for r in core.DRAINS if r.seq > seen]
    assert (rec.sink, rec.mode, rec.rows, rec.error) == (
        "memory", "complete", 16, None,
    )


class _Ended:
    """The progress surface of a terminated query that ran no batch."""

    runId = "ended"
    recentProgress: list = []


@pytest.mark.fast
def test_drains_keeps_at_most_its_bound():
    t0 = time.perf_counter()
    for _ in range(core.DRAINS_KEPT + 1):
        last = core._record(_Ended(), "noop", "append", t0, time.time())
    assert len(core.DRAINS) == core.DRAINS_KEPT
    assert core.DRAINS[-1] is last
