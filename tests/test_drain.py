"""``streaming.core.drain`` — the one streaming query lifecycle.

Every drain sizes the shuffle (and so the state store) to
``STREAM_STATE_PARTITIONS`` and runs under the session-wide drain confs,
whichever op drains first in a session; the per-drain confs it scopes are
restored to the session's previous values afterwards, also when the
query fails.
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
from storm_netmonitor_spark.streaming.core import (
    STREAM_STATE_PARTITIONS,
    ckpt_dir,
    drain,
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
