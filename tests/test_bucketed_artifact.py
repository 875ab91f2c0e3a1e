"""The bucketed artifact store on an empty frame.

A corpus with no near-duplicate pair gives ``standing_dedup_edges`` an
empty edge frame; the bucketed write of an empty frame leaves no data
file, so the published dir must still serve an empty table of the
builder's schema, in the process that built it and in any later one.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest

from storm_netmonitor_spark.io import bucketed_artifact_frame

from .conftest import SF_SMOKE
from .parity import assert_parity

pytestmark = pytest.mark.fast

_EDGES = "doc_a bigint, doc_b bigint"


def _raise():
    raise AssertionError("re-built a published artifact")


def test_empty_builder_serves_an_empty_frame(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("NM_ARTIFACT_DIR", str(tmp_path / "store"))
    d = tmp_path / "in"
    d.mkdir()
    (d / "x.parquet").write_bytes(b"fingerprint-source")

    def empty():
        return spark.createDataFrame([], _EDGES)

    out = bucketed_artifact_frame(
        spark, "empty_edges", "v1", str(d), empty, "doc_a", 4
    )
    assert out.schema.simpleString() == empty().schema.simpleString()
    assert out.collect() == []

    # a later process: the dir is published, its catalog holds no table
    for t in spark.catalog.listTables():
        if t.name.startswith("nm_bkt_empty_edges_"):
            spark.sql(f"DROP TABLE {t.name}")
    other = spark.newSession()
    again = bucketed_artifact_frame(
        other, "empty_edges", "v1", str(d), _raise, "doc_a", 4
    )
    assert again.schema.simpleString() == empty().schema.simpleString()
    assert again.collect() == []


@pytest.mark.parametrize("op", ["text_dedup_components", "graph_community_lpa"])
def test_one_document_corpus_matches_oracle(spark, tmp_path, monkeypatch, op):
    """One document has no near-duplicate pair: every component is the
    document itself, as the DuckDB oracle says."""
    monkeypatch.setenv("NM_ARTIFACT_DIR", str(tmp_path / "store"))
    d = tmp_path / "sf"
    shutil.copytree(SF_SMOKE, d)
    docs = pq.read_table(os.path.join(SF_SMOKE, "documents.parquet"))
    pq.write_table(docs.slice(0, 1), d / "documents.parquet")
    assert_parity(op, spark, str(d))
