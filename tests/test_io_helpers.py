"""Unit coverage for the io-layer local-relation helpers: the two
ADVICE r12 traps of ``tiny_local_frame`` (non-finite doubles rendered
as bare ``nan``/``inf`` tokens, which Spark SQL parses as column
references, and comma-bearing types sheared by the naive DDL split),
and ``detach_result``'s exact local copy."""

from __future__ import annotations

import math

import pytest

from storm_netmonitor_spark.io import detach_result, tiny_local_frame


@pytest.mark.fast
def test_tiny_local_frame_nonfinite_doubles(spark):
    rows = [
        ("nan", float("nan")),
        ("pinf", float("inf")),
        ("ninf", float("-inf")),
        ("plain", 1.5),
        ("null", None),
    ]
    got = {
        r["k"]: r["v"]
        for r in tiny_local_frame(spark, rows, "k string, v double").collect()
    }
    assert math.isnan(got["nan"])
    assert got["pinf"] == float("inf")
    assert got["ninf"] == float("-inf")
    assert got["plain"] == 1.5
    assert got["null"] is None


@pytest.mark.fast
def test_tiny_local_frame_comma_bearing_types(spark):
    """decimal(p,s) and array<...> must not be sheared by the DDL comma
    split — these route through createDataFrame instead of VALUES."""
    from decimal import Decimal

    df = tiny_local_frame(
        spark,
        [(Decimal("12.34"), [1, 2, 3])],
        "d decimal(10,2), xs array<int>",
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "decimal(10,2)",
        "array<int>",
    ]
    row = df.collect()[0]
    assert row["d"] == Decimal("12.34") and row["xs"] == [1, 2, 3]


#: One column per type family a detach must keep exactly, nullability
#: included: nested types, decimals, timestamps, nulls and NaN.
_DETACH_COLUMNS = (
    "id AS k",
    "CAST(id * 1.5 AS double) AS v",
    "CAST(id AS string) AS s",
    "CAST(id AS decimal(28,6)) AS dec",
    "array(id, CAST(NULL AS bigint)) AS xs",
    "named_struct('a', id, 'b', CAST(id AS string)) AS st",
    "timestamp_micros(id * 1000003) AS ts",
    "CAST(NULL AS string) AS nothing",
    "CAST('NaN' AS double) AS nan",
)


@pytest.mark.fast
@pytest.mark.parametrize("n", [0, 5, 2500])
def test_detach_result_is_an_exact_local_copy(spark, n):
    """A detach keeps the schema exactly and every row, and its plan is a
    local relation: nothing it returns reads the source any more."""
    src = spark.range(n).selectExpr(*_DETACH_COLUMNS)
    out = detach_result(spark, src)
    assert out.schema == src.schema
    assert [f.nullable for f in out.schema.fields] == [
        f.nullable for f in src.schema.fields
    ]
    # repr() compares NaN cells equal
    assert sorted(map(repr, out.collect())) == sorted(map(repr, src.collect()))
    plan = out._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


@pytest.mark.fast
def test_backfill_apply_fully_current_short_circuits(spark, monkeypatch):
    """ADVICE r12: with an all-current work-list the apply must not
    write (an empty partitioned dataset cannot be re-read) — it emits
    the zero-I/O ledger with n_tgt_after = n_tgt_before."""
    from storm_netmonitor_spark.operators import extensions13 as e13

    plan = tiny_local_frame(
        spark,
        [
            ("2024-01-01", "current", 10, 10),
            ("2024-01-02", "current", 7, 7),
        ],
        "event_date string, status string, n_src long, n_tgt long",
    )
    monkeypatch.setattr(
        e13, "plan_incremental_backfill", lambda s, d: plan
    )
    rows = sorted(
        tuple(r)
        for r in e13.sink_backfill_apply(spark, "/root/testdata/sf0.001").collect()
    )
    assert rows == [
        ("2024-01-01", "current", 10, 10, 10),
        ("2024-01-02", "current", 7, 7, 7),
    ]
    assert e13.LAST_BACKFILL_IO == [0, 2]
