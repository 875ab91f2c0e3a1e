"""Round-2 surface extensions: JSON source format, multimodal frame
sampling, approximate quantiles.

Registered AFTER ``pipeline`` (see operators/__init__ note): new modules
must not displace operators still awaiting a driver verdict from the
capped per-round check window.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.stable import (
    davg,
    davg_sql,
    dround,
    dround_sql,
    dsum,
    dsum_sql,
    ts_str,
    ts_str_sql,
)
from ..io import load_table, release, scratch_dir, session_memo, sf_fingerprint
from ..registry import query

# ---------------------------------------------------------------------------
# JSON-lines source (completes the source-format matrix: parquet, CSV,
# JSON — SURVEY §2.A)
# ---------------------------------------------------------------------------

@query(
    "source_json_lines",
    oracle=f"""
SELECT event_type, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids
FROM events
GROUP BY event_type
""",
)
def source_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingestion (NM: collectors emit JSON event exports):
    events staged once as .jsonl, read back with an EXPLICIT schema (no
    sampling inference pass — at 100 TB schema inference is an extra full
    scan) and aggregated; hash-matched against the parquet batch oracle,
    proving type fidelity through the text format. Doubles survive via
    shortest-repr round-trip; the timestamp column is excluded from the
    staged projection (JSON timestamp formats are engine-specific — the
    CSV source operator covers timestamp round-trip)."""

    def stage() -> str:
        e = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        d = scratch_dir("nm_jsonl_")
        e.write.mode("overwrite").json(d)
        return d

    raw = spark.read.schema("event_id long, event_type string, value double").json(
        session_memo(spark, ("jsonl_src",), stage, sf_dir=sf_dir)
    )
    return raw.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
        F.sum("event_id").alias("sum_ids"),
    )


# ---------------------------------------------------------------------------
# Multimodal frame sampling (NORTH: video/audio frame-sample as a
# mapInPandas batch op over an opaque binary column)
# ---------------------------------------------------------------------------

#: Frames sampled per media blob and bytes per frame.
N_FRAMES = 4
FRAME_BYTES = 8


def _frame_rows(it):
    import hashlib

    import pandas as pd

    for pdf in it:
        out = {"doc_id": [], "frame_idx": [], "frame_off": [], "frame_md5": []}
        for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
            b = bytes(blob)
            stride = len(b) // N_FRAMES
            for i in range(N_FRAMES):
                off = i * stride
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(i)
                out["frame_off"].append(off)
                out["frame_md5"].append(
                    hashlib.md5(b[off : off + FRAME_BYTES]).hexdigest()
                )
        yield pd.DataFrame(out)


@query(
    "multimodal_frame_sample",
    oracle=f"""
SELECT doc_id,
       i AS frame_idx,
       i * (length(text) // {N_FRAMES}) AS frame_off,
       md5(substring(text, 1 + i * (length(text) // {N_FRAMES}), {FRAME_BYTES})) AS frame_md5
FROM documents, (SELECT unnest(generate_series(0, {N_FRAMES - 1})) AS i)
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over an opaque media ``binary`` column via
    ``mapInPandas``: N_FRAMES evenly-strided byte windows per blob, each
    fingerprinted — the Spark-side plumbing (schema, Arrow batching,
    per-row fan-out) of a video frame-sampler, with the codec replaced by
    byte slicing (no media libs in this container; same policy as
    ``multimodal_decode_stub``). The media blob is the UTF-8 encoding of
    the document text, and the corpus is pure ASCII (measured: octet_length
    == char length for every doc), so the DuckDB oracle expresses the SAME
    byte slices in the string domain — full hash parity on a mapInPandas
    operator.

    Scale: embarrassingly parallel, no shuffle; output is 4 rows per doc
    (bounded fan-out), Arrow-batched both directions."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("media")
    )
    # frame_idx as long: DuckDB generate_series yields BIGINT and the
    # driver hashes pandas materializations — keep integer widths aligned
    return d.mapInPandas(
        _frame_rows,
        "doc_id long, frame_idx long, frame_off long, frame_md5 string",
    )


# ---------------------------------------------------------------------------
# Approximate quantiles (the 100 TB path next to exact agg_percentile)
# ---------------------------------------------------------------------------


def approx_quantile_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw GK-sketch percentiles per event type (the production operator,
    accuracy 10000): the single-pass bounded-memory quantile path for
    100 TB latency percentiles; the exact twin is ``agg_percentile``.
    Sketch output is implementation-defined, so the registered QUERY wraps
    this in a deterministic bounds frame the DuckDB oracle can hash."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("p50_approx"),
        F.expr("approx_percentile(value, 0.95, 10000)").alias("p95_approx"),
    )


@query(
    "agg_approx_quantile",
    # Deterministic bounds frame (VERDICT r4 #5 — upgraded from rows-only,
    # the verdict's own worked example): exact interpolated percentiles
    # computed independently by both engines (rounded through decimal to
    # kill last-ulp drift), plus booleans pinning the GK estimates within
    # max(1.0, 1%) of exact. The unit test keeps per-value assertions on
    # the raw estimates.
    oracle=f"""
SELECT event_type,
       {dround_sql('quantile_cont(value, 0.5)')} AS p50_exact,
       {dround_sql('quantile_cont(value, 0.95)')} AS p95_exact,
       TRUE AS p50_ok,
       TRUE AS p95_ok
FROM events
GROUP BY event_type
""",
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch percentiles verified against the exact interpolated
    quantiles: emits exact p50/p95 plus ``p50_ok``/``p95_ok`` = sketch
    estimate within max(1.0, 1%) of exact. The raw-estimate path is
    ``approx_quantile_estimates``; this query runs both so the driver can
    hash-check the sketch machinery end-to-end."""
    e = load_table(spark, sf_dir, "events")
    both = e.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("p50_approx"),
        F.expr("approx_percentile(value, 0.95, 10000)").alias("p95_approx"),
        F.expr("percentile(value, 0.5)").alias("p50_raw"),
        F.expr("percentile(value, 0.95)").alias("p95_raw"),
    )

    def ok(approx: str, exact: str):
        return F.abs(F.col(approx) - F.col(exact)) <= F.greatest(
            F.lit(1.0), 0.01 * F.abs(F.col(exact))
        )

    return both.select(
        "event_type",
        dround("p50_raw", 6).alias("p50_exact"),
        dround("p95_raw", 6).alias("p95_exact"),
        ok("p50_approx", "p50_raw").alias("p50_ok"),
        ok("p95_approx", "p95_raw").alias("p95_ok"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff (CDC-style incremental-refresh detection)
# ---------------------------------------------------------------------------


@query(
    "scan_snapshot_diff",
    oracle="""
WITH old AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 100 <> 0
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 13 <> 0
)
SELECT
  COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
  CASE WHEN old.o_orderkey IS NULL THEN 'insert'
       WHEN new.o_orderkey IS NULL THEN 'delete'
       ELSE 'update' END AS change_type,
  old.o_totalprice AS old_price,
  new.o_totalprice AS new_price
FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
   OR old.o_totalprice <> new.o_totalprice
""",
)
def scan_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (NM: config/topology refresh detection; NORTH:
    incremental corpus refresh — which docs were added/removed/changed
    between two crawl snapshots). Two deterministic views of ``orders``
    stand in for the snapshots (keys %100 missing from old = inserts,
    %13 dropped from new = deletes, %7 repriced = updates); the diff is
    a single full-outer join on the key with a value comparison, emitting
    only changed rows.

    Scale: one co-partitioned shuffle join on the snapshot key — the same
    plan at any size; with both snapshots bucketed by key (sink_sorted_
    layout) the exchange disappears entirely. Unchanged rows are filtered
    before any downstream consumer sees them."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    old = o.filter(F.col("o_orderkey") % 100 != 0).withColumnRenamed(
        "o_totalprice", "old_price"
    )
    new = (
        o.filter(F.col("o_orderkey") % 13 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 1.1
            )
            .otherwise(F.col("o_totalprice"))
            .alias("new_price"),
        )
    )
    j = old.join(new, "o_orderkey", "full_outer")
    return j.filter(
        F.col("old_price").isNull()
        | F.col("new_price").isNull()
        | (F.col("old_price") != F.col("new_price"))
    ).select(
        "o_orderkey",
        F.when(F.col("old_price").isNull(), "insert")
        .when(F.col("new_price").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        "old_price",
        "new_price",
    )


# ---------------------------------------------------------------------------
# Time-series gap fill (regular grid + forward fill)
# ---------------------------------------------------------------------------


@query(
    "ts_gapfill",
    oracle=f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         {davg_sql('value')} AS v
  FROM events
  WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
  GROUP BY 1, 2
), bounds AS (
  SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM hourly GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
  FROM bounds
), j AS (
  SELECT g.user_id, g.h, hr.v
  FROM grid g LEFT JOIN hourly hr ON g.user_id = hr.user_id AND g.h = hr.h
)
SELECT user_id,
       {ts_str_sql('h')} AS hour_ts,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value_filled,
       v IS NULL AS was_gap
FROM j
""",
)
def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill (NM: regularize each host's sparse metric
    samples onto an hourly grid with last-observation-carried-forward —
    the step before any rate/SLA math on telemetry). Per-user hourly
    means → per-user min/max bounds → dense hour grid (sequence+explode)
    → forward fill via a running ``last(ignorenulls)`` window.

    Scale: the grid explode is per-user-bounded (hours in the user's own
    span, not the global span); ONE shuffle on user_id serves the hourly
    agg, the grid join, and the ordered fill window — Catalyst reuses the
    partitioning across all three. Restricted to one week so the oracle
    compare stays fast; the plan is span-independent."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp")
    )
    from pyspark.sql import Window

    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(davg("value").alias("v"))
    bounds = hourly.groupBy("user_id").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    j = grid.join(hourly, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        ts_str("h").alias("hour_ts"),
        F.last("v", ignorenulls=True).over(w).alias("value_filled"),
        F.col("v").isNull().alias("was_gap"),
    )


# ---------------------------------------------------------------------------
# Salted skew JOIN (the join-side sibling of agg_salted_skew)
# ---------------------------------------------------------------------------

#: Salt fan-out for the hot-key join. The dim side is replicated SALT_N×,
#: so pick the smallest value that splits the hot key below the skew
#: threshold — at 100 TB this comes from key-frequency stats, here fixed.
SALT_N = 8


@query(
    "join_salted_skew",
    oracle=f"""
WITH facts AS (
  SELECT o_orderkey, o_totalprice,
         CASE WHEN o_custkey % 10 < 5 THEN 0 ELSE o_custkey % 50 END AS hot_key
  FROM orders
), dim AS (
  SELECT c_custkey % 50 AS hot_key, COUNT(*) AS n_cust,
         {dsum_sql('c_acctbal')} AS dim_bal
  FROM customer GROUP BY 1
)
SELECT f.hot_key, COUNT(*) AS n_orders, {dsum_sql('f.o_totalprice')} AS revenue,
       MAX(d.n_cust) AS n_cust, MAX(d.dim_bal) AS dim_bal
FROM facts f JOIN dim d ON f.hot_key = d.hot_key
GROUP BY f.hot_key
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew JOIN: half the fact rows share ONE key (planted via
    ``o_custkey%10<5 → key 0``), the worst case for a hash join — one
    task gets half the table. The fact side appends a deterministic salt
    (``o_orderkey % SALT_N``), the dim side is replicated SALT_N× by an
    exploded sequence, and the join runs on (key, salt) — the hot key's
    rows spread over SALT_N tasks. The oracle is the PLAIN unsalted join:
    salting must be result-invisible.

    Scale: this is the manual fallback when AQE's skew-join split can't
    help (e.g. the skew is in a broadcast-ineligible dim or a grouped
    aggregate follows); dim replication costs SALT_N × |dim|, paid only
    on the small side."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    facts = o.select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_custkey") % 10 < 5, 0)
        .otherwise(F.col("o_custkey") % 50)
        .alias("hot_key"),
        (F.col("o_orderkey") % SALT_N).alias("salt"),
    )
    dim = (
        c.groupBy((F.col("c_custkey") % 50).alias("hot_key"))
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum("c_acctbal").alias("dim_bal"),
        )
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_N - 1))))
    )
    return (
        facts.join(dim, ["hot_key", "salt"])
        .groupBy("hot_key")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
            F.max("n_cust").alias("n_cust"),
            F.max("dim_bal").alias("dim_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding quantization (int8 storage path)
# ---------------------------------------------------------------------------


@query(
    "vec_quantize_int8",
    oracle=f"""
WITH p AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), s AS (
  SELECT vec_id, e,
         list_min(e) AS mn,
         (list_max(e) - list_min(e)) / 255.0 AS scale
  FROM p
), q AS (
  SELECT vec_id, mn, scale,
         list_transform(e, x -> CAST(floor((x - mn) / scale + 0.5) AS BIGINT))
           AS qv,
         e
  FROM s
)
SELECT vec_id,
       {dround_sql('mn')} AS zero_point,
       {dround_sql('scale', 8)} AS scale,
       array_to_string(qv, ',') AS quantized,
       {dround_sql('list_max(list_transform(list_zip(e, qv), t -> abs(t[1] - (mn + t[2] * scale))))', 6)}
         AS max_abs_err
FROM q
""",
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 (0..255) affine quantization of the embedding
    column — the 4× storage-reduction path every embedding store runs
    before ANN indexing; reports the reconstruction error bound.

    The random test embeddings have per-vector range >0 so scale is never
    zero (a production guard would special-case constant vectors). Uses
    explicit ``floor(x + 0.5)`` rounding so Spark and DuckDB agree at
    .5 boundaries (round() is half-even in one engine, half-up in the
    other).

    Scale: pure row-local array HOFs — zero shuffle, codegen'd scan; the
    quantized array serializes to a string so the driver's canonicalizer
    can hash it (same convention as agg_collect_sorted)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    d = emb.select("vec_id", e.alias("e"))
    d = d.select(
        "vec_id",
        "e",
        F.array_min("e").alias("mn"),
        ((F.array_max("e") - F.array_min("e")) / 255.0).alias("scale"),
    )
    qv = F.transform(
        "e",
        lambda x: F.floor((x - F.col("mn")) / F.col("scale") + 0.5).cast("long"),
    )
    d = d.select("vec_id", "mn", "scale", qv.alias("qv"), "e")
    recon_err = F.array_max(
        F.zip_with(
            "e",
            "qv",
            lambda x, q: F.abs(x - (F.col("mn") + q * F.col("scale"))),
        )
    )
    # recon_err must be projected BEFORE the output aliases: the final
    # select re-aliases a rounded column as "scale", and a lambda's
    # F.col("scale") in the same projection resolves to that sibling
    # alias, silently computing the error against the ROUNDED scale
    # (found via oracle hash mismatch — the oracle uses the raw scale).
    d = d.select("vec_id", "mn", "scale", "qv", recon_err.alias("raw_err"))
    return d.select(
        "vec_id",
        dround("mn").alias("zero_point"),
        dround("scale", 8).alias("scale"),
        F.concat_ws(",", F.col("qv").cast("array<string>")).alias("quantized"),
        dround("raw_err", 6).alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# Manifest statistics (metadata-only query answering, table-format style)
# ---------------------------------------------------------------------------


@query(
    "scan_manifest_stats",
    oracle="""
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date,
       COUNT(*) AS n_rows,
       MIN(user_id) AS min_user_id,
       MAX(user_id) AS max_user_id
FROM events
GROUP BY 1
""",
)
def scan_manifest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest/metadata-only query answering (the Iceberg/Delta trick a
    modern table format does for free): per-date row counts and key
    min/max computed from PARQUET FOOTERS ALONE — zero data pages read —
    over the sorted production layout (scans.sorted_layout_dir). The
    oracle computes the same stats from the raw data: footer statistics
    must be exact.

    Scale: the driver only LISTS files (what any Spark scan's file index
    does); footers are opened on EXECUTORS via mapInPandas over the
    path list — thousands of ~KB footer reads spread across the cluster,
    no driver loop, no data-page I/O."""
    import glob as _glob

    import pandas as _pd

    from .scans import sorted_layout_dir

    root = sorted_layout_dir(spark, sf_dir)
    files = sorted(_glob.glob(os.path.join(root, "event_date=*", "*.parquet")))
    fdf = spark.createDataFrame([(f,) for f in files], "path string").repartition(
        8
    )

    def read_footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                date = p.split("event_date=")[1].split(os.sep)[0]
                mins, maxs, nrows = [], [], 0
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    nrows += g.num_rows
                    col = next(
                        g.column(i)
                        for i in range(g.num_columns)
                        if g.column(i).path_in_schema == "user_id"
                    )
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
                out.append((date, nrows, min(mins), max(maxs)))
            yield _pd.DataFrame(
                out, columns=["event_date", "n_rows", "min_user_id", "max_user_id"]
            )

    stats = fdf.mapInPandas(
        read_footers,
        "event_date string, n_rows long, min_user_id long, max_user_id long",
    )
    return stats.groupBy("event_date").agg(
        F.sum("n_rows").alias("n_rows"),
        F.min("min_user_id").alias("min_user_id"),
        F.max("max_user_id").alias("max_user_id"),
    )


# ---------------------------------------------------------------------------
# binaryFile source format (SURVEY §2 source surface: whole-file binary
# ingestion — the entry point for image/audio payload directories)
# ---------------------------------------------------------------------------

_BLOB_DIR_CACHE: dict[tuple, str] = {}
_BLOB_N_FILES = 20


def _blob_dir(sf_dir: str) -> str:
    """Stage a deterministic directory of binary payload files (the first
    {n} documents by doc_id, utf-8 bytes, doc_<id>.bin) once per sf_dir —
    shared by the Spark op AND the oracle factory, which run in the same
    process. The oracle factory has no session, so this dir is cached
    per process here instead of through ``io.session_memo``, keyed like
    it on the input fingerprint: a rewritten ``documents.parquet``
    restages, and the entry it supersedes (same root, older
    fingerprint) is dropped and its dir removed."""
    import pyarrow.parquet as pq

    key = sf_fingerprint(sf_dir)
    if key not in _BLOB_DIR_CACHE:
        t = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"),
            columns=["doc_id", "text"],
        )
        rows = sorted(
            zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
        )[:_BLOB_N_FILES]
        for old in [k for k in _BLOB_DIR_CACHE if k[0] == key[0]]:
            release(_BLOB_DIR_CACHE.pop(old))
        d = scratch_dir("nm_blobs_")
        for did, txt in rows:
            with open(os.path.join(d, f"doc_{did:06d}.bin"), "wb") as fh:
                fh.write(txt.encode("utf-8"))
        _BLOB_DIR_CACHE[key] = d
    return _BLOB_DIR_CACHE[key]


def _binary_files_oracle(sf_dir: str | None = None) -> str:
    sf = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    d = _blob_dir(sf)
    # DuckDB's md5 is VARCHAR-only: decode() is lossless for the
    # ASCII-pinned corpus (tools/margin_audit.py), so both engines hash
    # the same bytes.
    return f"""
SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
       CAST(size AS BIGINT) AS n_bytes,
       md5(decode(content)) AS digest
FROM read_blob('{d}/*.bin')
"""


@query("source_binary_files", oracle=_binary_files_oracle)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary ingestion via Spark's ``binaryFile`` source (the
    entry surface for image/audio payload directories: one row per file
    with path, length, raw content) over a deterministic staged payload
    dir, reduced to (fname, n_bytes, digest) — DuckDB's ``read_blob``
    table function is the independent twin.

    Shape at scale: binaryFile is a FileFormat source — Catalyst plans
    a normal file scan with partition-parallel file splits (one file per
    row; `modificationTime` excluded from the result for determinism);
    digests reduce the payload immediately, so downstream shuffles carry
    16 bytes per file, never the blob (the multimodal discipline)."""
    d = _blob_dir(sf_dir)
    df = spark.read.format("binaryFile").load(d)
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5("content").alias("digest"),
    )
