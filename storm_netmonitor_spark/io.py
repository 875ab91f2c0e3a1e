"""Table ingestion — the single entry point every operator loads through.

Reference-capability anchor: the netmonitor class of tool ingests metric
samples (timestamped per-source counter values) plus small static topology
dimension tables (SURVEY.md §0.3/§1.1). Here ingestion is a parquet scan with
schema normalization; Structured Streaming ingestion lives in
``streaming/``.

Scale note: at 100 TB the facts (``lineitem``, ``events``) would be
date-partitioned parquet/Delta directories and this loader's glob would hit
partition pruning; the single-file testdata layout changes nothing about the
operator code above it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .session import apply_runtime_confs

#: The ten tables the driver registers as DuckDB views (FIXTURES.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Tables small enough to broadcast at ANY scale factor (dimension tables —
#: the topology-metadata analog; SURVEY §1.1).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


#: Per-session memo store backing ``session_memo`` — keyed by the session
#: OBJECT (identity hash; an id() could be recycled) plus caller key.
#: Entries are retained for process lifetime by design: harnesses and
#: production pipelines use one session per process, and cached
#: DataFrames reference their session anyway, so weak keying could never
#: collect them. A long-lived multi-tenant driver that outlives its
#: inputs should call :func:`clear_session_memo` between pipelines.
_SESSION_MEMO: dict = {}


def _parquet_footer_hash(path: str, size: int) -> str:
    """Content token of a parquet file from its FOOTER (VERDICT r11 #6):
    the thrift metadata blob carries schema, row counts, column-chunk
    offsets/sizes, and min/max statistics, so any regeneration of the
    data changes it even when file size and mtime are preserved. Reads
    at most 64 KiB from the tail — cheap enough to run on every
    fingerprint call (no per-process cache: a cache keyed on stat()
    would re-open the very stat-spoofing hole this closes)."""
    import hashlib

    try:
        with open(path, "rb") as fh:
            if size < 12:
                return "tiny"
            fh.seek(size - 8)
            tail = fh.read(8)
            if tail[4:] != b"PAR1":
                return "notparquet"
            flen = int.from_bytes(tail[:4], "little")
            take = min(flen + 8, size, 1 << 16)
            fh.seek(size - take)
            return hashlib.blake2b(fh.read(take), digest_size=8).hexdigest()
    except OSError:
        return "unreadable"


def sf_fingerprint(sf_dir: str) -> tuple:
    """Content fingerprint of a testdata directory: (name, size,
    mtime_ns, footer_hash) per parquet file, plus the abspath. Folding
    this into a memo key means a trained artifact (dedup edge list, IVF
    index, SemDeDup centroids, pagerank frames) is invalidated the
    moment the driver regenerates the files underneath it — a rewrite
    within one session retrains instead of silently serving a stale
    model. The footer hash (VERDICT r11 #6) makes the check
    content-level: a directory regenerated in place with preserved
    sizes AND mtimes still invalidates, because the parquet footer's
    statistics/offsets change with the data."""
    root = os.path.abspath(sf_dir)
    entries = []
    try:
        for name in sorted(os.listdir(root)):
            if name.endswith(".parquet"):
                path = os.path.join(root, name)
                st = os.stat(path)
                entries.append(
                    (
                        name,
                        st.st_size,
                        st.st_mtime_ns,
                        _parquet_footer_hash(path, st.st_size),
                    )
                )
    except OSError:
        pass  # non-directory inputs fingerprint as path-only
    return (root, tuple(entries))


def session_memo(spark: SparkSession, key: tuple, builder, sf_dir: str | None = None):
    """Memoize ``builder()`` per (session, key) — the shared mechanism
    behind the analyzed-streaming-plan cache, the trained ANN/clustering
    index artifacts, and the staged dedup edge lists. ``key`` must carry
    everything the built value depends on besides the session; pass
    ``sf_dir`` whenever the value is TRAINED FROM data under that
    directory so the key also carries a :func:`sf_fingerprint` of the
    input files (stale-model guard per ADVICE r5)."""
    full = (spark,) + tuple(key)
    if sf_dir is not None:
        full = full + sf_fingerprint(sf_dir)
    if full not in _SESSION_MEMO:
        _SESSION_MEMO[full] = builder()
    return _SESSION_MEMO[full]


def _unpersist_value(value) -> None:
    """Best-effort unpersist of evicted artifacts: memo entries hold
    cached DataFrames (dedup edges, pagerank frames) whose executor
    memory would otherwise outlive the eviction; non-frame artifacts
    (centroid lists, paths) pass through untouched."""
    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:
            pass  # session already stopped — nothing to free
    elif isinstance(value, (tuple, list)):
        for v in value:
            _unpersist_value(v)


def clear_session_memo(spark: SparkSession | None = None) -> int:
    """Evict memoized artifacts — all of them, or only those belonging
    to ``spark`` — unpersisting any cached DataFrames they hold.
    Returns the number of entries dropped. Production lifetime note:
    one-pipeline-per-process never needs this; a multi-tenant driver
    that creates/destroys sessions or regenerates inputs mid-process
    calls it at pipeline boundaries."""
    stale = [
        k for k in _SESSION_MEMO if spark is None or (k and k[0] is spark)
    ]
    for k in stale:
        _unpersist_value(_SESSION_MEMO.pop(k))
    return len(stale)


# ---------------------------------------------------------------------------
# Cross-PROCESS trained-artifact store (VERDICT r9 #3)
#
# ``session_memo`` amortizes training within one process, but the driver's
# harness (and any production scheduler) uses a FRESH session per run — at
# 100 TB the re-train IS the job. Deterministic trained models (Lloyd
# centroids, staged dedup edge lists, the pagerank graph) therefore persist
# to disk keyed by (name, version, input fingerprint): a fresh process pays
# one read. Because every builder is seeded/deterministic, the artifact's
# content is byte-equal to what a re-train would produce, so hash-stability
# of downstream results is preserved by construction, and the
# ``sf_fingerprint`` in the key invalidates the artifact the moment the
# driver regenerates the testdata underneath it.
# ---------------------------------------------------------------------------

#: Override the artifact root (e.g. a job-scoped scratch dir, or a shared
#: filesystem path on a real cluster — see docs/SCALING.md on the staged-
#: artifact shared-fs assumption). Default: a uid-scoped tmp subdir.
ARTIFACT_DIR_ENV = "NM_ARTIFACT_DIR"


def artifact_root() -> str:
    """The artifact store directory, created 0o700 on first use.

    The DEFAULT root is scoped to the current uid (ADVICE r10: a fixed
    shared ``$TMPDIR/nm_artifacts`` lets another user on a multi-user
    host pre-create it and plant fingerprint-keyed artifacts that
    registered queries would silently trust). Defense in depth: whether
    defaulted or env-overridden, the directory must be OWNED by the
    current uid and must not be a SYMLINK — ``makedirs(exist_ok=True)``
    succeeds through a planted symlink and ``stat`` follows it, so an
    attacker-planted link to a victim-owned directory would pass a pure
    ownership check while redirecting writes (and ``prune_artifacts``
    deletions) into the victim's files."""
    import tempfile

    root = os.environ.get(ARTIFACT_DIR_ENV) or os.path.join(
        tempfile.gettempdir(), f"nm_artifacts_{os.getuid()}"
    )
    os.makedirs(root, mode=0o700, exist_ok=True)
    if os.path.islink(root):
        raise RuntimeError(
            f"artifact root {root!r} is a symlink — refusing to follow a "
            "link another user may have planted (set "
            f"${ARTIFACT_DIR_ENV} to a real directory you own)"
        )
    st = os.stat(root)
    if st.st_uid != os.getuid():
        raise RuntimeError(
            f"artifact root {root!r} is owned by uid {st.st_uid}, not the "
            f"current uid {os.getuid()} — refusing to serve artifacts from "
            "a directory another user controls (set "
            f"${ARTIFACT_DIR_ENV} to a directory you own)"
        )
    if st.st_mode & 0o022:
        # ownership alone does not close the ADVICE r10 threat: a
        # group/world-WRITABLE root the user owns still lets another
        # user plant fingerprint-keyed artifacts that queries would
        # silently trust. Read bits are fine; write bits are not.
        raise RuntimeError(
            f"artifact root {root!r} is group/world-writable "
            f"(mode {st.st_mode & 0o777:o}) — chmod it to 0o700 (or a "
            "non-writable variant) before serving artifacts from it"
        )
    return root


def _artifact_path(name: str, version: str, sf_dir: str, extra: tuple) -> str:
    """Deterministic artifact location: a short name prefix for
    debuggability plus a digest of everything the trained value depends
    on — the input files' fingerprint and every hyperparameter in
    ``extra``. Bump ``version`` whenever the TRAINING CODE changes."""
    import hashlib

    payload = repr((name, version, sf_fingerprint(sf_dir), extra))
    digest = hashlib.sha256(payload.encode()).hexdigest()[:20]
    return os.path.join(artifact_root(), f"{name}-{version}-{digest}")


def _touch_artifact(path: str) -> None:
    """Refresh a served artifact's mtime so ``prune_artifacts``' age is a
    LAST-USE age, not a publish age (ADVICE r10: a long-lived session
    holding a lazy frame handle over an old artifact must not have it
    pruned out from under the handle mid-session)."""
    try:
        os.utime(path)
    except OSError:
        pass  # read-only share / concurrently pruned — serving still works


def _staging_path(path: str) -> str:
    """Per-BUILD staging location: pid plus a uuid suffix, so two threads
    of one process building the same artifact never share a staging dir
    (ADVICE r10 — Spark's overwrite delete-then-write interleaved across
    threads could otherwise publish a torn directory)."""
    import uuid

    return f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"


class _staging_heartbeat:
    """Touch the staging path every 5 minutes while a build runs, so
    ``prune_artifacts``' 1-hour staging-staleness threshold can never
    reap a LIVE long-running build mid-write (ADVICE r10: at 100 TB the
    re-train IS the job and legitimately outlives any fixed age)."""

    def __init__(self, staging: str, interval: float = 300.0):
        self._staging = staging
        self._interval = interval

    def __enter__(self):
        import threading

        self._stop = threading.Event()

        def beat() -> None:
            while not self._stop.wait(self._interval):
                try:
                    os.utime(self._staging)
                except OSError:
                    continue  # not created yet, or already published

        self._thread = threading.Thread(
            target=beat, name="nm-artifact-heartbeat", daemon=True
        )
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()


def _publish_staging(staging: str, path: str) -> None:
    """Atomic publish: rename staging onto the final path. A FAILED
    rename is only swallowed when the destination was actually published
    by a concurrent winner — an unrelated failure (permissions, ENOSPC
    on metadata) re-raises instead of silently discarding the completed
    build and erroring later on a missing path (ADVICE r10)."""
    import shutil

    try:
        os.rename(staging, path)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        if not os.path.isdir(path):
            raise


def disk_artifact_json(
    name: str, version: str, sf_dir: str, builder, extra: tuple = ()
):
    """Cross-process memo of a SMALL deterministic trained model (Lloyd
    centroids, a codebook, staged scalars) as a JSON file. Python's json
    emits shortest-round-trip float reprs, so doubles survive the
    round-trip bit-exactly. Writes are atomic (tmp + rename) so a
    concurrent trainer can never serve a torn file."""
    import json

    path = _artifact_path(name, version, sf_dir, extra) + ".json"
    if os.path.exists(path):
        with open(path) as fh:
            value = json.load(fh)
        _touch_artifact(path)
        return value
    value = builder()
    tmp = _staging_path(path)
    with open(tmp, "w") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)
    return value


def disk_artifact_frame(
    spark: SparkSession,
    name: str,
    version: str,
    sf_dir: str,
    builder,
    extra: tuple = (),
) -> DataFrame:
    """Cross-process memo of a DataFrame-valued trained artifact (staged
    edge lists, scored frames) as a parquet directory. The build goes to
    a pid-suffixed staging dir, then one atomic rename publishes it; a
    concurrent loser finds the destination taken and reads the winner's
    copy (content is deterministic, so either copy is correct). Row
    ORDER is not preserved by the round-trip — callers must be
    order-insensitive downstream (joins/aggregations), which every
    staged-frame consumer here is."""
    path = _artifact_path(name, version, sf_dir, extra)
    if not os.path.isdir(path):
        staging = _staging_path(path)
        with _staging_heartbeat(staging):
            builder().write.mode("overwrite").parquet(staging)
        _publish_staging(staging, path)
    else:
        _touch_artifact(path)
    return spark.read.parquet(path)


def prune_artifacts(max_age_days: float = 14.0) -> int:
    """Drop artifact-store entries whose last ACQUISITION is older than
    ``max_age_days`` (mtime of the json file / published directory —
    refreshed by ``_touch_artifact`` each time a ``disk_artifact_*``
    getter serves the entry). Precise scope of that guarantee: a session
    that re-enters the getter keeps its artifacts fresh, but a session
    that acquired a frame ONCE and then holds the lazy handle for longer
    than ``max_age_days`` (``session_memo`` short-circuits the getter)
    is NOT protected — run the pruning cron with a max age beyond the
    longest session lifetime, or not at all on long-lived serving
    hosts. The store
    is content-keyed, so entries for regenerated inputs are never read
    again — without pruning they accumulate forever on a long-lived
    host. Returns the number of entries removed. ``.tmp.<pid>.<uuid>``
    staging leftovers from crashed builders are removed on a 1-hour age
    threshold — safe for arbitrarily long LIVE builds because every
    builder heartbeats its staging path every 5 minutes
    (``_staging_heartbeat``); only a builder that stopped beating for an
    hour (i.e. crashed) is reaped."""
    import shutil
    import time

    root = artifact_root()
    now = time.time()
    cutoff = now - max_age_days * 86400.0
    tmp_cutoff = now - 3600.0
    removed = 0
    for name in os.listdir(root):
        path = os.path.join(root, name)
        try:
            limit = tmp_cutoff if ".tmp." in name else cutoff
            if os.path.getmtime(path) >= limit:
                continue
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
            removed += 1
        except OSError:
            pass  # concurrently pruned or being published — skip
    return removed


def bucketed_artifact_frame(
    spark: SparkSession,
    name: str,
    version: str,
    sf_dir: str,
    builder,
    bucket_col: str,
    n_buckets: int,
    extra: tuple = (),
) -> DataFrame:
    """Cross-process memo of a STANDING join-side frame as a BUCKETED
    table (guide §3.3/§6.4; VERDICT r14 #5): the data is persisted
    hash-clustered by ``bucket_col`` into ``n_buckets`` bucket files
    (sorted by it within each bucket), so every downstream join or
    aggregation keyed on ``bucket_col`` reads a scan whose output
    partitioning ALREADY satisfies the join requirement — the standing
    side is never re-exchanged, per query OR per loop round. That is the
    scale-correct layout for the CC/LPA loops: at 100 TB the symmetrized
    edge frame neither fits a broadcast nor should be re-shuffled every
    propagation round.

    Storage is the same fingerprint-keyed artifact store as
    ``disk_artifact_frame`` (atomic staging publish, mtime pruning), but
    the files carry Spark's bucket-id naming, and the frame is served
    through a session-local EXTERNAL catalog table over the published
    path (bucket metadata lives in the catalog, not the files; the
    in-memory catalog of a vanilla driver session needs one CREATE TABLE
    per process — a metadata-only operation). The build stages through
    ``repartition(n_buckets, bucket_col)`` so each bucket is exactly one
    file and the scan can report the per-bucket sort order to the
    planner (a sort-merge join over it skips both exchange AND sort on
    this side).

    ``n_buckets`` must match the consumer's expectation across processes
    — it is part of the artifact key, so changing it retrains rather
    than mis-reading."""
    path = _artifact_path(
        name, version, sf_dir, extra + (bucket_col, int(n_buckets))
    )
    digest = os.path.basename(path).rsplit("-", 1)[-1]
    tbl = f"nm_bkt_{name}_{digest}"
    if not os.path.isdir(path):
        staging = _staging_path(path)
        stage_tbl = f"{tbl}_stg_{os.getpid()}"
        with _staging_heartbeat(staging):
            (
                builder()
                .repartition(n_buckets, bucket_col)
                .write.mode("overwrite")
                .bucketBy(n_buckets, bucket_col)
                .sortBy(bucket_col)
                .option("path", staging)
                .format("parquet")
                .saveAsTable(stage_tbl)
            )
            # drop only the catalog entry — the table is EXTERNAL, the
            # staged files stay for the atomic publish below
            spark.sql(f"DROP TABLE IF EXISTS {stage_tbl}")
        _publish_staging(staging, path)
    else:
        _touch_artifact(path)
    if not spark.catalog.tableExists(tbl):
        # register the published files as an external bucketed table for
        # THIS session (bucket ids are parsed from Spark's bucket file
        # naming; the schema comes from the parquet footers)
        schema = spark.read.parquet(path).schema
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        spark.sql(
            f"CREATE TABLE {tbl} ({ddl}) USING parquet "
            f"CLUSTERED BY (`{bucket_col}`) SORTED BY (`{bucket_col}`) "
            f"INTO {int(n_buckets)} BUCKETS LOCATION '{path}'"
        )
    return spark.table(tbl)


def disk_artifact_dir(
    name: str,
    version: str,
    sf_dir: str,
    builder,
    extra: tuple = (),
) -> str:
    """Cross-process memo of a MULTI-FILE trained artifact (e.g. the
    pagerank graph: edges parquet + degrees parquet + a meta sidecar).
    ``builder(staging_path)`` populates a fresh staging directory; one
    atomic rename publishes it. Returns the published directory path."""
    path = _artifact_path(name, version, sf_dir, extra)
    if not os.path.isdir(path):
        staging = _staging_path(path)
        os.makedirs(staging, exist_ok=True)
        with _staging_heartbeat(staging):
            builder(staging)
        _publish_staging(staging, path)
    else:
        _touch_artifact(path)
    return path


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with schema normalization.

    ``events.ts`` has shipped as both parquet TIMESTAMP(NANOS) (rounds 1-2)
    and TIMESTAMP(MICROS) (round 3) — the driver regenerates testdata per
    round. µs reads natively as TimestampType and needs nothing. NANOS is
    refused by Spark 4.x; under the nanosAsLong conf it arrives as a raw
    long (hence the dtype guard below) which we convert to a microsecond
    timestamp. Integer ``div`` (not ``/``) is essential there: epoch-nanos
    ≈ 1.7e18 exceeds double's 53-bit mantissa, so float division would
    corrupt microseconds.
    """
    apply_runtime_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Insurance against further generator drift (tests/test_testdata_contract
    # fails loudly when it happens): date-typed temporal columns normalize
    # to midnight timestamps so every operator keeps one temporal type.
    for col, typ in df.dtypes:
        if typ == "date" and (col == "ts" or col.endswith("date")):
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def raw_table_schema(spark: SparkSession, sf_dir: str, name: str):
    """Session-memoized RAW parquet schema of one testdata table — the
    read schema the streaming ops hand to ``readStream.schema(...)``
    (their staged micro-batch files are pyarrow µs rewrites of the raw
    table, so the raw schema IS the stream's schema; only ``events``
    carries the nanos shim, and no stream reads it raw). Each drained
    op used to pay a fresh relation-resolution + footer read per
    rebuilt sample just to fetch this constant (r14 optimization)."""
    return session_memo(
        spark,
        ("raw_table_schema", table_path(sf_dir, name)),
        lambda: spark.read.parquet(table_path(sf_dir, name)).schema,
        sf_dir=sf_dir,
    )


def scatter(df: DataFrame, n: int | None = None) -> DataFrame:
    """Round-robin repartition to core count — parallelize heavy row-local
    work over a scan Spark cannot split.

    The testdata parquet files are single row groups, so the scan arrives
    as ONE task and every interpreted higher-order function downstream
    runs serial (measured: 6.6 s → 0.7 s on text_quality_gopher at
    sf0.1). On a real multi-file corpus the scan is already parallel and
    this exchange moves nothing that wasn't moving anyway; it is a
    ROUND-ROBIN exchange, never a keyed shuffle — the plan tests pin that
    distinction.

    ``n`` overrides the width: Arrow-batched passes (mapInPandas /
    pandas_udf) pay per-partition Python round-trips, so iterative model
    builds over small-to-medium frames want FEWER, fatter partitions
    (measured: 5 Lloyd rounds 2.4 s at 32 partitions → 1.3 s at 8 on the
    sf0.1 embeddings); pure JVM row-local work wants full core count."""
    return df.repartition(n or df.sparkSession.sparkContext.defaultParallelism)


def tiny_local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Small driver-side result frame WITHOUT the ``createDataFrame``
    job: rendered as a SQL ``VALUES`` local relation, so ``collect()``
    never leaves the driver. ``spark.createDataFrame`` on a python list
    partitions it to ``defaultParallelism`` slices and runs a full
    32-task job per materialization — ~380 ms for a 2-row ledger on
    this host vs ~40 ms for the VALUES rendering (measured r12). Use
    for LEDGERS and drained-result detaches (bounded row counts, plain
    str/bool/int/float/None cells); every cell is cast to its declared
    type, so the schema is exactly ``ddl`` regardless of inference.

    Falls back to ``createDataFrame`` for empty input (VALUES cannot be
    empty) and for comma-bearing types (``decimal(p,s)``,
    ``array<...>``, ``struct<...>`` — a naive comma split would shear
    them; ADVICE r12)."""
    if not rows:
        return spark.createDataFrame([], ddl)
    if any(ch in ddl for ch in "(<"):
        # parameterized/nested types: let Spark parse the DDL itself
        return spark.createDataFrame(rows, ddl)
    cols = []
    for part in ddl.split(","):
        name, typ = part.strip().split(None, 1)
        cols.append((name, typ.strip()))

    def cell(v, typ):
        if v is None:
            return f"CAST(NULL AS {typ})"
        if isinstance(v, bool):
            lit = "true" if v else "false"
        elif isinstance(v, float):
            if v != v:  # NaN: bare repr() tokens parse as column refs
                lit = "'NaN'"
            elif v == float("inf"):
                lit = "'Infinity'"
            elif v == float("-inf"):
                lit = "'-Infinity'"
            else:
                lit = repr(v)  # shortest round-trip repr → identical double
        elif isinstance(v, int):
            lit = str(v)
        else:
            lit = "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"
        return f"CAST({lit} AS {typ})"

    tuples = ", ".join(
        "(" + ", ".join(cell(v, t) for v, (_, t) in zip(r, cols)) + ")"
        for r in rows
    )
    names = ", ".join(n for n, _ in cols)
    return spark.sql(f"SELECT * FROM VALUES {tuples} AS t({names})")


#: Above this row count :func:`detach_result` stops rendering VALUES SQL
#: text and hands the rows to ``createDataFrame``: the VALUES rendering's
#: parse/analysis cost grows linearly with the text, and a plan literal
#: should encode a LEDGER, never a batch (ADVICE r12 — the per-delta-doc
#: gate results scale with the corpus). Below it, VALUES skips the
#: 32-task local-relation job; above it, the job is the cheaper side.
_DETACH_VALUES_MAX_ROWS = 2000


def detach_result(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Materialize a SMALL result frame and re-emit it as a local
    relation — the detach step every drained/rewritten op runs before
    removing its temp sink. Bounded-ledger frames (≤
    ``_DETACH_VALUES_MAX_ROWS``) render as a VALUES relation
    (:func:`tiny_local_frame`), skipping the 32-task ``createDataFrame``
    job; anything larger goes through ``createDataFrame`` so the SQL
    text (and Catalyst parse cost) never scales with the data. Schema
    is preserved exactly (each cell cast to the source column's type).

    A frame whose optimized plan already IS a local relation (a VALUES
    result, a driver-side fold) holds its rows in the plan and reads no
    sink, so it is returned as is — re-rendering it would only repeat
    the collect and the VALUES parse (~0.1 s for a 160-row drift
    table)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "LocalRelation":
        return df
    rows = [tuple(r) for r in df.collect()]
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    if len(rows) > _DETACH_VALUES_MAX_ROWS:
        return spark.createDataFrame(rows, df.schema)
    return tiny_local_frame(spark, rows, ddl)


def land_bounded_frame(df: DataFrame, dir_path: str) -> bool:
    """Land a BOUNDED census/ledger frame as ONE parquet file, written
    driver-side — the per-micro-batch sink for the streaming monitors
    whose landed rows are bounded by KEY CARDINALITY (cells, languages,
    sources, query ids), never by batch size.

    Why not ``df.write.parquet``: a foreachBatch body pays three Spark
    jobs per micro-batch for a ≤K-row landing — the ``take(1)``
    emptiness guard, the write job, and its commit ceremony — ~2/3 of
    the measured per-batch wall at sf0.1 (r14 optimization). One
    ``toArrow()`` job computes the census executor-side (the batch-
    proportional work never moves to the driver), ships only the K-row
    result, and the driver lands it with a single pyarrow file write.
    Returns False — writing NOTHING — when the census is empty,
    preserving the callers' empty-batch early-return contract (the
    ADVICE-r13 empty-drain read-back guard keys on the directory's
    absence). Retry-idempotent: same ``dir_path`` → same file name,
    overwritten in place.

    Use ONLY for frames whose row count is bounded by construction —
    batch-sized landings (per-doc reports, served top-k payloads) keep
    the executor-side write path."""
    import pyarrow.parquet as pq

    # Negative result, kept on purpose (r15): scoping
    # spark.sql.adaptive.enabled=false around this collect — AQE's
    # stage-at-a-time driver round-trips looked like pure latency for a
    # ≤K-row plan — measured a WASH across vocab/drift/serve drains
    # (4 alternating pairs each, min-of-medians within noise both
    # directions). The default AQE path stays.
    tbl = df.toArrow()
    if tbl.num_rows == 0:
        return False
    os.makedirs(dir_path, exist_ok=True)
    pq.write_table(tbl, os.path.join(dir_path, "part-00000-census.parquet"))
    return True


def landed_rows(out_dir: str) -> list[tuple]:
    """Rows of every driver-written ``batch_id=*`` landing under
    ``out_dir`` (the :func:`land_bounded_frame` files), in batch order,
    each row a tuple in the landed column order — read with pyarrow on
    the driver, no Spark job. An all-empty drain lands no directory and
    reads as no rows."""
    import pyarrow.parquet as pq

    rows: list[tuple] = []
    for entry in sorted(os.listdir(out_dir)):
        if not entry.startswith("batch_id="):
            continue
        d = os.path.join(out_dir, entry)
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(d, f))
                rows.extend(
                    tuple(r[c] for c in t.column_names) for r in t.to_pylist()
                )
    return rows


def read_landed_local(spark: SparkSession, out_dir: str, ddl: str) -> DataFrame:
    """Driver-side read-back of ``batch_id=*`` landings into ONE local
    relation — the mirror of :func:`land_bounded_frame`, for censuses
    whose TOTAL row count is bounded by key cardinality × batch count.

    Why not ``spark.read.parquet(out_dir + "/batch_id=*")``: folding a
    ≤K-row-per-batch landing through a distributed parquet scan pays
    directory listing, footer reads, a scan stage and a shuffle for the
    downstream aggregate — measured ~0.9 s of pure fixed cost per drain
    at sf0.1 (r14 optimization, stream_index_drift phase profile) for
    ≤32 result rows. pyarrow reads the driver-written single-file
    landings in microseconds; the caller's fold/join/ratio expressions
    then run UNCHANGED in Spark on the local relation, so the computed
    values are identical. Tolerates the all-empty drain (no
    ``batch_id=*`` directory → empty typed frame, the ADVICE-r13
    guard). ``ddl`` must name the landed columns in their written
    order."""
    return tiny_local_frame(spark, landed_rows(out_dir), ddl)
