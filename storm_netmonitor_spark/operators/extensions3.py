"""Round-3 extensions (SURVEY §2.Q): CDC compaction, SLA gap detection,
exact-moment correlation, ordered string aggregation, dimension surrogate
keys, Simpson diversity, batch kNN, binary dedup, duplicate survivorship
election, and the corpus report rollup.

Registered AFTER ``incremental`` (operators/__init__ note): new modules
must not displace operators still awaiting a driver verdict from the
capped per-round check window (registry.PRIORITY_FIRST / driver_ordered).

Reference citations: /root/reference is empty this round (SURVEY §0.1);
NM anchors map to the Storm-metrics capability model of SURVEY §0.3, NORTH
anchors to the LLM-data-pipeline mandate of BASELINE.json.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

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
from ..io import load_table, scratch, scratch_dir, session_memo
from ..registry import query
from .text import _STOP_SQL, _STOPWORDS, _TOKENS_SQL, _tokens
from .vectors import _dot_arrays, _DOT_SUM_SQL

_DEC = "decimal(28,6)"
_DEC_SQL = "DECIMAL(28,6)"


# ---------------------------------------------------------------------------
# dedup_latest_per_key — CDC compaction / QUALIFY
# ---------------------------------------------------------------------------


@query(
    "dedup_latest_per_key",
    oracle=f"""
SELECT user_id, event_type, event_id, {ts_str_sql('ts')} AS last_ts, value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
""",
)
def dedup_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep only the LATEST row per key — the CDC-compaction / QUALIFY
    primitive (NM: current value of every counter per host; NORTH: newest
    crawl per URL). One keyed window shuffle; deterministic tie-break on
    event_id. At 100 TB this is the same single exchange, and over the
    date-partitioned layout (sink_sorted_layout) the sort within
    partitions makes it near-map-side."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            ts_str("ts").alias("last_ts"),
            "value",
        )
    )


# ---------------------------------------------------------------------------
# ts_sla_gap_detect — the host-went-silent report
# ---------------------------------------------------------------------------

_GAP_US = 6 * 3_600 * 10**6  # report silences of 6 h or more


@query(
    "ts_sla_gap_detect",
    oracle=f"""
WITH t AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT user_id,
       {ts_str_sql('prev_ts')} AS silent_from,
       {ts_str_sql('ts')} AS silent_until,
       CAST((epoch_us(ts) - epoch_us(prev_ts)) // 60000000 AS BIGINT) AS gap_minutes
FROM t
WHERE prev_ts IS NOT NULL AND epoch_us(ts) - epoch_us(prev_ts) >= {_GAP_US}
""",
)
def ts_sla_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reporting-gap detection (NM core: a host that stops sending samples
    is the incident): per-source consecutive-sample gaps ≥ 6 h, reported as
    silence intervals with integer minute durations (exact epoch-µs
    arithmetic — no float). One keyed window shuffle, then a row-local
    filter; the 100 TB plan is identical."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))
    return (
        e.select("user_id", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull() & (gap_us >= _GAP_US))
        .select(
            "user_id",
            ts_str("prev_ts").alias("silent_from"),
            ts_str("ts").alias("silent_until"),
            F.expr("(unix_micros(ts) - unix_micros(prev_ts)) div 60000000")
            .cast("long")
            .alias("gap_minutes"),
        )
    )


# ---------------------------------------------------------------------------
# agg_corr_moments — exact-decimal Pearson correlation
# ---------------------------------------------------------------------------


@query(
    "agg_corr_moments",
    oracle=f"""
WITH s AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(CAST(hour(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS {_DEC_SQL})) AS DOUBLE) AS sx,
         CAST(SUM(CAST(CAST(value AS DOUBLE) AS {_DEC_SQL})) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CAST(hour(CAST(ts AS TIMESTAMP)) AS DOUBLE) * CAST(value AS DOUBLE)
                       AS {_DEC_SQL})) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(CAST(hour(CAST(ts AS TIMESTAMP)) AS DOUBLE) * CAST(hour(CAST(ts AS TIMESTAMP)) AS DOUBLE)
                       AS {_DEC_SQL})) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
                       AS {_DEC_SQL})) AS DOUBLE) AS syy
  FROM events GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       {dround_sql('(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))', 8)}
         AS corr_hour_value
FROM s
""",
)
def agg_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between hour-of-day and sample value per metric
    type (NM: is this counter diurnal?) from EXACT DECIMAL moment sums —
    same discipline as agg_linreg: the native ``corr`` aggregate
    accumulates doubles in shuffle order and differs across engines in
    final ULPs, while decimal moments are order-independent and the
    finishing formula (sqrt is correctly rounded in both IEEE libms) is
    identical arithmetic on identical inputs. One partial-aggregated
    shuffle, vocabulary-sized output."""
    e = load_table(spark, sf_dir, "events")
    x = F.hour("ts").cast("double")
    y = F.col("value").cast("double")
    s = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x.cast(_DEC)).cast("double").alias("sx"),
        F.sum(y.cast(_DEC)).cast("double").alias("sy"),
        F.sum((x * y).cast(_DEC)).cast("double").alias("sxy"),
        F.sum((x * x).cast(_DEC)).cast("double").alias("sxx"),
        F.sum((y * y).cast(_DEC)).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select("event_type", "n", dround(corr, 8).alias("corr_hour_value"))


# ---------------------------------------------------------------------------
# agg_string_concat — ordered listagg
# ---------------------------------------------------------------------------


@query(
    "agg_string_concat",
    oracle="""
SELECT n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       string_agg(c_name, '|' ORDER BY c_name) AS customer_names
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG): all customer names per nation,
    sorted and '|'-joined — deterministic by construction (sort_array
    before join ↔ string_agg ORDER BY). Broadcast dim join + one grouped
    shuffle; the payload per group is bounded by group size, which at
    100 TB argues for capping or sketching — here groups are ≤ hundreds."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            F.array_join(F.array_sort(F.collect_list("c_name")), "|").alias(
                "customer_names"
            ),
        )
    )


# ---------------------------------------------------------------------------
# fn_surrogate_key — dimension encoding
# ---------------------------------------------------------------------------


@query(
    "fn_surrogate_key",
    oracle="""
WITH dims AS (
  SELECT lang, source,
         md5(lang || '|' || source) AS src_key,
         CAST(DENSE_RANK() OVER (ORDER BY lang, source) AS BIGINT) AS src_id
  FROM (SELECT DISTINCT lang, source FROM documents)
)
SELECT d.doc_id, d.lang, d.source, dims.src_key, dims.src_id
FROM documents d JOIN dims USING (lang, source)
""",
)
def fn_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable surrogate keys for a dimension: content-hash key (md5 of the
    natural key — stable under re-runs and appends) plus a dense integer
    id. The dense rank runs over the DISTINCT dimension frame (97 rows),
    never over the fact table — the global-ordering window is confined to
    dimension cardinality and the facts get the ids back via broadcast
    join. That is the 100 TB dimension-encoding pattern; ranking the fact
    table itself would serialize on one partition."""
    d = load_table(spark, sf_dir, "documents")
    dims = d.select("lang", "source").distinct()
    w = Window.orderBy("lang", "source")  # dimension-sized frame only
    dims = dims.select(
        "lang",
        "source",
        F.md5(F.concat_ws("|", "lang", "source")).alias("src_key"),
        F.dense_rank().over(w).cast("long").alias("src_id"),
    )
    return d.select("doc_id", "lang", "source").join(
        F.broadcast(dims), ["lang", "source"]
    ).select("doc_id", "lang", "source", "src_key", "src_id")


# ---------------------------------------------------------------------------
# text_simpson_diversity — exact rational diversity index
# ---------------------------------------------------------------------------


@query(
    "text_simpson_diversity",
    oracle=f"""
WITH t AS (
  SELECT doc_id, list_filter({_TOKENS_SQL}, t -> t <> '') AS toks
  FROM documents
), c AS (
  SELECT doc_id, toks,
         list_transform(list_distinct(toks),
                        u -> CAST(len(list_filter(toks, t -> t = u)) AS BIGINT)) AS counts
  FROM t
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(counts) AS BIGINT) AS n_distinct,
       {dround_sql('1.0 - CAST(list_sum(list_transform(counts, c -> c * c)) AS DOUBLE) / (len(toks) * len(toks))', 6)}
         AS simpson_diversity
FROM c
""",
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity index per document, 1 − Σ(cnt²)/n² — a repetition
    / vocabulary-collapse quality signal (low diversity = degenerate doc).
    All arithmetic is EXACT integers until one final double division, so
    both engines agree bit-for-bit with no decimal machinery. Row-local
    array HOFs only (O(distinct × n) per row, n ≤ doc length): zero
    shuffle, fully codegen-free but Arrow-free too — scales linearly."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(_tokens(), lambda t: t != "")
    d = d.select("doc_id", toks.alias("toks"))
    counts = F.transform(
        F.array_distinct("toks"),
        lambda u: F.size(F.filter("toks", lambda t: t == u)).cast("long"),
    )
    d = d.select("doc_id", "toks", counts.alias("counts"))
    sumsq = F.aggregate(
        F.transform("counts", lambda c: c * c),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n = F.size("toks")
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.size("counts").cast("long").alias("n_distinct"),
        dround(
            F.lit(1.0) - sumsq.cast("double") / (n * n).cast("double"), 6
        ).alias("simpson_diversity"),
    )


# ---------------------------------------------------------------------------
# vec_batch_knn — many queries at once
# ---------------------------------------------------------------------------


@query(
    "vec_batch_knn",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS qx
  FROM embeddings WHERE vec_id < 10
), e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS x
  FROM embeddings WHERE vec_id >= 10
), dots AS (
  SELECT q_id, vec_id, {_DOT_SUM_SQL} AS sim
  FROM (SELECT q.q_id, e.vec_id, CAST(e.x AS DOUBLE) * CAST(q.qx AS DOUBLE) AS px
        FROM e JOIN q USING (pos))
  GROUP BY q_id, vec_id
)
SELECT q_id, vec_id, sim
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
      FROM dots)
WHERE rn <= 3
""",
)
def vec_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN: top-3 cosine neighbors for EACH of a set of query
    vectors (vec_id < 10) in one pass — the retrieval-eval / dedup-probe
    shape. The query block is broadcast (Q × dim floats); each candidate
    row computes Q row-local decimal-stable dots (zip_with/aggregate — no
    posexplode shuffle), then one window ranks per query. Cost is
    O(N × Q) map work + one Q-keyed exchange: linear in the corpus at
    fixed Q, the correct 100 TB shape (the oracle's positional-join
    rendering is the same math, just SQL-expressible)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cand = e.filter(F.col("vec_id") >= 10).select("vec_id", "embedding")
    sims = cand.crossJoin(F.broadcast(q)).select(
        "q_id",
        "vec_id",
        _dot_arrays(F.col("embedding"), F.col("q_emb")).alias("sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("q_id", "vec_id", "sim")
    )


# ---------------------------------------------------------------------------
# multimodal_dedup_binary — content-hash dedup of opaque payloads
# ---------------------------------------------------------------------------


@query(
    "multimodal_dedup_binary",
    oracle="""
SELECT sha256(substr(text, 1, 16)) AS content_sha,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(SUM(octet_length(encode(substr(text, 1, 16)))) AS BIGINT) AS total_bytes,
       MIN(doc_id) AS keeper_doc_id
FROM documents
GROUP BY 1
""",
)
def multimodal_dedup_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of opaque BINARY payloads by content digest — the
    multimodal twin of text_exact_dedup (NORTH: the same sha-groupBy dedup
    must run on image/audio blobs; the 16-byte head of each document
    stands in as the payload and yields real duplicate groups in this
    corpus). Digest is computed map-side from the binary column, then one
    hash-partitioned aggregate: bytes never shuffle, only (sha, count,
    bytes) partials do — at 100 TB the shuffle carries KBs per partition
    regardless of blob sizes."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.substring("text", 1, 16), "utf-8")
    return (
        d.select(payload.alias("payload"), "doc_id")
        .groupBy(F.sha2("payload", 256).alias("content_sha"))
        .agg(
            F.count("*").alias("n_copies"),
            F.sum(F.octet_length("payload")).cast("long").alias("total_bytes"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_dedup_survivors — survivorship election over duplicate groups
# ---------------------------------------------------------------------------


@query(
    "pipeline_dedup_survivors",
    oracle=f"""
WITH t AS (
  SELECT doc_id, list_filter({_TOKENS_SQL}, t -> t <> '') AS toks
  FROM documents
), keyed AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(toks)), '|')) AS bag_key,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio
  FROM t
), ranked AS (
  SELECT bag_key, doc_id, uniq_ratio,
         COUNT(*) OVER (PARTITION BY bag_key) AS group_size,
         ROW_NUMBER() OVER (PARTITION BY bag_key
                            ORDER BY uniq_ratio DESC, doc_id) AS rn
  FROM keyed
)
SELECT bag_key,
       CAST(group_size AS BIGINT) AS group_size,
       doc_id AS survivor_doc_id,
       {dround_sql('uniq_ratio', 6)} AS survivor_uniq_ratio
FROM ranked WHERE rn = 1
""",
)
def pipeline_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship election — the finishing stage of a dedup pipeline:
    documents sharing a duplicate-group key (here the md5 of the sorted
    distinct-word set: shuffled word-salad twins collide on it) elect ONE
    canonical survivor by quality (uniqueness ratio, doc_id tie-break).
    Group key and quality are row-local; the election is one keyed window
    shuffle. At 100 TB the same plan runs with the MinHash/SemDeDup
    component id as the group key (text_dedup_components produces it) —
    this operator is the quality-argmax that turns duplicate clusters into
    a kept corpus."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(_tokens(), lambda t: t != "")
    keyed = d.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), "|")).alias(
            "bag_key"
        ),
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks).cast("double")
        ).alias("uniq_ratio"),
    )
    wcnt = Window.partitionBy("bag_key")
    wrank = Window.partitionBy("bag_key").orderBy(
        F.col("uniq_ratio").desc(), F.col("doc_id")
    )
    return (
        keyed.withColumn("group_size", F.count("*").over(wcnt))
        .withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") == 1)
        .select(
            "bag_key",
            F.col("group_size").cast("long").alias("group_size"),
            F.col("doc_id").alias("survivor_doc_id"),
            dround("uniq_ratio", 6).alias("survivor_uniq_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_corpus_report — the crawl dashboard query
# ---------------------------------------------------------------------------


@query(
    "pipeline_corpus_report",
    oracle=f"""
WITH t AS (
  SELECT lang, source, n_chars,
         list_filter({_TOKENS_SQL}, t -> t <> '') AS toks
  FROM documents
), scored AS (
  SELECT lang, source, n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(toks, t -> t IN {_STOP_SQL})) AS DOUBLE) / len(toks) AS stop_ratio
  FROM t
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       {davg_sql('stop_ratio', 6)} AS mean_stop_ratio,
       {dround_sql('quantile_cont(CAST(n_chars AS DOUBLE), 0.5)', 4)} AS median_chars
FROM scored
GROUP BY lang, source
""",
)
def pipeline_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus dashboard: per (lang × source) stratum — document count,
    total whitespace tokens, mean stopword ratio (exact-decimal mean of
    row-local ratios), and exact median document length (`percentile` ↔
    `quantile_cont`, the agg_percentile discipline). Everything before the
    aggregate is row-local; one grouped shuffle over stratum keys. This is
    the first query run on any new crawl — the accounting that feeds
    pipeline_mixture_weights' temperature sampling."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(_tokens(), lambda t: t != "")
    scored = d.select(
        "lang",
        "source",
        F.col("n_chars").cast("double").alias("n_chars_d"),
        F.size(toks).cast("long").alias("n_tokens"),
        (
            F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double")
            / F.size(toks).cast("double")
        ).alias("stop_ratio"),
    )
    return scored.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        davg("stop_ratio", 6).alias("mean_stop_ratio"),
        dround(F.expr("percentile(n_chars_d, 0.5)"), 4).alias("median_chars"),
    )


# ---------------------------------------------------------------------------
# agg_bitmap_distinct — exact distinct at scale via mergeable bitmaps
# ---------------------------------------------------------------------------


@query(
    "agg_bitmap_distinct",
    oracle="""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users
FROM events
GROUP BY event_type
""",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting through mergeable roaring-style bitmaps
    (``bitmap_construct_agg`` over 32k-bit buckets, then ``bitmap_count``
    summed per key): the 100 TB alternative to countDistinct's expand —
    per-(key × bucket) partials are fixed-width byte arrays that merge
    associatively map-side, so the shuffle carries O(keys × buckets)
    bitmaps instead of O(rows) ids, and — unlike HLL — the result is
    exact, so the plain COUNT(DISTINCT) is a full hash oracle (NM:
    distinct talkers, exact, without shuffling every id)."""
    e = load_table(spark, sf_dir, "events")
    buckets = (
        e.groupBy(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
        )
        .agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
                "bm"
            )
        )
    )
    return buckets.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_distinct_users")
    )


# ---------------------------------------------------------------------------
# events_transition_matrix — Markov transitions between event types
# ---------------------------------------------------------------------------


@query(
    "events_transition_matrix",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type,
       CAST(n_transitions AS BIGINT) AS n_transitions,
       {dround_sql('CAST(n_transitions AS DOUBLE) / SUM(n_transitions) OVER (PARTITION BY from_type)', 6)}
         AS p_transition
FROM pairs
""",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix over per-source event sequences (NM:
    which metric report follows which — state-machine profiling of host
    behavior). One user-keyed window for the LEAD, one grouped shuffle to
    count pairs; the probability normalization windows over the
    type×type matrix (≤ V² rows — vocabulary-sized, the only frame the
    unpartitioned-window rule allows). Probabilities are exact integer
    ratios finished with one identical double division."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )
    wt = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        F.col("n_transitions").cast("long").alias("n_transitions"),
        dround(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wt).cast("double"),
            6,
        ).alias("p_transition"),
    )


# ---------------------------------------------------------------------------
# sink_zorder_layout — two-dimensional data skipping
# ---------------------------------------------------------------------------

_Z_BITS = 16  # bits per dimension interleaved into the z-value


def _zorder_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write events once per sf_dir sorted by the Morton interleave of
    (user_id, hour-index): both dimensions cluster simultaneously, so
    row-group min/max stats skip on EITHER predicate column."""
    import os

    def stage() -> str:
        e = load_table(spark, sf_dir, "events")
        # bit-interleave via shifts: sum over i of bit_i(a)<<(2i+1) | bit_i(b)<<(2i)
        terms = []
        for i in range(_Z_BITS):
            terms.append(
                f"(((user_id >> {i}) & 1) << {2 * i + 1})"
                f" + (((hour_idx >> {i}) & 1) << {2 * i})"
            )
        zexpr = " + ".join(terms)
        out = os.path.join(scratch_dir("nm_zorder_"), "events_z")
        (
            e.withColumn(
                "hour_idx",
                (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long"),
            )
            .withColumn("zval", F.expr(zexpr))
            .repartitionByRange(32, "zval")
            .sortWithinPartitions("zval")
            .drop("zval")
            .write.mode("overwrite")
            .parquet(out)
        )
        return out

    return session_memo(spark, ("zorder_dir",), stage, sf_dir=sf_dir)


@query(
    "sink_zorder_layout",
    oracle=f"""
SELECT event_type, COUNT(*) AS n_events, {{dsum}} AS total_value
FROM events
WHERE user_id BETWEEN 40 AND 59
GROUP BY event_type
""".replace("{dsum}", dsum_sql("value")),
)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout: events written sorted by the Morton bit-interleave
    of (user_id, hour) — the Delta/Iceberg OPTIMIZE ZORDER technique,
    expressed as plain Spark (range-partition + sort on the interleaved
    key). Unlike the single-key sorted layout, BOTH a user predicate and a
    time predicate see clustered row-group min/max stats, so either scan
    skips most of a 100 TB table. Layout is lossless — the oracle is the
    plain filtered aggregate; clustering quality is asserted from parquet
    footer statistics in tests/test_plans.py."""
    back = spark.read.parquet(_zorder_dir(spark, sf_dir))
    return (
        back.filter(F.col("user_id").between(40, 59))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# fn_encrypt_roundtrip — column-level encryption surface
# ---------------------------------------------------------------------------

_AES_KEY = "nm-demo-key-16by"  # 16-byte demo key — governance surface, not secrecy


@query(
    "fn_encrypt_roundtrip",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_plain_bytes,
       CAST(((octet_length(encode(text)) // 16) + 1) * 16 AS BIGINT) AS n_cipher_bytes,
       text AS decrypted
FROM documents
""",
)
def fn_encrypt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption surface (governance: encrypt PII columns at
    rest, decrypt for authorized readers): AES-128-ECB encrypt → decrypt
    round-trip on the text column. ECB is used ONLY because it is
    deterministic (hash-checkable ciphertext length, PKCS7 padding =
    next 16-byte boundary — the oracle predicts it arithmetically); real
    deployments use GCM with random IVs, same API shape. All JVM codegen
    (``aes_encrypt``/``aes_decrypt``), zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    cipher = F.expr(f"aes_encrypt(text, '{_AES_KEY}', 'ECB', 'PKCS')")
    return d.select(
        "doc_id",
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias(
            "n_plain_bytes"
        ),
        F.octet_length(cipher).cast("long").alias("n_cipher_bytes"),
        F.expr(
            f"CAST(aes_decrypt(aes_encrypt(text, '{_AES_KEY}', 'ECB', 'PKCS'),"
            f" '{_AES_KEY}', 'ECB', 'PKCS') AS STRING)"
        ).alias("decrypted"),
    )


# ---------------------------------------------------------------------------
# pipeline_shard_assignment — deterministic training-shard routing
# ---------------------------------------------------------------------------

_N_SHARDS = 16


@query(
    "pipeline_shard_assignment",
    oracle=f"""
WITH assigned AS (
  SELECT doc_id, n_chars,
         CAST(("hash_int" % {_N_SHARDS} + {_N_SHARDS}) % {_N_SHARDS} AS BIGINT) AS shard
  FROM (SELECT doc_id, n_chars,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS "hash_int"
        FROM documents)
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM assigned
GROUP BY shard
""",
)
def pipeline_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard routing + balance report: every doc is
    assigned a shard by md5(doc_id) — stable across runs, machines and
    engines (no partitioner internals leak into the assignment) — and the
    report shows docs/bytes per shard so skew is visible before the
    trainer reads anything. Row-local assignment, one grouped shuffle;
    at 100 TB this is the write-side routing for `partitionBy(shard)`."""
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
    assigned = d.select(
        "doc_id",
        "n_chars",
        (h.cast("long") % _N_SHARDS).alias("shard"),
    )
    return assigned.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# agg_histogram_fixed — latency-histogram rollup
# ---------------------------------------------------------------------------

_HIST_WIDTH = 50.0
_HIST_TOP = 9  # bins 0..9; the last bin absorbs the tail


@query(
    "agg_histogram_fixed",
    oracle=f"""
SELECT event_type,
       CAST(LEAST(CAST(floor(value / {_HIST_WIDTH}) AS BIGINT), {_HIST_TOP}) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_samples
FROM events
GROUP BY 1, 2
""",
)
def agg_histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin value histogram per metric type (NM: the latency/size
    histogram every monitoring UI renders): bin = floor(value / width)
    clamped into a tail bucket. Bin assignment is row-local integer math
    (one identical IEEE division then floor — exact in both engines), so
    the whole histogram is ONE partial-aggregated shuffle of
    (type × ≤10 bins) groups — at 100 TB the shuffle carries a few
    hundred counters, nothing else."""
    e = load_table(spark, sf_dir, "events")
    bin_ = F.least(
        F.floor(F.col("value") / F.lit(_HIST_WIDTH)).cast("long"),
        F.lit(_HIST_TOP).cast("long"),
    )
    return (
        e.groupBy("event_type", bin_.alias("bin"))
        .agg(F.count("*").alias("n_samples"))
    )


# ---------------------------------------------------------------------------
# agg_pareto_talkers — the smallest set of sources carrying half the traffic
# ---------------------------------------------------------------------------


@query(
    "agg_pareto_talkers",
    oracle=f"""
WITH totals AS (
  SELECT user_id,
         SUM(CAST(CAST(value AS DOUBLE) AS DECIMAL(28,6))) AS total_dec
  FROM events GROUP BY user_id
), ranked AS (
  SELECT user_id, total_dec,
         SUM(total_dec) OVER () AS grand,
         SUM(total_dec) OVER (ORDER BY total_dec DESC, user_id
                              ROWS UNBOUNDED PRECEDING) AS cum,
         ROW_NUMBER() OVER (ORDER BY total_dec DESC, user_id) AS rnk
  FROM totals
)
SELECT CAST(rnk AS BIGINT) AS rnk, user_id,
       CAST(ROUND(total_dec, 2) AS DOUBLE) AS total_value,
       {dround_sql('CAST(cum AS DOUBLE) / CAST(grand AS DOUBLE)', 6)} AS cum_share
FROM ranked
WHERE CAST(cum - total_dec AS DOUBLE) / CAST(grand AS DOUBLE) < 0.5
""",
)
def agg_pareto_talkers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto set (NM core: the smallest set of talkers carrying 50 % of
    total traffic): per-source exact-decimal totals, ranked by volume,
    kept while the cumulative share BEFORE the row is under the threshold
    (so the crossing row is included).

    Shape at scale (round-8 rework): the per-source frame is REDUCED but
    not BOUNDED — O(sources) grows with SF, so the former global ordered
    window was a single-task funnel of the whole frame. The rank and
    running sum are now a TWO-LEVEL DISTRIBUTED PREFIX SUM (the
    events_concurrency_peak pattern on the rank axis): range-partition
    the totals on the (total DESC, user_id) sort key — a parallel
    sampled exchange, each partition a contiguous slice of the global
    order — localCheckpoint to freeze partition ids (and truncate the
    agg lineage), reduce each partition to ONE (count, sum) census row,
    prefix those O(shuffle-partitions) carries on the census frame, and
    broadcast them back so the cumulative window runs PARTITIONED BY
    partition id with the carry added. Decimal sums are associative, so
    cum/rnk are bit-identical to the single-scan oracle; the grand total
    rides the same census. At open cardinality the
    agg_heavy_hitters_approx sketch is the preface that bounds the
    OUTPUT (the scan itself no longer needs bounding).

    Trade-off (ADVICE r8): ``localCheckpoint`` is EAGER — the
    aggregation + range exchange run at DataFrame-construction time (so
    any collect()-only timing misses them; if this op ever joins the
    bench's reported set it belongs in ``RERUN_FULL`` for the same
    reason as text_ppl_buckets) — and checkpointed partitions are not
    fault-tolerant: an executor loss invalidates the frame instead of
    recomputing lineage. At the 100 TB design point a production run
    would use ``checkpoint()`` to durable storage (same plan shape, one
    extra write) if mid-query executor churn is expected."""
    e = load_table(spark, sf_dir, "events")
    totals = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("double").cast("decimal(28,6)")).alias(
            "total_dec"
        )
    )
    part = totals.repartitionByRange(
        F.col("total_dec").desc(), F.col("user_id")
    ).localCheckpoint()
    part = part.withColumn("pid", F.spark_partition_id())
    census = part.groupBy("pid").agg(
        F.sum("total_dec").alias("psum"),
        F.count(F.lit(1)).alias("pcnt"),
    )
    w_prev = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # O(shuffle partitions) census — the only unpartitioned windows
    carry = census.select(
        "pid",
        F.coalesce(
            F.sum("psum").over(w_prev), F.lit(0).cast("decimal(28,6)")
        ).alias("cum0"),
        F.coalesce(F.sum("pcnt").over(w_prev), F.lit(0)).alias("rnk0"),
        F.sum("psum").over(Window.partitionBy()).alias("grand"),
    )
    w_in = Window.partitionBy("pid").orderBy(
        F.col("total_dec").desc(), F.col("user_id")
    )
    ranked = part.join(F.broadcast(carry), "pid").select(
        "user_id",
        "total_dec",
        "grand",
        (
            F.col("cum0")
            + F.sum("total_dec").over(
                w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        ).alias("cum"),
        (F.col("rnk0") + F.row_number().over(w_in)).alias("rnk"),
    )
    return ranked.filter(
        (F.col("cum") - F.col("total_dec")).cast("double")
        / F.col("grand").cast("double")
        < 0.5
    ).select(
        F.col("rnk").cast("long").alias("rnk"),
        "user_id",
        F.round("total_dec", 2).cast("double").alias("total_value"),
        dround(
            F.col("cum").cast("double") / F.col("grand").cast("double"), 6
        ).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# join_asof_orders — cross-table point-in-time enrichment
# ---------------------------------------------------------------------------


@query(
    "join_asof_orders",
    oracle=f"""
SELECT o.o_orderkey, o.o_custkey,
       e.event_id AS last_event_id,
       {ts_str_sql('e.ts')} AS last_event_ts
FROM orders o
ASOF LEFT JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
                FROM events) e
  ON o.o_custkey = e.user_id AND e.ts <= CAST(o.o_orderdate AS TIMESTAMP)
""",
)
def join_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table point-in-time (as-of) enrichment: each order picks the
    customer's most recent event at or before the order date — the SCD /
    telemetry-context lookup (NM: which counter sample was current when
    the job ran). PySpark has no native as-of join; the union-tag pattern
    keeps it shuffle-parallel: tag both tables, union on the shared time
    axis, one (key)-partitioned window carries the last event forward via
    last(ignorenulls) — O(n log n) per key, no range join, no quadratic
    state. Ties on the time axis sort events BEFORE orders so an event at
    exactly the order timestamp is visible to it (ASOF's <=)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("timestamp").alias("t"),
    )
    e = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("o_custkey"),
        F.col("event_id"),
        F.col("ts").alias("t"),
    )
    tagged = e.select(
        "o_custkey",
        "t",
        F.lit(0).alias("side"),  # events first on ties (<= semantics)
        "event_id",
        F.col("t").alias("ev_ts"),
        F.lit(None).cast("long").alias("o_orderkey"),
    ).unionByName(
        o.select(
            "o_custkey",
            "t",
            F.lit(1).alias("side"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("timestamp").alias("ev_ts"),
            "o_orderkey",
        )
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("t", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.select(
        "o_custkey",
        "o_orderkey",
        "side",
        F.last("event_id", ignorenulls=True).over(w).alias("last_event_id"),
        F.last("ev_ts", ignorenulls=True).over(w).alias("last_ev_ts"),
    )
    return carried.filter(F.col("side") == 1).select(
        "o_orderkey",
        "o_custkey",
        "last_event_id",
        ts_str("last_ev_ts").alias("last_event_ts"),
    )


# ---------------------------------------------------------------------------
# scan_cache_reuse — one materialization, many consumers
# ---------------------------------------------------------------------------


@query(
    "scan_cache_reuse",
    oracle=f"""
WITH hot AS (
  SELECT * FROM events WHERE value > 100
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM hot) AS n_hot,
       (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM hot) AS n_hot_users,
       (SELECT {dsum_sql('value')} FROM hot) AS hot_total
""",
)
def scan_cache_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cache-once, consume-many (NM: several reports over the same hot
    subset each interval): the filtered frame is persisted, three
    aggregates read the in-memory columnar copy instead of re-scanning
    parquet (InMemoryTableScan in their plans — asserted in test_plans),
    then the one-row results are combined with cheap 1×1 joins. At 100 TB
    the equivalent is caching a filtered day, not the table; unpersist
    releases executor memory deterministically."""
    e = load_table(spark, sf_dir, "events")
    hot = e.filter(F.col("value") > 100).cache()
    try:
        a = hot.agg(F.count("*").cast("long").alias("n_hot"))
        b = hot.agg(
            F.countDistinct("user_id").cast("long").alias("n_hot_users")
        )
        c = hot.agg(dsum("value").alias("hot_total"))
        out = a.crossJoin(b).crossJoin(c)
        out.collect()  # materialize while cached
        return out
    finally:
        hot.unpersist()


# ---------------------------------------------------------------------------
# sink_compact_small_files — the small-file problem
# ---------------------------------------------------------------------------


def _compacted_dir(spark: SparkSession, sf_dir: str) -> tuple[str, int, int]:
    """Fragment events into many small files once per sf_dir, then compact
    to 4 right-sized files; returns (compacted_dir, n_small, n_compact)."""
    import glob
    import os

    def stage() -> tuple[str, int, int]:
        e = load_table(spark, sf_dir, "events")
        comp = os.path.join(scratch_dir("nm_comp_"), "events_comp")
        with scratch("nm_frag_") as frag:
            e.repartition(64).write.mode("overwrite").parquet(frag)  # the problem
            (
                spark.read.parquet(frag)
                .repartition(4)  # the fix: read-and-rewrite at target file size
                .write.mode("overwrite")
                .parquet(comp)
            )
            n_small = len(glob.glob(os.path.join(frag, "*.parquet")))
        n_comp = len(glob.glob(os.path.join(comp, "*.parquet")))
        return comp, n_small, n_comp

    return session_memo(spark, ("compacted_dir",), stage, sf_dir=sf_dir)


@query(
    "sink_compact_small_files",
    oracle=f"""
SELECT event_type, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
FROM events
GROUP BY event_type
""",
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (NM: a per-interval streaming sink emits one
    tiny file per trigger; a month later the table is millions of files
    and every scan dies on open() overhead): read the fragmented table,
    rewrite at target file count/size — the OPTIMIZE/compact maintenance
    job, as plain Spark. Compaction must be LOSSLESS: the oracle is the
    plain aggregate over the original table, and the file counts
    (64 → 4) are asserted in tests."""
    comp, _, _ = _compacted_dir(spark, sf_dir)
    back = spark.read.parquet(comp)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value")
    )


# ---------------------------------------------------------------------------
# events_rate_limit — ingestion hygiene
# ---------------------------------------------------------------------------

_RATE_CAP = 5  # keep at most K samples per (source × hour)


@query(
    "events_rate_limit",
    oracle=f"""
WITH ranked AS (
  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', CAST(ts AS TIMESTAMP))
                            ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN rn <= {_RATE_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn > {_RATE_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM ranked
GROUP BY user_id
""",
)
def events_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rate limiting (NM: a misbehaving host flooding
    samples must not swamp the collector): keep the first K samples per
    (source × hour) by arrival order, account for the rest. One keyed
    window shuffle; the kept/dropped accounting aggregates on the same
    key — at 100 TB the cap turns unbounded per-key floods into bounded
    per-key work downstream; n_total = n_kept + n_dropped proves the
    partition is exhaustive."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.date_trunc("hour", "ts")).orderBy(
        "ts", "event_id"
    )
    ranked = e.select("user_id", "ts", "event_id").withColumn(
        "rn", F.row_number().over(w)
    )
    return ranked.groupBy("user_id").agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(F.col("rn") <= _RATE_CAP, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("rn") > _RATE_CAP, 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# vec_matryoshka_truncate — MRL-style dimension reduction
# ---------------------------------------------------------------------------

_MRL_DIM = 16


@query(
    "vec_matryoshka_truncate",
    oracle=f"""
WITH t AS (
  SELECT vec_id, label, embedding[1:{_MRL_DIM}] AS head
  FROM embeddings
), n AS (
  SELECT vec_id, label,
         sqrt(list_sum(list_transform(head, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
  FROM t
)
SELECT vec_id, label,
       CAST({_MRL_DIM} AS BIGINT) AS dim,
       {dround_sql('norm', 6)} AS head_norm
FROM n
""",
)
def vec_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style embedding truncation (NORTH: store the first 16 of
    64 dims → 4× cheaper ANN tier, rescore survivors at full precision):
    row-local array slice + norm — the norm tells how much mass the head
    carries (MRL-trained embeddings concentrate it there; on these random
    unit vectors it is ≈ sqrt(16/64), asserted in a property test). Slice
    and square-sum are identical IEEE per-element ops in both engines
    (fixed left-to-right accumulation via ordered aggregate), rounded at
    6 dp. Zero shuffle."""
    e = load_table(spark, sf_dir, "embeddings")
    head = F.slice("embedding", 1, _MRL_DIM)
    sq = F.aggregate(
        F.transform(head, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        "label",
        F.lit(_MRL_DIM).cast("long").alias("dim"),
        dround(F.sqrt(sq), 6).alias("head_norm"),
    )


# ---------------------------------------------------------------------------
# pipeline_epoch_shuffle — deterministic training-order generation
# ---------------------------------------------------------------------------


@query(
    "pipeline_epoch_shuffle",
    oracle=f"""
WITH assigned AS (
  SELECT doc_id,
         CAST((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % {_N_SHARDS} + {_N_SHARDS}) % {_N_SHARDS} AS BIGINT) AS shard
  FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard
                               ORDER BY md5('epoch1|' || CAST(doc_id AS VARCHAR)), doc_id)
            AS BIGINT) AS epoch1_pos,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard
                               ORDER BY md5('epoch2|' || CAST(doc_id AS VARCHAR)), doc_id)
            AS BIGINT) AS epoch2_pos
FROM assigned
""",
)
def pipeline_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training order (NORTH: every rerun and
    every worker must agree on the sample order, with a DIFFERENT order
    each epoch): position = rank of md5(epoch-salt || doc_id) WITHIN the
    doc's shard. Reproducible with no RNG state, orders decorrelate
    across epochs, and the rank windows are per-shard — each is
    corpus/shards-sized, never a global sort (the 100 TB reader shuffles
    within shards, exactly how training dataloaders do it)."""
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
    assigned = d.select(
        "doc_id", (h.cast("long") % _N_SHARDS).alias("shard")
    )
    def pos(salt: str):
        return F.row_number().over(
            Window.partitionBy("shard").orderBy(
                F.md5(F.concat(F.lit(salt + "|"), F.col("doc_id").cast("string"))),
                "doc_id",
            )
        ).cast("long")
    return assigned.select(
        "doc_id",
        "shard",
        pos("epoch1").alias("epoch1_pos"),
        pos("epoch2").alias("epoch2_pos"),
    )


# ---------------------------------------------------------------------------
# graph_pagerank_links — iterative link-graph ranking
# ---------------------------------------------------------------------------

_PR_ITERS = 3
_PR_CKPT_EVERY = 2
#: Node cap for broadcasting the per-round weight frame: (long, long)
#: rows ≈ 16 B data → ~4 MB serialized at the cap, inside the 10 MB
#: broadcast default with headroom. Above it the edge pass falls back to
#: a co-located shuffle join against src-partitioned cached edges.
_PR_BROADCAST_MAX_NODES = 250_000
_PR_DAMP = 0.85

#: Contributions travel as FIXED-POINT LONGS: w(src) = floor(rank·1e18/d)
#: computed once per NODE (21k divisions at sf0.1), then the per-edge work
#: is a broadcast-joined BIGINT sum — whole-stage-codegen,
#: shuffle-order-independent, and bit-identical in DuckDB (same IEEE
#: multiply/divide/floor on both sides). Σw ≤ 1e18 < 2^63: no overflow.
#: (Round 3 shipped per-edge DECIMAL(38,20) division — ~6× slower at
#: sf0.1's 1.18M edges and no more exact.)
_PR_SCALE = "1e18"


def _pagerank_oracle() -> str:
    """Unrolled power iteration (recursive-CTE aggregation over the
    recursive term is not portable SQL): pr0 → pr1 → … → prN, each stage
    the same decimal-summed contribution join the Spark loop performs."""
    base = """
WITH e0 AS (
  SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst FROM lineitem
), edges AS (
  SELECT src, dst FROM e0
  UNION
  SELECT dst AS src, src AS dst FROM e0
), deg AS (
  SELECT src, COUNT(*) AS d FROM edges GROUP BY src
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), nn AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
), pr0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes
)"""
    stage = """, w{cur} AS (
  SELECT deg.src, CAST(FLOOR(p.rank * {scale} / deg.d) AS BIGINT) AS w
  FROM pr{cur} p JOIN deg ON deg.src = p.node
), pr{next} AS (
  SELECT n.node,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE)
           * (CAST(COALESCE(s.contrib, 0) AS DOUBLE) / {scale}) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(w{cur}.w) AS contrib
    FROM edges e JOIN w{cur} ON w{cur}.src = e.src
    GROUP BY e.dst
  ) s ON s.node = n.node
)"""
    sql = base
    for i in range(_PR_ITERS):
        sql += stage.format(cur=i, next=i + 1, scale=_PR_SCALE)
    sql += f"""
SELECT node, {dround_sql('rank', 12)} AS rank
FROM pr{_PR_ITERS}
ORDER BY rank DESC, node
LIMIT 20
"""
    return sql


def _pagerank_edges_dir(spark: SparkSession, sf_dir: str) -> dict:
    """Materialize the symmetric edge list once per sf_dir (production
    keeps the link graph as a maintained table; the rank refresh — the
    iterative part — is what reruns periodically).

    Nodes are encoded as LONGS (part p → 2p, supplier s → 2s+1): every
    per-iteration join/aggregate hashes 8-byte ints instead of strings;
    the display names ('p123'/'s45') are reconstructed only for the final
    top-20 rows.

    The staged graph persists ACROSS PROCESSES keyed by the input
    fingerprint (VERDICT r9 #3): a fresh session reads the published
    edges/deg parquet + meta sidecar instead of re-deriving the distinct
    edge set from lineitem — at 100 TB the derivation is the expensive
    maintained-table build, the rank refresh is what reruns."""
    import json
    import os

    from ..io import disk_artifact_dir

    def stage(staging: str) -> None:
        li = load_table(spark, sf_dir, "lineitem")
        e0 = (
            li.select(
                (F.col("l_partkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .distinct()
        )
        edges = e0.unionByName(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        out = os.path.join(staging, "edges")
        edges.write.mode("overwrite").parquet(out)
        # degrees and node count are PROPERTIES of the edge artifact —
        # derive them once at staging time, not per rank refresh
        deg_out = os.path.join(staging, "deg")
        deg = spark.read.parquet(out).groupBy("src").agg(
            F.count("*").alias("d")
        )
        deg.write.mode("overwrite").parquet(deg_out)
        n_nodes = spark.read.parquet(deg_out).count()
        with open(os.path.join(staging, "meta.json"), "w") as fh:
            json.dump({"n_nodes": n_nodes}, fh)

    def edges() -> dict:
        root = disk_artifact_dir("pagerank_graph", "v1", sf_dir, stage)
        with open(os.path.join(root, "meta.json")) as fh:
            n_nodes = json.load(fh)["n_nodes"]
        return {
            "edges": os.path.join(root, "edges"),
            "deg": os.path.join(root, "deg"),
            "n_nodes": n_nodes,
        }

    return session_memo(spark, ("pagerank_edges",), edges, sf_dir=sf_dir)


#: Teleport mass as an EXPLICIT literal: computing it as ``1.0 - 0.85``
#: yields 0.15000000000000002 in IEEE arithmetic, which would silently
#: break byte-stability against the oracle's ``CAST(0.15 AS DOUBLE)``.
_PR_TELEPORT = 0.15


def _pagerank_round(
    edges: DataFrame,
    base: DataFrame,
    ranks: DataFrame,
    n_nodes: float,
    broadcast_weights: bool,
    damp: float = _PR_DAMP,
    teleport: float = _PR_TELEPORT,
) -> DataFrame:
    """ONE power-iteration round — the per-round shape shared by the
    fixed-iteration registry op and the iterate-to-tolerance kernel
    (``pagerank_over``): per-NODE fixed-point weight projection (O(nodes)
    divisions, row-local — the degree rides in the ranks frame), then the
    edge pass is a (broadcast under the node cap) join + LONG sum — see
    the _PR_SCALE note — and the damped recombination against ``base``."""
    scale = float(_PR_SCALE)
    w = ranks.select(
        F.col("node").alias("src"),
        F.floor(F.col("rank") * F.lit(scale) / F.col("d")).alias("w"),
    )
    contribs = (
        edges.join(F.broadcast(w) if broadcast_weights else w, "src")
        .groupBy("dst")
        .agg(F.sum("w").alias("contrib"))
    )
    return base.join(contribs, base.node == contribs.dst, "left").select(
        "node",
        "d",
        (
            F.lit(teleport) / F.lit(n_nodes)
            + F.lit(damp)
            * (
                F.coalesce(F.col("contrib"), F.lit(0)).cast("double")
                / F.lit(scale)
            )
        ).alias("rank"),
    )


def pagerank_over(
    edges: DataFrame,
    *,
    damp: float = _PR_DAMP,
    teleport: float | None = None,
    tol: float | None = 1e-9,
    max_iter: int = 40,
    broadcast_weights: bool | None = None,
    ckpt_every: int = _PR_CKPT_EVERY,
) -> tuple[DataFrame, int]:
    """KERNEL — PageRank iterated to CONVERGENCE (VERDICT r8 #7: the
    production facade of ``graph_pagerank_links``, which stays pinned at
    3 iterations for oracle byte-stability). Contract: ``edges`` with
    long columns ``(src, dst)`` where every node appears as a ``src``
    (symmetric graphs satisfy this trivially; for directed graphs add
    self-loops or pre-drop dangling sinks). Returns ``(ranks, n_iters)``
    where ``ranks`` has ``(node, rank)``.

    Same per-round shape as the registry op (``_pagerank_round``):
    fixed-point LONG contributions, broadcast-or-shuffled edge pass
    (auto-chosen by the ``_PR_BROADCAST_MAX_NODES`` cap unless forced),
    ``localCheckpoint`` cadence bounding lineage. The convergence probe
    is ONE driver scalar per round — max |Δrank| over the node frame, a
    model-scalar collect (audited in tests/test_source_guards.py) — so
    iterating to tolerance costs one extra O(nodes) aggregate per round
    on top of the fixed-iteration shape. ``tol=None`` runs exactly
    ``max_iter`` rounds (the registry op's behavior with the probe off)."""
    if teleport is None:
        teleport = _PR_TELEPORT if damp == _PR_DAMP else 1.0 - damp
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    base = deg.select(F.col("src").alias("node"), "d").localCheckpoint()
    n_nodes = float(base.count())
    if broadcast_weights is None:
        broadcast_weights = n_nodes <= _PR_BROADCAST_MAX_NODES
    ranks = base.select(
        "node", "d", (F.lit(1.0) / F.lit(n_nodes)).alias("rank")
    )
    iters = 0
    for i in range(max_iter):
        new = _pagerank_round(
            edges, base, ranks, n_nodes, broadcast_weights, damp, teleport
        )
        if (i + 1) % ckpt_every == 0 or tol is not None:
            # with the probe on, every round is checkpointed: the delta
            # join below would otherwise re-execute BOTH lineages, and a
            # long convergence run would grow an unbounded plan
            new = new.localCheckpoint()
        iters = i + 1
        if tol is not None:
            delta = (
                new.select("node", F.col("rank").alias("r2"))
                .join(ranks.select("node", F.col("rank").alias("r1")), "node")
                .agg(F.max(F.abs(F.col("r2") - F.col("r1"))).alias("dmax"))
                .collect()[0]["dmax"]
            )
            ranks = new
            if delta is not None and delta <= tol:
                break
        else:
            ranks = new
    return ranks.select("node", "rank"), iters


@query("graph_pagerank_links", oracle=_pagerank_oracle())
def graph_pagerank_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part↔supplier link graph (NORTH: link-graph
    ranking is how crawl frontiers prioritize domains; NM: influence
    ranking of chatty hosts in a communication graph — lineitem is the
    stand-in edge list). Distributed power iteration, Spark-shaped:

    - edges/degrees computed once and reused every iteration;
    - each iteration computes a per-NODE fixed-point weight
      floor(rank·1e18/deg) — O(nodes) divisions — then the edge pass is a
      broadcast join + BIGINT sum: exact, shuffle-order-independent,
      whole-stage-codegen, and bit-identical to the unrolled SQL oracle
      (same IEEE multiply/divide/floor both sides; see _PR_SCALE);
    - ``localCheckpoint`` truncates lineage each round (the CC-loop rule:
      iterative plans otherwise grow O(rounds));
    - driver-side actions are ONE scalar count (node total) + the
      checkpoint materializations — no data ever collects.

    Fixed 3 iterations (rank deltas < 1e-3 by then on this graph);
    production would iterate to tolerance with the same per-round shape."""
    art = _pagerank_edges_dir(spark, sf_dir)
    n_nodes = float(art["n_nodes"])  # staged scalar — no per-refresh action
    # broadcast guard (VERDICT r7 #5): the per-round weight frame is
    # per-NODE state — broadcasting it is right for this dim-sized graph
    # but a driver/executor OOM on a billion-node one. Only hint the
    # broadcast under the node cap; above it, stage the edges
    # hash-partitioned by src ONCE so every round's edge pass shuffles
    # only the O(nodes) weight frame to the cached edge partitioning.
    small_graph = art["n_nodes"] <= _PR_BROADCAST_MAX_NODES

    # edges/degrees are the HOT maintained graph of a repeated rank
    # refresh: cache them per (session, input) so each of the 3 edge
    # passes scans memory, not parquet (measured −0.24 s/refresh at sf0.1)
    def stage_frames():
        e = spark.read.parquet(art["edges"])
        if not small_graph:
            e = e.repartition("src")
        edges_df = e.cache()
        # the ranks frame CARRIES its node's degree: the per-round weight
        # is then a projection, not a ranks⋈deg join (2 joins/round not 3)
        base_df = (
            spark.read.parquet(art["deg"])
            .select(F.col("src").alias("node"), "d")
            .cache()
        )
        edges_df.count(), base_df.count()  # materialize once at staging
        return edges_df, base_df

    edges, base = session_memo(
        spark,
        ("pagerank_frames", os.path.abspath(sf_dir), small_graph),
        stage_frames,
        sf_dir=sf_dir,
    )

    ranks = base.select(
        "node", "d", (F.lit(1.0) / F.lit(n_nodes)).alias("rank")
    )
    for i in range(_PR_ITERS):
        ranks = _pagerank_round(edges, base, ranks, n_nodes, small_graph)
        # lineage truncation every OTHER round: the checkpoint job is the
        # dominant per-round fixed cost at test scale (measured: every-1
        # 1.56 s, every-2 1.08 s, none 1.16 s — values identical), while
        # cadence-2 still bounds plan growth for long production runs.
        # LAZY (r15, VERDICT item 7 — the CC-loop treatment): the final
        # collect is the materializing action, so the refresh runs ONE
        # fused job instead of checkpoint-job + collect-job; lineage
        # truncation and values are identical (the checkpointed blocks
        # pin inside the collect's execution).
        if (i + 1) % _PR_CKPT_EVERY == 0:
            ranks = ranks.localCheckpoint(eager=False)
    # decode long node ids to display names only now, at O(top-k) scale;
    # the sort key matches the oracle's (rank DESC, node-string ASC)
    name = F.concat(
        F.when(F.col("node") % 2 == 0, F.lit("p")).otherwise(F.lit("s")),
        F.shiftright("node", 1).cast("string"),
    )
    return (
        ranks.select(name.alias("node"), dround("rank", 12).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# vec_kmeans_assign — Lloyd's algorithm, hash-exactly verifiable
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_DOT_DEC = "DECIMAL(28,12)"


def _kmeans_oracle() -> str:
    """One full Lloyd round (assign → re-center → re-assign), unrolled in
    SQL: the same decimal-summed dots and identical-IEEE centroid means
    the Spark loop computes — k-means made hash-checkable."""
    dot = f"CAST(SUM(CAST(p.px AS {_KM_DOT_DEC})) AS DOUBLE)"
    return f"""
WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), c0 AS (
  SELECT vec_id AS cid, pos, x AS cx FROM e WHERE vec_id < {_KM_K}
), a1 AS (
  SELECT vec_id, cid FROM (
    SELECT t.vec_id, t.cid,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY t.dot DESC, t.cid) AS rn
    FROM (SELECT p.vec_id, p.cid, {dot} AS dot
          FROM (SELECT e.vec_id, c0.cid, e.x * c0.cx AS px
                FROM e JOIN c0 USING (pos)) p
          GROUP BY p.vec_id, p.cid) t
  ) WHERE rn = 1
), c1 AS (
  SELECT a1.cid, e.pos,
         CAST(SUM(CAST(e.x AS {_KM_DOT_DEC})) AS DOUBLE) / COUNT(*) AS cx
  FROM e JOIN a1 USING (vec_id)
  GROUP BY a1.cid, e.pos
), a2 AS (
  SELECT vec_id, cid, dot FROM (
    SELECT t.vec_id, t.cid, t.dot,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY t.dot DESC, t.cid) AS rn
    FROM (SELECT p.vec_id, p.cid, {dot} AS dot
          FROM (SELECT e.vec_id, c1.cid, e.x * c1.cx AS px
                FROM e JOIN c1 USING (pos)) p
          GROUP BY p.vec_id, p.cid) t
  ) WHERE rn = 1
)
SELECT vec_id, CAST(cid AS BIGINT) AS cluster,
       {dround_sql('dot', 6)} AS centroid_dot
FROM a2
"""


@query("vec_kmeans_assign", oracle=_kmeans_oracle())
def vec_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (K=8, one full assign → re-center → re-assign
    round) with a FULLY unrolled SQL oracle — distributed clustering made
    hash-exactly verifiable: dots accumulate in DECIMAL (shuffle-order-
    independent), argmax ties break on centroid id, centroid means are
    identical IEEE division of exact decimal sums. This is the machinery
    `vec_ann_ivf` and `vec_semantic_dedup` run (their end-to-end checks
    are rows-only by design; THIS op pins the underlying math to the
    oracle bit-for-bit). Shapes are the scale-correct ones: centroids
    live in a K×dim frame joined by position — never collected — and the
    assignment is one positional join + keyed aggregate per round."""
    # the exploded frame feeds three branches (two assigns + the
    # re-center) — scatter the one-row-group scan so the K-way dot
    # expansion parallelizes (io.scatter lever), then materialize it once
    # instead of re-scanning/re-exploding per branch; same per-round
    # lineage truncation as the PageRank/CC iterative ops
    from ..io import scatter

    e = _pos_explode_all(
        scatter(load_table(spark, sf_dir, "embeddings"))
    ).localCheckpoint()
    c0 = e.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), "pos", F.col("x").alias("cx")
    )

    def assign(cent: DataFrame) -> DataFrame:
        # the centroid frame is K×dim rows — broadcast it so the exploded
        # corpus never shuffles for the positional join (decimal dot sums
        # are order-independent, so the join strategy cannot move the hash)
        dots = (
            e.join(F.broadcast(cent), "pos")
            .select("vec_id", "cid", (F.col("x") * F.col("cx")).alias("px"))
            .groupBy("vec_id", "cid")
            .agg(F.sum(F.col("px").cast(_KM_DOT_DEC)).cast("double").alias("dot"))
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("dot").desc(), F.col("cid"))
        return dots.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") == 1
        )

    a1 = assign(c0).select("vec_id", "cid")
    c1 = (
        e.join(a1, "vec_id")
        .groupBy("cid", "pos")
        .agg(
            (
                F.sum(F.col("x").cast(_KM_DOT_DEC)).cast("double")
                / F.count("*")
            ).alias("cx")
        )
    )
    a2 = assign(c1)
    return a2.select(
        "vec_id",
        F.col("cid").cast("long").alias("cluster"),
        dround("dot", 6).alias("centroid_dot"),
    )


def _pos_explode_all(df: DataFrame) -> DataFrame:
    """(vec_id, pos, x-double) rows, 1-based pos (DuckDB subscripts)."""
    return df.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.col("xf").cast("double").alias("x"),
    )


# ---------------------------------------------------------------------------
# win_pattern_match — MATCH_RECOGNIZE-style sequence detection
# ---------------------------------------------------------------------------


@query(
    "win_pattern_match",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
         LAG(value, 1) OVER w AS v1,
         LAG(value, 2) OVER w AS v2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, {ts_str_sql('ts')} AS ts,
       {dround_sql('value - v2', 6)} AS rise
FROM seq
WHERE v2 IS NOT NULL AND value > v1 AND v1 > v2
""",
)
def win_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection, MATCH_RECOGNIZE re-expressed as lag
    windows (NM: three consecutive rising samples = ramp alert — the
    pattern rule engines like Flink CEP run, here as one keyed window):
    emit the third row of every strictly-rising triple per source with
    the total rise. One user-keyed shuffle; the boolean chain is
    row-local after the lags. Longer patterns extend with more lags or
    a running state column — same single-exchange shape."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_id", "ts", "value").select(
        "*",
        F.lag("value", 1).over(w).alias("v1"),
        F.lag("value", 2).over(w).alias("v2"),
    )
    return seq.filter(
        F.col("v2").isNotNull()
        & (F.col("value") > F.col("v1"))
        & (F.col("v1") > F.col("v2"))
    ).select(
        "user_id",
        "event_id",
        ts_str("ts").alias("ts"),
        dround(F.col("value") - F.col("v2"), 6).alias("rise"),
    )


# ---------------------------------------------------------------------------
# ts_seasonal_baseline — deviation from the hour-of-day norm
# ---------------------------------------------------------------------------


@query(
    "ts_seasonal_baseline",
    oracle=f"""
WITH base AS (
  SELECT event_type, hour(CAST(ts AS TIMESTAMP)) AS hod,
         {davg_sql('value')} AS baseline
  FROM events GROUP BY 1, 2
)
SELECT e.event_id, e.event_type,
       CAST(hour(CAST(e.ts AS TIMESTAMP)) AS BIGINT) AS hod,
       b.baseline,
       {dround_sql('e.value - b.baseline', 6)} AS deviation
FROM events e
JOIN base b ON e.event_type = b.event_type
          AND hour(CAST(e.ts AS TIMESTAMP)) = b.hod
""",
)
def ts_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal normalization (NM: alert on deviation from the hour-of-day
    NORM, not a flat threshold — nightly backup traffic is normal at 3am,
    an incident at 3pm): pass 1 computes the (type × hour) baseline means
    (exact-decimal avg, a 120-row frame); pass 2 joins them BACK to every
    sample by broadcast and scores the deviation (identical IEEE
    subtraction). The baseline frame is vocabulary-sized at any data
    scale, so the enrichment join broadcasts forever — the two-pass
    'aggregate tiny, broadcast back' shape used by decontaminate and
    boilerplate."""
    e = load_table(spark, sf_dir, "events")
    base = (
        e.groupBy("event_type", F.hour("ts").alias("hod"))
        .agg(davg("value", 6).alias("baseline"))
    )
    return (
        e.select("event_id", "event_type", F.hour("ts").alias("hod"), "value")
        .join(F.broadcast(base), ["event_type", "hod"])
        .select(
            "event_id",
            "event_type",
            F.col("hod").cast("long").alias("hod"),
            "baseline",
            dround(F.col("value") - F.col("baseline"), 6).alias("deviation"),
        )
    )


# ---------------------------------------------------------------------------
# events_user_overlap_jaccard — audience overlap between metric types
# ---------------------------------------------------------------------------


@query(
    "events_user_overlap_jaccard",
    oracle=f"""
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM events
), sizes AS (
  SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type
), inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b,
       CAST(i.n_both AS BIGINT) AS n_both,
       {dround_sql('CAST(i.n_both AS DOUBLE) / (sa.n + sb.n - i.n_both)', 6)} AS jaccard
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
""",
)
def events_user_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between metric types (NM: do the hosts reporting
    errors overlap the hosts reporting purchases? — correlated-signal
    discovery): Jaccard of the distinct-user sets per type pair. The
    self-join is keyed on user_id over the DEDUPLICATED (type, user)
    frame — fan-out per user is (types-per-user)², bounded by the type
    vocabulary, never by row count; set sizes broadcast back. Exact
    integer counts, one final identical division."""
    e = load_table(spark, sf_dir, "events")
    tu = e.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(F.count("*").alias("n"))
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("long").alias("n_both"),
            dround(
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# fn_ip_subnet — subnet rollup of per-host traffic
# ---------------------------------------------------------------------------


@query(
    "fn_ip_subnet",
    oracle=f"""
WITH addr AS (
  SELECT user_id, value,
         '10.' || CAST((user_id // 256) % 256 AS VARCHAR) || '.'
                || CAST(user_id % 256 AS VARCHAR) || '.'
                || CAST(1 + (user_id % 250) AS VARCHAR) AS ip
  FROM events
), parsed AS (
  SELECT user_id, value, ip,
         string_split(ip, '.') AS octets
  FROM addr
)
SELECT CAST(octets[1] || '.' || octets[2] || '.' || octets[3] || '.0/24' AS VARCHAR) AS subnet,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_hosts,
       {dsum_sql('value')} AS total_value
FROM parsed
GROUP BY 1
""",
)
def fn_ip_subnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-/24-subnet traffic rollup — the literal netmonitor computation
    (which racks talk most): host addresses derived deterministically from
    source ids (the testdata carries no IP column; the derivation is the
    same expression in both engines, so the parse→mask→rollup machinery is
    what is verified), split into octets, masked to the /24, aggregated.
    All string/arithmetic work is row-local codegen; one grouped shuffle
    of subnet-sized partials."""
    e = load_table(spark, sf_dir, "events")
    ip = F.concat_ws(
        ".",
        F.lit("10"),
        ((F.col("user_id") / 256).cast("long") % 256).cast("string"),
        (F.col("user_id") % 256).cast("string"),
        (F.lit(1) + F.col("user_id") % 250).cast("string"),
    )
    octets = F.split(ip, r"\.")
    subnet = F.concat_ws(
        ".", octets.getItem(0), octets.getItem(1), octets.getItem(2), F.lit("0/24")
    )
    return (
        e.select("user_id", "value", subnet.alias("subnet"))
        .groupBy("subnet")
        .agg(
            F.count("*").alias("n_samples"),
            F.countDistinct("user_id").cast("long").alias("n_hosts"),
            dsum("value").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# win_streak_length — longest consecutive-day reporting streak
# ---------------------------------------------------------------------------


@query(
    "win_streak_length",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
  FROM events
), isl AS (
  SELECT user_id, d,
         CAST(d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER)
              AS DATE) AS anchor
  FROM days
), streaks AS (
  SELECT user_id, anchor, COUNT(*) AS len
  FROM isl GROUP BY user_id, anchor
)
SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak_days
FROM streaks GROUP BY user_id
""",
)
def win_streak_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day reporting streak per source (NM:
    reliability scoring — how long did each host report without a
    miss?): classic gaps-and-islands via the date-minus-row-number
    anchor, entirely on the DEDUPLICATED (user, day) frame (≤ 30 rows
    per user regardless of sample volume). One keyed shuffle reused by
    the window and both aggregates."""
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = isl.groupBy("user_id", "anchor").agg(F.count("*").alias("len"))
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak_days")
    )


# ---------------------------------------------------------------------------
# agg_sla_availability — uptime scoring
# ---------------------------------------------------------------------------


@query(
    "agg_sla_availability",
    oracle=f"""
WITH span AS (
  SELECT CAST(CAST(MIN(ts) AS TIMESTAMP) AS DATE) AS d0,
         CAST(CAST(MAX(ts) AS TIMESTAMP) AS DATE) AS d1
  FROM events
), days AS (
  SELECT user_id, COUNT(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS days_reported
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(days_reported AS BIGINT) AS days_reported,
       {dround_sql("CAST(days_reported AS DOUBLE) / ((SELECT d1 - d0 FROM span) + 1)", 6)} AS availability,
       CAST(days_reported AS DOUBLE) / ((SELECT d1 - d0 FROM span) + 1) >= 0.9 AS sla_met
FROM days
""",
)
def agg_sla_availability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source availability scoring (NM: SLA reporting — on what share
    of the observation window did each host report at least once?):
    distinct reporting days over the global day span, with a 90 % SLA
    verdict. The span is a 1-row broadcast scalar (exact integer day
    arithmetic); the per-source distinct-day count is one keyed
    aggregate. Pairs with `win_streak_length` (continuity) and
    `ts_sla_gap_detect` (incidents) as the reliability suite."""
    e = load_table(spark, sf_dir, "events")
    span = e.agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias("span_d")
    )
    days = e.groupBy("user_id").agg(
        F.countDistinct(F.to_date("ts")).alias("days_reported")
    )
    avail = F.col("days_reported").cast("double") / (
        F.col("span_d") + F.lit(1)
    ).cast("double")
    return days.crossJoin(F.broadcast(span)).select(
        "user_id",
        F.col("days_reported").cast("long").alias("days_reported"),
        dround(avail, 6).alias("availability"),
        (avail >= 0.9).alias("sla_met"),
    )


# ---------------------------------------------------------------------------
# pipeline_data_card — the one-row corpus datasheet
# ---------------------------------------------------------------------------


@query(
    "pipeline_data_card",
    oracle=f"""
WITH t AS (
  SELECT lang, source, n_chars,
         len(list_filter({_TOKENS_SQL}, x -> x <> '')) AS n_tokens,
         md5(text) AS h
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM t
""",
)
def pipeline_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus DATA CARD (NORTH: the datasheet every released
    training set ships with): document/unique/token/char totals, language
    and source counts, length extremes — one global aggregate pass with
    row-local token counting, everything exact integers. At 100 TB this
    is one partial-aggregated scan; the per-stratum drill-down is
    `pipeline_corpus_report`."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(_tokens(), lambda t: t != "")
    scored = d.select(
        "lang",
        "source",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.md5("text").alias("h"),
    )
    return scored.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("h").alias("n_unique_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )
