"""Semantic unit tests for rows-only operators (SURVEY §5.2 tier 3).

The DuckDB oracle cannot check approximate/custom algorithms, so each one
gets a crafted-input test with a known answer: planted near-duplicates must
be found (and unrelated docs must NOT pair), the ANN probe must recall most
of the exact top-k, HLL must stay inside its error bound.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from storm_netmonitor_spark.io import scratch_dir
from storm_netmonitor_spark.registry import QUERIES

from .conftest import SF_CORRECT, SF_SMOKE

BASE = (
    "scan the table for rows where the key matches the filter and return "
    "the aggregated value of every matching row in sorted order fast"
)
NEAR_DUP = BASE.replace("sorted", "stable")  # one token changed
UNRELATED = [
    "completely different words about streaming windows and watermarks here",
    "join strategies broadcast shuffle partition skew salt adaptive engine",
    "vector cosine similarity embedding nearest neighbor index probe block",
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
]


@pytest.fixture(scope="module")
def planted_docs_dir():
    """A documents table with one planted near-dup pair (0,1) and four
    mutually-unrelated docs — staged so operators load it via sf_dir."""
    texts = [BASE, NEAR_DUP, *UNRELATED]
    d = scratch_dir("nm_planted_")
    t = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["src0"] * len(texts), pa.string()),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    pq.write_table(t, os.path.join(d, "documents.parquet"))
    return d


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.select("doc_a", "doc_b").collect()}


def test_minhash_finds_planted_pair(spark, planted_docs_dir):
    pairs = _pairs(QUERIES["text_near_dedup_minhash"](spark, planted_docs_dir))
    assert (0, 1) in pairs, f"planted near-dup not found: {pairs}"
    assert all(p == (0, 1) for p in pairs), f"false positives: {pairs}"


def test_simhash_finds_planted_pair(spark, planted_docs_dir):
    pairs = _pairs(QUERIES["text_near_dedup_simhash"](spark, planted_docs_dir))
    assert (0, 1) in pairs, f"planted near-dup not found: {pairs}"
    assert all(p == (0, 1) for p in pairs), f"false positives: {pairs}"


def _shingles(text: str, k: int = 3) -> set[tuple[str, ...]]:
    toks = text.lower().split()
    return {tuple(toks[i : i + k]) for i in range(max(1, len(toks) - k + 1))}


def test_minhash_pairs_are_true_near_dups(spark):
    """Every pair the LSH pipeline reports on the real corpus must be a
    TRUE near-duplicate: shingle-Jaccard ≥ 0.5 recomputed independently in
    plain Python on the raw texts."""
    from storm_netmonitor_spark.io import load_table

    pairs = QUERIES["text_near_dedup_minhash"](spark, SF_CORRECT).collect()
    assert 0 < len(pairs) < 100  # small vocabulary → a few genuine near-dups
    texts = {
        r.doc_id: r.text
        for r in load_table(spark, SF_CORRECT, "documents")
        .select("doc_id", "text")
        .collect()
    }
    for r in pairs:
        a, b = _shingles(texts[r.doc_a]), _shingles(texts[r.doc_b])
        j = len(a & b) / len(a | b)
        assert j >= 0.5, f"({r.doc_a},{r.doc_b}) reported but Jaccard={j:.3f}"


def test_approx_distinct_error_bound(spark):
    exact = {
        r.event_type: r.n_users
        for r in QUERIES["agg_count_distinct"](spark, SF_CORRECT).collect()
    }
    from storm_netmonitor_spark.operators.aggregations import (
        approx_distinct_estimates,
    )

    approx = {
        r.event_type: r.approx_users
        for r in approx_distinct_estimates(spark, SF_CORRECT).collect()
    }
    assert set(exact) == set(approx)
    for k, ex in exact.items():
        assert abs(approx[k] - ex) <= max(2, 0.05 * ex), (
            f"{k}: approx {approx[k]} vs exact {ex}"
        )


def test_ann_ivf_recall(spark):
    exact = {r.vec_id for r in QUERIES["vec_knn_cosine"](spark, SF_CORRECT).collect()}
    ann = {r.vec_id for r in QUERIES["vec_ann_ivf"](spark, SF_CORRECT).collect()}
    # 3-of-10 probes scan ~30% of blocks; unit vectors cluster by label, so
    # recall should be high — require ≥ 7/10.
    assert len(exact & ann) >= 7, f"recall {len(exact & ann)}/10"


def test_multimodal_decode_stub_plumbing(spark):
    """The decode step is stubbed (no image libs in this container) but the
    Spark plumbing — schema, mapInPandas batching — must be real, typed, and
    deterministic."""
    df = QUERIES["multimodal_decode_stub"](spark, SF_CORRECT)
    r1 = sorted(map(tuple, df.collect()))
    r2 = sorted(map(tuple, df.collect()))
    assert r1 == r2
    assert len(r1) > 0


def test_ann_lsh_recall(spark):
    exact = {r.vec_id for r in QUERIES["vec_knn_cosine"](spark, SF_CORRECT).collect()}
    ann = {r.vec_id for r in QUERIES["vec_ann_lsh"](spark, SF_CORRECT).collect()}
    # hamming<=2 probing scans a small fraction of buckets; on random
    # unit vectors (the hard case) recall should still capture half
    assert len(exact & ann) >= 5, f"recall {len(exact & ann)}/10"


def test_heavy_hitters_finds_planted_skew(spark):
    """A key owning ~30% of a skewed stream MUST survive the Misra-Gries
    summaries and be reported with its EXACT count."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    n, hot, hot_share = 20_000, 7, 6_000
    uids = ([hot] * hot_share) + [1000 + i % 400 for i in range(n - hot_share)]
    d = scratch_dir("nm_skew_")
    t = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_000 + i for i in range(n)],
                           pa.int64()).cast(pa.timestamp("ns")),
            "user_id": pa.array(uids, pa.int64()),
            "event_type": pa.array(["view"] * n, pa.string()),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(t, os.path.join(d, "events.parquet"))
    top = QUERIES["agg_heavy_hitters_approx"](spark, d).collect()
    assert top[0].user_id == hot and top[0].n_events == hot_share, top[:2]


def test_heavy_hitters_eviction_regime_keeps_hot_key(spark):
    """With MORE distinct keys than the MG capacity (4096), the decrement
    step actually evicts — and the pigeonhole guarantee must still carry a
    key owning ~30% of the stream into the candidate set with its EXACT
    count. (The planted-skew test above stays under capacity and covers
    the no-eviction fast path.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    from storm_netmonitor_spark.operators.aggregations import _MG_CAPACITY

    n_keys = 3 * _MG_CAPACITY  # force eviction on every partition
    n, hot, hot_share = 40_000, 7, 12_000
    uids = ([hot] * hot_share) + [
        100_000 + i % n_keys for i in range(n - hot_share)
    ]
    d = scratch_dir("nm_skew_evict_")
    t = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_000 + i for i in range(n)],
                           pa.int64()).cast(pa.timestamp("ns")),
            "user_id": pa.array(uids, pa.int64()),
            "event_type": pa.array(["view"] * n, pa.string()),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(t, os.path.join(d, "events.parquet"))
    top = QUERIES["agg_heavy_hitters_approx"](spark, d).collect()
    assert top[0].user_id == hot and top[0].n_events == hot_share, top[:2]


def test_clean_html_strips_planted_markup(spark):
    """Planted HTML + URLs: the cleaning op must count the URLs and report
    the hand-computed post-strip length."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    raw = "<p>hello <b>world</b></p> see https://example.com/x now"
    # strip tags -> ' hello  world  see https://example.com/x now' (runs
    # collapsed, trimmed) = 'hello world see https://example.com/x now'
    want_clean = "hello world see https://example.com/x now"
    d = scratch_dir("nm_html_")
    t = pa.table(
        {
            "doc_id": pa.array([0], pa.int64()),
            "text": pa.array([raw], pa.string()),
            "lang": pa.array(["en"], pa.string()),
            "source": pa.array(["src0"], pa.string()),
            "n_chars": pa.array([len(raw)], pa.int64()),
        }
    )
    pq.write_table(t, os.path.join(d, "documents.parquet"))
    row = QUERIES["text_clean_html"](spark, d).collect()[0]
    assert row.total_urls == 1
    assert row.total_clean_chars == len(want_clean), (
        row.total_clean_chars, len(want_clean))
    assert row.total_raw_chars == len(raw)


def test_split_hash_partitions_corpus(spark):
    """Every doc gets exactly one split; proportions approximate the
    12/2/2 sixteenths design; assignment is deterministic across runs."""
    a = QUERIES["sample_split_hash"](spark, SF_CORRECT).collect()
    b = QUERIES["sample_split_hash"](spark, SF_CORRECT).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    n = len(a)
    by = {}
    for r in a:
        by[r.split] = by.get(r.split, 0) + 1
    assert set(by) == {"train", "val", "test"}
    assert sum(by.values()) == n
    # 75% ± 10pp at n=500 (binomial σ ≈ 1.9pp)
    assert 0.65 <= by["train"] / n <= 0.85, by


def test_pack_sequences_bins_are_contiguous_and_bounded(spark):
    """Within a language, bin ids are nondecreasing in doc order, start at
    0, and a bin only exceeds the budget via its LAST doc (a doc never
    splits, so the overshoot is bounded by one document)."""
    from storm_netmonitor_spark.operators.pipeline import PACK_BUDGET_CHARS

    rows = QUERIES["pack_sequences"](spark, SF_CORRECT).collect()
    docs = {
        r.doc_id: r.n_chars
        for r in QUERIES["sample_split_hash"](spark, SF_CORRECT)
        .sparkSession.read.parquet(SF_CORRECT + "/documents.parquet")
        .collect()
    }
    by_lang: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: r.doc_id):
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        assert rs[0].bin_id == 0, (lang, rs[0])
        assert all(x.bin_id <= y.bin_id for x, y in zip(rs, rs[1:]))
        # reconstruct bin char totals
        totals: dict[int, int] = {}
        for r in rs:
            totals[r.bin_id] = totals.get(r.bin_id, 0) + docs[r.doc_id]
        for b, tot in totals.items():
            last_doc = [r for r in rs if r.bin_id == b][-1]
            assert tot - docs[last_doc.doc_id] < PACK_BUDGET_CHARS, (lang, b, tot)


def test_sessionize_batch_matches_stream_session(spark):
    """The batch gap-island sessionization must produce the same sessions
    (start, size) as the streaming session_window operator."""
    batch = {
        (r.user_id, r.session_start, r.n_events)
        for r in QUERIES["win_sessionize_batch"](spark, SF_CORRECT).collect()
    }
    stream = {
        (r.user_id, r.session_start, r.n_events)
        for r in QUERIES["stream_session"](spark, SF_CORRECT).collect()
    }
    assert batch == stream


def test_approx_quantile_error_bound(spark):
    """GK-sketch quantiles at accuracy 10000 must land within a tight
    value tolerance of the exact interpolated percentiles."""
    import duckdb

    from storm_netmonitor_spark.operators.extras import (
        approx_quantile_estimates,
    )

    approx = {
        r.event_type: (r.p50_approx, r.p95_approx)
        for r in approx_quantile_estimates(spark, SF_CORRECT).collect()
    }
    con = duckdb.connect()
    exact = {
        t: (p50, p95)
        for t, p50, p95 in con.execute(
            "SELECT event_type, quantile_cont(value, 0.5), quantile_cont(value, 0.95) "
            f"FROM read_parquet('{SF_CORRECT}/events.parquet') GROUP BY event_type"
        ).fetchall()
    }
    con.close()
    assert set(approx) == set(exact)
    for t, (a50, a95) in approx.items():
        e50, e95 = exact[t]
        assert abs(a50 - e50) <= max(1.0, 0.01 * abs(e50)), (t, a50, e50)
        assert abs(a95 - e95) <= max(1.0, 0.01 * abs(e95)), (t, a95, e95)


def test_semantic_dedup_planted_duplicate(spark):
    """A planted exact-duplicate embedding must be flagged by SemDeDup
    (cosine 1.0 ≥ tau within its cluster); without the plant, the random
    unit vectors contain no pair above tau. Run twice for determinism."""
    import hashlib
    import math

    from storm_netmonitor_spark.operators.corpus import semantic_dedup_summary

    def unit(seed: int) -> list[float]:
        # deterministic uncorrelated unit vector: hash-driven components
        raw = [
            int.from_bytes(
                hashlib.sha256(f"{seed}:{i}".encode()).digest()[:4], "big"
            )
            / 2**31
            - 1.0
            for i in range(64)
        ]
        nrm = math.sqrt(sum(x * x for x in raw))
        return [x / nrm for x in raw]

    vecs = [(i, unit(i)) for i in range(1, 41)]
    vecs.append((99, unit(7)))  # exact duplicate of vec_id 7
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>"
    )
    out1 = [tuple(r) for r in semantic_dedup_summary(spark, emb, k=8).collect()]
    out2 = [tuple(r) for r in semantic_dedup_summary(spark, emb, k=8).collect()]
    assert out1 == out2, "semantic dedup is not run-to-run deterministic"
    assert sum(n for _, _, n in out1) == 1, f"expected exactly the planted dup: {out1}"
    assert sum(n for _, n, _ in out1) == 41


def test_semantic_dup_pairs_consistent_with_census(spark):
    """The pair-level kernel (r10, the joined-modality dedup's vec edge
    source) must agree EXACTLY with the census op on the real corpus:
    per cluster, n_dups == |distinct higher vec_ids appearing in pairs|,
    pairs are ordered (a<b), and the planted-pair shape from the census
    test reproduces at pair granularity."""
    from pyspark.sql import functions as F

    from storm_netmonitor_spark.io import load_table
    from storm_netmonitor_spark.operators.corpus import (
        semantic_dedup_summary,
        semantic_dup_pairs,
        semdedup_assignment,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings").select(
        "vec_id", "embedding"
    )
    import os

    key = os.path.abspath(SF_CORRECT)
    census = {
        r["cluster"]: r["n_dups"]
        for r in semantic_dedup_summary(spark, emb, cache_key=key).collect()
    }
    pairs = semantic_dup_pairs(spark, emb, cache_key=key)
    rows = pairs.collect()
    assert all(r["a_id"] < r["b_id"] for r in rows)
    assign = {
        r["vec_id"]: r["k"]
        for r in semdedup_assignment(spark, emb, cache_key=key)
        .select("vec_id", "k")
        .collect()
    }
    per_cluster: dict = {}
    for r in rows:
        assert assign[r["a_id"]] == assign[r["b_id"]]  # within-cluster only
        per_cluster.setdefault(assign[r["b_id"]], set()).add(r["b_id"])
    got = {c: len(v) for c, v in per_cluster.items()}
    want = {c: n for c, n in census.items() if n > 0}
    assert got == want


def test_connected_components_chain_transitivity(spark):
    """A~B and B~C must land in one component even though A and C share no
    edge; disconnected pairs stay separate; singletons label themselves."""
    from storm_netmonitor_spark.operators.corpus import connected_components

    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long")
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    got = {r.doc_id: r.component for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_hll_sketch_merge_consistency(spark):
    """The per-day HLL sketches must union to (a) an estimate within 5% of
    the exact global distinct count and (b) the SAME estimate a direct
    whole-table sketch gives — mergeability is the entire 100 TB point."""
    from pyspark.sql import functions as F

    from storm_netmonitor_spark.io import load_table

    from storm_netmonitor_spark.operators.surface import hll_sketch_estimates

    rows = {
        r.event_date: r.distinct_users_est
        for r in hll_sketch_estimates(spark, SF_CORRECT).collect()
    }
    merged_est = rows.pop("__ALL__")
    e = load_table(spark, SF_CORRECT, "events")
    exact = e.select("user_id").distinct().count()
    assert abs(merged_est - exact) <= max(2, 0.05 * exact), (
        f"merged {merged_est} vs exact {exact}"
    )
    direct = e.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias("est")
    ).first()
    assert merged_est == direct.est, "daily-union estimate != direct estimate"
    assert rows, "no per-day rows"


def test_stream_distinct_approx_matches_batch(spark):
    """HLL++ register merge is commutative: the streamed per-window
    estimate must EQUAL the batch estimate over the same rows, and sit
    within 5% of exact."""
    from pyspark.sql import functions as F

    from storm_netmonitor_spark.functions.stable import ts_str
    from storm_netmonitor_spark.io import load_table
    from storm_netmonitor_spark.streaming.windows import STREAM_DISTINCT_RSD

    from storm_netmonitor_spark.streaming.windows import (
        stream_distinct_estimates,
    )

    streamed = {
        (r.window_start, r.event_type): (r.approx_users, r.n_events)
        for r in stream_distinct_estimates(spark, SF_CORRECT).collect()
    }
    e = load_table(spark, SF_CORRECT, "events")
    batch = {
        (r.window_start, r.event_type): (r.approx_users, r.n_events, r.exact_users)
        for r in e.groupBy(
            ts_str(F.date_trunc("hour", "ts")).alias("window_start"), "event_type"
        )
        .agg(
            F.approx_count_distinct("user_id", STREAM_DISTINCT_RSD).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .collect()
    }
    assert set(streamed) == set(batch)
    for k, (s_approx, s_n) in streamed.items():
        b_approx, b_n, b_exact = batch[k]
        assert s_n == b_n, f"{k}: row counts differ"
        assert s_approx == b_approx, f"{k}: stream {s_approx} != batch {b_approx}"
        assert abs(s_approx - b_exact) <= max(2, 0.05 * b_exact)


def test_stream_gap_alert_state_crosses_batches(spark):
    """The gap detector's whole point is state carrying the last sample
    time ACROSS micro-batches: split events into 4 files processed one per
    batch (maxFilesPerTrigger=1) and the emitted alerts must still equal
    the single-batch run over the same data — i.e. gaps spanning a batch
    boundary are neither lost nor duplicated."""
    from storm_netmonitor_spark.streaming.alerts import (
        _GAP_OUT,
        _GAP_STATE,
        _gap_fn,
    )
    from storm_netmonitor_spark.streaming.core import (
        drain_to_memory,
        staged_stream,
    )
    from storm_netmonitor_spark.streaming.stateful import _read_events_arrow

    t = _read_events_arrow(SF_CORRECT)
    d = scratch_dir("nm_gap_parts_")
    step = (t.num_rows + 3) // 4
    for i in range(4):
        f = os.path.join(d, f"p{i}.parquet")
        pq.write_table(t.slice(i * step, step), f)
        os.utime(f, (1_700_000_000 + i * 1000,) * 2)

    s = staged_stream(spark, d)
    alerts = (
        s.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _gap_fn, _GAP_OUT, _GAP_STATE, "append", "NoTimeout"
        )
    )
    multi = {
        tuple(r) for r in drain_to_memory(alerts, mode="append").collect()
    }
    single = {
        tuple(r)
        for r in QUERIES["stream_gap_alert"](spark, SF_CORRECT).collect()
    }
    assert multi == single
    assert len(single) > 0, "no gaps in testdata — threshold too high to test"


def test_cli_list_and_run():
    """The __main__ CLI surface: list filters ids; run executes a query
    in a subprocess (own SparkSession) and prints rows; run --profile
    prints one JSON line per timed call with its drains' records, each
    4-file staged drain with 4 batches and at least that many jobs in its
    runId group, then the median wall."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-m", "storm_netmonitor_spark", "list", "pareto"],
        capture_output=True, text=True, cwd=repo, timeout=120,
    )
    assert out.returncode == 0 and "agg_pareto_talkers\thash" in out.stdout
    bad = subprocess.run(
        [sys.executable, "-m", "storm_netmonitor_spark", "run", "nope"],
        capture_output=True, text=True, cwd=repo, timeout=120,
    )
    assert bad.returncode == 2 and "unknown query id" in bad.stderr
    prof = subprocess.run(
        [sys.executable, "-m", "storm_netmonitor_spark", "run",
         "stream_incremental_rollup", "--sf-dir", SF_SMOKE, "--profile"],
        capture_output=True, text=True, cwd=repo, timeout=600,
    )
    assert prof.returncode == 0, prof.stderr[-2000:]
    *calls, median = [json.loads(ln) for ln in prof.stdout.splitlines()]
    assert [c["call"] for c in calls] == [0, 1, 2]
    for c in calls:
        [d] = c["drains"]
        assert (len(d["batches"]), d["error"]) == (4, None)
        assert d["jobs"] >= 4 and c["wall_s"] > 0
        assert set(c["jobs"]) == {"build", "collect", "recollect"}
        assert c["recollect_s"] > 0
    assert median["median_wall_s"] > 0 and median["median_recollect_s"] > 0


def test_lloyd_round_semantics(spark):
    """The fused Lloyd helpers: assignment routes to the argmax-dot
    centroid with first-max (smallest-k) tie-break; the round returns
    L2-normalized means; an emptied cluster keeps its previous centroid."""
    from storm_netmonitor_spark.operators.vectors import (
        _assign_rowlocal,
        _lloyd_round,
    )

    # 2-d toy: vectors on the axes; centroid 0 = +x, centroid 1 = +y,
    # centroid 2 = -x (never nearest -> empties)
    cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]]
    rows = [
        (1, [2.0, 0.1]),   # -> k=0
        (2, [0.1, 3.0]),   # -> k=1
        (3, [4.0, 0.0]),   # -> k=0
        (4, [1.0, 1.0]),   # tie dot(k0)=1.0 dot(k1)=1.0 -> smallest k=0
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["k"] for r in _assign_rowlocal(e, cents).collect()
    }
    assert got == {1: 0, 2: 1, 3: 0, 4: 0}

    out = _lloyd_round(spark, e, cents)
    # cluster 0 mean of (2,.1),(4,0),(1,1) = (7/3, 1.1/3), normalized
    import math

    m0 = [7 / 3, 1.1 / 3]
    n0 = math.sqrt(sum(x * x for x in m0))
    assert all(abs(a - b / n0) < 1e-12 for a, b in zip(out[0], m0))
    # cluster 1 = (0.1, 3.0) normalized
    n1 = math.sqrt(0.1**2 + 3.0**2)
    assert all(abs(a - b / n1) < 1e-12 for a, b in zip(out[1], [0.1, 3.0]))
    # cluster 2 emptied -> previous centroid preserved verbatim
    assert out[2] == [-1.0, 0.0]


def test_gram_builders_tolerate_short_documents(spark):
    """Spark sequence(1, 0) descends instead of emitting empty; the
    bigram/trigram builders must return NO grams for 1-2-token documents
    (matching DuckDB generate_series) rather than crash element_at/slice
    under ANSI mode. Guards exist in text_ngrams, text_ngram_jaccard,
    gopher, decontaminate, and boilerplate; this pins the two that were
    missing them."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "solo"), (2, "two words"), (3, "now three words here")],
        "doc_id long, text string",
    )
    tk = df.select("doc_id", F.split(F.lower("text"), " ").alias("tk"))
    bigrams = F.when(
        F.size("tk") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("tk"), i), F.element_at(F.col("tk"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.expr(
        "CASE WHEN size(tk) >= 3 THEN"
        " transform(sequence(1, size(tk) - 2),"
        " i -> concat_ws(' ', slice(tk, i, 3)))"
        " ELSE CAST(array() AS array<string>) END"
    )
    rows = {
        r["doc_id"]: (r["b"], r["g"])
        for r in tk.select("doc_id", bigrams.alias("b"), grams.alias("g")).collect()
    }
    assert rows[1] == ([], [])
    assert rows[2] == (["two words"], [])
    assert rows[3] == (
        ["now three", "three words", "words here"],
        ["now three words", "three words here"],
    )


def test_suppress_fn_rearm_boundary_and_stragglers():
    """Direct sweep-function semantics (no Spark): the re-arm boundary is
    inclusive (t == next_ok pages), stragglers older than the re-arm
    point are suppressed and never double-page, and state persists the
    re-arm time across batches."""
    import pandas as pd

    from storm_netmonitor_spark.streaming.alerts import _SUP_US, _suppress_fn

    class FakeState:
        def __init__(self, value=None):
            self._v = value

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    def run(ts_us, state):
        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime([t * 1000 for t in ts_us]),  # ns
                "event_id": range(len(ts_us)),
            }
        )
        [out] = list(_suppress_fn((7,), iter([pdf]), state))
        return out

    # fresh state: first alert pages, in-window suppressed, re-arm pages
    st = FakeState()
    out = run([0, 10, _SUP_US], st)
    assert (out.n_alerts[0], out.n_emitted[0], out.n_suppressed[0]) == (3, 2, 1)
    assert st.get == (_SUP_US + _SUP_US,)

    # boundary: t exactly at the re-arm point pages (>= semantics)
    st = FakeState((100,))
    out = run([100], st)
    assert out.n_emitted[0] == 1 and st.get == (100 + _SUP_US,)

    # straggler older than the carried re-arm point: suppressed, state kept
    st = FakeState((5_000_000_000,))
    out = run([10], st)
    assert (out.n_emitted[0], out.n_suppressed[0]) == (0, 1)
    assert st.get == (5_000_000_000,)


def test_dwell_assigns_gap_to_entered_state(spark):
    """Dwell kernel: each gap belongs to the event that OPENED it (the
    state the source entered), equal-ts ties order by event_id, and the
    final event per source contributes nothing."""
    import datetime as dt

    from storm_netmonitor_spark.operators.extensions4 import dwell_by_type

    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        # user 1: A(0) -> B(10) -> A(25): dwell A=10, B=15; last A dropped
        (1, ts(0), 1, "A"),
        (1, ts(10), 2, "B"),
        (1, ts(25), 3, "A"),
        # user 2: two events at the SAME ts — event_id orders them:
        # C(id=4) -> C(id=5) dwell 0, then C(id=5) -> B(100) dwell 100
        (2, ts(0), 4, "C"),
        (2, ts(0), 5, "C"),
        (2, ts(100), 6, "B"),
    ]
    e = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = {
        r["event_type"]: (r["n_dwell"], r["total_dwell_us"], r["avg_dwell_s"])
        for r in dwell_by_type(e).collect()
    }
    assert got["A"] == (1, 10_000_000, 10.0)
    assert got["B"] == (1, 15_000_000, 15.0)
    assert got["C"] == (2, 100_000_000, 50.0)


def test_path_trigrams_count_and_tiebreak(spark):
    """Trigram kernel: sliding (not tumbling) windows per source, no
    cross-source paths, deterministic (count DESC, path ASC) cut."""
    import datetime as dt

    from storm_netmonitor_spark.operators.extensions4 import path_trigrams_over

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: A B A B -> paths "A > B > A", "B > A > B"
    for i, et in enumerate(["A", "B", "A", "B"]):
        rows.append((1, t0 + dt.timedelta(seconds=i), i, et))
    # user 2: only two events -> no trigram, and no path bridging users
    rows += [(2, t0, 100, "B"), (2, t0 + dt.timedelta(seconds=1), 101, "A")]
    e = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = [(r["path"], r["n_paths"]) for r in path_trigrams_over(e, k=1).collect()]
    # both paths have count 1 -> path ASC breaks the tie
    assert got == [("A > B > A", 1)]


def test_burn_rate_range_frame_and_page_logic(spark):
    """Burn-rate kernel: the slow window is a RANGE frame over hour
    NUMBERS (a 10-hour gap leaves the old bucket outside the trailing-6
    frame), and paging requires BOTH thresholds."""
    import datetime as dt

    from storm_netmonitor_spark.operators.extensions4 import burn_rate_over

    t0 = dt.datetime(2024, 1, 1)
    rows = []

    def hour(h, n_err, n_ok):
        for i in range(n_err):
            rows.append((t0 + dt.timedelta(hours=h, seconds=i), "error"))
        for i in range(n_ok):
            rows.append((t0 + dt.timedelta(hours=h, minutes=30, seconds=i), "view"))

    hour(0, 4, 0)    # all errors — fast 1.0
    hour(12, 0, 10)  # clean bucket 12 hours later — slow frame excludes hour 0
    hour(13, 5, 5)   # fast 0.5 >= .35; slow = 5/20 = 0.25 >= .25 -> page
    e = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {r["hour_num"] % 24: r for r in burn_rate_over(e).collect()}
    assert out[0]["page"] is True          # 4/4 on both windows
    assert out[12]["fast_ratio"] == 0.0
    assert out[12]["page"] is False        # gap evicted hour 0 from the frame
    assert out[13]["page"] is True
    assert out[13]["slow_ratio"] == 0.25   # only hours 12+13 in the frame


def test_rolling_actives_window_and_observed_days(spark):
    """Rolling-actives kernel: WAU spans exactly 7 trailing days, a user
    active twice in one window counts once, and windows ending on days
    with no activity do not report."""
    import datetime as dt

    from storm_netmonitor_spark.operators.extensions4 import rolling_actives_over

    d0 = dt.date(2024, 1, 1)
    rows = [
        (d0, 1),
        (d0, 2),
        (d0 + dt.timedelta(days=2), 1),                  # u1 again in-window
        (d0 + dt.timedelta(days=9), 3),                  # beyond day0+6
    ]
    du = spark.createDataFrame(rows, "d date, user_id long")
    got = {r["day"]: (r["dau"], r["wau_7d"]) for r in rolling_actives_over(du).collect()}
    # only the 3 OBSERVED activity days report (no synthesized grid days)
    assert set(got) == {"2024-01-01", "2024-01-03", "2024-01-10"}
    assert got["2024-01-01"] == (2, 2)
    assert got["2024-01-03"] == (1, 2)   # u1 deduped across its two days
    assert got["2024-01-10"] == (1, 1)   # day-0/2 users aged out of the window


def test_concurrency_two_level_scan_matches_scalar_sweep(spark):
    """The distributed two-level prefix sum (within-bucket window +
    cross-bucket carry) must equal a scalar one-pass sweep, including
    end-before-start ordering at equal instants and carry across empty
    and multi-bucket spans."""
    from storm_netmonitor_spark.operators.extensions4 import (
        _CONC_BUCKET_US,
        concurrency_over,
    )

    B = _CONC_BUCKET_US
    # (t_us, delta, event_id): bucket 0 holds two overlapping intervals,
    # an equal-instant end/start pair sits at t=100, bucket 2 (bucket 1
    # empty) inherits a +1 carry.
    deltas = [
        (10, 1, 1),
        (50, 1, 2),
        (100, -1, 1),   # end of id=1 at the same instant as...
        (100, 1, 3),    # ...start of id=3: -1 sorts first (no phantom 3-peak)
        (2 * B + 10, -1, 2),
        (2 * B + 20, -1, 3),
    ]
    df = spark.createDataFrame(deltas, "t_us long, delta int, event_id long")
    got = {
        (r["t_us"], r["event_id"]): r["conc"]
        for r in concurrency_over(df).collect()
    }
    # scalar sweep over the same (t, delta, id) order
    running, want = 0, {}
    for t, d, i in sorted(deltas, key=lambda x: (x[0], x[1], x[2])):
        running += d
        want[(t, i)] = running
    assert got == want
    assert want[(100, 1)] == 1 and want[(100, 3)] == 2  # never 3 concurrent


def test_interleave_respects_weights_and_determinism(spark):
    """A weight-4 source must appear 4× as often as a weight-1 source in
    the stream prefix, and the stream must be identical across runs."""
    import __spark_entry__ as m

    q = m.queries()["pipeline_interleave_sources"]
    rows = q(spark, SF_CORRECT).collect()
    assert [r["global_pos"] for r in rows] == list(range(1, len(rows) + 1))
    by_w = {}
    for r in rows:
        by_w[r["w"]] = by_w.get(r["w"], 0) + 1
    # src indices 0..19 -> 5 sources per weight class 1..4; in any prefix
    # the per-class share scales with the weight (allow boundary slack).
    assert by_w[4] > by_w[2] > by_w[1]
    again = q(spark, SF_CORRECT).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_lttb_kernel_preserves_spikes_and_endpoints():
    """LTTB selection: endpoints always kept, a lone spike survives (the
    whole point vs uniform decimation), degenerate short series pass
    through, and equal-area ties break to the smaller x."""
    from storm_netmonitor_spark.operators.extensions4 import _lttb_select

    # short series: identity
    assert _lttb_select(list(range(5)), [1, 2, 3, 4, 5], m=30) == list(range(5))

    # flat 100-point series with one huge spike at i=57
    xs = list(range(100))
    ys = [10] * 100
    ys[57] = 10_000
    sel = _lttb_select(xs, ys, m=10)
    assert len(sel) == 10
    assert sel[0] == 0 and sel[-1] == 99
    assert 57 in sel, "spike dropped by downsampler"
    assert sel == sorted(sel)

    # all-flat: every area 0 -> first (smallest-x) point of each bucket
    flat = _lttb_select(xs, [7] * 100, m=10)
    assert flat[0] == 0 and flat[-1] == 99
    buckets = [1 + ((i - 1) * 8) // 98 for i in range(1, 99)]
    first_of = {}
    for i, b in zip(range(1, 99), buckets):
        first_of.setdefault(b, i)
    assert flat[1:-1] == [first_of[b] for b in range(1, 9)]


def test_flap_kernel_window_and_pattern(spark):
    """Flap kernel: A->B->A inside the window counts, the same pattern
    exceeding the window does not, A->A->A (no alternation) does not,
    and patterns never bridge sources."""
    import datetime as dt

    from storm_netmonitor_spark.operators.extensions4 import (
        _FLAP_WINDOW_US,
        flaps_by_source,
    )

    t0 = dt.datetime(2024, 1, 1)
    win_s = _FLAP_WINDOW_US // 1_000_000

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        # user 1: two quick flaps A>B>A>B (rows 3 and 4 each complete one)
        (1, ts(0), 1, "A"), (1, ts(10), 2, "B"),
        (1, ts(20), 3, "A"), (1, ts(30), 4, "B"),
        # user 2: A>B>A but the round trip exceeds the window -> no flap
        (2, ts(0), 5, "A"), (2, ts(10), 6, "B"),
        (2, ts(win_s + 60), 7, "A"),
        # user 3: A>A>A -> no alternation, no flap
        (3, ts(0), 8, "A"), (3, ts(10), 9, "A"), (3, ts(20), 10, "A"),
    ]
    e = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = {r["user_id"]: r["n_flaps"] for r in flaps_by_source(e).collect()}
    assert got == {1: 2}


def test_stream_burn_rate_equals_batch_twin(spark):
    """The live burn-rate drain must land on EXACTLY the batch twin's
    frame — and the staged 4-file source genuinely splits hour buckets
    across micro-batches (else the partial-merge claim tests nothing)."""
    from storm_netmonitor_spark.operators.extensions4 import _BURN_BUCKET_S
    from storm_netmonitor_spark.streaming.stateful import _read_events_arrow

    t = _read_events_arrow(SF_CORRECT)
    n_parts, step = 4, (t.num_rows + 3) // 4
    boundary_hours = set()
    col = t.column("ts").to_pylist()
    for i in range(1, n_parts):
        a, b = col[i * step - 1], col[i * step]
        ha = int(a.timestamp()) // _BURN_BUCKET_S
        hb = int(b.timestamp()) // _BURN_BUCKET_S
        if ha == hb:
            boundary_hours.add(ha)
    assert boundary_hours, "no hour bucket spans a batch boundary"

    live = sorted(map(tuple, QUERIES["stream_burn_rate"](spark, SF_CORRECT).collect()))
    batch = sorted(map(tuple, QUERIES["ts_sla_burn_rate"](spark, SF_CORRECT).collect()))
    assert live == batch


def test_extensions4_ops_match_python_references(spark):
    """Third-implementation cross-check at sf0.001: the Spark results for
    the §2.T sequence/corpus rollups must equal plain-Python references
    computed from the same loaded tables — independent of both Spark and
    the DuckDB oracles."""
    from collections import Counter, defaultdict

    from storm_netmonitor_spark.io import load_table

    SF = "/root/testdata/sf0.001"
    ev = sorted(
        load_table(spark, SF, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r)

    # events_path_ngrams
    paths = Counter()
    for seq in by_user.values():
        for a, b, c in zip(seq, seq[1:], seq[2:]):
            paths[f"{a.event_type} > {b.event_type} > {c.event_type}"] += 1
    want = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
    got = [
        (r.path, r.n_paths)
        for r in QUERIES["events_path_ngrams"](spark, SF).collect()
    ]
    assert got == want

    # events_new_sources_curve
    first_day = {}
    for u, seq in by_user.items():
        first_day[u] = min(r.ts.date() for r in seq)
    per_day = Counter(first_day.values())
    cum, want_curve = 0, {}
    for d in sorted(per_day):
        cum += per_day[d]
        want_curve[d.strftime("%Y-%m-%d")] = (per_day[d], cum)
    got_curve = {
        r.day: (r.n_new, r.fleet_cum)
        for r in QUERIES["events_new_sources_curve"](spark, SF).collect()
    }
    assert got_curve == want_curve

    # events_top_movers
    daily = Counter((r.user_id, r.ts.date()) for r in ev)
    movers = []
    for (u, d), n in daily.items():
        import datetime as dt

        prev = daily.get((u, d - dt.timedelta(days=1)))
        if prev is not None:
            movers.append((u, d.strftime("%Y-%m-%d"), prev, n, n - prev))
    movers.sort(key=lambda m: (-abs(m[4]), m[0], m[1]))
    want_m = movers[:15]
    got_m = [
        (r.user_id, r.day, r.prev_n, r.n, r.delta)
        for r in QUERIES["events_top_movers"](spark, SF).collect()
    ]
    assert got_m == want_m

    # text_ngram_novelty
    docs = sorted(
        load_table(spark, SF, "documents").select("doc_id", "text").collect(),
        key=lambda r: r.doc_id,
    )
    first_seen: dict[str, int] = {}
    want_nov = {}
    for r in docs:
        toks = r.text.lower().split(" ")
        grams = list(dict.fromkeys(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        )) if len(toks) >= 3 else []
        novel = 0
        for gm in grams:
            if gm not in first_seen:
                first_seen[gm] = r.doc_id
        # second pass AFTER the full corpus below
        want_nov[r.doc_id] = grams
    ref = {}
    for r in docs:
        grams = want_nov[r.doc_id]
        n_novel = sum(1 for gm in grams if first_seen[gm] == r.doc_id)
        share = round(n_novel / len(grams), 6) if grams else 0.0
        ref[r.doc_id] = (len(grams), n_novel, share)
    got_nov = {
        r.doc_id: (r.n_grams, r.n_novel, round(r.novelty_share, 6))
        for r in QUERIES["text_ngram_novelty"](spark, SF).collect()
    }
    assert got_nov == ref


def test_kernels_facade_is_complete_and_callable(spark):
    """The library facade must export every documented kernel, and a
    facade-imported kernel must behave identically to its home module."""
    from storm_netmonitor_spark import kernels

    assert sorted(kernels.__all__) == kernels.__all__  # keep it ordered
    for n in kernels.__all__:
        assert callable(getattr(kernels, n)), n
    # drive one DataFrame kernel and the pure-Python kernel via the facade
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    e = spark.createDataFrame(
        [(1, t0, 1, "A"), (1, t0 + dt.timedelta(seconds=5), 2, "B")],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    got = kernels.dwell_by_type(e).collect()
    assert len(got) == 1 and got[0]["event_type"] == "A"
    assert kernels.lttb_select([1, 2, 3], [5, 9, 1], m=30) == [0, 1, 2]


def test_knn_kernel_generalizes_query_and_k(spark):
    """knn_cosine must honor arbitrary query_id/k — verified against a
    numpy brute force over the real embeddings (cosine == dot on the
    L2-normalized corpus; decimal rounding at 6 digits)."""
    import numpy as np

    from storm_netmonitor_spark.io import load_table
    from storm_netmonitor_spark.kernels import knn_cosine

    SF = "/root/testdata/sf0.001"
    e = load_table(spark, SF, "embeddings")
    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in e.collect()}
    qid, k = 7, 3
    got = [(r.vec_id, r.cos_sim) for r in knn_cosine(e, query_id=qid, k=k).collect()]
    q = rows[qid]
    sims = sorted(
        ((round(float(np.dot(v, q)), 6), -vid) for vid, v in rows.items() if vid != qid),
        reverse=True,
    )[:k]
    want_ids = [-negid for _, negid in sims]
    assert [vid for vid, _ in got] == want_ids
    for (_, sim), (want_sim, _) in zip(got, sims):
        assert abs(sim - want_sim) < 1e-5


def test_near_dup_cosine_planted_pair(spark):
    """The blocked-cosine kernel on a constructed frame: a planted
    duplicate pair (sim 1.0) in one label is reported with its exact
    decimal sim, a sub-threshold pair (orthogonal) is not, and pairs
    never cross label blocks."""
    import math

    from storm_netmonitor_spark.operators.vectors import near_dup_cosine_pairs

    def unit(axis: int) -> list[float]:
        v = [0.0] * 8
        v[axis] = 1.0
        return v

    rows = [
        (1, unit(0), 0),       # dup of 2, same label
        (2, unit(0), 0),
        (3, unit(1), 0),       # orthogonal — below threshold
        (4, unit(2), 1),       # dup of 5 but DIFFERENT label than 1/2
        (5, unit(2), 1),
        (6, unit(0), 1),       # same direction as 1/2 but other label
    ]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {(r.a_id, r.b_id): r.sim for r in near_dup_cosine_pairs(e).collect()}
    assert set(got) == {(1, 2), (4, 5)}, got
    assert all(math.isclose(s, 1.0) for s in got.values()), got


def test_gram_candidates_chunked_merge_matches_bruteforce(spark, monkeypatch):
    """The chunked gram scan must produce identical candidates across
    strip boundaries: shrink the strip width so a ~40-vector block spans
    several strips and compare the top-16 shortlist AND the threshold
    survivors against single-pass numpy brute force."""
    import hashlib
    import math

    import numpy as np
    import pandas as pd

    from storm_netmonitor_spark.operators import vectors as V

    def unit(seed: int) -> list[float]:
        raw = [
            int.from_bytes(
                hashlib.sha256(f"g{seed}:{i}".encode()).digest()[:4], "big"
            )
            / 2**31
            - 1.0
            for i in range(8)
        ]
        nrm = math.sqrt(sum(x * x for x in raw))
        return [x / nrm for x in raw]

    vecs = [unit(i) for i in range(40)]
    vecs[7] = vecs[31]  # planted duplicate pair across strip boundaries
    pdf = pd.DataFrame(
        {"vec_id": range(40), "embedding": vecs, "label": [0] * 40}
    )
    m = np.array(vecs, dtype=np.float64)
    gram = m @ m.T
    iu = np.triu_indices(40, 1)

    monkeypatch.setattr(V, "_GRAM_CHUNK", 6)

    def top16(fs, a_idx, b_idx):
        return np.lexsort((b_idx, a_idx, -fs))[:16]

    got = V._gram_candidates(pdf.copy(), top16)
    order = np.lexsort((iu[1], iu[0], -gram[iu]))[:16]
    want = {(int(iu[0][i]), int(iu[1][i])) for i in order}
    assert set(zip(got["a_id"], got["b_id"])) == want

    got_thr = V._gram_candidates(pdf.copy(), lambda fs, a, b: fs >= 0.79)
    want_thr = {
        (int(a), int(b))
        for a, b, s in zip(iu[0], iu[1], gram[iu])
        if s >= 0.79
    }
    assert set(zip(got_thr["a_id"], got_thr["b_id"])) == want_thr
    assert (7, 31) in want_thr  # the planted pair actually crossed strips
