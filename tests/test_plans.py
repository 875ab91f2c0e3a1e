"""Plan-shape tests (SURVEY §5.2 tier 4): the 100 TB guarantees.

Correctness says the answer is right; these say the PLAN is the one that
survives a 1000-executor cluster: filters reach the parquet scan, column
pruning reaches the reader, small dims broadcast, and nothing degenerates
into a cartesian / broadcast-nested-loop shape.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from storm_netmonitor_spark.registry import QUERIES

from .conftest import SF_CORRECT


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    p = plan(QUERIES["scan_filtered"](spark, SF_CORRECT))
    assert "PushedFilters: [" in p
    # at least one real predicate pushed, not an empty list
    assert "PushedFilters: []" not in p


def test_column_pruning_reaches_scan(spark):
    p = plan(QUERIES["scan_pruned"](spark, SF_CORRECT))
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read, p
    # scan_pruned selects 2 of lineitem's 16 columns — the reader schema
    # must contain only those.
    assert "l_orderkey" in read[0] and "l_comment" not in read[0]


def test_dim_join_broadcasts(spark):
    p = plan(QUERIES["join_broadcast"](spark, SF_CORRECT))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_star_join_no_cartesian(spark):
    p = plan(QUERIES["join_star_multiway"](spark, SF_CORRECT))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_range_interval_join_not_quadratic(spark):
    """The time-proximity self-join must stay an equi-join on the bucketed
    key (SURVEY §4.3.3), never a nested-loop over all pairs."""
    p = plan(QUERIES["join_range_interval"](spark, SF_CORRECT))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_flagship_agg_has_partial_aggregation(spark):
    """Map-side combine is THE scale lever for the flagship agg: the plan
    must show partial + final HashAggregate around one exchange, i.e. the
    shuffle carries pre-aggregated groups, not raw rows."""
    p = plan(QUERIES["agg_group_pricing"](spark, SF_CORRECT))
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_knn_broadcasts_query_vector(spark):
    p = plan(QUERIES["vec_knn_cosine"](spark, SF_CORRECT))
    assert "BroadcastExchange" in p or "BroadcastHashJoin" in p


def test_partitioned_sink_prunes_partitions(spark):
    """The date predicate must prune partition directories at plan time —
    at 100 TB this is reading 3 days instead of the full table."""
    p = plan(QUERIES["sink_parquet_partitioned"](spark, SF_CORRECT))
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert pf, p
    assert "event_date" in pf[0] and "PartitionFilters: []" not in pf[0]


# Queries whose plan legitimately contains a cartesian/nested-loop shape:
# join_cross IS a cartesian by definition; text_tfidf_topk and tpch_q22
# cross-join a broadcast 1-row scalar aggregate (O(n), not quadratic);
# vec_batch_knn cross-joins the broadcast 10-row query block (O(N×Q) map
# work at fixed Q, the batch-retrieval shape). The interval join's
# whitelist entry would be a bug — keep it out and let the test prove it
# stays out.
_CARTESIAN_OK = {
    "join_cross",
    "text_tfidf_topk",
    "tpch_q22",
    "vec_batch_knn",
    "scan_cache_reuse",  # three 1-row aggregates combined by 1×1 joins
    "agg_sla_availability",  # 1-row observation-span scalar broadcast
    # round-8 scalar-subquery reworks: a 1-row broadcast aggregate
    # attached by cross/theta join (BNLJ with a 1-row inner side),
    # replacing scalar-over-() windows that funneled SF-growing reduced
    # frames (per-part values, web vocab) through one task. (q15's
    # equality folds into a broadcast EQUI-join, so it needs no entry.)
    "tpch_q11",
    "text_perplexity_unigram",  # corpus token total (row-local scan)
    "text_word_freq_zipf",  # corpus token total (row-local scan)
    "text_ppl_buckets",  # cached perplexity build plan renders its BNLJ
    # §2.Z: the broadcast Q-row query block (O(N×Q) map work at fixed Q,
    # the vec_batch_knn bound) renders as one BNLJ inside the recall
    # op's checkpoint build; the gate-composition op inherits
    # text_ppl_buckets's / text_perplexity_unigram's allowlisted 1-row
    # scalar BNLJ renderings through the composed gate plans
    "vec_ann_recall",
    "text_filter_agreement",
    # §2.AC: the frozen-LM scorer attaches the standing corpus's 1-row
    # token total by the same allowlisted scalar BNLJ rendering as
    # text_perplexity_unigram; the gate-drift census op composes that
    # scorer (and the gopher gate) so it inherits the rendering
    "text_ppl_frozen_score",
    "quality_gate_drift",
    # §2.AE/§2.AG: both rank-quality evals attach their broadcast Q-row
    # exact block (O(N×Q) map work at fixed Q — the vec_batch_knn /
    # vec_ann_recall bound) as one BNLJ inside a checkpointed eval build
    "vec_rank_metrics",
    "vec_pq_recall",
    # §2.AI: the dedup yield curve attaches its T-row (4) broadcast
    # threshold frame to the verified-pair ARTIFACT (census-sized,
    # never corpus-sized) — the standing threshold-frame-attach class
    "pipeline_dedup_rate_curve",
}


def _is_streaming(fn) -> bool:
    """Streaming queries run their work inside the callable (drain to a
    memory sink) — the returned DataFrame is a memory-table read, so a
    batch explain() here is meaningless (and the drain is slow); their
    plan is exercised by execution in test_streaming_live. The name
    prefix catches the streaming-shaped ops registered from operator
    modules (``stream_ann_serve`` in extensions6 — its per-batch plan is
    pinned by tests/test_extensions6_staged.py instead)."""
    return fn.__module__.startswith(
        "storm_netmonitor_spark.streaming"
    ) or fn.__name__.startswith("stream_")


@pytest.fixture(scope="session")
def registry_plans(spark):
    """One plan-build pass over every registered non-streaming operator,
    shared by the three registry-wide sweeps (cartesian / global-sort /
    global-window): ``name -> {"simple", "formatted", "internal"}`` where
    ``internal`` is the physical-plan descriptions of any SQL executions
    the callable ran inside itself (model-scalar collects). Building each
    of the 282 DataFrames once instead of once per sweep cuts the sweeps'
    combined wall from ~266 s to one ~100 s pass (round 9 — the fast-tier
    prerequisite). One simple-mode explain per op: every node name the
    sweeps look for (CartesianProduct, BroadcastNestedLoopJoin,
    rangepartitioning, windowspecdefinition) renders in simple mode."""
    out = {}
    for name, fn in sorted(QUERIES.items()):
        if _is_streaming(fn):
            continue
        entry = {}
        try:
            before = _execution_ids(spark)
            df = fn(spark, SF_CORRECT)
            entry["simple"] = plan(df, mode="simple")
            entry["internal"] = _new_execution_descriptions(spark, before)
        except Exception as exc:  # pragma: no cover - surface name
            entry["error"] = f"explain failed: {exc}"
        out[name] = entry
    return out


@pytest.mark.fast
def test_no_accidental_cartesian_anywhere(registry_plans):
    """Blanket 100 TB guard: NO registered batch operator may plan a
    CartesianProduct or BroadcastNestedLoopJoin (quadratic shapes that die
    at scale), except the intentional cross join."""
    offenders = []
    for name, entry in registry_plans.items():
        if name in _CARTESIAN_OK:
            continue
        if "error" in entry:
            offenders.append((name, entry["error"]))
            continue
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            if bad in entry["simple"]:
                offenders.append((name, bad))
    assert not offenders, offenders


def test_bucketed_join_has_no_shuffle(spark):
    """Both sides are bucketed+sorted by the join key: the sort-merge join
    and the downstream group-by must need ZERO exchanges — co-location is
    the entire point of the bucketed layout."""
    p = plan(QUERIES["join_bucketed_colocated"](spark, SF_CORRECT))
    assert "SortMergeJoin" in p
    assert "Bucketed: true" in p
    assert "Exchange" not in p


@pytest.mark.slow
def test_bench_emits_one_json_line(tmp_path):
    """The driver contract: bench.py prints exactly one JSON object with
    the required keys (run at the smallest sf for speed). The sidecar is
    redirected to tmp so this sf0.001 run cannot clobber the committed
    sf0.1 BENCH_DETAIL.json round record."""
    import json
    import os
    import subprocess
    import sys

    detail_path = str(tmp_path / "BENCH_DETAIL.json")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_CPUS="4",
               SPARK_GRAFT_DETAIL_PATH=detail_path)
    out = subprocess.run(
        [sys.executable, "bench.py"], capture_output=True, text=True,
        env=env, cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=560,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    assert len(lines) == 1, out.stdout[-500:] + out.stderr[-500:]
    payload = json.loads(lines[0])
    assert set(payload) >= {"metric", "value", "unit", "queries", "sf"}
    assert payload["unit"] == "sec" and payload["sf"] == 0.001
    raw = lines[0]
    # tail-capture guard (VERDICT r8 #1): the driver records only the LAST
    # 2,000 chars of stdout and parses the last JSON line in that window —
    # the stdout line must therefore (a) fit the window with margin, (b)
    # keep the gate "value" last so even a partial tail retains it, and
    # (c) carry no method/cold bulk (that detail lives in stderr + the
    # BENCH_DETAIL.json sidecar)
    import bench as _bench

    assert len(raw) <= _bench.STDOUT_LINE_BUDGET, (
        f"stdout bench line is {len(raw)}B > {_bench.STDOUT_LINE_BUDGET}B budget"
    )
    assert '"cold_seconds"' not in raw and '"method"' not in raw
    assert raw.index('"queries"') < raw.index('"value"'), raw[:200]
    # the sidecar detail record stays method-honest (ADVICE r5)
    with open(detail_path) as fh:
        detail = json.load(fh)
    assert set(detail) >= {"method", "cold_seconds", "queries", "value"}
    assert detail["value"] == payload["value"]
    # the sidecar keeps EVERY timed row at 4 decimals; stdout carries the
    # FROZEN driver-visible subset at 3 decimals (VERDICT r14 #1 — the
    # set is a code constant, never a function of the byte budget)
    assert set(payload["queries"]) <= set(detail["queries"])
    assert all(
        round(detail["queries"][k], 3) == v
        for k, v in payload["queries"].items()
    )
    assert set(_bench.HEADLINE) <= set(payload["queries"])
    hidden = set(detail["queries"]) - set(payload["queries"])
    assert hidden == set(_bench._R14_HIDDEN)


def test_sorted_layout_clusters_row_groups(spark):
    """The §7.3 layout claim, checked against actual parquet metadata:
    within each date partition the user_id column must be sorted, so each
    row group's (min,max) span is a small slice of the keyspace and a
    point/range predicate can skip most groups via statistics."""
    import glob
    import os

    import pyarrow.parquet as pq

    from storm_netmonitor_spark.io import load_table
    from storm_netmonitor_spark.operators.scans import sorted_layout_dir

    d = sorted_layout_dir(spark, SF_CORRECT)
    files = glob.glob(os.path.join(d, "event_date=*", "*.parquet"))
    assert files, d
    n_users = (
        load_table(spark, SF_CORRECT, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    spans = []
    for f in files[:10]:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == "user_id"
            )
            st = col.statistics
            spans.append((st.min, st.max))
            # sortedness within the file ⇒ consecutive groups don't overlap
    for (lo, hi) in spans:
        assert lo <= hi
    # single row group per small partition file is fine; the stronger
    # check: the first file is genuinely sorted by user_id
    t = pq.read_table(files[0], columns=["user_id"])
    u = t.column("user_id").to_pylist()
    assert u == sorted(u), "user_id not sorted within partition file"
    assert n_users > 0


def test_corpus_rowlocal_ops_have_no_shuffle(spark):
    """PII redaction and the Gopher repetition rules are pure row-local
    projections — any KEYED Exchange in their plan is a regression. The
    Gopher op carries exactly one ROUND-ROBIN scatter (io.scatter: the
    single-row-group testdata scan can't split, so heavy HOF work must be
    spread over cores); a hashpartitioning exchange would mean a real
    shuffle crept in."""
    for name in ("text_pii_redact", "text_quality_gopher"):
        p = plan(QUERIES[name](spark, SF_CORRECT))
        assert "hashpartitioning" not in p, f"{name} keyed-shuffles:\n{p}"
        read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
        assert "text:string" in read[0] and "n_chars" not in read[0], read
    p = plan(QUERIES["text_pii_redact"](spark, SF_CORRECT))
    assert "Exchange" not in p, f"text_pii_redact shuffles:\n{p}"


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark gram set and contaminated-id set are small relative
    to the training corpus — both joins must broadcast, never sort-merge."""
    p = plan(QUERIES["text_decontaminate"](spark, SF_CORRECT))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, p


def test_tpch_dim_joins_broadcast(spark):
    """The TPC-H star joins must broadcast every dimension side — the fact
    table (lineitem) may shuffle only for its agg keys / fact-fact joins,
    never to co-locate with a dim."""
    for name, min_bhj in (("tpch_q09", 3), ("tpch_q08", 5), ("tpch_q07", 3)):
        p = plan(QUERIES[name](spark, SF_CORRECT))
        n_bhj = p.count("BroadcastHashJoin")
        assert n_bhj >= min_bhj, f"{name}: {n_bhj} broadcast joins\n{p}"


def test_tpch_q18_aggregates_before_join(spark):
    """Q18's IN-subquery must reduce lineitem to per-order sums BEFORE the
    semi join (aggregate below the join in the plan), and the surviving
    key set must broadcast."""
    p = plan(QUERIES["tpch_q18"](spark, SF_CORRECT))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p


def test_chunking_is_rowlocal(spark):
    """Document chunking is explode+substring — any Exchange is a
    regression (the chunk table must inherit the input partitioning)."""
    p = plan(QUERIES["pipeline_chunk_documents"](spark, SF_CORRECT))
    assert "Exchange" not in p, p


def test_ohlc_single_exchange(spark):
    """Window partition keys and group-by keys are the same attributes, so
    the whole OHLC rollup must run on ONE hash exchange."""
    import re

    p = plan(QUERIES["ts_resample_ohlc"](spark, SF_CORRECT))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_funnel_single_scan_single_shuffle(spark):
    """The three chained funnel stages share one user_id shuffle and the
    events table is scanned exactly once (the single-row aggregate is
    exploded into funnel rows, never unioned per stage)."""
    import re

    p = plan(QUERIES["events_funnel"](spark, SF_CORRECT))
    scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    assert scans == 1, f"{scans} scans\n{p}"
    windows = len(re.findall(r"\(\d+\) Window", p))
    assert windows <= 3, p


def test_extensions3_single_exchange_shapes(spark):
    """Round-3 ops that must stay one keyed exchange end-to-end: CDC
    compaction, gap detection, survivorship election (window keys ≡ the
    only shuffle key), and the moment-sum correlation (partial+final agg
    around one exchange)."""
    import re

    for name in ("dedup_latest_per_key", "ts_sla_gap_detect",
                 "pipeline_dedup_survivors"):
        p = plan(QUERIES[name](spark, SF_CORRECT))
        n_ex = len(re.findall(r"\(\d+\) Exchange", p))
        assert n_ex == 1, f"{name}: {n_ex} exchanges\n{p}"
    p = plan(QUERIES["agg_corr_moments"](spark, SF_CORRECT))
    assert p.count("HashAggregate") >= 2 and "Exchange" in p, p


def test_extensions3_rowlocal_diversity(spark):
    """Simpson diversity is pure row-local HOF math — any Exchange is a
    regression, and only (doc_id, text) may be read from the scan."""
    p = plan(QUERIES["text_simpson_diversity"](spark, SF_CORRECT))
    assert "Exchange" not in p, p
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read and "text:string" in read[0] and "n_chars" not in read[0], read


def test_extensions3_dims_broadcast(spark):
    """Surrogate-key assignment and the ordered listagg join must
    broadcast their dimension side (97-row dims / 25-row nation), and the
    surrogate window must run over the dim frame only (no rank over the
    fact table: the plan's Window sits above a dim-sized aggregate, and
    the fact side joins by broadcast)."""
    for name in ("fn_surrogate_key", "agg_string_concat"):
        p = plan(QUERIES[name](spark, SF_CORRECT))
        assert "BroadcastHashJoin" in p, f"{name}:\n{p}"
    p = plan(QUERIES["vec_batch_knn"](spark, SF_CORRECT))
    assert "BroadcastExchange" in p, p


def test_zorder_layout_clusters_both_dimensions(spark):
    """The z-order claim, checked from parquet footers: row-group min/max
    spans must be a strict fraction of the global range on BOTH interleaved
    dimensions — that is what makes either predicate skip row groups
    (single-key sorting clusters only its own key)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from storm_netmonitor_spark.operators.extensions3 import _zorder_dir

    d = _zorder_dir(spark, SF_CORRECT)
    spans_u, spans_h = [], []
    gu = [float("inf"), float("-inf")]
    gh = [float("inf"), float("-inf")]
    for f in glob.glob(os.path.join(d, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        names = [
            md.row_group(0).column(i).path_in_schema
            for i in range(md.row_group(0).num_columns)
        ]
        ui, hi = names.index("user_id"), names.index("hour_idx")
        for rg in range(md.num_row_groups):
            su = md.row_group(rg).column(ui).statistics
            sh = md.row_group(rg).column(hi).statistics
            spans_u.append(su.max - su.min)
            spans_h.append(sh.max - sh.min)
            gu = [min(gu[0], su.min), max(gu[1], su.max)]
            gh = [min(gh[0], sh.min), max(gh[1], sh.max)]
    assert len(spans_u) >= 16, "layout produced too few row groups to judge"
    mean_u = sum(spans_u) / len(spans_u)
    mean_h = sum(spans_h) / len(spans_h)
    assert mean_u <= 0.6 * (gu[1] - gu[0]), (mean_u, gu)
    assert mean_h <= 0.35 * (gh[1] - gh[0]), (mean_h, gh)


def test_cache_reuse_hits_inmemory_scan(spark):
    """After the first materialization the consumers must read the cached
    columnar copy, not re-scan parquet."""
    df = QUERIES["scan_cache_reuse"](spark, SF_CORRECT)
    # the returned (already collected once) plan combined cached aggregates;
    # check the cache was actually used during construction
    p = plan(df)
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p, p


def test_asof_orders_single_union_window(spark):
    """The union-tag as-of must be one keyed window over the unioned
    frame — no range join, no nested loop, exactly one exchange on the
    key."""
    import re

    p = plan(QUERIES["join_asof_orders"](spark, SF_CORRECT))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_histogram_shuffles_only_counters(spark):
    """The histogram's exchange must sit ABOVE a partial HashAggregate —
    the shuffle carries (type × bin) counters, never raw samples."""
    p = plan(QUERIES["agg_histogram_fixed"](spark, SF_CORRECT))
    assert p.count("HashAggregate") >= 2 and "Exchange" in p, p


def test_pareto_window_over_reduced_frame(spark):
    """The global Pareto window may only run AFTER the per-user aggregate:
    in execution order (formatted-plan node ids count bottom-up from the
    scan) every HashAggregate id must precede every Window id."""
    import re

    p = plan(QUERIES["agg_pareto_talkers"](spark, SF_CORRECT))
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", p)]
    win_ids = [int(m) for m in re.findall(r"\((\d+)\) Window", p)]
    assert agg_ids and win_ids, p
    assert max(agg_ids) < min(win_ids), (agg_ids, win_ids)


def test_compaction_reduces_file_count_losslessly(spark):
    """64 fragment files must compact to 4; row counts must match (the
    data-loss check beyond the value-hash oracle)."""
    from storm_netmonitor_spark.operators.extensions3 import _compacted_dir

    comp, n_small, n_comp = _compacted_dir(spark, SF_CORRECT)
    assert n_small == 64 and n_comp == 4, (n_small, n_comp)
    assert spark.read.parquet(comp).count() == 10_000


def test_no_repeated_python_eval_anywhere(spark):
    """Python/Arrow UDF passes are the expensive stages; Catalyst happily
    duplicates them when a branch (join side, filter pushdown, census)
    re-derives the same frame. Every batch op must plan AT MOST ONE
    Python-eval node — heavier derivations get materialized (see the
    SimHash/SemDeDup/IVF round-4 fixes) rather than recomputed."""
    offenders = []
    for name, fn in sorted(QUERIES.items()):
        if _is_streaming(fn):
            continue
        try:
            # simple mode: formatted explain renders every node twice
            # (tree + detail section), which would double the count
            p = plan(fn(spark, SF_CORRECT), mode="simple")
        except Exception as exc:  # pragma: no cover - surface name
            offenders.append((name, f"explain failed: {exc}"))
            continue
        # nodes under an InMemoryRelation are the CACHED build plan —
        # executed at most once per session, then served from the cache —
        # so only the live prefix above it counts (the cache-barrier ops
        # re-render their build subtree when a prior run left the cache
        # entry warm, which is presentation, not recomputation)
        p = p.split("InMemoryRelation")[0]
        n = (
            p.count("ArrowEvalPython")
            + p.count("BatchEvalPython")
            + p.count("FlatMapGroupsInPandas")
            + p.count("MapInPandas")
        )
        if n > 1:
            offenders.append((name, f"{n} python-eval nodes"))
    assert not offenders, offenders


def test_round4_additions_plan_shapes(spark):
    """Round-4 §2.S additions: the counter-increase and interval-union
    ledgers are ONE keyed exchange end-to-end (the user_id window
    partitioning satisfies every downstream aggregate by the subset rule);
    the five TPC-H completions broadcast all dim sides and keep keyed
    exchanges to the reduced frames; MAD keeps its med/MAD lookup frames
    broadcast. No shape may degenerate into a cartesian."""
    import re

    for name in ("ts_counter_increase", "ts_interval_union"):
        p = plan(QUERIES[name](spark, SF_CORRECT))
        n_ex = len(re.findall(r"\(\d+\) Exchange", p))
        assert n_ex == 1, f"{name}: {n_ex} exchanges\n{p}"
    # q11/q15 (round-8 rework): the global total/max threshold is a 1-row
    # broadcast scalar aggregate cross-joined back — a BNLJ with a 1-row
    # inner side and NO window funnel (their former scalar-over-() windows
    # funneled SF-growing reduced frames through one task)
    import re as _re

    # q11: value-share is an INEQUALITY against the scalar → theta BNLJ
    # with the 1-row side broadcast
    p = plan(QUERIES["tpch_q11"](spark, SF_CORRECT))
    assert "BroadcastNestedLoopJoin" in p, f"q11 lost the scalar:\n{p}"
    assert "windowspecdefinition" not in p, f"q11 re-grew a window:\n{p}"
    n_ex = len(_re.findall(r"\(\d+\) Exchange", p))
    assert n_ex <= 3, f"tpch_q11: {n_ex} keyed exchanges\n{p}"
    # q15: EQUALITY with the scalar max — Catalyst folds the filter into
    # the cross join, making it a broadcast equi-join (max + supplier = 2)
    p = plan(QUERIES["tpch_q15"](spark, SF_CORRECT))
    assert p.count("BroadcastHashJoin") >= 2, f"q15 lost the scalar:\n{p}"
    assert "windowspecdefinition" not in p, f"q15 re-grew a window:\n{p}"
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    n_ex = len(_re.findall(r"\(\d+\) Exchange", p))
    assert n_ex <= 3, f"tpch_q15: {n_ex} keyed exchanges\n{p}"
    for name, max_ex, min_bhj in (
        ("tpch_q02", 2, 2),
        ("tpch_q12", 2, 1),
        ("tpch_q16", 3, 2),
        ("tpch_q20", 2, 3),
        ("events_anomaly_mad", 4, 2),
        # the lag expansion must stay a row-local explode on the reduced
        # hourly frame + ONE integer equi-join — never a cross join
        ("ts_cross_correlation_lag", 4, 0),
        # vocabulary-reduced pair explode: token agg + pair agg only
        ("text_bpe_pair_counts", 3, 0),
        # prefix-sum scan over the hourly reduction: hourly agg + one
        # type-keyed window partitioning (reused by rn/run/tot windows)
        ("ts_step_changepoint", 3, 0),
        # rank + both moment aggregates on the reduced per-source frame
        ("agg_gini_concentration", 3, 0),
    ):
        p = plan(QUERIES[name](spark, SF_CORRECT))
        n_ex = len(re.findall(r"\(\d+\) Exchange", p))
        n_bhj = p.count("BroadcastHashJoin")
        assert n_ex <= max_ex, f"{name}: {n_ex} keyed exchanges\n{p}"
        assert n_bhj >= min_bhj, f"{name}: {n_bhj} broadcast joins\n{p}"
        assert "CartesianProduct" not in p, f"{name} went cartesian:\n{p}"
        assert "BroadcastNestedLoopJoin" not in p, f"{name} nested-loop:\n{p}"
    # the batch suppression sweep is exactly one python-eval stage (the
    # amortized partition-sorted MapInPandas, NOT per-group fan-out) over
    # one keyed exchange
    p = plan(QUERIES["events_alert_suppress"](spark, SF_CORRECT))
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 1, p
    assert "FlatMapGroupsInPandas" not in p, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_extensions4_plan_shapes(spark):
    """§2.T additions: sequence ops keep ONE keyed window exchange plus a
    tiny rollup; the dim audit is a single keyed aggregate; the interleave
    rank + prefix is one exchange with TakeOrderedAndProject (no global
    sort); rolling actives bound the fan-out on the reduced distinct frame
    with the day grid broadcast; the concurrency sweep carries its offsets
    via broadcast; LTTB is exactly one grouped-pandas stage on the hourly
    reduction. Nothing degenerates into a cartesian."""
    import re

    shapes = {
        "events_dwell_time": dict(max_ex=2),
        "events_path_ngrams": dict(max_ex=2, take=True),
        "ts_sla_burn_rate": dict(max_ex=2),
        "vec_dim_stats": dict(max_ex=1),
        "pipeline_interleave_sources": dict(max_ex=1, take=True),
        # no Expand: DAU is a plain count on the distinct frame and WAU a
        # single distinct over the x7 fan-out — half the shuffled bytes of
        # the dual-conditional-distinct form; the extra exchanges carry
        # O(days) frames only
        "events_active_rolling": dict(max_ex=6, min_bhj=1, no_expand=True),
        # whole two-level scan visible (no checkpoint): bucket window +
        # bucket-total agg + O(buckets) carry window + day argmax agg;
        # the offsets come back via broadcast
        "events_concurrency_peak": dict(max_ex=4, min_bhj=1),
    }
    for name, want in shapes.items():
        p = plan(QUERIES[name](spark, SF_CORRECT))
        n_ex = len(re.findall(r"\(\d+\) Exchange", p))
        assert n_ex <= want["max_ex"], f"{name}: {n_ex} exchanges\n{p}"
        if want.get("min_bhj"):
            assert p.count("BroadcastHashJoin") >= want["min_bhj"], f"{name}:\n{p}"
        if want.get("take"):
            assert "TakeOrderedAndProject" in p, f"{name} global-sorts:\n{p}"
        if want.get("no_expand"):
            assert "Expand" not in p, f"{name} re-grew an Expand:\n{p}"
        assert "CartesianProduct" not in p, f"{name} went cartesian:\n{p}"
        assert "BroadcastNestedLoopJoin" not in p, f"{name} nested-loop:\n{p}"
    # LTTB: the ONLY python stage is the one per-type grouped kernel over
    # the already-reduced hourly frame (never over raw events)
    p = plan(QUERIES["ts_downsample_lttb"](spark, SF_CORRECT))
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2, p
    assert "HashAggregate" in p, p  # hourly reduction below the kernel


def test_extensions4_batch3_plan_shapes(spark):
    """Later §2.T additions: movers = daily reduce + shared-key LAG window
    + TakeOrderedAndProject; flaps = ONE user_id exchange end-to-end
    (window partitioning satisfies the rollup by the subset rule);
    novelty = gram-window + doc rollup + one join back to the doc list;
    the fleet curve reduces per-source before its O(days) windows."""
    import re

    for name, max_ex, take in (
        ("events_top_movers", 2, True),
        ("events_flap_detect", 1, False),
        # hash-agg form: doc count agg + gram min agg + first-doc count
        # agg + both sides of the O(docs) sort-merge join — every
        # exchange carries reduced frames, none sorts the gram stream
        ("text_ngram_novelty", 5, False),
        ("events_new_sources_curve", 3, False),
    ):
        p = plan(QUERIES[name](spark, SF_CORRECT))
        n_ex = len(re.findall(r"\(\d+\) Exchange", p))
        assert n_ex <= max_ex, f"{name}: {n_ex} exchanges\n{p}"
        if take:
            assert "TakeOrderedAndProject" in p, f"{name} global-sorts:\n{p}"
        assert "CartesianProduct" not in p, f"{name} went cartesian:\n{p}"
        assert "BroadcastNestedLoopJoin" not in p, f"{name} nested-loop:\n{p}"


#: Ops whose plan MAY contain a rangepartitioning exchange (global sort):
#: `sort_multicol` IS the §2.F global-sort contract; the other two order
#: an already-reduced presentation frame (a K-row cluster summary, q20's
#: per-supplier result) — the range exchange partitions O(rows-after-
#: aggregation), not the data. Everything else must use keyed exchanges
#: or TakeOrderedAndProject.
_GLOBAL_SORT_OK = frozenset({
    "sort_multicol",
    "vec_semantic_dedup",
    "tpch_q20",
    # round-8 rework: the rank-axis two-level prefix sum range-partitions
    # the per-user totals so each task scans a contiguous slice of the
    # global order — a PARALLEL sampled exchange feeding partitioned
    # windows, not a single-reducer sort (the funnel it replaced)
    "agg_pareto_talkers",
})


@pytest.mark.fast
def test_no_accidental_global_sort_anywhere(registry_plans):
    """Blanket 100 TB guard: a rangepartitioning Exchange funnels data
    through a sampled global sort — the single-reducer-adjacent shape
    that every top-k in this engine avoids via TakeOrderedAndProject and
    every scan avoids via the two-level prefix sum. No batch operator
    may plan one outside the explicit allowlist."""
    offenders = []
    for name, entry in registry_plans.items():
        if name in _GLOBAL_SORT_OK:
            continue
        if "error" in entry:
            offenders.append((name, entry["error"]))
            continue
        if "rangepartitioning" in entry["simple"]:
            offenders.append((name, "rangepartitioning exchange"))
    assert not offenders, offenders


def test_approx_distinct_split_paths_plan_no_expand(spark):
    """Round-5 plan-audit pin: the exact and sketch distinct paths must
    stay SEPARATE aggregations joined on the result — combined in one agg
    Catalyst's count-distinct rewrite carries the ~13 KB HLL buffer per
    (event_type, user_id) key (a 95 MiB shuffle for 7.5k rows at sf0.1;
    see docs/PLANS.md). No Expand and exactly one broadcast join."""
    p = plan(QUERIES["agg_approx_distinct"](spark, SF_CORRECT))
    assert "Expand" not in p, f"distinct rewrite regrew an Expand:\n{p}"
    assert p.count("BroadcastHashJoin") >= 1, p


#: Ops whose plan MAY contain an UNPARTITIONED (SinglePartition) Window —
#: each runs it over an explicitly bounded reduced frame, never the raw
#: data (VERDICT r6/r7 audit; the bound is also stated in a comment at the
#: window's construction site). Everything else must partition its windows
#: or stay out of WindowExec entirely — an unpartitioned window funnels its
#: whole input through ONE task, the canonical 100 TB single-task OOM.
_GLOBAL_WINDOW_OK = {
    "agg_pareto_talkers": "O(shuffle-partitions) carry census of the "
    "two-level prefix sum (round-8 rework; the per-user cumulative "
    "window is PARTITIONED by range-partition id)",
    "events_concurrency_peak": "O(hour-buckets) carry census of the "
    "two-level sweep-line prefix sum",
    "events_new_sources_curve": "O(days) per-day first-seen census",
    "fn_surrogate_key": "dimension-sized (lang × source) key frame",
    "pipeline_interleave_sources": "limit-bounded _ILV_TAKE-row prefix "
    "(TakeOrderedAndProject feeds the window)",
    "pipeline_mixture_weights": "O(sources) share frame",
    "sample_weighted_systematic": "O(bands) census of the band-census "
    "prefix sum",
    "text_word_freq_zipf": "30-row limit-bounded frame "
    "(TakeOrderedAndProject feeds the rank/cum windows; round-8 rework)",
    "ts_sla_burn_rate": "O(hours) error-rate census (range frame over "
    "the hourly rollup)",
    # (r14 optimization: the vec_index_drift / text_profile_drift /
    # quality_gate_drift totals windows — and vec_ivf_cell_retrain's
    # inherited copy — are gone: the bounded censuses collect and the
    # drift tail computes driver-side via drift_table_local, so those
    # ops no longer plan an unpartitioned window at all)
}


def _spec_first_arg(s: str, start: int) -> str:
    """First argument of a ``windowspecdefinition(`` whose open paren is
    at ``start`` — up to the first depth-0 comma or the closing paren."""
    depth = 0
    for i in range(start, len(s)):
        ch = s[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                return s[start:i]
            depth -= 1
        elif ch == "," and depth == 0:
            return s[start:i]
    return s[start:]


def _global_window_hits(text: str) -> list[str]:
    """Occurrences of an UNPARTITIONED window spec in a plan rendering
    (simple-mode explain or the UI store's formatted description): a
    ``windowspecdefinition`` whose first argument is an ORDERING column
    (``ASC/DESC NULLS``) or directly the frame (no partition, no order)
    requires SinglePartition distribution; a plain leading expression is
    the partition spec and distributes fine."""
    hits = []
    marker = "windowspecdefinition("
    pos = 0
    while True:
        j = text.find(marker, pos)
        if j < 0:
            return hits
        first = _spec_first_arg(text, j + len(marker)).strip()
        if first.startswith("specifiedwindowframe(") or (
            " ASC NULLS" in first or " DESC NULLS" in first
        ):
            hits.append(first[:90])
        pos = j + len(marker)


def _new_execution_descriptions(spark, before_ids) -> list[str]:
    """Physical-plan descriptions of every SQL execution recorded since
    ``before_ids`` — catches work an operator runs INSIDE its callable
    (model-scalar collects), which never appears in the returned plan."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    return [
        lst.apply(i).physicalPlanDescription()
        for i in range(lst.size())
        if lst.apply(i).executionId() not in before_ids
    ]


def _execution_ids(spark) -> set:
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    return {lst.apply(i).executionId() for i in range(lst.size())}


@pytest.mark.fast
def test_no_corpus_proportional_global_window_anywhere(registry_plans):
    """Blanket 100 TB guard (VERDICT r7 #2): NO batch operator may plan a
    WindowExec over a SinglePartition exchange — the whole-input
    one-task funnel — unless it is on the explicit reduced-frame
    allowlist with a stated bound. Checks BOTH the returned DataFrame's
    plan and any executions the callable runs internally (threshold
    collects), via the SQL status store."""
    offenders = []
    for name, entry in registry_plans.items():
        if name in _GLOBAL_WINDOW_OK:
            continue
        if "error" in entry:
            offenders.append((name, entry["error"]))
            continue
        for p in [entry["simple"]] + entry["internal"]:
            hits = _global_window_hits(p)
            if hits:
                offenders.append((name, hits[:3]))
                break
    assert not offenders, offenders


@pytest.mark.fast
def test_global_window_allowlist_entries_are_live(registry_plans):
    """Every allowlist entry must name a registered op that actually
    plans an unpartitioned window — a stale entry would quietly exempt a
    future regression."""
    stale = [n for n in _GLOBAL_WINDOW_OK if n not in QUERIES]
    assert not stale, f"allowlist names unregistered ops: {stale}"
    for name in sorted(_GLOBAL_WINDOW_OK):
        entry = registry_plans[name]
        assert "error" not in entry, (name, entry)
        plans = [entry["simple"]] + entry["internal"]
        assert any(_global_window_hits(p) for p in plans), (
            f"{name} no longer plans an unpartitioned window — drop its "
            f"allowlist entry"
        )


def test_round8_funnel_purge_shapes(spark):
    """Structural pins for the round-8 reworks that the blanket sweeps
    cannot express (they see WHETHER a global window exists, not the
    size of its frame):

    - zipf: the top-30 cut must happen BEFORE the rank/cum windows —
      TakeOrderedAndProject in the plan, and in execution order (node
      ids count bottom-up) below every Window;
    - perplexity: the token total must come from the row-local size()
      scan — exactly the TWO pre-existing explodes of the doc-word
      fan-out (join side + model side), no third for the total, and no
      Sort anywhere (nothing orders the vocab);
    - pareto: range partitioning feeds a PARTITIONED cumulative window
      (spark_partition_id key) with the O(partitions) carry broadcast
      back."""
    import re

    p = plan(QUERIES["text_word_freq_zipf"](spark, SF_CORRECT))
    take_ids = [int(m) for m in re.findall(r"\((\d+)\) TakeOrderedAndProject", p)]
    win_ids = [int(m) for m in re.findall(r"\((\d+)\) Window", p)]
    assert take_ids and win_ids, p
    assert max(take_ids) < min(win_ids), (take_ids, win_ids)

    p = plan(QUERIES["text_perplexity_unigram"](spark, SF_CORRECT))
    n_explode = len(re.findall(r"\(\d+\) Generate", p))
    assert n_explode == 2, f"{n_explode} explodes (total must be size()):\n{p}"
    assert not re.findall(r"\(\d+\) Sort\b", p), f"vocab got sorted:\n{p}"
    assert "BroadcastNestedLoopJoin" in p, p  # the 1-row total attach

    p = plan(QUERIES["agg_pareto_talkers"](spark, SF_CORRECT))
    assert "SPARK_PARTITION_ID" in p.upper(), p
    assert "BroadcastHashJoin" in p, p  # carry joins back by pid
    # the per-user cumulative window is keyed on pid, never global: every
    # windowspecdefinition in the LIVE plan (checkpoint truncates the
    # totals lineage) either has a partition column or sits on the
    # O(partitions) census
    from tests.test_plans import _global_window_hits

    hits = _global_window_hits(plan(
        QUERIES["agg_pareto_talkers"](spark, SF_CORRECT), mode="simple"
    ))
    assert len(hits) <= 3, hits  # census-only: cum0/rnk0/grand


def test_pagerank_broadcast_guard(spark, monkeypatch):
    """VERDICT r7 #5: the per-round pagerank weight frame is per-NODE
    state. Under the node cap it must hint-broadcast (this dim-sized
    graph); with the cap forced to 0 — the billion-node stand-in — the
    hint must disappear in favor of the co-located shuffle join, and the
    fallback must produce IDENTICAL ranks."""
    from storm_netmonitor_spark.operators import extensions3 as ext3

    small = QUERIES["graph_pagerank_links"](spark, SF_CORRECT)
    p_small = plan(small, mode="simple")
    assert "BroadcastHashJoin" in p_small, p_small
    rows_small = [tuple(r) for r in small.collect()]

    confs = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k in confs:  # kill AUTO broadcasts so the hint is what's tested
        spark.conf.set(k, "-1")
    monkeypatch.setattr(ext3, "_PR_BROADCAST_MAX_NODES", 0)
    try:
        big = QUERIES["graph_pagerank_links"](spark, SF_CORRECT)
        p_big = plan(big, mode="simple")
        assert "BroadcastHashJoin" not in p_big, p_big
        assert "SortMergeJoin" in p_big or "ShuffledHashJoin" in p_big, p_big
        rows_big = [tuple(r) for r in big.collect()]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        # evict the big-graph (small_graph=False) memo entry and its
        # second cached copy of the edges frame — otherwise it holds
        # executor memory for the rest of the shared-session suite
        # (ADVICE r8)
        from storm_netmonitor_spark.io import _SESSION_MEMO, release

        for key in [
            k
            for k in _SESSION_MEMO
            if k and k[0] is spark and "pagerank_frames" in k and False in k
        ]:
            release(_SESSION_MEMO.pop(key))
    assert rows_small == rows_big


def test_simhash_band_layout_is_pigeonhole_total():
    """The SIMHASH_BANDS blocks must partition the 64 signature bits
    disjointly with MORE blocks than the hamming threshold — the
    pigeonhole precondition that makes the candidate stage lossless (and
    the all-pairs SQL oracle valid)."""
    from storm_netmonitor_spark.operators.text import (
        SIMHASH_BANDS,
        SIMHASH_MAX_HAMMING,
    )

    covered = []
    for off, width in SIMHASH_BANDS:
        covered.extend(range(off, off + width))
    assert sorted(covered) == list(range(64)), "bands must tile bits 0..63"
    assert len(SIMHASH_BANDS) >= SIMHASH_MAX_HAMMING + 1, (
        "need > threshold blocks for guaranteed recall"
    )


@pytest.mark.fast
def test_bench_stdout_visible_set_never_shrinks():
    """VERDICT r14 #1: the driver-visible stdout set is FROZEN — it must
    be a superset of every row the driver saw in BENCH_r13/BENCH_r14 plus
    ``audit_referential_integrity`` (the row the r14 gate counted as
    dropped), fit the tail-capture budget with realistic worst-case value
    widths WITHOUT trimming, and trimming (a pathological-width safety
    valve) may only ever remove STDOUT_BONUS rows. Pure-python; no
    Spark."""
    import json as _json
    import os
    import sys as _sys

    sys_path_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if sys_path_root not in _sys.path:
        _sys.path.insert(0, sys_path_root)
    import bench

    # worst-case realistic value widths: every timing < 10 s at 3-decimal
    # stdout rounding serializes to ≤ 5 chars ("9.999")
    timings = {n: 9.9994 for n in bench.HEADLINE + bench.EXTRA_REPORTED}
    rows = bench._stdout_rows(timings)
    # the frozen floor: every row of the r14 driver capture + the row the
    # r14 gate flagged as dropped + this round's promoted bonus rows
    for archived in ("BENCH_r13.json", "BENCH_r14.json"):
        path = os.path.join(sys_path_root, archived)
        seen = set(_json.load(open(path))["parsed"]["queries"])
        assert seen <= set(rows), (
            f"driver-visible set shrank vs {archived}: {seen - set(rows)}"
        )
    assert set(bench.STDOUT_CORE) <= set(rows)
    assert "audit_referential_integrity" in rows
    assert set(bench.HEADLINE) <= set(rows)
    # visible set is timing-independent (frozen in code): no name from
    # the hidden remainder leaks in, nothing visible depends on values
    assert set(rows) == set(bench._stdout_rows({n: 0.001 for n in timings}))
    assert not (set(rows) & bench._R14_HIDDEN)

    compact = {
        "metric": "suite_wall_seconds",
        "unit": "sec",
        "sf": 0.1,
        "load": "loaded",
        "queries": dict(rows),
        "value": 99.9999,
    }
    line, trimmed = bench._fit_stdout_line(dict(compact))
    # worst case must fit WITHOUT the safety valve firing — the frozen
    # set is sized to the budget at 3-decimal values by construction
    assert not trimmed, "frozen visible set overflows the stdout budget"
    assert len(line) <= bench.STDOUT_LINE_BUDGET
    assert _json.loads(line)["queries"] == rows

    # pathological squeeze (a stray width overflow): the safety valve may
    # only ever remove STDOUT_BONUS rows — shrink the budget just under
    # the measured worst case so exactly the bonus trim has to fire
    orig_budget = bench.STDOUT_LINE_BUDGET
    bench.STDOUT_LINE_BUDGET = len(line) - 1
    try:
        fat = dict(compact, queries=dict(rows))
        line2, trimmed = bench._fit_stdout_line(fat)
    finally:
        bench.STDOUT_LINE_BUDGET = orig_budget
    assert trimmed and len(line2) <= len(line) - 1
    kept = set(_json.loads(line2)["queries"])
    dropped = set(rows) - kept
    assert dropped and dropped <= set(bench.STDOUT_BONUS), (
        f"trim touched a frozen row: {dropped - set(bench.STDOUT_BONUS)}"
    )
    # the caller's dict must come back untouched (ADVICE r9): trimming
    # works on a copy, so the sidecar/stderr detail keeps every row
    assert set(fat["queries"]) == set(rows)

    # un-fittable even after the full bonus trim: must raise loudly,
    # never emit a line the driver would truncate mid-object (ADVICE r9)
    orig_budget = bench.STDOUT_LINE_BUDGET
    bench.STDOUT_LINE_BUDGET = 40
    try:
        with pytest.raises(RuntimeError, match="never shrink"):
            bench._fit_stdout_line(dict(compact))
    finally:
        bench.STDOUT_LINE_BUDGET = orig_budget
