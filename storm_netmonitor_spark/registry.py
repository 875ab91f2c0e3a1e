"""Query registry — binds SURVEY §2 operator IDs to (Spark callable, oracle).

Every operator in the engine registers itself here with the ``@query``
decorator; ``__spark_entry__.py`` exposes the two dicts to the driver.

Contract (SURVEY §0.2): a query callable takes ``(spark, sf_dir)`` and
returns a DataFrame; its oracle is ANSI SQL DuckDB runs over views named
after the testdata tables. Column names and value canonicalization (float
rounding, timestamp formatting) must match EXACTLY between the two — the
driver hashes values after sorting columns by name.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
#: SQL text, or a lazy ``(sf_dir: str | None) -> str`` factory for the few
#: oracles that embed data-derived constants (LSH plane dim) — resolved at
#: ``oracle_sql()`` call time via :func:`resolve_oracle`, never at import.
ORACLES: dict[str, str | Callable[[str | None], str]] = {}


def query(
    name: str, oracle: str | Callable[[str | None], str] | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as SURVEY §2 operator ``name``.

    ``oracle`` is the DuckDB SQL twin (text, or a lazy factory taking the
    sf_dir under verification); ``None`` means the operator is not
    SQL-expressible and gets the driver's weaker rows-only check.
    """

    def decorate(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle if callable(oracle) else oracle.strip()
        return fn

    return decorate


def resolve_oracle(name: str, sf_dir: str | None = None) -> str:
    """Resolve a registered oracle to SQL text. Static strings pass
    through; lazy factories are called with the sf_dir under verification
    (``None`` → the factory's own default: ``$SPARK_GRAFT_ORACLE_SF_DIR``,
    falling back to the driver's pinned sf0.01)."""
    v = ORACLES[name]
    if callable(v):
        v = v(sf_dir)
    return v.strip()


def load_all() -> None:
    """Import every operator module so registrations run."""
    from . import operators, streaming  # noqa: F401

    operators.load()
    streaming.load()


def _load_driver_verdicts() -> tuple[
    frozenset[str], tuple[str, ...], frozenset[str], dict[str, int]
]:
    """Derive the rotation state from the committed ``CORRECTNESS_r*.json``
    files themselves — (passed ids, latest-red ids, latest-hash-green ids,
    latest-verdict round per id).

    Rounds 2 AND 3 both opened with a stale hand-maintained verified set
    (the top item of two consecutive verdicts): the driver writes its
    verdicts AFTER the builder's last commit, so a static frozenset is
    stale by construction at the start of every round. Deriving it at
    import time removes the failure mode — the first session of round
    N+1 automatically rotates round N's greens to the back and puts any
    red rows FIRST for re-verification. Latest verdict wins per id.
    ``tests/test_rotation.py`` keeps an INDEPENDENT implementation of the
    same parse as a cross-check.

    A passing verdict is rows+schema+hash all true, or a rows-only run
    (``err == 'no_oracle'`` with a recorded row count) for the
    approximate/stubbed ops that declare no SQL oracle by design.
    """
    import json
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    numbered: list[tuple[int, dict]] = []
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):  # unreadable round file: skip it
            continue
        try:
            num = int(p.stem.rsplit("_r", 1)[1])
        except (IndexError, ValueError):
            num = 0
        numbered.append((num, data))
    # ALL THREE folds are latest-verdict-wins, so they must share NUMERIC
    # round ordering — the lexical glob order above breaks at r100 vs r99
    # with the 2-digit zero-padded naming (ADVICE r8).
    numbered.sort(key=lambda t: t[0])
    rounds = [data for _, data in numbered]
    passed, red = _fold_verdicts(rounds)
    return passed, red, _fold_hash_green(rounds), _fold_latest_round(numbered)


def _verdict_passes(rec: dict) -> bool:
    """One driver record passes iff rows+schema+hash are all true, or it
    is a rows-only-by-design run that actually executed."""
    rows = rec.get("spark_rows")
    return bool(
        rec.get("rows_match") and rec.get("schema_match") and rec.get("hash_match")
    ) or (
        rec.get("err") == "no_oracle"
        # crashed rows record spark_rows: None (not a missing key) in the
        # real driver format — classify them red, never raise at import.
        and isinstance(rows, int)
        and rows >= 0
    )


def _fold_verdicts(rounds: list[dict]) -> tuple[frozenset[str], tuple[str, ...]]:
    """Fold per-round verdict dicts (oldest → newest) into (passed ids,
    latest-red ids); a later round's verdict overrides an earlier one's."""
    passed: set[str] = set()
    failed: set[str] = set()
    for data in rounds:
        for name, rec in data.items():
            if _verdict_passes(rec):
                passed.add(name)
                failed.discard(name)
            else:
                failed.add(name)
                passed.discard(name)
    return frozenset(passed), tuple(sorted(failed))


def _fold_latest_round(numbered: list[tuple[int, dict]]) -> dict[str, int]:
    """Round number of each id's LATEST driver verdict of any kind — the
    re-verification age used to rotate stale greens back into the window
    (VERDICT r7 #3: without it the back segment sat in registration order
    and the driver re-checked the same head-50 every round while 48 ops'
    verdicts predated the round-3 testdata regeneration forever)."""
    latest: dict[str, int] = {}
    for num, data in numbered:
        for name in data:
            latest[name] = max(num, latest.get(name, 0))
    return latest


def _fold_hash_green(rounds: list[dict]) -> frozenset[str]:
    """Ids whose LATEST verdict is a full hash pass (not rows-only) —
    these need no oracle-upgrade slot; latest verdict wins per id."""
    green: set[str] = set()
    for data in rounds:
        for name, rec in data.items():
            if (
                rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match")
            ):
                green.add(name)
            else:
                green.discard(name)
    return frozenset(green)


#: Names the driver already verified (hash-green, or rows-only by design
#: for oracle-less approximate ops) — DERIVED from the CORRECTNESS files at
#: import time (see _load_driver_verdicts). The driver evaluates only the
#: FIRST ~50 entries of ``queries()`` each round, so ``driver_ordered``
#: pushes verified ids to the back until every operator has a verdict;
#: they remain covered by the local parity suite every round. The static
#: snapshot below (rounds 1–3) is the fallback if no verdict files exist.
_DRIVER_VERIFIED_SNAPSHOT_R1_R3: frozenset[str] = frozenset(
    {
        # --- round 1 ---
        "scan_parquet", "scan_pruned", "scan_filtered",
        "sink_parquet_roundtrip", "sink_csv_json_roundtrip",
        "sink_parquet_partitioned", "sql_interface", "sink_sorted_layout",
        "observe_metrics", "scan_merge_schema", "project_alias",
        "project_computed", "filter_compare", "filter_in_like",
        "filter_null_3vl", "filter_bool", "join_inner_equi",
        "join_star_multiway", "join_left_outer", "join_right_outer",
        "join_full_outer", "join_semi", "join_anti", "join_cross",
        "join_theta", "join_range_interval", "join_asof", "join_broadcast",
        "join_bucketed_colocated", "sub_scalar_correlated", "sub_in_exists",
        "join_lateral", "agg_group_pricing", "agg_global",
        "agg_count_distinct", "agg_approx_distinct", "agg_stats",
        "agg_having", "agg_conditional", "agg_rollup", "agg_cube",
        "agg_grouping_sets", "agg_percentile", "agg_minmax_by",
        "agg_salted_skew", "agg_heavy_hitters_approx", "agg_mode",
        "agg_hourly_events",
        # --- round 2 ---
        "source_csv_permissive", "agg_collect_sorted", "vec_centroid_label",
        "win_topk_group", "win_rank_family", "win_lag_delta",
        "win_running_sum", "win_moving_avg", "win_range_frame",
        "win_first_last", "win_distribution", "sort_multicol",
        "limit_global_topk", "set_union_all", "set_union_distinct",
        "set_intersect", "set_except", "fn_string", "fn_regexp",
        "fn_split_explode", "fn_date", "fn_timestamp", "fn_math",
        "fn_conditional", "fn_array", "fn_json_map", "fn_struct_nested",
        "fn_cast", "fn_bitwise", "fn_interval", "udf_python",
        "udf_pandas_scalar", "udaf_pandas_grouped", "udf_grouped_map",
        "udtf_python", "udf_arrow_optimized", "text_exact_dedup",
        "text_token_stats", "text_ngrams", "text_tfidf_topk",
        "text_lang_profile", "text_quality_score", "text_fingerprint",
        "text_near_dedup_minhash", "text_near_dedup_simhash",
        "text_ngram_jaccard", "text_lang_id", "text_token_bpe",
        "text_clean_html", "vec_knn_cosine",
        # --- round 3 (CORRECTNESS_r03.json: 44 hash-green, 6 rows-only) ---
        "stream_tumbling", "stream_session", "stream_stateful_counter",
        "stream_counter_rate", "stream_topk_talkers", "stream_static_join",
        "stream_stream_join", "source_stream_events", "stream_sliding",
        "stream_alert_threshold", "stream_session_dynamic",
        "stream_distinct_approx", "stream_dedup", "stream_watermark_late",
        "stream_rate_ewma", "stream_stream_left_join", "source_stream_csv",
        "sink_stream_parquet", "sink_foreach_batch", "vec_pairwise_topk",
        "vec_ann_ivf", "vec_near_dup_cosine", "multimodal_binary",
        "multimodal_decode_stub", "vec_ann_lsh", "pivot_events_wide",
        "unpivot_lineitem_long", "sample_split_hash",
        "sample_stratified_topk", "pack_sequences", "win_sessionize_batch",
        "pipeline_pretrain_corpus", "source_json_lines",
        "multimodal_frame_sample", "agg_approx_quantile",
        "scan_snapshot_diff", "ts_gapfill", "join_salted_skew",
        "vec_quantize_int8", "scan_manifest_stats", "text_pii_redact",
        "text_quality_gopher", "text_decontaminate",
        "text_boilerplate_share", "pipeline_mixture_weights",
        "pipeline_chunk_documents", "text_dedup_components",
        "vec_semantic_dedup", "agg_incremental_rollup", "events_funnel",
    }
)

(
    _derived_passed,
    _derived_red,
    _derived_hash_green,
    _derived_latest_round,
) = _load_driver_verdicts()

#: Latest-verdict round per id (0 = never driver-checked). Orders the
#: already-verified BACK segment oldest-first so the capped window becomes
#: a round-robin re-verification sweep instead of re-checking the same
#: registration-order head every round.
DRIVER_VERDICT_ROUND: dict[str, int] = _derived_latest_round

#: Ids whose LATEST driver verdict is a FULL hash pass (strict subset of
#: DRIVER_VERIFIED — rows-only passes are excluded). Oracle-upgraded ops
#: drop out of the window-slack queue once they appear here.
DRIVER_HASH_GREEN: frozenset[str] = _derived_hash_green

DRIVER_VERIFIED: frozenset[str] = (
    _derived_passed if _derived_passed else _DRIVER_VERIFIED_SNAPSHOT_R1_R3
)

#: Ids whose LATEST driver verdict is red/crashed — they go FIRST so the
#: fix is re-verified before anything else. Derived alongside
#: DRIVER_VERIFIED (all rounds so far: zero failures → empty).
RECHECK_FIRST: tuple[str, ...] = _derived_red

#: Round-4 window priority among the 67 still-unverified operators
#: (VERDICT r3 action #2). 67 > the driver's 50-query cap, so the builder
#: chooses which 17 overflow to round 5: NM-core streaming, the flagship
#: dedup/vector ops, and the full TPC-H suite go INSIDE the window;
#: governance/novelty scalars (fn_encrypt_roundtrip, fn_mask, fn_ip_subnet,
#: agg_string_concat, pipeline_data_card, win_streak_length,
#: agg_sla_availability, …) wait in registration order behind these.
PRIORITY_FIRST: tuple[str, ...] = (
    # NM-core streaming + flagship-class ops (VERDICT r3 named these);
    # source_stream_custom is round 4's single new registration (r3 #6)
    # and displaces events_rate_limit into the round-5 overflow.
    "stream_gap_alert", "stream_incremental_rollup", "sink_cdc_apply",
    "stream_progress_audit", "source_stream_custom", "graph_pagerank_links",
    "vec_kmeans_assign", "ts_sla_gap_detect", "dedup_latest_per_key",
    "agg_bitmap_distinct",
    # TPC-H decision-support suite (§2.N, all 15)
    "tpch_q03", "tpch_q04", "tpch_q06", "tpch_q07", "tpch_q08",
    "tpch_q09", "tpch_q10", "tpch_q13", "tpch_q14", "tpch_q15",
    "tpch_q17", "tpch_q18", "tpch_q19", "tpch_q21", "tpch_q22",
    # §2.O SQL-surface / corpus-analytics / sketch rows
    "source_orc_roundtrip", "fn_url", "fn_variant", "fn_try_arith",
    "agg_linreg", "agg_sketch_hll", "join_anti_null_aware",
    "agg_bool_countif", "pipeline_token_budget", "text_word_freq_zipf",
    "text_cooccur_lift", "agg_retention_cohort", "ts_resample_ohlc",
    "ts_anomaly_zscore",
    # §2.Q rows that belong with the core (dedup/vector/layout/events)
    "agg_corr_moments", "vec_batch_knn", "multimodal_dedup_binary",
    "pipeline_dedup_survivors", "events_transition_matrix",
    "sink_zorder_layout", "pipeline_shard_assignment",
    "agg_histogram_fixed", "agg_pareto_talkers", "join_asof_orders",
    "sink_compact_small_files", "events_rate_limit",
)


#: Rows-only ops upgraded to a full hash oracle AFTER their last driver
#: verdict (VERDICT r4 action #5): their `err:"no_oracle"` pass is stale in
#: the strongest sense — a better check now exists but has never run under
#: the driver. They spend the window slots left over once every
#: never-checked op is placed (round 5: 47 backlog + 3 upgraded = exactly
#: the 50-slot window), ahead of plain already-green rows.
ORACLE_UPGRADED: tuple[str, ...] = (
    "text_near_dedup_minhash",
    "multimodal_decode_stub",
    "agg_heavy_hitters_approx",
    # overflow past the 50-slot window this round; first in line for the
    # round-6 window alongside the bounds-frame conversions
    "vec_ann_lsh",
    "text_near_dedup_simhash",
    "vec_ann_ivf",
    "vec_semantic_dedup",
    "agg_approx_distinct",
    "agg_approx_quantile",
    "agg_sketch_hll",
    "stream_distinct_approx",
)


#: Ops whose IMPLEMENTATION was optimized in round ``value`` — a driver
#: verdict from an EARLIER round ran against code that no longer exists,
#: so their green is stale in the same sense as ORACLE_UPGRADED's
#: (VERDICT r14 #3: 20+ of the r14-touched operators were last
#: driver-verified at r13, before the optimization). They spend window
#: slots ahead of the plain oldest-first re-verification sweep until a
#: verdict from >= their touch round lands, then drop back automatically.
TOUCHED_SINCE_VERDICT: dict[str, int] = {
    # r14 optimization session (OPTIMIZATION_r14.md change sections);
    # the operator-side streaming ops are at 16: their foreachBatch
    # drains moved onto streaming.core.drain(), which sizes their shuffle
    # to the state partition count (they ran at the batch width before)
    "incremental_join_view": 14,
    "vec_index_drift": 14,
    "text_profile_drift": 14,
    "quality_gate_drift": 14,
    "vec_ivf_cell_retrain": 14,
    "sink_compaction_apply": 14,
    "sink_backfill_apply": 14,
    "sink_targeted_delete": 14,
    "sink_orphan_quarantine": 14,
    "stream_index_drift": 16,
    "stream_serve_recall": 16,
    "stream_vocab_gate": 16,
    "stream_fertility_gate": 16,
    "stream_decontaminate_gate": 16,
    "stream_profile_gate": 16,
    "stream_ann_serve": 16,
    "vec_rank_metrics": 14,
    "stream_minhash_index_merge": 16,
    "dedup_components_merge": 15,
    "dedup_components_retract": 15,
    "text_dedup_components": 15,  # shares the CC kernel's lazy checkpoint
    "graph_community_lpa": 15,
    "stream_gate_scores": 16,
    "text_ppl_frozen_score": 14,
    "stream_pii_gate": 16,
    "stream_fano_fold": 16,
    # the five streaming/alerts.py partials folds moved onto
    # streaming.core.drain_partials() (batch_id-keyed overwrite
    # landings, detached results)
    "stream_incremental_rollup": 16,
    "stream_burn_rate": 16,
    "stream_expectations_gate": 16,
    "stream_histogram_log2": 16,
    "stream_sketch_cms": 16,
    # r15 optimization session (OPTIMIZATION_r15.md change sections)
    "graph_pagerank_links": 15,
    "multimodal_joined_dedup": 15,
}


def _touched_stale(name: str) -> bool:
    """True when ``name``'s latest driver verdict predates the round that
    changed its implementation — the verdict proves the OLD code."""
    touched = TOUCHED_SINCE_VERDICT.get(name)
    return touched is not None and DRIVER_VERDICT_ROUND.get(name, 0) < touched


def driver_ordered(mapping: dict) -> dict:
    """Reorder ``mapping`` for the driver's capped per-round check window:
    fixed-red rows first, prioritized never-checked rows next, remaining
    never-checked rows next (registration order), oracle-upgraded
    rows-only ops next (their no-oracle pass is superseded by a hash
    oracle that has never run under the driver), optimization-touched
    ops next (their verdict predates the code they now run — VERDICT r14
    #3), already-verified last — OLDEST latest-verdict first (ties:
    registration order), so a fully green registry turns the window into
    a round-robin re-verification sweep instead of re-checking the same
    head-50 forever."""
    front = [n for n in RECHECK_FIRST if n in mapping]
    prio = [
        n for n in PRIORITY_FIRST
        if n in mapping and n not in DRIVER_VERIFIED and n not in RECHECK_FIRST
    ]
    placed = set(front) | set(prio)
    mid = [
        n for n in mapping
        if n not in DRIVER_VERIFIED and n not in placed
    ]
    placed |= set(mid)
    upgraded = [
        n for n in ORACLE_UPGRADED
        if n in mapping and n not in placed and n not in DRIVER_HASH_GREEN
    ]
    placed |= set(upgraded)
    reg_idx = {n: i for i, n in enumerate(mapping)}
    touched = sorted(
        (
            n for n in TOUCHED_SINCE_VERDICT
            if n in mapping and n not in placed and _touched_stale(n)
        ),
        key=lambda n: (DRIVER_VERDICT_ROUND.get(n, 0), reg_idx[n]),
    )
    placed |= set(touched)
    back = sorted(
        (
            n for n in mapping
            if n in DRIVER_VERIFIED and n not in placed and n not in front
        ),
        key=lambda n: (DRIVER_VERDICT_ROUND.get(n, 0), reg_idx[n]),
    )
    return {
        n: mapping[n] for n in front + prio + mid + upgraded + touched + back
    }
