"""Static source guards: driver-side data movement stays reviewed.

The per-round scale audit (VERDICT r5–r7) hand-checks every ``.collect()``
in operator code against the model-scalar rule: a collect may fetch a
MODEL-sized artifact (k centroids, one query vector/signature, an O(bands)
census, a post-drain memory-sink read) — never a data-proportional frame.
This sweep pins the audited sites by (file, enclosing function, count) so
any NEW driver-side collect fails the suite and forces the same review,
instead of waiting for the next manual audit to find it.
"""

from __future__ import annotations

import pytest

import ast
from pathlib import Path

pytestmark = pytest.mark.fast

PKG = Path(__file__).resolve().parent.parent / "storm_netmonitor_spark"

#: Audited ``.collect()`` sites: {relative file: {outermost function: count}}.
#: Every entry's bound class (why it is NOT data-proportional):
#:   corpus.semdedup_assignment      — k seed centroids (model scalar;
#:     the clustering stage factored out of semantic_dedup_summary, r10)
#:   extensions3.scan_cache_reuse    — 3×1-row cached-aggregate combine
#:   extensions3.pagerank_over       — one max|Δrank| scalar per round
#:     (the iterate-to-tolerance convergence probe)
#:   extensions5.hamming_topk        — one 8-byte query signature
#:   extensions5.ppl_tercile_buckets_over — O(bands) census + 2 tercile
#:     doubles (the kernel factored out of text_ppl_buckets, round 9)
#:   extensions6.stream_ann_serve    — the post-drain result read-back
#:     only (O(queries·topk) rows); the per-batch query collect was
#:     REMOVED in r12 (probe routing moved executor-side, the query
#:     side attaches as a broadcast frame)
#:   extensions6.text_minhash_index_merge — 1 max-doc-id scalar (the
#:     split point both engines compute identically)
#:   scans.observe_metrics           — the observed job's own action
#:   vectors._lloyd_round            — k partial-centroid rows per round
#:   vectors.ivf_index               — k seed centroids (the trained-index
#:     stage factored out of vec_ann_ivf, r10)
#:   vectors.vec_ann_ivf             — 1 query vector
#:   vectors.vec_ann_lsh             — 1 query vector
_AUDITED_COLLECT_SITES = {
    "operators/corpus.py": {"semdedup_assignment": 1},
    "operators/extensions3.py": {"scan_cache_reuse": 1, "pagerank_over": 1},
    "operators/extensions5.py": {"hamming_topk": 1, "ppl_tercile_buckets_over": 2},
    # (r12: the post-drain result detaches across the streaming ops
    # moved into io.detach_result — a VALUES local relation instead of
    # the 32-task createDataFrame job)
    "operators/extensions6.py": {
        "text_minhash_index_merge": 1,
    },
    # §2.X staged batch: _embed_split is ONE scalar max (the split-point
    # precedent of text_minhash_index_merge); base_trained_cents collects
    # the K seed vectors (the ivf_index K×dim model precedent); the
    # streaming merge collects its split scalar plus the final verified-
    # pair frame to detach it from the temp sink before rmtree (the
    # stream_ann_serve result-detach precedent — output-sized, ~100 rows)
    "operators/extensions7.py": {
        "_embed_split": 1,
        "base_trained_cents": 1,
        # (r14 optimization: stream_minhash_index_merge's inline
        # max-doc-id collect moved to the shared session-memoized
        # extensions8._doc_split — the split scalar is fetched once per
        # session instead of once per rebuilt sample)
        # r14: the ≤K-row drift census (model-scalar class) collects so
        # the drift tail computes driver-side (drift_table_local)
        "vec_index_drift": 1,
    },
    # §2.AO staged batch (round 15): _vec_split is ONE scalar max over
    # vec_id — the embeddings twin of _doc_split (split-point class)
    "operators/extensions24.py": {
        "_vec_split": 1,
    },
    # §2.AP staged batch (round 15): the k-core peel fetches ONE
    # 3-integer census row per unrolled round (the
    # pagerank-convergence-probe model-scalar class; rounds are a
    # constant, never data)
    "operators/extensions25.py": {
        "kcore_rounds_over": 1,
    },
    # §2.Y staged batch: _doc_split is ONE scalar max (the split-point
    # precedent); stream_index_drift collects the K-row base census
    # (model-scalar class, artifact-store trained) and the final
    # n_cells-row drift table to detach it from the temp sink before
    # rmtree (the stream_ann_serve result-detach precedent)
    "operators/extensions8.py": {
        "_doc_split": 1,
        "stream_index_drift": 1,
        # r14: the ≤{_PROFILE_CELLS}-row census collect feeding the
        # driver-side drift tail (drift_table_local)
        "text_profile_drift": 1,
        # r14 optimization: the fold-size identity counters
        # (star/delta edge counts — two 8-byte integers) collect in ONE
        # aggregate that doubles as the tagged edge frame's lazy-
        # checkpoint materialization (was an eager checkpoint plus two
        # count() actions — three jobs for the same scalars)
        "dedup_components_merge": 1,
    },
    # §2.Z staged batch: vec_ann_recall collects the Q-row query block
    # (Q=10 vectors — the vec_ann_ivf single-query-fetch precedent,
    # batched); the probe ranks derive from it and the broadcastable
    # K×dim centroid artifact with no further action
    "operators/extensions9.py": {
        "vec_ann_recall": 1,
    },
    # §2.AA staged batch: sink_targeted_delete collects its 30-row
    # per-partition delete ledger to detach it from the temp rewrite dir
    # before rmtree (the stream_ann_serve result-detach precedent);
    # vec_ivf_cell_retrain collects the K-row drift table to build the
    # spliced repaired model (model-scalar class, the _lloyd_round
    # partials precedent)
    "operators/extensions10.py": {
        "vec_ivf_cell_retrain": 1,
    },
    # §2.AC staged batch: stream_gate_scores collects the drained scored
    # table to detach it from the temp sink before rmtree (the
    # stream_ann_serve / stream_index_drift result-detach precedent).
    # r14: quality_gate_drift's ≤4-row gate-cell census collects so the
    # drift tail computes driver-side (drift_table_local)
    "operators/extensions12.py": {
        "quality_gate_drift": 1,
        # r14 optimization: the frozen LM's token-count total — ONE
        # 8-byte model scalar, session-memoized so scoring attaches it
        # as a literal instead of re-aggregating + re-broadcasting the
        # 1-row frame per invocation (per micro-batch in the gate)
        "_frozen_lm_total": 1,
    },
    # §2.AD staged batch (round-13 candidates): the applies collect
    # (a) the plan's work-list — O(partitions), the scheduler's own
    # list, bounded by the calendar — and (b) the final ledger to
    # detach it from the temp output before rmtree (the
    # sink_targeted_delete result-detach precedent); the quarantine
    # collects only its 2-row ledger
    # (r12 tuning: the ledger/result detaches moved into
    # io.detach_result / io.tiny_local_frame — a VALUES local relation
    # instead of the 32-task createDataFrame job — so only the
    # O(partitions) work-list collect remains op-side)
    # (r14 optimization: sink_compaction_apply collects the bin map —
    # O(dates × 24) rows from a partition-columns-only census scan —
    # once, feeding both the write join's broadcast side as a VALUES
    # relation and the driver-side footer ledger; the ledgers
    # themselves now come from written-file footer metadata, so the
    # distributed read-back collects are gone)
    # (r14 optimization, second pass: sink_compaction_apply's bin-map
    # collect is gone too — the (date, hour) census now derives from
    # the hourly layout's parquet FOOTERS driver-side, so the op's only
    # remaining collect-class action is the shared footer-ledger read)
    "operators/extensions13.py": {
        "sink_backfill_apply": 1,
    },
    # §2.AE staged batch: vec_rank_metrics collects the Q-row query
    # block (the vec_ann_recall precedent — driver-side probe-rank math
    # on the broadcastable model); the drained-result detaches moved to
    # io.detach_result in the r12 tuning
    "operators/extensions14.py": {
        "vec_rank_metrics": 1,
    },
    # §2.AF staged batch (post-r12-tuning): the drained-report detaches
    # live in io.detach_result; the profile gate keeps ONE collect —
    # its bounded standing-census train (the ivf_base_census precedent).
    # (r14 optimization: the 160-row folded delta census is now read
    # driver-side from the land_bounded_frame landings with pyarrow —
    # no distributed read-back, no second collect)
    "operators/extensions15.py": {
        "stream_profile_gate": 1,
    },
    # §2.AH staged batch (round-14 candidates): the registered BPE op
    # collects the CAPPED top-V word-frequency table (_BPE_WORD_CAP
    # rows — the ivf_index k-seed model-fetch class; the cap is what
    # makes this bounded at any corpus size) for the driver-side
    # induction; the distributed scale-path kernel collects ONE
    # winning pair per round (the pagerank convergence-probe class)
    "operators/extensions17.py": {
        "bpe_merge_rounds": 1,
        "text_bpe_merge_train": 1,
    },
    # §2.AJ staged batch: the fertility op collects the R-row trained
    # merge table (the frozen-artifact fetch — bounded by _BPE_ROUNDS)
    # to drive the apply kernel
    "operators/extensions19.py": {
        "text_bpe_fertility": 1,
    },
    # §2.AK staged batch: the standing-merge trainer collects the
    # CAPPED word table once per corpus version (the text_bpe_fertility
    # model-fetch class, artifact-persisted); the standing vocabulary
    # collects its K=25 tokens once per session (r15: the per-batch
    # broadcast join became an InSet literal — the frozen-LM-scalar
    # class, session-memoized)
    "operators/extensions20.py": {
        "_standing_merges": 1,
        "_standing_vocab_tokens": 1,
    },
    "operators/scans.py": {"observe_metrics": 1},
    "operators/vectors.py": {
        "_lloyd_round": 1,
        "ivf_index": 1,
        "vec_ann_ivf": 1,
        "vec_ann_lsh": 1,
    },
}


#: Audited single-partition funnel sites (``coalesce(1)`` /
#: ``repartition(1)``): two are tiny FIXTURE stagings (one small CSV file
#: on purpose), one re-ranks a constant-size kNN shortlist.
_AUDITED_ONE_PARTITION_SITES = {
    "operators/scans.py": {"source_csv_permissive": 1},  # messy-CSV fixture
    "operators/vectors.py": {"mmr_diversify_over": 1},  # k·k shortlist
    "streaming/windows.py": {"source_stream_csv": 1},  # CSV-source fixture
}


def _attr_sites(attrs: frozenset[str]) -> dict[str, dict[str, int]]:
    out: dict[str, dict[str, int]] = {}
    for sub in ("operators", "streaming"):
        for p in sorted((PKG / sub).glob("*.py")):
            tree = ast.parse(p.read_text())
            sites: dict[str, int] = {}

            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack: list[str] = []

                def visit_FunctionDef(self, node):
                    self.stack.append(node.name)
                    self.generic_visit(node)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Attribute(self, node):
                    if node.attr in attrs and self.stack:
                        fn = self.stack[0]
                        sites[fn] = sites.get(fn, 0) + 1
                    self.generic_visit(node)

            V().visit(tree)
            if sites:
                out[f"{sub}/{p.name}"] = sites
    return out


def _collect_sites() -> dict[str, dict[str, int]]:
    return _attr_sites(frozenset({"collect"}))


def _one_partition_sites() -> dict[str, dict[str, int]]:
    """``<df>.coalesce(1)`` / ``<df>.repartition(1)`` call sites — NOT the
    SQL function ``F.coalesce(col, ...)`` (disambiguated by the single
    literal-1 argument)."""
    out: dict[str, dict[str, int]] = {}
    for sub in ("operators", "streaming"):
        for p in sorted((PKG / sub).glob("*.py")):
            tree = ast.parse(p.read_text())
            sites: dict[str, int] = {}

            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack: list[str] = []

                def visit_FunctionDef(self, node):
                    self.stack.append(node.name)
                    self.generic_visit(node)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    f = node.func
                    if (
                        isinstance(f, ast.Attribute)
                        and f.attr in ("coalesce", "repartition")
                        and self.stack
                        and len(node.args) == 1
                        and isinstance(node.args[0], ast.Constant)
                        and node.args[0].value == 1
                    ):
                        fn = self.stack[0]
                        sites[fn] = sites.get(fn, 0) + 1
                    self.generic_visit(node)

            V().visit(tree)
            if sites:
                out[f"{sub}/{p.name}"] = sites
    return out


def test_one_partition_sites_are_exactly_the_audited_set():
    actual = _one_partition_sites()
    new = {
        (f, fn): n
        for f, fns in actual.items()
        for fn, n in fns.items()
        if n > _AUDITED_ONE_PARTITION_SITES.get(f, {}).get(fn, 0)
    }
    assert not new, (
        "NEW coalesce(1)/repartition(1) funnel site(s) — a single-task "
        f"stage at scale; audit and pin with its bound: {new}"
    )
    gone = {
        (f, fn): n
        for f, fns in _AUDITED_ONE_PARTITION_SITES.items()
        for fn, n in fns.items()
        if actual.get(f, {}).get(fn, 0) < n
    }
    assert not gone, f"audited sites no longer exist — prune: {gone}"


def test_collect_sites_are_exactly_the_audited_set():
    actual = _collect_sites()
    new = {
        (f, fn): n
        for f, fns in actual.items()
        for fn, n in fns.items()
        if n > _AUDITED_COLLECT_SITES.get(f, {}).get(fn, 0)
    }
    assert not new, (
        "NEW driver-side .collect() site(s) — audit each against the "
        f"model-scalar rule, then add it with its bound class: {new}"
    )
    gone = {
        (f, fn): n
        for f, fns in _AUDITED_COLLECT_SITES.items()
        for fn, n in fns.items()
        if actual.get(f, {}).get(fn, 0) < n
    }
    assert not gone, (
        f"audited collect sites no longer exist — prune the registry: {gone}"
    )


#: Tokens of a hand-written streaming query lifecycle (writer, trigger,
#: wait) — only ``streaming.core.drain`` / ``drain_to_memory_until`` may
#: spell them, so every query gets the same checkpoint, state sizing and
#: conf scoping.
_LIFECYCLE_TOKENS = ("writeStream", ".trigger(", "awaitTermination")


def test_streaming_lifecycle_lives_only_in_streaming_core():
    offenders = {
        (p.relative_to(PKG).as_posix(), tok)
        for p in sorted(PKG.rglob("*.py"))
        if p.relative_to(PKG).as_posix() != "streaming/core.py"
        for tok in _LIFECYCLE_TOKENS
        if tok in p.read_text()
    }
    assert not offenders, (
        "streaming query started outside streaming/core.py — route it "
        f"through streaming.core.drain(): {sorted(offenders)}"
    )


def test_partials_landing_layout_lives_only_in_core_and_io():
    """The ``batch_id=<id>`` landing layout of a per-batch partials fold
    is spelled by ``streaming.core.drain_partials`` (and the driver-side
    landing reader in ``io``) only, so every fold gets the same
    retry-overwrite, read-back, detach and cleanup."""
    offenders = sorted(
        rel
        for p in PKG.rglob("*.py")
        if (rel := p.relative_to(PKG).as_posix())
        not in ("streaming/core.py", "io.py")
        and "batch_id=" in p.read_text()
    )
    assert not offenders, (
        "batch_id-keyed landing outside streaming/core.py and io.py — "
        f"fold the partials through streaming.core.drain_partials(): {offenders}"
    )
