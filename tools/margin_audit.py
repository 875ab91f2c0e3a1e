#!/usr/bin/env python
"""Margin audit for the float-vs-SQL decision margins the round-5 oracle
upgrades rest on (vec_ann_lsh / vec_ann_ivf / vec_semantic_dedup /
text_near_dedup_minhash / text_near_dedup_simhash).

Those operators compute with float accumulation (numpy / double folds)
while their DuckDB twins use SQL double/decimal sums — DIFFERENT
summation orders, whose results agree only because every decision the
pipelines take (cluster argmax, probe choice, sign bit, threshold
crossing) clears the ~1e-13 relative accumulation error by many orders.
This script re-measures those margins against the CURRENT testdata with
exact numpy replicas, so a driver-side testdata regeneration can be
audited in seconds instead of debugging a hash mismatch.

Usage:
    python tools/margin_audit.py [SF_DIR ...]   # default: sf0.01 sf0.1

Exit non-zero if any row fails its own validity criterion: numeric
margins under the 1e-9 safety floor (still four orders above float
error), MG capacity headroom under 1 (candidate set no longer complete),
tokenizer preconditions violated, or a minhash pair weak enough
(J < 0.7) that banding recall is likely partial.
"""
from __future__ import annotations

import math
import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from storm_netmonitor_spark.operators.corpus import (  # noqa: E402
    SEMDEDUP_CLUSTER_TARGET,
    SEMDEDUP_ITERS,
    SEMDEDUP_K_MIN,
    SEMDEDUP_TAU,
)
from storm_netmonitor_spark.operators.corpus2 import (  # noqa: E402
    _XENT_KEEP_MAX,
)
from storm_netmonitor_spark.operators.vectors import (  # noqa: E402
    IVF_ITERS,
    IVF_K,
    IVF_NPROBE,
    _lsh_hyperplanes,
)

FLOOR = 1e-9


def _lloyd(emb: np.ndarray, seeds: np.ndarray, iters: int):
    """Exact replica of _lloyd_round: argmax assignment, L2-normalized
    means, empty-cluster carryover. Returns (final cents, min margin)."""
    cents = seeds.copy()
    k_n = len(cents)
    margin = math.inf
    for _ in range(iters):
        dots = emb @ cents.T
        part = np.partition(dots, -2, axis=1)
        margin = min(margin, float((part[:, -1] - part[:, -2]).min()))
        ks = np.argmax(dots, axis=1)
        nxt = []
        for k in range(k_n):
            sel = emb[ks == k]
            if len(sel) == 0:
                nxt.append(cents[k])
                continue
            m = sel.mean(axis=0)
            nrm = math.sqrt(float(m @ m)) or 1.0
            nxt.append(m / nrm)
        cents = np.array(nxt)
    dots = emb @ cents.T
    part = np.partition(dots, -2, axis=1)
    margin = min(margin, float((part[:, -1] - part[:, -2]).min()))
    return cents, margin


def audit(sf_dir: str) -> list[tuple[str, str, float, bool]]:
    rows: list[tuple[str, str, float]] = []
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    ids = np.array(t.column("vec_id").to_pylist())
    emb = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    dim = emb.shape[1]

    # --- vec_ann_lsh: sign-bit margin -------------------------------------
    planes = _lsh_hyperplanes(dim)
    m = float(np.abs(emb @ planes.T).min())
    rows.append(("vec_ann_lsh", "min |plane·v| (sign margin)", m, m >= FLOOR))

    # --- vec_ann_ivf: assignment / probe / shortlist margins --------------
    mask = ids != 0
    corpus, cids = emb[mask], ids[mask]
    qvec = emb[ids == 0][0]
    seeds = np.array([corpus[cids == i][0] for i in range(1, IVF_K + 1)])
    cents, am = _lloyd(corpus, seeds, IVF_ITERS)
    rows.append(("vec_ann_ivf", "min assignment margin (all rounds)",
                 am, am >= FLOOR))
    cd = cents @ qvec
    sc = sorted(zip(cd, -np.arange(IVF_K)), reverse=True)
    m = float(sc[IVF_NPROBE - 1][0] - sc[IVF_NPROBE][0])
    rows.append(("vec_ann_ivf", "probe cut margin (nprobe-th vs next)",
                 m, m >= FLOOR))
    probe = [-nk for _, nk in sc[:IVF_NPROBE]]
    ks = np.argmax(corpus @ cents.T, axis=1)
    fs = corpus[np.isin(ks, probe)] @ qvec
    o = np.sort(fs)[::-1]
    if len(o) > 40:
        m = float(o[39] - o[40])
        rows.append(("vec_ann_ivf", "float shortlist cut (40th vs 41st)",
                     m, m >= FLOOR))
    m = float(o[9] - o[10])
    rows.append(("vec_ann_ivf", "top-10 cut margin", m, m >= FLOOR))

    # --- stream_ann_serve: cell-routing + per-query probe margins ---------
    # routing (argmax over final cents) backs the staged ivf_cells frame
    # every serve batch joins; the probe cut is taken per served query id
    from storm_netmonitor_spark.operators.extensions6 import (
        STREAM_ANN_QUERY_IDS,
    )

    dots = corpus @ cents.T
    part = np.partition(dots, -2, axis=1)
    m = float((part[:, -1] - part[:, -2]).min())
    rows.append(("stream_ann_serve", "min cell-routing margin (best vs 2nd, "
                 "all corpus vectors)", m, m >= FLOOR))
    m = math.inf
    for qid in STREAM_ANN_QUERY_IDS:
        qd = cents @ emb[ids == qid][0]
        sq = np.sort(qd)[::-1]
        m = min(m, float(sq[IVF_NPROBE - 1] - sq[IVF_NPROBE]))
    rows.append(("stream_ann_serve", "min probe cut margin over served "
                 "query ids", m, m >= FLOOR))

    # --- §2.X staged: base-trained routing margins (insert/drift) ---------
    from storm_netmonitor_spark.operators.extensions7 import (
        _SPLIT_DEN,
        _SPLIT_NUM,
    )

    split = (int(ids.max()) + 1) * _SPLIT_NUM // _SPLIT_DEN
    bmask = (ids >= 1) & (ids < split)
    bcorpus, bcids = emb[bmask], ids[bmask]
    bseeds = np.array([bcorpus[bcids == i][0] for i in range(1, IVF_K + 1)])
    bcents, bam = _lloyd(bcorpus, bseeds, IVF_ITERS)
    rows.append(("vec_ivf_index_insert",
                 "min base-Lloyd assignment margin (all rounds)",
                 bam, bam >= FLOOR))
    both = emb[ids >= 1]
    bd = both @ bcents.T
    bpart = np.partition(bd, -2, axis=1)
    m = float((bpart[:, -1] - bpart[:, -2]).min())
    rows.append(("vec_index_drift",
                 "min base-trained routing margin (base+delta)",
                 m, m >= FLOOR))

    # --- vec_ann_recall (§2.Z): per-query probe-rank + top-k margins ------
    from storm_netmonitor_spark.operators.extensions9 import (
        _REC_K,
        _REC_PROBES,
        _REC_QUERIES,
    )

    mp = math.inf
    mr = math.inf
    for qid in range(_REC_QUERIES):
        qv = emb[ids == qid][0]
        qd = np.sort(cents @ qv)[::-1]
        for p in _REC_PROBES:
            if p < len(qd):
                mp = min(mp, float(qd[p - 1] - qd[p]))
        smask = (ids != 0) & (ids != qid)
        sims = np.round(emb[smask] @ qv, 6)
        o = np.sort(sims)[::-1]
        gap = float(o[_REC_K - 1] - o[_REC_K])
        # decimal-6 sims: gap 0 is a tie (broken by vec_id identically
        # on both engines) — only a NONZERO sub-quantum gap is a hazard
        if gap > 0:
            mr = min(mr, gap)
    rows.append(("vec_ann_recall", "min probe-rank gap at swept nprobe "
                 "boundaries (all queries)", mp, mp >= FLOOR))
    rows.append(("vec_ann_recall", "min nonzero top-k boundary gap in "
                 "decimal-6 sims (>= one quantum)", mr,
                 mr >= 1e-6 - 1e-12))

    # --- vec_ivf_cell_retrain (§2.AA): repaired-model reroute margins -----
    from storm_netmonitor_spark.operators.extensions7 import _DRIFT_DEN

    assign_b = np.argmax(bd, axis=1)
    both_ids = ids[ids >= 1]
    nb = np.bincount(assign_b[both_ids < split], minlength=IVF_K)
    nd = np.bincount(assign_b[both_ids >= split], minlength=IVF_K)
    tot_b, tot_d = int(nb.sum()), int(nd.sum())
    drifted = {
        k for k in range(IVF_K)
        if tot_b > 0 and tot_d > 0
        and abs(int(nd[k]) * tot_b - int(nb[k]) * tot_d) * _DRIFT_DEN
        >= tot_b * tot_d
    }
    means, _ = _lloyd(both, bcents, 1)
    repaired = np.array(
        [means[k] if k in drifted else bcents[k] for k in range(IVF_K)]
    )
    rd = both @ repaired.T
    rpart = np.partition(rd, -2, axis=1)
    m = float((rpart[:, -1] - rpart[:, -2]).min())
    rows.append(("vec_ivf_cell_retrain",
                 "min reroute margin under the repaired model",
                 m, m >= FLOOR))

    # --- vec_semantic_dedup: assignment + tau margins ---------------------
    k = max(SEMDEDUP_K_MIN, len(ids) // SEMDEDUP_CLUSTER_TARGET)
    seeds = np.array([emb[ids == i][0] for i in range(1, k + 1)])
    cents, am = _lloyd(emb, seeds, SEMDEDUP_ITERS)
    rows.append(("vec_semantic_dedup", "min assignment margin (all rounds)",
                 am, am >= FLOOR))
    ks = np.argmax(emb @ cents.T, axis=1)
    tau_m = math.inf
    for kk in range(k):
        m = emb[ks == kk]
        if len(m) < 2:
            continue
        cc = (m @ m.T)[np.triu_indices(len(m), 1)]
        tau_m = min(tau_m, float(np.abs(cc - SEMDEDUP_TAU).min()))
    rows.append(("vec_semantic_dedup", "min |cos - tau| in-cluster",
                 tau_m, tau_m >= FLOOR))

    # --- agg_heavy_hitters_approx: candidate completeness precondition ----
    from storm_netmonitor_spark.operators.aggregations import _MG_CAPACITY

    te = pq.read_table(os.path.join(sf_dir, "events.parquet"),
                       columns=["user_id"])
    n_users = len(set(te.column("user_id").to_pylist()))
    headroom = _MG_CAPACITY / max(1, n_users)
    rows.append(("agg_heavy_hitters_approx",
                 f"MG capacity headroom (capacity {_MG_CAPACITY} / distinct "
                 f"users {n_users}; <1 means eviction regime — exact-top-5 "
                 "oracle then needs the pigeonhole bound re-checked)",
                 headroom, headroom >= 1.0))

    # --- text near-dedup preconditions ------------------------------------
    td = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    texts = td.column("text").to_pylist()
    non_ascii = sum(1 for x in texts if len(x.encode()) != len(x))
    odd_ws = sum(1 for x in texts if ("\t" in x or "\n" in x or "  " in x))
    clean = not (non_ascii or odd_ws)
    # gram-window symmetry: BOTH gram engines now guard short docs the
    # same way — the Spark side renders `CASE WHEN size(tk) >= 3 THEN
    # transform(sequence(1, size(tk) - 2), ...) ELSE array() END`
    # (text.py text_ngram_* family AND extensions18
    # text_source_overlap_matrix since the ADVICE r13 fix) and the
    # DuckDB twins use `generate_series(1, len(tk) - 2)` (also empty
    # for < 3 tokens), so parity holds unconditionally. The min-token
    # census stays as an informational margin row (short docs change
    # result SHAPE — zero-gram sources — not engine/oracle agreement).
    min_tokens = min(
        (len([t for t in x.lower().split(" ") if t]) for x in texts),
        default=0,
    )
    rows.append(("text_ngram_* / text_source_overlap_matrix",
                 "min tokens per doc (informational: gram engines agree "
                 "unconditionally; < 3 just means zero-gram docs)",
                 float(min_tokens), True))
    rows.append(("text_near_dedup_*", "docs violating ASCII/space-tokenizer "
                 "preconditions (1 = none)",
                 1.0 if clean else 0.0, clean))
    # minhash oracle precondition: every true pair must sit at J where the
    # 4-band/2-row LSH is total; audit the GAP between the weakest true
    # pair and the 0.5 threshold (pairs at 0.9+ are deterministic catches)
    shingle_sets = []
    for x in texts:
        tk = [w for w in x.lower().split(" ") if w]
        n = max(1, len(tk) - 2)
        shingle_sets.append({" ".join(tk[i:i + 3]) for i in range(n)})
    weakest = math.inf
    for i in range(len(texts)):
        a = shingle_sets[i]
        for j in range(i + 1, len(texts)):
            b = shingle_sets[j]
            inter = len(a & b)
            if not inter:
                continue
            jac = inter / (len(a) + len(b) - inter)
            if jac >= 0.5:
                weakest = min(weakest, jac)
    if weakest is math.inf:
        rows.append(("text_near_dedup_minhash",
                     "no true pairs at J ≥ 0.5 — oracle trivially valid "
                     "(1 = vacuous pass)", 1.0, True))
    else:
        # 4-band/2-row catch probability at the weakest pair; below ~0.7
        # a miss is likely and the all-pairs oracle can exceed the engine.
        # Between 0.7 and 0.95 the catch is near-certain but not
        # pigeonhole-guaranteed: run the op-vs-oracle compare at this SF
        # (round 5 verified both SFs match).
        rows.append(("text_near_dedup_minhash",
                     "weakest true pair's Jaccard (≥0.7 required; 0.7-0.95 "
                     "→ re-verify op==oracle at this SF)",
                     weakest, weakest >= 0.7))

    # --- text_perplexity_unigram: the only r6 float op whose two
    # renderings do NOT share bit-identical inputs — each c·(−ln p) term
    # is computed by the ENGINE's libm before the decimal-6 cast, so a
    # term within ~1 ulp of a .5 boundary at the 6th decimal could round
    # apart (the dratio fix removed the QUOTIENT hazard downstream; this
    # audits the remaining per-term one). Also: keep-threshold and
    # ppl-4-decimal rounding margins.
    from collections import Counter

    doc_rows = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()
    dw: dict[int, Counter] = {}
    lm: Counter = Counter()
    for r in doc_rows:
        c = Counter(w for w in r["text"].lower().split(" ") if w)
        dw[r["doc_id"]] = c
        lm.update(c)
    total = sum(lm.values())
    term_margin = math.inf
    keep_margin = math.inf
    ppl_margin = math.inf
    for d, c in dw.items():
        n_sum = 0
        for w, k in c.items():
            t = k * -math.log(lm[w] / total)
            scaled = t * 1e6
            term_margin = min(
                term_margin, abs(scaled - math.floor(scaled) - 0.5)
            )
            n_sum += int(math.floor(scaled + 0.5))
        n_tok = sum(c.values())
        # dratio's exact half-away integer rounding of n_sum/(n_tok·1e6)
        a = 2 * abs(n_sum) + n_tok
        xent = ((a - a % (2 * n_tok)) // (2 * n_tok)) / 1e6
        keep_margin = min(keep_margin, abs(xent - _XENT_KEEP_MAX))
        pscaled = math.exp(xent) * 1e4
        ppl_margin = min(
            ppl_margin, abs(pscaled - math.floor(pscaled) - 0.5)
        )
    rows.append(("text_perplexity_unigram",
                 "min nll-term distance to a decimal-6 .5 boundary "
                 "(scaled units; libm 1-ulp ≈ 1e-10 here)",
                 term_margin, term_margin >= 1e-4))
    rows.append(("text_perplexity_unigram",
                 "min |xent - keep threshold| (engine-identical exact; "
                 "guards regeneration only)",
                 keep_margin, keep_margin >= 1e-6))
    # floor 1e-6, not 1e-4: the divergence mechanism for ppl's 4-decimal
    # rounding needs the DOUBLE product ppl·1e4 to round onto x.5, i.e.
    # the true value within ~ulp(3e5) ≈ 6e-11 of the boundary; exp()'s
    # own cross-engine 1-ulp adds ~4e-11. 1e-6 still gives 4 orders of
    # safety (sf0.1 measured 4.5e-5 — fine; the old 1e-4 floor was
    # calibrated to the nll-term metric, whose hazard is larger).
    rows.append(("text_perplexity_unigram",
                 "min ppl·1e4 distance to a .5 rounding boundary "
                 "(scaled units; hazard scale ~6e-11)",
                 ppl_margin, ppl_margin >= 1e-6))

    # --- agg_key_skew_entropy: same per-term libm→decimal-6 class as the
    # ppl terms — each c·ln(n/c) is computed by the engine's libm before
    # the decimal-6 cast (dratio removes the downstream quotient hazard).
    ev = pq.read_table(
        os.path.join(sf_dir, "events.parquet"),
        columns=["event_type", "user_id"],
    ).to_pylist()
    by_type: dict[str, Counter] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], Counter())[r["user_id"]] += 1
    ent_margin = math.inf
    for cnt in by_type.values():
        n = sum(cnt.values())
        for c in cnt.values():
            scaled = c * math.log(n / c) * 1e6
            ent_margin = min(
                ent_margin, abs(scaled - math.floor(scaled) - 0.5)
            )
    rows.append(("agg_key_skew_entropy",
                 "min entropy-term distance to a decimal-6 .5 boundary "
                 "(scaled units; libm 1-ulp ≈ 1e-10 here)",
                 ent_margin, ent_margin >= 1e-4))

    # --- graph_knn_triangles: the 16-deep float shortlist must contain
    # every pair that can tie the exact top-k after 6-decimal rounding —
    # guaranteed when each node's float gap s[k-1] − s[depth-1] exceeds
    # 2× the 1e-6 rounding quantum (see _TRI_SHORTLIST).
    from storm_netmonitor_spark.operators.vectors import (
        _TRI_K,
        _TRI_SHORTLIST,
    )

    emb_t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    lab_arr = np.array(emb_t.column("label").to_pylist())
    emb = np.array(emb_t.column("embedding").to_pylist(), dtype=np.float64)
    labels = np.unique(lab_arr)
    tri_margin = math.inf
    for lb in labels:
        block = emb[lab_arr == lb]
        n = len(block)
        if n < 2:
            continue
        g = block @ block.T
        np.fill_diagonal(g, -np.inf)
        s = -np.sort(-g, axis=1)
        d = min(_TRI_SHORTLIST, n - 1)
        tri_margin = min(
            tri_margin, float((s[:, _TRI_K - 1] - s[:, d - 1]).min())
        )
    rows.append(("graph_knn_triangles",
                 "min per-node float gap shortlist-kth vs shortlist-cut "
                 "(must exceed 2e-6, twice the decimal-6 quantum)",
                 tri_margin, tri_margin >= 2e-6))

    # --- vec_matryoshka_recall (§2.AH staged): the engine ranks by raw
    # row-local double folds while the oracle ranks by decimal-6-rounded
    # sums — they agree on the top-k SET whenever every query's rank-k
    # boundary gap exceeds 2× the decimal-6 rounding quantum, for BOTH
    # the full-dim and the prefix-dim ranking (within-list swaps cannot
    # change a recall set).
    from storm_netmonitor_spark.operators.extensions17 import (
        _MAT_DIM,
        _MAT_K,
        _MAT_QUERIES,
    )

    vid = np.array(emb_t.column("vec_id").to_pylist())
    order = np.argsort(vid)
    emb_all = emb[order]
    vid = vid[order]
    qm = emb_all[vid < _MAT_QUERIES]
    cm = emb_all[vid >= _MAT_QUERIES]
    mat_margin = math.inf
    for width in (emb_all.shape[1], _MAT_DIM):
        dots = cm[:, :width] @ qm[:, :width].T  # (N, Q)
        top = -np.sort(-dots, axis=0)
        mat_margin = min(
            mat_margin, float((top[_MAT_K - 1] - top[_MAT_K]).min())
        )
    rows.append(("vec_matryoshka_recall",
                 "min per-query float gap at the rank-k boundary, full "
                 "and prefix widths (must exceed 2e-6, twice the "
                 "decimal-6 quantum)",
                 mat_margin, mat_margin >= 2e-6))

    # --- §2.AE stream_serve_recall: exact-side rank-k cut margin ----------
    # r14 optimization switched the monitor's EXACT side to a plain
    # double fold (sims feed the top-k cut only; hits are integers), so
    # the per-query gap between the k-th and (k+1)-th exact sim must
    # clear double accumulation noise. The served side stays decimal
    # (the registered serve path). Corpus framing mirrors ivf_index:
    # vec_id <> 0; queries = STREAM_ANN_QUERY_IDS (self-match included,
    # exactly like the op's cross join).
    from storm_netmonitor_spark.operators.extensions6 import (
        STREAM_ANN_QUERY_IDS,
        STREAM_ANN_TOPK,
    )

    srv_corpus = emb_all[vid != 0]
    srv_q = emb_all[np.isin(vid, list(STREAM_ANN_QUERY_IDS))]
    sdots = srv_corpus @ srv_q.T  # (N, Q)
    stop = -np.sort(-sdots, axis=0)
    srv_margin = float(
        (stop[STREAM_ANN_TOPK - 1] - stop[STREAM_ANN_TOPK]).min()
    )
    rows.append(("stream_serve_recall",
                 "min per-query float gap at the exact-side rank-k "
                 "boundary (double-fold sims feed the cut only)",
                 srv_margin, srv_margin >= FLOOR))
    return rows


def main() -> None:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    bad = False
    for d in dirs:
        print(f"== {d}")
        for op, what, margin, ok in audit(d):
            flag = "" if ok else "  <-- FAILED, oracle validity at risk"
            bad = bad or not ok
            print(f"  {op:24s} {what:55s} {margin:.3e}{flag}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
