"""Fleet-wide physical-plan lint over the WHOLE query registry.

Per-query plan tests (tests/test_plans.py) pin the shape of the
highest-risk operators; this lint closes the gap for everything else:
every batch query in the registry must build a physical plan free of
the two anti-patterns that silently destroy 100-TB viability —

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin``: an all-pairs
  plan that happens to finish at test SF is quadratic at scale. Every
  pair-generating operator here is supposed to be bucketed
  (LSH bands, inverted indexes, cell equi-joins) — if a refactor drops
  an equi-condition, this catches it on the spot.
- ``BatchEvalPython`` (row-at-a-time Python UDF): every Python
  boundary in the package is Arrow-vectorized (``ArrowEvalPython``,
  ``mapInPandas``, ``FlatMapGroupsInPandas``, UDTF); a stray
  row-at-a-time UDF is a 10-100× regression that small-SF timings
  won't surface.

Streaming queries are exercised through their own stream/batch parity
tests (building them here would require a query start); the clinical
E2E pipeline stages fixtures + multi-action writes, covered by its own
golden tests. Both are excluded by tag, not by name, so new queries
default INTO the lint.

Building a plan is analysis-only for most queries; a handful run small
driver-side index-build actions (IVF/PQ fits, global-rank offsets) at
sf0.001 — that is their documented semantics, not a lint violation.
"""

from __future__ import annotations

import pytest

from cqdg_etl_spark.plans.introspect import explain_str
from cqdg_etl_spark.queries import REGISTRY

_EXCLUDED_TAGS = {"streaming", "pipeline-e2e"}

LINTABLE = sorted(
    n
    for n, q in REGISTRY.items()
    if not (_EXCLUDED_TAGS & set(q.tags)) and n != "pipe_clinical_e2e"
)

FORBIDDEN = [
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    # exact node name; must not also match ArrowEvalPython / UDTF nodes
    "BatchEvalPython ",
]

# Reviewed exceptions for the join-shape rules ONLY (BatchEvalPython is
# never acceptable). Every entry is a cross/BNLJ join whose build side
# is O(1) rows — a scalar or a tiny dimension — so the "quadratic"
# node is actually a linear scalar fan-out; or the documented
# brute-force baseline. The test asserts the node IS present for these
# names, so a fixed query must also be removed from this list.
BNLJ_OK: dict[str, str] = {
    "j6_cross_domain_zero_fill": "intentional broadcast cross of two "
    "tiny domain dims (replaces the reference's repartition(1) hack)",
    "ann_topk_bruteforce": "the exact brute-force BASELINE the ANN "
    "variants are measured against; query side is broadcast",
    "emb_quantize_int8": "single-row global min/max bounds broadcast "
    "back to every row",
    "ds_mixture_weighted_sample": "single-row n_target scalar joined "
    "to the per-domain rate table",
    "q22_idle_customers": "TPC-H scalar subquery (global avg balance) "
    "— one-row broadcast",
    "j_bloom_filtered_join": "single-row bloom-filter aggregate "
    "broadcast to the probe side",
    "tx_bigram_lm_score": "single-row vocabulary-size scalar joined "
    "to the scored bigrams",
    "tx_tfidf_term_stats": "single-row corpus-count scalar for idf",
    "ret_bm25_topk": "single-row corpus stats (N, avgdl) broadcast "
    "onto the scored terms",
    "ret_hybrid_rrf": "inherits both reviewed scalar fan-outs: the "
    "BM25 corpus-stats row and the 1-row-query brute-force dense side",
    "tx_pmi_bigrams": "single-row bigram-total scalar joined to the "
    "scored pairs",
    "ann_topk_pq_adc": "PQ-ADC scoring: tiny broadcast query side "
    "crossed with the (m-byte-per-row) coded corpus — same contract "
    "as the brute-force baseline but over codes, not vectors",
    "ds_dsir_logweights": "two single-row corpus-total scalars joined "
    "into the <=n_buckets-row ratio table build",
    "tx_ccnet_buckets": "inherits the bigram-LM single-row "
    "vocabulary-size scalar join",
    "tx_source_kl_divergence": "single-row corpus token-total scalar "
    "broadcast into the per-term log-ratio",
    "sk_hll_union_intersection": "cross of three 1-row sketch "
    "estimates (inclusion-exclusion over merged registers)",
    # pf_ks_totalprice_drift left this list in r11: its (n_ref, n_cur)
    # totals now ride out of the persisted value-merge frame instead of
    # a scalar crossJoin, so no BNLJ node remains in the plan.
    "mb_association_rules": "single-row basket-total scalar broadcast "
    "onto the rule table for support/lift denominators",
    # ds_quality_budget_select left this list in r11: its corpus
    # token-total now rides out of the global_cumsum totals action
    # (total_col), so the scalar crossJoin is gone from the plan.
    "pf_psi_totalprice_drift": "single-row reference min/width bounds "
    "broadcast onto both snapshot sides (same two-pass quantization "
    "contract as emb_quantize_int8)",
    # emb_label_noise_scores left this list in r11/r12: the Arrow
    # local-top-k GEMM kernel replaced the broadcast-cross, so its plan
    # no longer carries a BNLJ (the lint's stale-entry check enforces
    # removal).
    "emb_hard_negatives": "hard-negative mining over the brute-force "
    "baseline shape: broadcast query side crossed with the corpus, "
    "label filter before the rank window; the 100-TB path swaps in "
    "the banded-SRP candidate generator (see operator docstring)",
    "ev_rfm_segments": "single-row (global max ts, user count) scalar "
    "broadcast onto the per-user aggregate; the quartiles themselves "
    "are range-partitioned global_rank + closed-form ntile",
    "q11_important_part_value": "single-row nation-total scalar "
    "broadcast onto the persisted per-part aggregate (replaced the "
    "dimension-sized global window in r4)",
    # q15_top_supplier needs no entry: its scalar-max crossJoin +
    # equality filter is rewritten by Catalyst into a broadcast HASH
    # join on (units = mx) — no BNLJ in the plan at all.
    # -- datapipe13 batch --
    "emb_covariance_cells": "1-row corpus-count scalar broadcast onto "
    "the d² covariance cells",
    "pf_key_skew_profile": "two 1-row scalar frames (totals × top-10 "
    "sum) meeting in a broadcast cross — the whole output is one row",
    "emb_topk_recall_eval": "inherits ann_topk_bruteforce's reviewed "
    "broadcast-query brute-force baseline (same exception as "
    "ret_hybrid_rrf)",
    # -- datapipe17 batch --
    "ds_curriculum_interleave": "single-row |sources| scalar joined "
    "onto the ranked corpus for the interleave arithmetic",
    "ds_stochastic_round_resample": "single-row max(n_chars) scalar "
    "broadcast into the per-doc weight",
    "ev_survival_km": "two 1-row scalars (corpus max ts for the "
    "censor cutoff, total user count for the at-risk complement) "
    "fanned onto the tiny duration table",
    "tx_vocab_growth_curve": "single-row total-token-count scalar "
    "broadcast into the decile bucketing",
    # -- datapipe18 batch --
    "fe_woe_information_value": "single-row (G, B) totals scalar "
    "fanned onto the 5-row category frame",
    "graph_modularity_brands": "single-row edge-count scalar fanned "
    "onto the bounded community frame",
    "pf_column_mutual_information": "single-row grand-total scalar "
    "fanned onto the bounded joint-cell frame (one per column pair)",
    "ret_ndcg_eval": "fixed 10-row rank grid range-joined to the "
    "<=4-row relevance-level histogram (IDCG ideal assignment) plus "
    "the histogram's own <=4x4 cumulative self-join",
    # -- datapipe19 batch --
    "emb_matryoshka_recall": "the two exact arms are the documented "
    "brute-force baseline (10-query broadcast side crossJoin — the "
    "ann_topk_bruteforce whitelist rationale)",
    "ev_markov_stationary": "1-row renormalization scalar per power "
    "iteration plus the 1-row type-count scalar, fanned onto the "
    "|types|-bounded frame",
    "tx_rake_keywords": "single-row corpus doc-count scalar fanned "
    "onto the vocabulary frame for the stopword threshold",
}

# Reviewed exceptions for the global-window rule: every entry is an
# empty-PARTITION-BY window whose input frame is BOUNDED by
# construction (a top-k result, a fixed digit/bin domain, the source
# dimension) — the single task sees O(constant) rows at any corpus
# scale. An unbounded global window (the ev_rfm_segments ntile and
# q11/q15 dimension-sized windows fixed this round) must never be
# whitelisted; fix it with operators/ranking.global_rank /
# global_cumsum or a broadcast 1-row scalar instead.
GLOBAL_WINDOW_OK: dict[str, str] = {
    "pf_benford_totalprice": "window over the 9-row leading-digit "
    "frame (digits 1-9 by construction)",
    "pf_psi_totalprice_drift": "proportion windows over the n_bins=10 "
    "densified bin frame",
    "ds_temperature_mixture": "share/renormalization windows over the "
    "|sources|-row grouped frame (a handful of sources by construction)",
    # -- datapipe18 batch --
    "ret_ndcg_eval": "two cumulative sums over the fixed 10-row rank "
    "grid (DCG and IDCG at each cutoff)",
}


def _global_windows(plan: str) -> int:
    """Count physical Window nodes whose subtree's FIRST exchange is
    SinglePartition — i.e. windows that move their whole input to one
    task. Scalar aggregates also use SinglePartition exchanges; those
    sit under Aggregate nodes, not Window nodes, and are not counted."""
    lines = plan.splitlines()

    def indent(s: str) -> int:
        body = s.lstrip(" :+-*!")
        return len(s) - len(body)

    count = 0
    for i, line in enumerate(lines):
        body = line.lstrip(" :+-*!")
        if not body.startswith("Window "):
            continue
        base = indent(line)
        for nxt in lines[i + 1 :]:
            nbody = nxt.lstrip(" :+-*!")
            if not nbody or indent(nxt) <= base:
                break
            if "Exchange" in nbody:
                if "SinglePartition" in nbody:
                    count += 1
                break
    return count


@pytest.mark.parametrize("name", LINTABLE)
def test_no_antipattern_nodes(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    plan = explain_str(df, mode="extended")
    assert "BatchEvalPython " not in plan, (
        f"{name}: row-at-a-time Python UDF in plan\n{plan}"
    )
    join_nodes = [n for n in FORBIDDEN[:2] if n in plan]
    if name in BNLJ_OK:
        assert join_nodes, (
            f"{name} is whitelisted for BNLJ/cartesian but its plan no "
            f"longer contains one — remove the stale BNLJ_OK entry"
        )
    else:
        assert not join_nodes, (
            f"{name}: {join_nodes} in physical plan\n{plan}"
        )
    gw = _global_windows(plan)
    if name in GLOBAL_WINDOW_OK:
        assert gw, (
            f"{name} is whitelisted for a bounded global window but its "
            f"plan no longer contains one — remove the stale entry"
        )
    else:
        assert gw == 0, (
            f"{name}: {gw} global (single-partition) window(s) in "
            f"physical plan — range-partition via operators/ranking "
            f"or whitelist with a bounded-frame justification\n{plan}"
        )
