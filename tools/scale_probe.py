#!/usr/bin/env python
"""Time-vs-scale curvature probe (VERDICT r4 next-round item #7).

The bench gate runs at sf0.1 — flat timings there cannot distinguish a
linear plan from a quadratic one whose constant is still small. This
probe synthesizes 2×/5×/10× corpora from the sf0.1 tables (deterministic
replication with per-replica perturbation, so duplicate DENSITY stays
constant instead of every replica pairing with its source — replicated
identical rows would grow the semantic pair OUTPUT quadratically and
mask the operational curve) and times the priciest dedup/ANN headliners
at each scale. The first superlinear curve is the next weak-at-scale
finding before it reaches a verdict.

Usage:
    python tools/scale_probe.py             # scales 1,2,5,10 of sf0.1
    python tools/scale_probe.py 1 2 5      # custom scale list

Output: a markdown table (time, output rows, and the log-log growth
exponent between successive scales; exponent ~1 = linear in corpus
size, ~2 = quadratic). One timed run per (query, scale) after a warmup
run, fresh caches between queries — the box's steal transients
(BENCH_SPREAD_r05.md) can inflate single numbers, so judge a SLOPE
here, not any one cell.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

# The registered derive-parameter queries (dd_embedding_cosine_pairs,
# dd_semantic_prune) fail loudly when the derived config diverges from
# their pinned harness oracle (ADVICE r6 #3); scale runs are exactly
# the divergence case, so the probe opts in.
os.environ.setdefault("CQDG_SCALE_DERIVE", "1")

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

BASE = "/root/testdata/sf0.1"
WORK = Path("/tmp/scale_probe_v5")

# Wave 1: the 5 priciest dedup/ANN bench queries of BENCH_r04
# (VERDICT r4 plan-audit list), plus the two new headliners they gate.
QUERIES = [
    "dd_tfidf_cosine_pairs",
    "dd_embedding_cosine_pairs",
    "dd_minhash_verified_pairs",
    "dd_ppjoin_pairs",
    "dd_minhash_lsh_candidates",
    "ann_topk_gemm",
    "pipe_corpus_curation_e2e",
    "dd_semantic_prune",
]

# Wave 3 (--wave3): the TPC-H headliners over a FULLY-consistent
# replicated schema (every key column offset per replica, so replica
# r is a disjoint isomorphic copy of the whole warehouse and every
# join keeps its exact selectivity). The classic would-it-hold-at-
# 1000x evidence: scan-agg (q1), star join (q5), 3-fact join (q9),
# group-having (q18), anti/exists shapes (q21, q22).
WAVE3 = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q9_profit_by_nation_year",
    "q18_large_volume_customers",
    "q21_last_shipper",
    "q22_idle_customers",
    # round-6 addition: the one datapipe14 publication whose input
    # (orders) only scales under the warehouse fixture.
    "sql_group_by_all_lateral",
]

# Every key column that must shift together for cross-table joins to
# stay consistent under replication. region/nation are global
# dimensions (25 rows) and stay shared — their keys are NOT offset,
# so per-replica rows keep joining the same nation/region rows, which
# preserves the original selectivity exactly.
_TPCH_KEYS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

# Wave 2 (--wave2): the graph / events / remaining-text families, over
# the replicated lineitem co-purchase graph and events stream. Chosen
# for superlinearity RISK: pair/wedge enumeration (triangles,
# adamic-adar, ngram/simhash/span/containment), iterative convergence
# (pagerank, label propagation, cluster CC), global-order shapes
# (rfm quartiles, sessionize, funnel), and the sharded inverted index.
WAVE2 = [
    "graph_triangle_counts",
    "graph_adamic_adar",
    "graph_pagerank_coparts",
    "graph_label_propagation",
    "tx_inverted_index",
    "tx_pmi_bigrams",
    "tx_winnowing_fingerprints",
    "dd_ngram_jaccard_pairs",
    "dd_simhash_near_pairs",
    "dd_span_dedup",
    "dd_containment_pairs",
    "ds_cluster_safe_split",
    "ev_sessionize",
    "ev_rfm_segments",
    "ev_funnel_transitions",
]


# Wave 4 (--wave4): the round-6 datapipe14 publications — first
# curvature measurement for the batch. Everything here reads tables
# the corpus fixture replicates (documents / embeddings / events /
# lineitem); sql_group_by_all_lateral reads orders and probes under
# --wave3's warehouse fixture instead. Superlinearity risks by shape:
# paragraph-level pair enumeration (dd_paragraph_dedup), brute-force
# ground truth inside the recall eval (dd_lsh_recall_eval — the exact
# arm is O(n^2/cells) by design), iterative peel rounds
# (graph_kcore_peel), global cumsum prefix (ds_waterfill_budget), and
# per-partition Python kernels (mm_mp4_demux_stats).
WAVE4 = [
    "dd_paragraph_dedup",
    "dd_lsh_recall_eval",
    "ds_length_buckets",
    "tx_langid_eval_confusion",
    "mm_mp4_demux_stats",
    "ev_ewma_smoothed",
    "ds_waterfill_budget",
    "graph_kcore_peel",
    "emb_dim_variance_topk",
]


# Wave 5 (--wave5): the round-7 datapipe15 publications — first
# curvature measurement for the batch — plus the simhash 64↔128
# contrast pair (the registered query re-measured on its new 4×32
# layout next to the preserved 4×16 layout whose junk-candidate floor
# motivated the change). Superlinearity risks by shape: prefix-bucket
# self-join (dd_truncation_prefix_pairs), corpus-wide shingle
# first-occurrence (tx_shingle_novelty), per-user conditional-min
# chains (ev_strict_funnel_3step), seeded power iteration
# (graph_personalized_pagerank), multi-layout banding self-joins
# (dd_lsh_param_audit), weighted-key exponent sampling
# (ds_weighted_sample_wor), and the two-pass global ranks inside
# kfold/rendezvous.
WAVE5 = [
    "dd_truncation_prefix_pairs",
    "tx_syllable_complexity",
    "tx_shingle_novelty",
    "ev_seasonal_outliers",
    "ds_stratified_kfold",
    "ds_weighted_sample_wor",
    "ds_rendezvous_rebalance",
    "graph_personalized_pagerank",
    "dd_lsh_param_audit",
    "tx_bpe_pretoken_stats",
    "ev_strict_funnel_3step",
    "emb_intra_class_dispersion",
    "dd_simhash_near_pairs",
    "simhash_pairs_64bit",
]


# Wave 6 (--wave6): the round-8 datapipe16 publications — first
# curvature measurement for the batch (VERDICT r7 #4). Superlinearity
# risks by shape: the rerank pipeline's shortlist-fetch join is the
# one stage touching full vectors (ann_topk_ivf_pq_rerank — probe it
# to x20: the shortlist is per-query bounded, so the fetch should stay
# linear in corpus size with a constant shortlist factor); exact
# Jaccard verification over the LSH candidate set inside the
# calibration deciles (dd_minhash_calibration — candidates grow with
# corpus, verification is per-candidate bounded); connected-component
# rounds inside the cluster-size profile (dd_dup_cluster_size_profile
# — iterative, log-diameter rounds); the global median/MAD two-pass
# (pf_robust_zscore_event_value — rank passes are range-partitioned,
# never a single-task window); and the |sources|² pair matrix over
# per-source unigram distributions (tx_source_js_divergence — sources
# are a bounded domain, so the quadratic is in a constant, but the
# per-source distributions aggregate the full corpus).
WAVE6 = [
    "ann_topk_ivf_pq_rerank",
    "dd_minhash_calibration",
    "dd_dup_cluster_size_profile",
    "pf_robust_zscore_event_value",
    "tx_source_js_divergence",
]


def _semantic_prune_fixed_bits(spark, sf_dir: str, scale: int):
    """CONTRAST series: semantic dedup with the pre-round-6 fixed
    n_bits=4. Round 6 re-registered dd_semantic_prune to derive n_bits
    from the corpus size (similarity.derive_cell_bits — the r5 probe
    measured fixed bits at exponent 2.24 vs 0.61 derived, identical
    output), so the REGISTERED query is now the scaled series and this
    variant preserves the fixed-parameter curve for comparison."""
    from cqdg_etl_spark.operators import similarity
    from cqdg_etl_spark.queries.registry import load

    emb = load(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, threshold=0.4, n_bits=4)


def _embedding_pairs_fixed_banding(spark, sf_dir: str, scale: int):
    """CONTRAST series: banded cosine pairs with the pre-round-6 fixed
    (bands=8, rows_per_band=4). Round 6 re-registered
    dd_embedding_cosine_pairs to derive the banding from the corpus
    size (similarity.derive_banding — recall-held rescale, measured
    exponent 1.42 vs ~3 fixed, r5 probe finding #1), so the REGISTERED
    query is now the scaled series and this variant preserves the
    fixed-parameter curve for comparison. The r5 analysis (Indyk–
    Motwani floor n^1.66 at cos 0.4; enumeration-vs-ANN framing) moved
    into similarity.derive_banding's docstring."""
    from cqdg_etl_spark.operators import similarity
    from cqdg_etl_spark.queries.registry import load

    emb = load(spark, sf_dir, "embeddings")
    return similarity.banded_cosine_dup_pairs(
        emb, threshold=0.4, bands=8, rows_per_band=4
    )


def _simhash_pairs_64bit(spark, sf_dir: str, scale: int):
    """CONTRAST series: the pre-round-7 SimHash layout (63-bit
    signature, 4×16-bit pigeonhole chunks). Round 7 re-registered
    dd_simhash_near_pairs on simhash128 with 4×32-bit chunks because
    the 16-bit blocks carry a constant-divisor quadratic (junk
    candidates ≈ 4n²/65536 — COVERAGE r6 queue #5); this variant
    preserves the old curve so the junk-floor suppression is a
    measured pair, not an assertion."""
    from cqdg_etl_spark.operators import dedup
    from cqdg_etl_spark.queries.registry import load

    docs = load(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs64(docs, "text", "doc_id", max_hamming=3)


# Wave 7 (--wave7): the round-9 datapipe17 publications — first
# curvature measurement for the batch (VERDICT r8 #4).
# Superlinearity risks by shape: the character-unigram explode
# (tx_char_entropy_quality — output grows with total characters, the
# per-doc aggregate is map-side combinable); the KM product over the
# duration table (ev_survival_km — durations are a bounded domain of
# whole days, the cumulative product runs on that tiny frame); the
# per-source ranking + round-robin arithmetic (ds_curriculum_interleave
# — two range-partitioned rank passes, no global window); 4 fixed
# max-normalized iterations over the bipartite frame
# (graph_hits_scores — each round is one groupBy per side, lineage
# truncated); the sessionize + sweep-line level read
# (ev_peak_concurrency — the running level is a per-replica-bounded
# range-partitioned cumsum); the user-keyed bipartite projection
# (graph_type_affinity — per-user fan-out is (k choose 2), k ≤
# |event_types|, a constant); the decile-bucketed first-occurrence
# vocabulary count (tx_vocab_growth_curve — global token positions
# via range-partitioned cumsum, vocab firsts via hash aggregate);
# the trailing-7-day distinct-user window (ev_dau_wau_stickiness —
# day-keyed equi-join onto a 7-row offset frame, NOT a range
# condition); and the md5-uniform stochastic rounding
# (ds_stochastic_round_resample — one pass, the copy explode is
# bounded by max expected count). graph_bfs_hops rides along: the r8
# probe read 25.4 s at x10 — confirm the frontier expansion stays
# linear to x20 (VERDICT r8 #4).
WAVE7 = [
    "tx_char_entropy_quality",
    "ev_survival_km",
    "ds_curriculum_interleave",
    "graph_hits_scores",
    "ev_peak_concurrency",
    "graph_type_affinity",
    "tx_vocab_growth_curve",
    "ev_dau_wau_stickiness",
    "ds_stochastic_round_resample",
    "graph_bfs_hops",
]


# Wave 8 (--wave8): the round-10 datapipe18 publications — first
# post-publication curvature (VERDICT r9 #4). Superlinearity risks by
# shape: the event-stream CUSUM argmax (ev_changepoint_cusum — one
# range-partitioned cumsum + a 1-row argmax, linear by construction);
# the labeled co-purchase modularity (graph_modularity_brands — the
# pair enumeration is the bounded per-order (k choose 2), the
# community rollup is |labels|-bounded); multi-source BFS
# (graph_bfs_hops — frontier equi-join per hop, x20 gate 0.88 cleared
# pre-publication in SCALE_PROBE_r09); nDCG@10 (ret_ndcg_eval — BM25
# scoring dominates; the rank grid is fixed 10 rows); linear
# attribution (ev_attribution_linear — per-user windows, conversion
# fan-out bounded by the lookback); the dHash index
# (mm_image_dhash_index — one mapInPandas decode pass + a 4×16-bit
# band self-join, the SimHash pigeonhole shape).
# fe_woe_information_value and pf_column_mutual_information read
# ORDERS, which build_scaled_dir copies as-is — they are probed on
# the wave-3 TPC-H warehouse fixture instead (--wave8t).
WAVE8 = [
    "ev_changepoint_cusum",
    "graph_modularity_brands",
    "graph_bfs_hops",
    "ret_ndcg_eval",
    "ev_attribution_linear",
    "mm_image_dhash_index",
]

WAVE8T = [
    "fe_woe_information_value",
    "pf_column_mutual_information",
]

# Wave 13 (--wave13): the round-11 datapipe19 publications — first
# post-publication curvature (VERDICT r10 #5). Superlinearity risks
# by shape: matryoshka recall pairs each query against its own IVF
# cell only (bounded candidate fetch); the Markov stationary solve is
# |event_type|² per iteration after ONE linear transition aggregate;
# user Gini is a per-user aggregate + one range-partitioned rank
# cumsum; daily autocorrelation collapses to a |days|-frame after one
# scan; RAKE explodes phrase n-grams (linear with a phrase-length
# constant); neighbor Jaccard is the bounded per-order pair
# enumeration (x20 gate 0.65 cleared pre-publication in
# SCALE_PROBE_r09); Poisson burst days is one |days|-bounded frame.
# pf_fk_candidate_audit reads the TPC-H warehouse tables, so it is
# probed on the wave-3 fixture instead (--wave13t; note events is
# copied unreplicated there, so only the parent-side growth is
# exercised — the child distinct sets of the TPC-H pairs all scale).
WAVE13 = [
    "emb_matryoshka_recall",
    "ev_markov_stationary",
    "ev_user_gini",
    "pf_autocorr_daily",
    "tx_rake_keywords",
    "graph_neighbor_jaccard",
    "ev_poisson_burst_days",
]

WAVE13T = [
    "pf_fk_candidate_audit",
]

# Wave 15 (--wave15): round-11 OPTIMIZATION re-probe — the changed
# queries no earlier wave covers (the dedup/LSH/wave-7/8 names keep
# their original wave assignments and are re-probed there). These all
# took the batch-5/6/7 multi-consumer persist (pass-count, not
# curvature, changes) or the bigram single-tokenize — the probe
# verifies the persisted frames hold at replicated scale (the persist
# is MEMORY_AND_DISK of compact aggregates; a regression here would
# read as a superlinear step from spill). The orders-based profile
# names probe under the TPC-H warehouse fixture (--wave15t).
WAVE15 = [
    "tx_bigram_lm_score",
    "tx_vocab_coverage",
    "tx_repetition_metrics",
    "ds_quality_budget_select",
    "ds_dsir_logweights",
    "ds_mixture_weighted_sample",
    "ret_bm25_topk",
    "ev_resample_ffill",
    # sweep-find rewrites (batches 10-11): fold rewrite / batched
    # exact-order kernel / pre-symmetrize labels — corpus fixture
    "ev_cusum_drift",
    "emb_label_noise_scores",
    "emb_hard_negatives_banded",
]

WAVE15T = [
    "pf_ks_totalprice_drift",
    "pf_psi_totalprice_drift",
    "pf_key_skew_profile",
    # sweep-find rewrites (batch 10): dense bloom bitmap / single-
    # levenshtein verify — orders/customer, warehouse fixture
    "j_bloom_filtered_join",
    "dd_fuzzy_name_pairs",
]


# Programmatic series: operator variants that differ from a registered
# query only by a scale-dependent parameter. fn(spark, sf_dir, scale).
EXTRA = {
    "semantic_prune_fixed_bits": _semantic_prune_fixed_bits,
    "embedding_pairs_fixed_banding": _embedding_pairs_fixed_banding,
    "simhash_pairs_64bit": _simhash_pairs_64bit,
}

ALL_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def build_tpch_scaled_dir(scale: int) -> str:
    """Wave-3 fixture: a scale× WAREHOUSE — every table replicated with
    ALL its key columns offset together (replica r = a disjoint
    isomorphic warehouse), region/nation shared. TPC-H queries then
    see a corpus that is exactly scale× the rows with identical join
    selectivity and per-replica answer sets."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = WORK / f"tpch_x{scale}"
    if out.exists():
        return str(out)
    out.mkdir(parents=True)
    _OFF = 10_000_000
    for t in ALL_TABLES:
        keys = _TPCH_KEYS.get(t, ())
        if not keys:
            shutil.copy(f"{BASE}/{t}.parquet", out / f"{t}.parquet")
            continue
        src = pq.read_table(f"{BASE}/{t}.parquet")
        reps = []
        for r in range(scale):
            cols = {}
            for f_ in src.schema.names:
                if f_ in keys:
                    cols[f_] = pa.array(
                        np.asarray(src[f_], dtype=np.int64) + r * _OFF
                    )
                else:
                    cols[f_] = src[f_]
            reps.append(pa.table(cols))
        pq.write_table(pa.concat_tables(reps), out / f"{t}.parquet")
    return str(out)


def build_scaled_dir(scale: int) -> str:
    """Materialize a scale× corpus: documents/embeddings replicated with
    per-replica perturbation, every other table copied as-is."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = WORK / f"x{scale}"
    if out.exists():
        return str(out)
    out.mkdir(parents=True)
    for t in ALL_TABLES:
        if t not in ("documents", "embeddings", "events", "lineitem"):
            shutil.copy(f"{BASE}/{t}.parquet", out / f"{t}.parquet")

    # events / lineitem: replicate with KEY OFFSETS only — replica r's
    # users (events) and orders/parts (lineitem co-purchase graph) are
    # disjoint from every other replica's but structurally ISOMORPHIC
    # to the original, so per-capita session/funnel/RFM statistics and
    # per-component graph topology are preserved exactly while nothing
    # joins across replicas. (Copying rows unchanged would instead
    # multiply per-user event counts and per-order line counts by r —
    # densifying the graph and the sessions, which confounds the
    # time-vs-corpus-size curve with a structure change.)
    _OFF = 10_000_000
    for t, keys in (("events", ("event_id", "user_id")),
                    ("lineitem", ("l_orderkey", "l_partkey"))):
        src = pq.read_table(f"{BASE}/{t}.parquet")
        reps = []
        for r in range(scale):
            cols = {}
            for f_ in src.schema.names:
                if f_ in keys:
                    cols[f_] = pa.array(
                        np.asarray(src[f_], dtype=np.int64) + r * _OFF
                    )
                else:
                    cols[f_] = src[f_]
            reps.append(pa.table(cols))
        pq.write_table(pa.concat_tables(reps), out / f"{t}.parquet")

    docs = pq.read_table(f"{BASE}/documents.parquet")
    reps = []
    for r in range(scale):
        doc_id = np.asarray(docs["doc_id"], dtype=np.int64) + r * 10_000_000
        if r == 0:
            text = docs["text"]
        else:
            # Constant per-capita similarity structure, zero cross-
            # replica near-dups: replica r REMAPS the vocabulary
            # (every token w -> "w{r}q"). The map is a bijection, so
            # replica r's shingle/term space is ISOMORPHIC to the
            # original — every within-replica pair keeps its exact
            # Jaccard/TF-IDF-cosine — and totally disjoint from every
            # other replica's (zero shared tokens ⇒ zero shared
            # shingles ⇒ cross-replica similarity exactly 0).
            # Rejected designs, kept as a warning: a SUFFIX tag token
            # (v1) only breaks the last ~3 shingles, leaving
            # replica/source Jaccard ≈ 1 (quadratic pair output); an
            # INTERLEAVED tag every 3 tokens (v2) still leaves 1-in-4
            # shingles tag-free AND collapses shingle diversity onto
            # (prev, TAG, next) patterns, inflating within-replica
            # pair density several-fold.
            text = pa.array([
                " ".join(f"{w}{r}q" for w in t.split(" "))
                for t in docs["text"].to_pylist()
            ])
        reps.append(pa.table({
            "doc_id": pa.array(doc_id),
            "text": text,
            "lang": docs["lang"],
            "source": docs["source"],
            "n_chars": docs["n_chars"],
        }))
    pq.write_table(pa.concat_tables(reps), out / "documents.parquet")

    emb = pq.read_table(f"{BASE}/embeddings.parquet")
    vecs = np.array(emb["embedding"].to_pylist(), dtype=np.float64)
    vtype = emb.schema.field("embedding").type
    reps = []
    for r in range(scale):
        vec_id = np.asarray(emb["vec_id"], dtype=np.int64) + r * 10_000_000
        if r == 0:
            v = vecs
        else:
            # Replica r applies a seeded random ORTHOGONAL rotation —
            # the embedding analog of the text vocabulary remap: every
            # within-replica cosine is preserved EXACTLY (isomorphic
            # pair structure, constant per-capita density) while
            # cross-replica cosines are those of random directions in
            # R^64 (~N(0, 1/64)), far below the registered thresholds
            # up to a documented tail: P(cos >= 0.4) is a few 1e-4, so
            # a quadratically-growing cross-pair pool leaks a bounded
            # trickle of verified rows at large scale. Rejected: v1's
            # sigma-0.05 additive noise left replica/source cosine at
            # ~0.93 (every replica paired with its source); v2's
            # sigma-0.5 noise swamped the unit signal (noise norm
            # 0.5*sqrt(64) = 4), turning replicas into pure random
            # Gaussians whose own random-tail pairs (~1.4k per replica
            # at threshold 0.4) replaced the structure being measured.
            rng = np.random.default_rng(1000 + r)
            q_rot, _ = np.linalg.qr(rng.normal(size=(vecs.shape[1],) * 2))
            v = vecs @ q_rot
        reps.append(pa.table({
            "vec_id": pa.array(vec_id),
            "embedding": pa.array(list(v), type=vtype),
            "label": emb["label"],
        }))
    pq.write_table(pa.concat_tables(reps), out / "embeddings.parquet")
    return str(out)


# --waveN flag -> (names, probed on the TPC-H warehouse fixture).
WAVES = {
    "--wave2": (WAVE2, False),
    "--wave3": (WAVE3, True),
    "--wave4": (WAVE4, False),
    "--wave5": (WAVE5, False),
    "--wave6": (WAVE6, False),
    "--wave7": (WAVE7, False),
    "--wave8": (WAVE8, False),
    "--wave8t": (WAVE8T, True),
    "--wave13": (WAVE13, False),
    "--wave13t": (WAVE13T, True),
    "--wave15": (WAVE15, False),
    "--wave15t": (WAVE15T, True),
}


def main() -> int:
    args = sys.argv[1:]
    waves = [a for a in args if a in WAVES]
    scales = [int(a) for a in args if a not in WAVES] or [1, 2, 5, 10]
    all_names, tpch = (
        WAVES[waves[0]] if waves else (QUERIES + list(EXTRA), False)
    )
    from cqdg_etl_spark.queries import REGISTRY
    from cqdg_etl_spark.session import get_spark

    spark = get_spark(app_name="scale-probe")
    only = os.environ.get("SCALE_PROBE_ONLY")
    if only:
        keep = {s.strip() for s in only.split(",")}
        all_names = [n for n in all_names if n in keep]
    results: dict[str, list[tuple[int, float, int]]] = {q: [] for q in all_names}
    for scale in scales:
        sf_dir = build_tpch_scaled_dir(scale) if tpch else build_scaled_dir(scale)
        for name in all_names:
            def build():
                if name in EXTRA:
                    return EXTRA[name](spark, sf_dir, scale)
                return REGISTRY[name].fn(spark, sf_dir)

            df = build()
            df.write.format("noop").mode("overwrite").save()  # warmup
            spark.catalog.clearCache()
            # Time a FRESH build + write: iterative queries (pagerank,
            # label propagation, connected components) do their real
            # work in per-round localCheckpoint actions during fn(),
            # so timing only the final write would read near-zero for
            # exactly the queries whose scaling matters most. For
            # non-iterative queries this adds only planning time.
            t0 = time.perf_counter()
            df = build()
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            n_out = df.count()
            results[name].append((scale, dt, n_out))
            spark.catalog.clearCache()
            print(f"x{scale} {name}: {dt:.2f} s, {n_out} rows", flush=True)

    import math

    print("\n| query | " + " | ".join(f"x{s}" for s in scales) +
          " | rows@max | exponent (last step) |")
    print("|---" * (len(scales) + 3) + "|")
    for name, rows in results.items():
        cells = " | ".join(f"{dt:.2f}s" for _, dt, _ in rows)
        n2 = rows[-1][2]
        if len(rows) >= 2:
            (s1, t1, _), (s2, t2, _) = rows[-2], rows[-1]
            expo = (
                math.log(t2 / t1) / math.log(s2 / s1) if t1 > 0 else 0.0
            )
            print(f"| {name} | {cells} | {n2} | {expo:.2f} |")
        else:
            print(f"| {name} | {cells} | {n2} | n/a |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
