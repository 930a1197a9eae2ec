"""Behavioral tests for the round-3 operators: semantic dedup,
mixture-weighted sampling, bigram-LM scoring, JSON props extraction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cqdg_etl_spark.operators.lm import bigram_lm_scores
from cqdg_etl_spark.operators.sampling import (
    hash_bucket,
    mixture_weighted_sample,
)
from cqdg_etl_spark.operators.similarity import (
    cosine_dup_pairs,
    semantic_dedup,
)

pytestmark = pytest.mark.nightly


# ------------------------------------------------- semantic dedup


def test_semantic_dedup_identical_vectors_pruned(spark):
    """Exact duplicate vectors always share a cell → higher id pruned
    to the lowest id; distinct directions survive."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),  # dup of 1
        (3, [2.0, 0.0, 0.0, 0.0]),  # colinear with 1 → cos = 1
        (4, [0.0, 1.0, 0.0, 0.0]),  # orthogonal — kept
        (5, [0.0, -1.0, 0.0, 0.0]),  # anti-parallel to 4 — kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r["dup_of"]
        for r in semantic_dedup(df, threshold=0.99, n_bits=2, seed=7).collect()
    }
    assert out[1] == -1
    assert out[2] == 1
    assert out[3] == 1
    assert out[4] == -1
    assert out[5] == -1


def test_semantic_dedup_subset_of_exact_pairs(spark, sf_dir):
    """Every pruned vector must have an exact-cosine duplicate pair
    with its dup_of — cell confinement can lower recall, never add
    false positives."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pruned = {
        (r["dup_of"], r["vec_id"])
        for r in semantic_dedup(emb, threshold=0.4).collect()
        if r["dup_of"] >= 0
    }
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in cosine_dup_pairs(emb, threshold=0.4).collect()
    }
    assert pruned <= exact
    # keep-lowest-id: dup_of is always smaller than the pruned id
    assert all(a < b for a, b in pruned)


# ------------------------------------- mixture-weighted sampling


def test_mixture_sample_hits_target_proportions(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = {"en": 0.5, "fr": 0.25, "es": 0.25}
    out = mixture_weighted_sample(docs, "doc_id", "lang", weights)
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) <= set(weights)  # unweighted domains dropped
    total = sum(counts.values())
    for lang, w in weights.items():
        # md5 buckets are uniform; binomial noise at n≈50 per stratum
        assert abs(counts.get(lang, 0) / total - w) < 0.15


def test_mixture_sample_deterministic_and_nested(spark, sf_dir):
    """Same salt → identical membership across invocations; the
    binding domain keeps (nearly) everything."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = {"en": 0.4, "fr": 0.6}
    ids1 = {
        r["doc_id"]
        for r in mixture_weighted_sample(docs, "doc_id", "lang", weights)
        .select("doc_id")
        .collect()
    }
    ids2 = {
        r["doc_id"]
        for r in mixture_weighted_sample(
            docs.repartition(7), "doc_id", "lang", weights
        )
        .select("doc_id")
        .collect()
    }
    assert ids1 == ids2  # partitioning-invariant


# --------------------------------------------- bigram LM scoring


def test_bigram_lm_hand_computed(spark):
    """Tiny corpus checked by hand.

    Corpus: doc1 = "a b", doc2 = "a b", doc3 = "a c".
    Bigrams: (a,b)×2, (a,c)×1; prefix a → c1 = 3; vocab V = 3.
    p(b|a) = (2+1)/(3+3) = 0.5; p(c|a) = (1+1)/(3+3) = 1/3.
    """
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_bigrams"], r["mean_condp"])
        for r in bigram_lm_scores(df).collect()
    }
    assert out[1] == (1, 0.5)
    assert out[2] == (1, 0.5)
    assert out[3] == (1, round(1 / 3, 6))


def test_bigram_lm_short_docs_omitted(spark):
    df = spark.createDataFrame(
        [(1, "single"), (2, ""), (3, "two tokens")],
        "doc_id long, text string",
    )
    out = bigram_lm_scores(df).collect()
    assert {r["doc_id"] for r in out} == {3}


def test_hash_bucket_uniformity(spark, sf_dir):
    """Mixture sampling relies on bucket uniformity — mean of the
    bucket column over the docs ids should sit near 2^31."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mean = docs.select(
        F.avg(hash_bucket(F.col("doc_id"), "mix")).alias("m")
    ).first()["m"]
    assert abs(mean / 2**31 - 1.0) < 0.1


# --------------------------------------------- repeated-span dedup


def test_span_dedup_boilerplate_suppressed(spark):
    """A license header repeated across docs survives only in the
    earliest doc; unique content is always kept."""
    from cqdg_etl_spark.operators.dedup import span_dedup

    header = "h1 h2 h3 h4"  # one 4-token span
    rows = [
        (1, header + " a b c d"),
        (2, header + " e f g h"),
        (3, "i j k l m n o p"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_spans"], r["n_kept"], r["n_tokens_kept"])
        for r in span_dedup(df, "text", "doc_id", span_tokens=4).collect()
    }
    assert out[1] == (2, 2, 8)  # first occurrence keeps everything
    assert out[2] == (2, 1, 4)  # header span dropped, unique span kept
    assert out[3] == (2, 2, 8)


def test_span_dedup_within_doc_repeats(spark):
    from cqdg_etl_spark.operators.dedup import span_dedup

    df = spark.createDataFrame(
        [(7, "x y x y")], "doc_id long, text string"
    )
    out = span_dedup(df, "text", "doc_id", span_tokens=2).collect()[0]
    assert (out["n_spans"], out["n_kept"]) == (2, 1)


# ------------------------------------------------------- pagerank


def test_pagerank_star_graph(spark):
    """Undirected star: the hub must outrank every leaf, leaves tie,
    and (no dangling nodes) total rank mass stays 1."""
    from cqdg_etl_spark.operators.graph import pagerank

    leaves = [2, 3, 4, 5]
    pairs = [(1, v) for v in leaves] + [(v, 1) for v in leaves]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    out = {r["node"]: r["rank_rel"] for r in pagerank(edges).collect()}
    assert out[1] > out[2]
    assert len({out[v] for v in leaves}) == 1
    n = len(out)
    assert abs(sum(out.values()) / n - 1.0) < 1e-6


def test_pagerank_uniform_on_cycle(spark):
    """A directed cycle is perfectly symmetric — every node scores
    exactly 1.0 relative rank at any iteration count."""
    from cqdg_etl_spark.operators.graph import pagerank

    cyc = [(i, (i + 1) % 5) for i in range(5)]
    edges = spark.createDataFrame(cyc, "src long, dst long")
    out = {r["node"]: r["rank_rel"] for r in pagerank(edges, iterations=3).collect()}
    assert all(v == 1.0 for v in out.values())


def test_pagerank_dangling_node_keeps_teleport(spark):
    """A node with an in-edge but no out-edge must not vanish from the
    rank table (regression: inner-join rebuild dropped sink nodes)."""
    from cqdg_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    out = {r["node"]: r["rank_rel"] for r in pagerank(edges, iterations=2).collect()}
    assert set(out) == {1, 2}
    assert out[1] > 0  # no in-edges: teleport term only
    assert out[2] > out[1]


# ---------------------------------------------- fuzzy record linkage


def test_fuzzy_pairs_exact_recall_at_distance_one(spark):
    """Every true distance≤1 pair must be found (deletion-neighborhood
    recall is exact, not heuristic): sub, ins, del, and a far pair."""
    from cqdg_etl_spark.operators.dedup import fuzzy_self_pairs

    rows = [
        (1, "kitten"),
        (2, "mitten"),   # substitution → dist 1
        (3, "kittens"),  # insertion → dist 1
        (4, "kitte"),    # deletion → dist 1
        (5, "sitting"),  # dist 5 from kitten — never a candidate match
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_self_pairs(df, "name", "id").collect()
    }
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 1
    assert got[(1, 4)] == 1
    assert (3, 4) not in got  # kittens↔kitte = dist 2
    assert all(5 not in p for p in got)


def test_fuzzy_pairs_identical_strings(spark):
    from cqdg_etl_spark.operators.dedup import fuzzy_self_pairs

    df = spark.createDataFrame(
        [(1, "same"), (2, "same")], "id long, name string"
    )
    out = fuzzy_self_pairs(df, "name", "id").collect()
    assert [(r["id_a"], r["id_b"], r["dist"]) for r in out] == [(1, 2, 0)]


# ------------------------------------------------------ triangles


def test_triangle_counts_known_graph(spark):
    """K4 minus one edge: nodes 1-2-3 and 2-3-4 form two triangles;
    nodes 1 and 4 are each in one, nodes 2 and 3 in two."""
    from cqdg_etl_spark.operators.graph import triangle_counts

    pairs = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    df = spark.createDataFrame(pairs, "a long, b long")
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert out == {1: 1, 2: 2, 3: 2, 4: 1}


def test_triangle_counts_triangle_free(spark):
    from cqdg_etl_spark.operators.graph import triangle_counts

    star = [(1, 2), (1, 3), (1, 4)]
    df = spark.createDataFrame(star, "a long, b long")
    assert triangle_counts(df).count() == 0


# --------------------------------------- grouped-map applyInPandas


def test_grouped_order_stats_hand_computed(spark):
    from cqdg_etl_spark.operators.pandas_ops import grouped_order_stats

    rows = [(1, 3.0), (1, 1.0), (1, 2.0), (2, 5.0), (2, 7.0)]
    df = spark.createDataFrame(rows, "user_id long, value double")
    out = {
        r["user_id"]: (r["n"], r["med_lo"], r["med_hi"], r["v_min"], r["v_max"])
        for r in grouped_order_stats(df, "user_id", "value").collect()
    }
    assert out[1] == (3, 2.0, 2.0, 1.0, 3.0)  # odd n: med_lo == med_hi
    assert out[2] == (2, 5.0, 7.0, 5.0, 7.0)  # even n: the two middles


def test_fuzzy_pairs_giant_identical_cluster_bounded(spark):
    """A 200-row identical-name cluster must not blow up the index:
    identical strings never enter the variant join (the index holds
    DISTINCT strings), and the c²/2 output pairs come from the direct
    group self-join. Also checks cross-group expansion."""
    from cqdg_etl_spark.operators.dedup import fuzzy_self_pairs

    rows = [(i, "duplicate name") for i in range(200)]
    rows += [(1000, "duplicate nam"), (1001, "duplicate nam")]  # dist 1 group
    df = spark.createDataFrame(rows, "id long, name string")
    out = fuzzy_self_pairs(df, "name", "id").collect()
    n_same_a = 200 * 199 // 2          # within big cluster, dist 0
    n_same_b = 1                       # within small cluster, dist 0
    n_cross = 200 * 2                  # across the two groups, dist 1
    assert len(out) == n_same_a + n_same_b + n_cross
    assert sum(1 for r in out if r["dist"] == 0) == n_same_a + n_same_b
    assert all(r["id_a"] < r["id_b"] for r in out)


# -------------------------------------- global rank / det shuffle


def test_global_rank_partition_invariant(spark, sf_dir):
    """Same total order regardless of input partitioning; ranks are a
    1..n permutation; no single-partition window in the plan."""
    from pyspark.sql import functions as F

    from cqdg_etl_spark.operators.ranking import deterministic_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r1 = {
        r["doc_id"]: r["shuffle_rank"]
        for r in deterministic_shuffle(docs, "doc_id").collect()
    }
    r2 = {
        r["doc_id"]: r["shuffle_rank"]
        for r in deterministic_shuffle(docs.repartition(13), "doc_id").collect()
    }
    assert r1 == r2
    n = docs.count()
    assert sorted(r1.values()) == list(range(1, n + 1))


def test_global_rank_no_single_partition_window(spark, sf_dir):
    from pyspark.sql import functions as F

    from cqdg_etl_spark.operators.ranking import global_rank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ranked = global_rank(docs, [F.col("doc_id")])
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    # the window must partition by spark_partition_id, never be global
    assert "SinglePartition" not in plan, plan
