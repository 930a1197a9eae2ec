"""Quality checks for the non-SQL-expressible training-data operators:
LSH candidate recall vs exact baselines, simhash sanity, multimodal
batch determinism.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cqdg_etl_spark.operators import dedup, multimodal, similarity
from cqdg_etl_spark.queries.registry import load

pytestmark = pytest.mark.nightly


def test_minhash_lsh_recall_vs_exact_jaccard(spark, sf_dir):
    """Pairs with true Jaccard ≥ 0.8 must nearly all surface as LSH
    candidates (16 bands × 4 rows → P(candidate | j=0.8) ≈ 1-(1-0.8^4)^16
    ≈ 0.9997)."""
    docs = load(spark, sf_dir, "documents")
    truth = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.8
        ).collect()
    }
    cands = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_candidates(docs, "text", "doc_id").collect()
    }
    if truth:
        recall = len(truth & cands) / len(truth)
        assert recall >= 0.9, f"minhash LSH recall {recall} over {len(truth)} pairs"
    # candidate set should not be the full cross product
    n_docs = docs.count()
    assert len(cands) < n_docs * (n_docs - 1) / 4


def test_banded_cosine_pairs_vs_exact(spark, sf_dir):
    """banded_cosine_dup_pairs must be a SUBSET of the exact all-pairs
    result (exact verify ⇒ precision 1.0) with usable recall. The test
    embeddings' true pairs sit at cos 0.4–0.5 (θ≈60–66°, the hardest
    regime for SRP-LSH); the OR-amplified bound 1-(1-(1-θ/π)^4)^8 ≈ 0.75
    there, → ≈1 for genuine near-dups (cos ≥ 0.9)."""
    emb = load(spark, sf_dir, "embeddings")
    exact = {
        (r.doc_a, r.doc_b): r.cos
        for r in similarity.cosine_dup_pairs(emb, 0.4).collect()
    }
    banded = {
        (r.doc_a, r.doc_b): r.cos
        for r in similarity.banded_cosine_dup_pairs(emb, 0.4).collect()
    }
    assert set(banded) <= set(exact), "banded produced a pair exact did not"
    for pair, cos in banded.items():
        assert cos == exact[pair]
    if exact:
        recall = len(banded) / len(exact)
        assert recall >= 0.6, f"recall {recall} over {len(exact)} pairs"


def test_expectations_detect_violations(spark):
    """Each check kind must actually fire: nulls, out-of-range values,
    duplicate keys, and orphan foreign keys all produce non-zero
    violation counts with passed=False."""
    from cqdg_etl_spark.operators import expectations as ex

    fact = spark.createDataFrame(
        [(1, 10, 5.0), (1, 20, -3.0), (2, None, 50.0), (3, 99, 2.0)],
        ["k", "fk", "v"],
    )
    dim = spark.createDataFrame([(10,), (20,)], ["pk"])
    rep = {
        r.check: (r.violations, r.passed)
        for r in ex.expectation_report(
            fact,
            [ex.not_null("fk"), ex.in_range("v", 0, 10), ex.unique("k")],
            ref_checks=[("fk", dim, "pk")],
        ).collect()
    }
    assert rep["fk_not_null"] == (1, False)
    assert rep["v_in_range"] == (2, False)  # -3.0 and 50.0
    assert rep["k_unique"] == (1, False)  # k=1 twice
    assert rep["fk_ri_pk"] == (1, False)  # fk=99 orphan (NULL excluded)


def test_chunk_documents_overlap_and_remainder(spark):
    """Sliding-window chunking: stride overlap carried between chunks,
    short remainder kept, empty doc yields one empty chunk."""
    from cqdg_etl_spark.operators.packing import chunk_documents

    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text), (2, "")], ["doc_id", "text"])
    rows = {
        (r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens)
        for r in chunk_documents(df, "text", "doc_id", window=4, stride=3).collect()
    }
    assert rows[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert rows[(1, 1)] == ("t3 t4 t5 t6", 4)  # 1-token overlap
    assert rows[(1, 2)] == ("t6 t7 t8 t9", 4)
    assert (1, 3) not in rows  # 10 tokens fully covered by 3 windows
    assert rows[(2, 0)] == ("", 0)


def test_chunk_documents_stride_gt_window_no_phantom(spark):
    """stride > window (gapped sampling) must not emit a phantom chunk
    past the end: n=11, window=2, stride=8 yields starts 0 and 8 only —
    the old formula produced start 16 with empty text and n_tokens=-5."""
    from cqdg_etl_spark.operators.packing import chunk_documents

    text = " ".join(f"t{i}" for i in range(11))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = {
        (r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens)
        for r in chunk_documents(df, "text", "doc_id", window=2, stride=8).collect()
    }
    assert rows[(1, 0)] == ("t0 t1", 2)
    assert rows[(1, 1)] == ("t8 t9", 2)
    assert (1, 2) not in rows
    assert all(n >= 0 for _, n in rows.values())


def test_expectation_report_ref_checks_only(spark):
    """A referential-integrity-only gate (checks=[]) must work — the
    empty aggregate used to raise; and both-empty raises a clear error."""
    import pytest

    from cqdg_etl_spark.operators import expectations as ex

    fact = spark.createDataFrame([(1, 10), (2, 99)], ["k", "fk"])
    dim = spark.createDataFrame([(10,), (20,)], ["pk"])
    rep = {
        r.check: (r.violations, r.passed)
        for r in ex.expectation_report(
            fact, [], ref_checks=[("fk", dim, "pk")]
        ).collect()
    }
    assert rep == {"fk_ri_pk": (1, False)}
    with pytest.raises(ValueError, match="at least one check"):
        ex.expectation_report(fact, [], ref_checks=[])


def test_udtf_sentence_split_renumbering(spark):
    """UDTF lateral join: multi-sentence docs renumber after blank
    filtering; parent columns survive without a join node."""
    from cqdg_etl_spark.operators.udtf_text import split_sentences

    df = spark.createDataFrame(
        [(1, "Hello world. How are you? Fine!"), (2, "One only"), (3, "!. ?")],
        ["doc_id", "text"],
    )
    rows = sorted(
        (r.doc_id, r.sent_idx, r.sentence, r.n_chars)
        for r in split_sentences(spark, df, "text", "doc_id").collect()
    )
    assert rows == [
        (1, 1, "Hello world", 11),
        (1, 2, "How are you", 11),
        (1, 3, "Fine!", 5),
        (2, 1, "One only", 8),
        (3, 1, "?", 1),
    ]


def test_cms_mergeable_and_one_sided(spark):
    """The two properties that make count-min a 100-TB structure:
    (1) mergeability — sketch(A ∪ B) == counter-wise sum of sketch(A)
    and sketch(B); (2) one-sided error — estimate ≥ true count."""
    from cqdg_etl_spark.operators import sketches

    a = spark.createDataFrame([("x",), ("x",), ("y",)], ["token"])
    b = spark.createDataFrame([("x",), ("z",), ("z",)], ["token"])
    sa = sketches.count_min_sketch(a, "token", depth=2, width=16)
    sb = sketches.count_min_sketch(b, "token", depth=2, width=16)
    merged = (
        sa.unionByName(sb)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = sketches.count_min_sketch(
        a.unionByName(b), "token", depth=2, width=16
    )
    as_set = lambda df: {(r.d, r.bucket, r.cnt) for r in df.collect()}
    assert as_set(merged) == as_set(direct)

    items = spark.createDataFrame(
        [("x",), ("y",), ("z",), ("never-seen",)], ["token"]
    )
    est = {
        r.token: r.cms_estimate
        for r in sketches.cms_estimate(
            direct, items, "token", depth=2, width=16
        ).collect()
    }
    assert est["x"] >= 3 and est["y"] >= 1 and est["z"] >= 2
    # unseen items are ESTIMATED (possibly 0 or a collision count),
    # never dropped
    assert "never-seen" in est and est["never-seen"] >= 0


def test_winnowing_pandas_matches_expr(spark, sf_dir):
    """The Arrow winnowing path and the declarative HOF fallback must
    produce identical rows (all-integer arithmetic — exact parity)."""
    from cqdg_etl_spark.operators.textstats import (
        winnowing_fingerprints,
        winnowing_fingerprints_expr,
    )

    docs = load(spark, sf_dir, "documents")
    fast = sorted(tuple(r) for r in winnowing_fingerprints(docs, "text", "doc_id").collect())
    slow = sorted(tuple(r) for r in winnowing_fingerprints_expr(docs, "text", "doc_id").collect())
    assert fast == slow


def test_winnowing_shared_substring_guarantee(spark):
    """The winnowing theorem: two documents sharing a substring of
    length ≥ window + k - 1 (= 23 chars here) MUST share at least one
    fingerprint; disjoint-alphabet documents share none."""
    from cqdg_etl_spark.operators.textstats import winnowing_fingerprints

    shared = "a very long shared plagiarized passage indeed"
    data = [
        (1, f"intro text one {shared} outro one"),
        (2, f"completely different beginning {shared} and ending"),
        (3, "zzz qqq xxx www vvv uuu ttt sss rrr qqq ppp ooo nnn"),
    ]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    fps = {
        r.doc_id: set(r.fingerprint_str.split(","))
        for r in winnowing_fingerprints(df, "text", "doc_id").collect()
    }
    assert fps[1] & fps[2], "shared 46-char substring must share a fingerprint"
    assert not (fps[1] & fps[3])


def test_repetition_metrics_pandas_matches_expr(spark):
    """The Arrow/mapInPandas default and the pure-expression fallback
    must agree row for row — including the n<=k single-shingle edge,
    empty and 1-token docs, heavy repetition, and Unicode whitespace
    (NBSP / line-sep are NOT Java \\s, so they must stay inside tokens
    on both paths)."""
    from cqdg_etl_spark.operators import quality

    data = [
        (1, ""),
        (2, "one"),
        (3, "two words"),
        (4, "a b c"),
        (5, "spam spam spam spam spam spam"),
        (6, "the quick brown fox jumps over the lazy dog and the quick brown fox"),
        (7, "  leading   and\ttrailing\n whitespace  "),
        (8, "nbsp stays line sep stays\x85too"),
        (9, None),
        (10, "x y x y x y x y z"),
    ]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    fast = sorted(
        quality.repetition_metrics(df, "text", "doc_id").collect(),
        key=lambda r: r.doc_id,
    )
    slow = sorted(
        quality.repetition_metrics_expr(df, "text", "doc_id").collect(),
        key=lambda r: r.doc_id,
    )
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


def test_ngram_jaccard_max_df_suppresses_hot_shingles(spark):
    """A viral shingle shared by every doc must not produce pairs when
    max_df caps its document frequency: with the cap, the quadratic
    bucket disappears and only genuinely-overlapping docs pair up."""
    boiler = "click here to subscribe now"
    data = [(i, f"{boiler} unique text number {i} content") for i in range(20)]
    data += [(100, "alpha beta gamma delta epsilon zeta"),
             (101, "alpha beta gamma delta epsilon zeta")]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    uncapped = dedup.ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.1)
    capped = dedup.ngram_jaccard_pairs(
        df, "text", "doc_id", n=3, threshold=0.1, max_df=5
    )
    un_pairs = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    cap_pairs = {(r.doc_a, r.doc_b) for r in capped.collect()}
    # boilerplate-only overlap pairs vanish under the cap…
    assert any(a < 20 and b < 20 for a, b in un_pairs)
    assert not any(a < 20 and b < 20 for a, b in cap_pairs)
    # …but the true duplicate pair survives (its shingles are rare).
    assert (100, 101) in cap_pairs


def test_minhash_verified_subset_of_exact(spark, sf_dir):
    """Candidate-then-verify must be a SUBSET of the full exact result
    (precision 1.0 — verify is exact) with LSH-bounded recall, and
    every reported jaccard must equal the exact value."""
    docs = load(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.8
        ).collect()
    }
    verified = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_verified_pairs(
            docs, "text", "doc_id", threshold=0.8
        ).collect()
    }
    assert set(verified) <= set(exact)
    for pair, j in verified.items():
        assert j == exact[pair]
    if exact:
        assert len(verified) / len(exact) >= 0.9  # 16x4 banding at j>=0.8


def test_simhash_identical_and_distinct(spark):
    data = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "completely different words entirely here about spark engines"),
    ]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    sigs = {r.doc: r.simhash for r in dedup.simhash64(df, "text", "doc_id").collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    for fn in (dedup.simhash_near_pairs, dedup.simhash_near_pairs64):
        pairs = fn(df, "text", "doc_id", max_hamming=3).collect()
        got = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
        assert got.get((1, 2)) == 0
        assert (1, 3) not in got and (2, 3) not in got


def test_simhash128_chunks_and_pigeonhole(spark):
    """simhash128 chunk values are 32-bit non-negative; identical docs
    share all four chunks; a ≤3-bit perturbation of the TOKEN SET is
    still caught by the 4×32 pigeonhole (the recall side of the
    round-7 re-registration — the junk-floor side is measured by the
    scale probe's simhash_pairs_64bit contrast)."""
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo")
    data = [(1, base), (2, base), (3, base + " one_extra_token")]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    sig = {r.doc: (r.c0, r.c1, r.c2, r.c3)
           for r in dedup.simhash128(df, "text", "doc_id").collect()}
    for cs in sig.values():
        assert all(0 <= c < (1 << 32) for c in cs)
    assert sig[1] == sig[2]
    pairs = dedup.simhash_near_pairs(df, "text", "doc_id").collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert got.get((1, 2)) == 0
    # doc 3 differs by one added token: its signature is near-identical,
    # so the pair must survive the pigeonhole if within the bound.
    ham13 = sum(
        bin(a ^ b).count("1") for a, b in zip(sig[1], sig[3])
    )
    if ham13 <= 3:
        assert (1, 3) in got and got[(1, 3)] == ham13


def test_ann_lsh_is_subset_quality(spark, sf_dir):
    """LSH top-k hits must be a subset of the corpus and, where the exact
    top-1 shares the query's bucket, match the exact top-1."""
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(corpus, queries, k=5).collect()
    approx = similarity.lsh_bucket_topk(corpus, queries, k=5).collect()
    exact_top = {(r.query_id, r.neighbor_id) for r in exact}
    # every approx hit is a real corpus vector with sane cosine
    for r in approx:
        assert -1.0 <= r.cos <= 1.0
        assert r.neighbor_id >= 10
    # recall@5 of the bucketed search is reported, must be nonzero here
    hits = {(r.query_id, r.neighbor_id) for r in approx} & exact_top
    assert len(hits) > 0


def test_ann_lsh_multiprobe_on_clustered_data(spark):
    """On clusterable data (centers + small noise — the shape real
    embedding corpora have), sign-LSH recall is high, and multi-probe
    recall ≥ single-probe. The harness embeddings are near-uniform
    random, where any LSH is no better than chance — so the recall
    guarantee is asserted here on constructed clusters instead."""
    import random as _random

    rng = _random.Random(7)
    dim, n_clusters, per_cluster = 64, 12, 25
    centers = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows, qrows = [], []
    vid = 100
    for ci, c in enumerate(centers):
        for _ in range(per_cluster):
            rows.append((vid, [x + rng.gauss(0.0, 0.05) for x in c]))
            vid += 1
        qrows.append((ci, [x + rng.gauss(0.0, 0.05) for x in c]))
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = spark.createDataFrame(qrows, ["vec_id", "embedding"])

    exact = similarity.brute_force_topk(corpus, queries, k=5).collect()
    single = similarity.lsh_bucket_topk(corpus, queries, k=5).collect()
    multi = similarity.lsh_bucket_topk(corpus, queries, k=5, multiprobe=True).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    single_set = {(r.query_id, r.neighbor_id) for r in single}
    multi_set = {(r.query_id, r.neighbor_id) for r in multi}
    recall_single = len(exact_set & single_set) / len(exact_set)
    recall_multi = len(exact_set & multi_set) / len(exact_set)
    assert recall_multi >= recall_single
    assert recall_multi >= 0.8, f"multiprobe recall {recall_multi:.2f}"


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF (16 cells, nprobe=6) must recover most exact top-5 neighbors.
    Deterministic: seeded KMeans, so this is a fixed value, not flaky."""
    from cqdg_etl_spark.queries import REGISTRY

    bf = REGISTRY["ann_topk_bruteforce"].fn(spark, sf_dir).toPandas()
    ivf = REGISTRY["ann_topk_ivf"].fn(spark, sf_dir).toPandas()
    bf_set = set(zip(bf.query_id, bf.neighbor_id))
    ivf_set = set(zip(ivf.query_id, ivf.neighbor_id))
    assert ivf_set <= {(q, n) for q, n in ivf_set}  # sanity
    recall = len(bf_set & ivf_set) / len(bf_set)
    assert recall >= 0.5, f"IVF recall {recall:.3f} below floor"


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting must not change row multiplicity: salted join == plain
    join, row for row."""
    from cqdg_etl_spark.operators.skew import salted_join
    from cqdg_etl_spark.queries.registry import load

    li = load(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    orders = load(spark, sf_dir, "orders")
    plain = li.join(orders, "o_orderkey").groupBy("o_orderpriority").count()
    salted = (
        salted_join(li, orders, "o_orderkey", salt=8)
        .groupBy("o_orderpriority")
        .count()
    )
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_media_features_deterministic(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(20)
    media = multimodal.attach_fake_media(docs, "text", "doc_id")
    f1 = {r.doc_id: r.feature for r in multimodal.extract_media_features(media).collect()}
    f2 = {r.doc_id: r.feature for r in multimodal.extract_media_features(media).collect()}
    assert f1 == f2
    assert all(len(v) == 16 for v in f1.values())
    assert all(b.byte_len == 128 for b in media.select(
        F.octet_length("media_bytes").alias("byte_len")).collect())


def test_media_resize_and_frame_sample(spark, sf_dir):
    from cqdg_etl_spark.operators import multimodal

    docs = load(spark, sf_dir, "documents").limit(20)
    media = multimodal.attach_fake_media(docs, "text", "doc_id")
    resized = multimodal.resize_media(media, 32, 32).collect()
    assert len(resized) == 20
    assert all(r.width == 32 and r.height == 32 for r in resized)
    assert all(len(r.media_bytes) == 16 for r in resized)

    frames = multimodal.sample_frames(media, every_nth=2, max_frames=3)
    rows = frames.collect()
    # 128-byte payload → 8 frames → sampled idx 0,2,4 per doc
    assert {r.frame_idx for r in rows} == {0, 2, 4}
    assert len(rows) == 60
    # deterministic across runs
    again = multimodal.sample_frames(media, every_nth=2, max_frames=3).collect()
    assert sorted((r.doc_id, r.frame_idx, bytes(r.frame_bytes)) for r in rows) == \
           sorted((r.doc_id, r.frame_idx, bytes(r.frame_bytes)) for r in again)


def test_media_real_decode_fails_loudly_on_non_png(spark, sf_dir):
    """decode='real' is a REAL PNG pixel kernel as of r4 — feeding it
    the md5-derived fake payloads must fail loudly (bad signature),
    never silently degrade to fake features."""
    import pytest

    docs = load(spark, sf_dir, "documents").limit(1)
    media = multimodal.attach_fake_media(docs, "text", "doc_id")
    with pytest.raises(Exception, match="not a PNG"):
        multimodal.extract_media_features(media, decode="real").collect()


def test_connected_components_chain_and_clique(spark):
    """Min-label propagation over a 6-node chain (diameter 5 — forces
    several iterations), a triangle, and an isolated pair."""
    from cqdg_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),      # chain
         (10, 11), (11, 12), (10, 12),                 # triangle
         (20, 21)],                                    # pair
        ["src", "dst"],
    )
    got = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_diameter_guard(spark):
    from cqdg_etl_spark.operators.graph import connected_components
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError):
        connected_components(chain, max_iter=2)


def test_asof_join_left_mode_and_tolerance(spark):
    """Hand-built fixture: left-mode keeps unmatched rows with nulls;
    tolerance voids stale matches; equal-ts right rows match (<=);
    duplicate right timestamps resolve to the max tiebreak."""
    import datetime as dt

    from cqdg_etl_spark.operators.temporal import asof_join

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(sec):
        return t0 + dt.timedelta(seconds=sec)

    left = spark.createDataFrame(
        [(1, ts(5), "L5"), (1, ts(100), "L100"), (2, ts(1), "L1")],
        ["k", "ts", "lval"],
    )
    right = spark.createDataFrame(
        # two right rows for k=1 at the same ts=5 (ids 7 and 9): max wins
        [(1, ts(5), 7), (1, ts(5), 9), (1, ts(3), 3)],
        ["k", "ts", "rid"],
    )
    got = {
        r.lval: r.rid_right
        for r in asof_join(
            left, right, on=["k"], ts_col="ts", right_payload=["rid"],
            how="left", right_tiebreak="rid",
        ).collect()
    }
    assert got == {"L5": 9, "L100": 9, "L1": None}

    got_tol = {
        r.lval: r.rid_right
        for r in asof_join(
            left, right, on=["k"], ts_col="ts", right_payload=["rid"],
            how="left", right_tiebreak="rid", tolerance_us=10_000_000,
        ).collect()
    }
    # L100 is 95s after the newest right row -> voided by 10s tolerance
    assert got_tol == {"L5": 9, "L100": None, "L1": None}

    got_inner = {
        r.lval: r.rid_right
        for r in asof_join(
            left, right, on=["k"], ts_col="ts", right_payload=["rid"],
            how="inner", right_tiebreak="rid", tolerance_us=10_000_000,
        ).collect()
    }
    assert got_inner == {"L5": 9}


def test_cc_auto_dispatch_and_reliable_checkpoint(spark, tmp_path):
    """connected_components_auto must route by edge count (star above
    the threshold, min-label below) and both must accept the
    'reliable' checkpoint mode with a configured checkpoint dir."""
    from cqdg_etl_spark.operators.graph import (
        connected_components,
        connected_components_auto,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], ["src", "dst"]
    )
    expect = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20)}

    # threshold above edge count → min-label; below → star. Same answer.
    for thresh in (100, 1):
        got = {
            (r.node, r.component)
            for r in connected_components_auto(
                edges, star_edge_threshold=thresh
            ).collect()
        }
        assert got == expect

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    for fn in (connected_components, connected_components_star):
        got = {
            (r.node, r.component)
            for r in fn(edges, checkpoint="reliable").collect()
        }
        assert got == expect
    import pytest as _pytest

    with _pytest.raises(ValueError, match="checkpoint"):
        connected_components(edges, checkpoint="bogus")


def test_star_contraction_matches_min_label_random_graph(spark):
    """large-star/small-star CC equals min-label CC on a seeded random
    graph, and converges on a 400-node chain (diameter 399) in O(log n)
    rounds where min-label would need ~400."""
    import random

    from cqdg_etl_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got_star = {
        (r.node, r.component) for r in connected_components_star(df).collect()
    }
    got_minl = {
        (r.node, r.component) for r in connected_components(df, max_iter=50).collect()
    }
    assert got_star == got_minl

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(400)], ["src", "dst"]
    )
    comp = {
        r.node: r.component for r in connected_components_star(chain).collect()
    }
    assert set(comp) == set(range(401))
    assert set(comp.values()) == {0}


def test_deterministic_sampling_nested_and_partition_invariant(spark, sf_dir):
    """Same salt: a 5% sample is a subset of the 10% sample; the sample
    is identical after an arbitrary repartition (no RNG state)."""
    from cqdg_etl_spark.operators.sampling import stratified_sample
    from cqdg_etl_spark.queries.registry import load

    docs = load(spark, sf_dir, "documents")
    ids05 = {r.doc_id for r in stratified_sample(
        docs, "doc_id", "lang", {}, default_rate=0.05).select("doc_id").collect()}
    ids10 = {r.doc_id for r in stratified_sample(
        docs, "doc_id", "lang", {}, default_rate=0.10).select("doc_id").collect()}
    assert ids05 <= ids10
    assert 0 < len(ids05) < len(ids10)
    ids10_rep = {r.doc_id for r in stratified_sample(
        docs.repartition(13), "doc_id", "lang", {}, default_rate=0.10
    ).select("doc_id").collect()}
    assert ids10 == ids10_rep


def test_jpeg_dimension_parse_roundtrip(spark):
    """Real JPEG SOF marker scanning (stdlib-only) recovers the exact
    dimensions written into synthetic headers; garbage bytes -> nulls."""
    from cqdg_etl_spark.operators.multimodal import jpeg_dimensions, synth_jpeg_header

    rows = [
        (1, synth_jpeg_header(640, 480)),
        (2, synth_jpeg_header(31, 4096)),
        (3, b"not a jpeg at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media_bytes binary")
    got = {r.doc_id: (r.width, r.height) for r in jpeg_dimensions(df, "media_bytes", "doc_id").collect()}
    assert got == {1: (640, 480), 2: (31, 4096), 3: (None, None)}


def test_png_header_parse_rejects_non_png(spark):
    from cqdg_etl_spark.operators.multimodal import png_dimensions
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, b"GIF89a junk")], "doc_id long, b binary")
    row = df.select(png_dimensions(F.col("b")).alias("d")).collect()[0]
    assert row.d is None


def test_dedup_adversarial_hot_shingle_and_giant_cluster(spark):
    """Scale-stress for the dedup suite: (a) a boilerplate shingle
    shared by 1200 docs must not create a quadratic bucket (~719k
    pairs) when max_df caps it; (b) a 400-doc IDENTICAL cluster — whose
    shingles exceed max_df by construction — is the EXACT-dedup layer's
    job, documenting the intended division of labor at corpus scale:
    fingerprint groupBy catches identical docs first, the n-gram pass
    only handles near-duplicates whose shingles are rare."""
    boiler = "click here to subscribe to our newsletter today"
    data = [
        (i, f"{boiler} article {i} body text segment {i % 7} tail {i}")
        for i in range(1200)
    ]
    dup_text = "the quick brown fox jumps over the lazy dog again"
    data += [(10_000 + i, dup_text) for i in range(400)]
    df = spark.createDataFrame(data, ["doc_id", "text"])

    pairs = dedup.ngram_jaccard_pairs(
        df, "text", "doc_id", n=3, threshold=0.5, max_df=100
    ).collect()
    # Bounded output: no boilerplate-bucket blowup (the uncapped run
    # would emit hundreds of thousands of pairs), and the suppressed
    # giant cluster contributes none — its shingles all have df=400.
    assert len(pairs) == 0, f"{len(pairs)} pairs leaked through max_df"

    # The giant cluster IS caught — by the exact layer.
    groups = dedup.exact_duplicates(df, "text", "doc_id").collect()
    giant = [g for g in groups if g.n_docs == 400]
    assert len(giant) == 1 and giant[0].keep_id == 10_000
