"""datapipe17 adversarial fixtures, run through both engines where the
query has an oracle (the fixture parquet dir doubles as an sf_dir),
plus hand-computed expectations and the sf0.01 oracle re-runs.
Registry-wide oracle parity and plan shape are checked by
test_correctness.py and test_plan_lint.py."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from cqdg_etl_spark.queries import REGISTRY
from tests.conftest import SF_MEDIUM
from tests.oracle_harness import (
    compare_query,
    duckdb_conn,
    fixture_dir,
    module_queries,
)

pytestmark = pytest.mark.nightly


@pytest.mark.parametrize(
    "name", module_queries("cqdg_etl_spark.queries.datapipe17")
)
def test_oracle_match_sf_medium(spark, name):
    """The same oracle comparison test_correctness runs, at sf0.01."""
    compare_query(spark, name, SF_MEDIUM)


_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars int"
_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


# ----------------------------------------------- character entropy


def test_entropy_hand_computed(spark, tmp_path):
    """'aaaa' has entropy exactly 0; 'abab' has exactly 1 bit
    (alphabet {a, b}, p = 1/2 each — plus the space the normalizer
    keeps, checked with the real formula); both land under the
    low-entropy threshold and a long pangram-ish doc lands above it."""
    docs = spark.createDataFrame(
        [
            (1, "aaaa", "en", "s1", 4),
            (2, "ab ab", "en", "s2", 5),
            (3, "the quick brown fox jumps over the lazy dog", "en", "s3", 44),
        ],
        _DOC_SCHEMA,
    )
    d = fixture_dir(tmp_path, documents=docs)
    out = {
        r.source: r.asDict()
        for r in REGISTRY["tx_char_entropy_quality"].fn(spark, d).collect()
    }
    assert out["s1"]["mean_entropy_bits"] == 0.0
    assert out["s1"]["n_low_entropy"] == 1
    # 'ab ab': counts a=2, b=2, space=1, n=5 — recompute exactly
    # (6-dp-quantized per term, like the engine).
    def q6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    exp = sum(
        q6(-(k / 5) * math.log(k / 5) / math.log(2.0)) for k in (2, 2, 1)
    )
    assert abs(out["s2"]["mean_entropy_bits"] - q6(exp)) < 1e-9
    assert out["s3"]["mean_entropy_bits"] > 3.5
    assert out["s3"]["n_low_entropy"] == 0
    # engine-vs-oracle on the same fixture
    compare_query(
        spark, "tx_char_entropy_quality", d, con=duckdb_conn(d, ["documents"])
    )


# ------------------------------------------------ Kaplan-Meier


def test_km_hand_computed(spark, tmp_path):
    """5 users, corpus ends day 100: A and B die at t=10, C at t=20,
    D (last seen day 98) and E (day 100) are censored (within 7 days
    of the end). KM: S(10) = 3/5, S(20) = 3/5 * 2/3 = 2/5, flat after."""
    base = dt.datetime(2024, 1, 1)

    def ev(i, uid, day):
        return (i, base + dt.timedelta(days=day), uid, "view", 1.0, "{}")

    rows = []
    i = 0
    for uid, last in [(1, 10), (2, 10), (3, 20), (4, 98), (5, 100)]:
        rows.append(ev(i, uid, 0)); i += 1
        rows.append(ev(i, uid, last)); i += 1
    events = spark.createDataFrame(rows, _EV_SCHEMA)
    d = fixture_dir(tmp_path, events=events)
    out = {
        r.duration_days: r.asDict()
        for r in REGISTRY["ev_survival_km"].fn(spark, d).collect()
    }
    assert set(out) == {10, 20, 98, 100}
    assert out[10]["at_risk"] == 5 and out[10]["deaths"] == 2
    assert abs(out[10]["survival"] - 0.6) < 1e-9
    assert out[20]["at_risk"] == 3 and out[20]["deaths"] == 1
    assert abs(out[20]["survival"] - 0.4) < 2e-6  # two 6dp ln quantizations
    assert out[98]["deaths"] == 0 and out[100]["deaths"] == 0
    assert out[100]["survival"] == out[20]["survival"]  # flat past last death
    compare_query(spark, "ev_survival_km", d, con=duckdb_conn(d, ["events"]))


def test_km_full_extinction_reaches_zero(spark, tmp_path):
    """When every user dies (all last seen long before corpus end...
    impossible — the max user defines the end, so the LAST user is
    always censored unless tied). Plant a tie: two users share the
    final timestamp but died=0 only within the censor window; all
    earlier users die, so survival steps down and the -999 ln cap is
    exercised only when d = at_risk — construct that by making every
    user die at the same duration EXCEPT the boundary pair."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    i = 0
    # 3 users: first/last span 5 days, all ending 30 days before the
    # corpus max (one extra user carries the corpus end).
    for uid in (1, 2, 3):
        rows.append((i, base, uid, "view", 1.0, "{}")); i += 1
        rows.append((i, base + dt.timedelta(days=5), uid, "view", 1.0, "{}")); i += 1
    rows.append((i, base + dt.timedelta(days=40), 9, "view", 1.0, "{}")); i += 1
    events = spark.createDataFrame(rows, _EV_SCHEMA)
    d = fixture_dir(tmp_path, events=events)
    out = {
        r.duration_days: r.asDict()
        for r in REGISTRY["ev_survival_km"].fn(spark, d).collect()
    }
    # t=0: user 9 (censored, duration 0) leaves; at_risk 4, d 0.
    assert out[0]["at_risk"] == 4 and out[0]["deaths"] == 0
    assert out[0]["survival"] == 1.0
    # t=5: remaining 3 all die -> d = at_risk -> survival exactly 0.
    assert out[5]["at_risk"] == 3 and out[5]["deaths"] == 3
    assert out[5]["survival"] == 0.0
    compare_query(spark, "ev_survival_km", d, con=duckdb_conn(d, ["events"]))


# ------------------------------------------ curriculum interleave


def test_curriculum_round_robin(spark, tmp_path):
    """2 sources x 3 docs: positions must alternate sources and go
    easy-first within each source."""
    docs = spark.createDataFrame(
        [
            (1, "x", "en", "a", 10),
            (2, "x", "en", "a", 30),
            (3, "x", "en", "a", 20),
            (4, "x", "en", "b", 5),
            (5, "x", "en", "b", 50),
            (6, "x", "en", "b", 15),
        ],
        _DOC_SCHEMA,
    )
    d = fixture_dir(tmp_path, documents=docs)
    rows = REGISTRY["ds_curriculum_interleave"].fn(spark, d).collect()
    by_pos = {r.position: r for r in rows}
    assert sorted(by_pos) == [1, 2, 3, 4, 5, 6]
    # odd positions are source a (s_idx 1), even are b (s_idx 2)
    assert [by_pos[p].source for p in range(1, 7)] == list("ababab")
    # easy-first within each source: a by n_chars -> docs 1,3,2
    assert [by_pos[p].doc_id for p in (1, 3, 5)] == [1, 3, 2]
    assert [by_pos[p].doc_id for p in (2, 4, 6)] == [4, 6, 5]
    compare_query(
        spark, "ds_curriculum_interleave", d, con=duckdb_conn(d, ["documents"])
    )


# ------------------------------------------------------- HITS


def test_hits_hand_structure(spark, tmp_path):
    """Star structure: user 1 touches every event type, users 2-4
    touch one popular type each, user 5 touches a type nobody else
    does. The all-type user must be the top hub; the isolated-type
    user the weakest of the active set."""
    base = dt.datetime(2024, 1, 1)
    pairs = (
        [(1, t) for t in ("a", "b", "c")]
        + [(2, "a"), (3, "a"), (4, "b")]
        + [(5, "z")]
    )
    rows = [
        (i, base, uid, t, 1.0, "{}") for i, (uid, t) in enumerate(pairs)
    ]
    events = spark.createDataFrame(rows, _EV_SCHEMA)
    d = fixture_dir(tmp_path, events=events)
    out = REGISTRY["graph_hits_scores"].fn(spark, d).collect()
    scores = {r.user_id: r.hub for r in out}
    assert max(scores, key=scores.get) == 1
    assert scores[1] == 1.0  # max-normalized
    assert scores[5] == min(scores.values())
    compare_query(
        spark, "graph_hits_scores", d, con=duckdb_conn(d, ["events"])
    )


# --------------------------------------------- peak concurrency


def test_peak_concurrency_hand_computed(spark, tmp_path):
    """Three users: A active minutes 0-10, B minutes 5-15, C minute 8
    (point session). Peak = 3 at minute 8; the overlap instant at
    minute 5 reads 2; a session starting exactly when another ends
    (D at A's last minute) still counts the overlap."""
    base = dt.datetime(2024, 1, 1)

    def ev(i, uid, minute):
        return (i, base + dt.timedelta(minutes=minute), uid, "v", 1.0, "{}")

    rows = [
        ev(0, 1, 0), ev(1, 1, 10),          # A: [0, 10]
        ev(2, 2, 5), ev(3, 2, 15),          # B: [5, 15]
        ev(4, 3, 8),                        # C: [8, 8]
        ev(5, 4, 10), ev(6, 4, 20),         # D: [10, 20] (starts at A's end)
    ]
    events = spark.createDataFrame(rows, _EV_SCHEMA)
    d = fixture_dir(tmp_path, events=events)
    out = REGISTRY["ev_peak_concurrency"].fn(spark, d).collect()
    lvl = {r.peak_t_us: r.concurrency for r in out}
    us = lambda m: int((base + dt.timedelta(minutes=m)).timestamp() * 1e6)
    assert lvl[us(8)] == 3       # A, B, C all active
    assert lvl[us(5)] == 2       # A + B
    # D starts at A's last minute: C's point session already closed
    # (end+1us at minute 8), A's -1 applies AFTER D's +1 at the same
    # instant -> A + B + D = 3.
    assert lvl[us(10)] == 3
    assert lvl[us(0)] == 1
    compare_query(
        spark, "ev_peak_concurrency", d, con=duckdb_conn(d, ["events"])
    )


# ------------------------------------------- type affinity


def test_type_affinity_hand_computed(spark, tmp_path):
    """Users 1,2 both do {a,b}; user 3 does {a}. co(a,b)=2,
    |U(a)|=3, |U(b)|=2 -> affinity = 2/sqrt(6)."""
    base = dt.datetime(2024, 1, 1)
    pairs = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a")]
    rows = [(i, base, u, t, 1.0, "{}") for i, (u, t) in enumerate(pairs)]
    events = spark.createDataFrame(rows, _EV_SCHEMA)
    d = fixture_dir(tmp_path, events=events)
    out = REGISTRY["graph_type_affinity"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.type_a, r.type_b, r.co_users) == ("a", "b", 2)
    assert abs(r.affinity - math.floor(2 / math.sqrt(6) * 1e6 + 0.5) / 1e6) < 1e-12
    compare_query(
        spark, "graph_type_affinity", d, con=duckdb_conn(d, ["events"])
    )


# ------------------------------------------- vocabulary growth


def test_vocab_growth_hand_computed(spark, tmp_path):
    """Two docs, 10 tokens total (one per decile): doc 1 = 'a b a b a'
    (vocab a,b both first-seen in deciles 1-2), doc 2 = 'c c c c d'
    (c at position 6 -> decile 6, d at position 10 -> decile 10)."""
    docs = spark.createDataFrame(
        [
            (1, "a b a b a", "en", "s", 9),
            (2, "c c c c d", "en", "s", 9),
        ],
        _DOC_SCHEMA,
    )
    d = fixture_dir(tmp_path, documents=docs)
    out = {r.decile: r for r in
           REGISTRY["tx_vocab_growth_curve"].fn(spark, d).collect()}
    assert sorted(out) == list(range(1, 11))
    assert out[10].cum_tokens == 10 and out[10].cum_vocab == 4
    assert out[1].cum_tokens == 1 and out[1].cum_vocab == 1   # 'a'
    assert out[2].cum_vocab == 2                              # + 'b'
    assert out[5].cum_vocab == 2 and out[6].cum_vocab == 3    # + 'c'
    assert out[9].cum_vocab == 3 and out[10].cum_vocab == 4   # + 'd'
    # monotone invariants
    for i in range(2, 11):
        assert out[i].cum_tokens >= out[i - 1].cum_tokens
        assert out[i].cum_vocab >= out[i - 1].cum_vocab
    compare_query(
        spark, "tx_vocab_growth_curve", d, con=duckdb_conn(d, ["documents"])
    )


# --------------------------------------------- DAU/WAU stickiness


def test_dau_wau_hand_computed(spark, tmp_path):
    """Day 1: users {1,2}; day 2: {2}; day 9: {3}. WAU(1)=2, WAU(2)=2
    (trailing window covers both days), WAU(9)=1 (days 1-2 fell out of
    the 7-day window). Stickiness(2) = 1/2."""
    base = dt.datetime(2024, 3, 1, 12, 0)

    def ev(i, uid, day):
        return (i, base + dt.timedelta(days=day - 1), uid, "v", 1.0, "{}")

    events = spark.createDataFrame(
        [ev(0, 1, 1), ev(1, 2, 1), ev(2, 2, 2), ev(3, 3, 9)], _EV_SCHEMA
    )
    d = fixture_dir(tmp_path, events=events)
    out = {r.day: r for r in
           REGISTRY["ev_dau_wau_stickiness"].fn(spark, d).collect()}
    assert sorted(out) == ["2024-03-01", "2024-03-02", "2024-03-09"]
    assert (out["2024-03-01"].dau, out["2024-03-01"].wau) == (2, 2)
    assert (out["2024-03-02"].dau, out["2024-03-02"].wau) == (1, 2)
    assert out["2024-03-02"].stickiness == 0.5
    assert (out["2024-03-09"].dau, out["2024-03-09"].wau) == (1, 1)
    compare_query(
        spark, "ev_dau_wau_stickiness", d, con=duckdb_conn(d, ["events"])
    )


# ------------------------------------------- stochastic rounding


def test_resample_expected_count_bounds(spark, sf_dir):
    """n_copies is always floor(w) or floor(w)+1, the longest doc gets
    exactly the target weight, and the realized total sits within a
    loose Chernoff-ish band of the expected total (the estimator is a
    sum of independent-ish Bernoullis)."""
    rows = REGISTRY["ds_stochastic_round_resample"].fn(spark, sf_dir).collect()
    tot_w = sum(r.weight for r in rows)
    tot_c = sum(r.n_copies for r in rows)
    for r in rows:
        assert r.n_copies in (math.floor(r.weight), math.floor(r.weight) + 1)
    assert abs(tot_c - tot_w) < 6 * math.sqrt(max(len(rows), 1))
    assert any(abs(r.weight - 3.0) < 1e-6 for r in rows)  # the max doc


def test_resample_deterministic_rerun(spark, sf_dir):
    a = sorted(
        (r.doc_id, r.n_copies)
        for r in REGISTRY["ds_stochastic_round_resample"].fn(spark, sf_dir).collect()
    )
    b = sorted(
        (r.doc_id, r.n_copies)
        for r in REGISTRY["ds_stochastic_round_resample"].fn(spark, sf_dir).collect()
    )
    assert a == b
