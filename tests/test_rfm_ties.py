"""ev_rfm_segments tie-break contract (VERDICT r4 #2).

The engine computes quartiles with range-partitioned global_rank +
the closed-form _ntile_from_rank; the oracle still says ntile(4).
They agree ONLY because both sides order by the same fully
deterministic total order with a user_id tiebreak. This fixture makes
every recency/frequency/monetary value IDENTICAL across users, so the
quartile assignment is decided entirely by the tiebreak — any drift
between the oracle's ORDER BY and the engine's global_rank columns
flips buckets here long before it would show on real data."""

from __future__ import annotations

import datetime as dt

from tests.oracle_harness import compare_query, duckdb_conn


def _write_events(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "event_id": [r[0] for r in rows],
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [r[4] for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    pq.write_table(t, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_rfm_all_ties_decided_by_user_id(spark, tmp_path):
    """10 users (n mod 4 != 0), every user identical on all three RFM
    dimensions: buckets are pure user_id tiebreak + the ntile
    remainder rule (first r buckets get the extra row)."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(10):
        for k in range(3):  # same frequency (3), same ts set, same value
            rows.append((eid, base + dt.timedelta(hours=k), u, "purchase", 10.0))
            eid += 1
    sf = _write_events(tmp_path, rows)
    out = compare_query(
        spark, "ev_rfm_segments", sf, con=duckdb_conn(sf, ["events"])
    ).sort_values("user_id")
    # identical metrics everywhere -> quartile == ntile bucket of the
    # user_id order itself: 10 = 4*2+2, so buckets sized (3,3,2,2)
    want = [1, 1, 1, 2, 2, 2, 3, 3, 4, 4]
    for col in ("r_quartile", "f_quartile", "m_quartile"):
        assert list(out[col]) == want, col


def test_rfm_partial_ties_match_oracle(spark, tmp_path):
    """Ties on SOME dimensions only (pairs of users share frequency and
    monetary but differ in recency) — oracle and engine still agree
    cell-for-cell."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(8):
        freq = 2 + (u // 2)  # pairs of users tie on frequency
        for k in range(freq):
            ts = base + dt.timedelta(days=u, hours=k)
            rows.append((eid, ts, u, "purchase", 5.0))  # monetary ties via freq
            eid += 1
    sf = _write_events(tmp_path, rows)
    compare_query(
        spark, "ev_rfm_segments", sf, con=duckdb_conn(sf, ["events"])
    )
