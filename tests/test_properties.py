"""Property-based tests (hypothesis) for foundational invariants.

Each property runs ONE Spark action per example over a generated batch
(small max_examples — Spark actions are ~0.5 s each); the properties
are the contracts the oracle comparisons silently rely on.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

pytestmark = pytest.mark.nightly

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

amounts = st.lists(
    st.decimals(
        min_value=Decimal("-9999999.99"),
        max_value=Decimal("9999999.99"),
        places=2,
    ),
    min_size=1,
    max_size=50,
)


@given(amounts)
@settings(**SETTINGS)
def test_money_long_units_sum_equals_decimal_sum(spark, xs):
    """The long-micro-unit fast path must equal exact DECIMAL(18,6)
    accumulation for ANY set of 2-dp amounts, in any order — the
    invariant that makes dec_sum/oracle hash comparisons safe."""
    from cqdg_etl_spark.functions.money import _long_units, _units_to_decimal

    df = spark.createDataFrame(
        [(str(x),) for x in xs], ["amt"]
    ).select(F.col("amt").cast("decimal(18,2)").alias("amt"))
    got = df.select(
        _units_to_decimal(F.sum(_long_units(F.col("amt")))).alias("s")
    ).collect()[0]["s"]
    expected = df.select(
        F.sum(F.col("amt").cast("decimal(18,6)")).alias("s")
    ).collect()[0]["s"]
    assert Decimal(got) == Decimal(expected)


words = st.text(alphabet="abcdefgh", min_size=1, max_size=6)
docs = st.lists(words, min_size=1, max_size=30).map(" ".join)


@given(docs, docs, st.lists(words, min_size=6, max_size=10).map(" ".join))
@settings(**SETTINGS)
def test_winnowing_guarantee_property(spark, prefix_a, prefix_b, shared):
    """Winnowing theorem, fuzzed: for ANY two documents sharing an
    injected substring of length ≥ window+k-1 (=23), the fingerprint
    sets intersect."""
    from cqdg_etl_spark.operators.textstats import winnowing_fingerprints

    if len(shared) < 23:
        shared = (shared + " ") * (23 // max(len(shared), 1) + 1)
    df = spark.createDataFrame(
        [(1, f"{prefix_a} {shared}"), (2, f"{prefix_b} {shared}")],
        ["doc_id", "text"],
    )
    fps = {
        r.doc_id: set(r.fingerprint_str.split(","))
        for r in winnowing_fingerprints(df, "text", "doc_id").collect()
    }
    assert fps[1] & fps[2]


@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1,
                max_size=60, unique=True))
@settings(**SETTINGS)
def test_split_assignment_partition_invariant(spark, ids):
    """Deterministic train/val split must assign every id identically
    regardless of physical partitioning — the property that makes the
    split reproducible on any cluster layout."""
    from cqdg_etl_spark.operators.sampling import assign_split

    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    df = spark.createDataFrame([(i,) for i in ids], ["id"])
    a = {
        (r.id, r.split)
        for r in assign_split(df.repartition(1), "id", splits).collect()
    }
    b = {
        (r.id, r.split)
        for r in assign_split(df.repartition(8), "id", splits).collect()
    }
    assert a == b
    assert {s for _, s in a} <= {"train", "val", "test"}
