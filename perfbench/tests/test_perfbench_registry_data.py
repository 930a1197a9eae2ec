"""Seeded registry tables: same seed, same bytes of data; the columns the
registry queries read."""

import pyarrow.parquet as pq

import registry_data
from tests.oracle_harness import TABLES


def _tables(path):
    return {t: pq.read_table(f"{path}/{t}.parquet") for t in TABLES}


def test_seed_fixes_every_table(tmp_path):
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        registry_data.generate(str(tmp_path / name), 0.001, seed)
    a, b, c = (_tables(tmp_path / name) for name in "abc")
    assert all(a[t].equals(b[t]) for t in TABLES)
    assert not a["lineitem"].equals(c["lineitem"])


def test_tables_have_the_harness_columns(tmp_path):
    registry_data.generate(str(tmp_path), 0.001, 3)
    t = _tables(tmp_path)
    assert t["orders"].num_rows == 1500 and t["customer"].num_rows == 150
    assert t["lineitem"].schema.field("l_shipdate").type.unit == "us"
    assert str(t["embeddings"].schema.field("embedding").type) == "list<element: float>"
    assert t["lineitem"].num_rows == 4 * t["orders"].num_rows
    keys = set(t["lineitem"].column("l_orderkey").to_pylist())
    assert keys <= set(t["orders"].column("o_orderkey").to_pylist())
    assert len(set(t["events"].column("user_id").to_pylist())) == 15
