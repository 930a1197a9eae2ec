"""Local re-implementation of the driver's correctness gate.

Runs a registry query on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compares row count, column names, and an
order-insensitive canonical value set (columns sorted by name, floats
rounded, NaN/None unified). Strictly *at least* as strict as the driver's
row-count + schema + value-hash check.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def duckdb_conn(sf_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    """One DuckDB view per table: ``{t}.parquet`` is a file, or the
    directory of part files Spark writes (``fixture_dir``)."""
    con = duckdb.connect()
    for t in tables:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def fixture_dir(tmp_path, **tables) -> str:
    """Write hand-built Spark frames as parquet under one dir, so a query
    and its DuckDB oracle read identical bytes."""
    d = str(tmp_path / "fx")
    for name, df in tables.items():
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/{name}.parquet")
    return d


def module_queries(module: str) -> list[str]:
    """Sorted registry names whose query function is defined in `module`."""
    from cqdg_etl_spark.queries import REGISTRY

    return sorted(n for n, q in REGISTRY.items() if q.fn.__module__ == module)


def _canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}"
    if isinstance(v, bool):
        return "true" if v else "false"
    # numpy scalars / decimals / ints
    try:
        import numpy as np

        if isinstance(v, (np.floating,)):
            return _canon_cell(float(v))
        if isinstance(v, (np.integer,)):
            return str(int(v))
        if isinstance(v, (np.bool_,)):
            return "true" if bool(v) else "false"
    except ImportError:
        pass
    import decimal

    if isinstance(v, decimal.Decimal):
        return _canon_cell(float(v))
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    out = [tuple(_canon_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(out)


def compare_query(spark, name: str, sf_dir: str, con=None) -> pd.DataFrame:
    """Assert the Spark result matches the DuckDB oracle for `name` and
    return the Spark rows. `con` defaults to views over every table of
    `sf_dir`; a fixture dir holding only some tables passes its own."""
    from cqdg_etl_spark.queries import REGISTRY

    q = REGISTRY[name]
    assert q.oracle is not None, f"{name} has no oracle"
    actual = q.fn(spark, sf_dir).toPandas()
    con = con or duckdb_conn(sf_dir)
    expected = con.execute(q.oracle).df()

    assert sorted(actual.columns) == sorted(expected.columns), (
        f"{name}: column mismatch spark={sorted(actual.columns)} "
        f"oracle={sorted(expected.columns)}"
    )
    assert len(actual) == len(expected), (
        f"{name}: row count spark={len(actual)} oracle={len(expected)}"
    )
    a, e = canonical_rows(actual), canonical_rows(expected)
    if a != e:
        diff_a = [r for r in a if r not in set(e)][:5]
        diff_e = [r for r in e if r not in set(a)][:5]
        raise AssertionError(
            f"{name}: value mismatch.\n only-spark (≤5): {diff_a}\n"
            f" only-oracle (≤5): {diff_e}\n cols(sorted)={sorted(actual.columns)}"
        )
    return actual
