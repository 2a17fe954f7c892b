"""Replicates the driver's correctness gate locally: every queries() entry
with an oracle_sql() twin must match DuckDB on row count, column names and
order-insensitive values at sf0.01."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    df = df.sort_values(by=list(df.columns), na_position="first").reset_index(
        drop=True
    )
    return df


def _compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame):
    assert sorted(spark_df.columns) == sorted(duck_df.columns), (
        f"{name}: columns differ {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}"
    )
    assert len(spark_df) == len(duck_df), (
        f"{name}: row counts differ {len(spark_df)} vs {len(duck_df)}"
    )
    a, b = _normalize(spark_df), _normalize(duck_df)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                assert abs(x - y) < 1e-9, f"{name}.{col}[{i}]: {x} != {y}"
            else:
                assert (x is None and y is None) or x == y, (
                    f"{name}.{col}[{i}]: {x!r} != {y!r}"
                )


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql().keys()))
def test_query_matches_duckdb_oracle(spark, con, name):
    spark_pdf = entry_mod.queries()[name](spark, SF_DIR).toPandas()
    sql = entry_mod.oracle_sql()[name]
    duck_pdf = con.execute(sql).df()
    _compare(name, spark_pdf, duck_pdf)


def test_every_query_has_a_twin():
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
