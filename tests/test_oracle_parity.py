"""Mimic the driver's correctness gate locally: run every catalog query
on Spark and its oracle on DuckDB at sf0.001, compare row count, schema
(column names) and exact values (order-insensitive)."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

from yadamu___yet_another_data_migration_utility_spark.plans import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.001"
# the tables the oracles read
TABLES = ["customer", "events", "lineitem"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        row = []
        for v in tup:
            if isinstance(v, float):
                row.append("NaN" if math.isnan(v) else repr(v))
            elif pd.isna(v):
                row.append(None)
            elif hasattr(v, "isoformat"):
                row.append(v.isoformat())
            else:
                row.append(v)
        rows.append(tuple(row))
    return sorted(rows, key=repr)


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, duck, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    exp = duck.execute(ORACLES[name]).fetchdf()
    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: column mismatch {sorted(got.columns)} vs {sorted(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: row count {len(got)} vs {len(exp)}"
    g, e = _canon(got), _canon(exp)
    mism = [(a, b) for a, b in zip(g, e) if a != b][:5]
    assert g == e, f"{name}: value mismatch, first diffs: {mism}"


def test_all_queries_have_entries():
    # every query has an oracle (the exact set is pinned in
    # test_entry_and_extras.py::test_contract_shapes)
    assert QUERIES and set(ORACLES) == set(QUERIES)
