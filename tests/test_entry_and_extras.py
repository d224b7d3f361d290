"""Driver contract: ``entry(spark)`` replays the events-derived
changelog through the engine, and its final state equals a DuckDB
last-state query over the same parquet file (row count, column names
and exact values, in any order)."""

from __future__ import annotations

import math

import duckdb
import pandas as pd

import __spark_entry__ as entrymod

# the changelog entry() derives, and its last-writer-wins final state:
# the latest lsn per url, unless that change is a delete
ORACLE_SQL = f"""
    WITH chg AS (
      SELECT event_id AS lsn,
             CASE WHEN event_type = 'error' THEN 'D'
                  WHEN event_type = 'signup' THEN 'I'
                  ELSE 'U' END AS op,
             concat('https://site', CAST(user_id % 10 AS VARCHAR),
                    '.example.com/u/', CAST(user_id AS VARCHAR)) AS url,
             ts, value, event_type
      FROM read_parquet('{entrymod.SF_DIR}/events.parquet')
    ),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn FROM chg
    )
    SELECT url, lsn AS last_lsn, event_type, value, ts
    FROM last WHERE rn = 1 AND op <> 'D'
"""


def _canon(df: pd.DataFrame) -> list[tuple]:
    """The rows with columns in name order and values made comparable
    across engines (NaN, NULL and timestamps), sorted."""
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


def test_entry_returns_rows(spark):
    got = entrymod.entry(spark).toPandas()
    exp = duckdb.connect().execute(ORACLE_SQL).fetchdf()
    assert list(got.columns) == ["url", "last_lsn", "event_type", "value", "ts"]
    assert sorted(got.columns) == sorted(exp.columns)
    assert len(got) == len(exp) > 0
    g, e = _canon(got), _canon(exp)
    assert g == e, [(a, b) for a, b in zip(g, e) if a != b][:5]
