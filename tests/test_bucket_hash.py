"""The driver-side bucket function ``_bucket_id`` is bit-identical to
the write path's ``pmod(xxhash64(key cols), n)`` for every key type it
accepts: strings (UTF-8, on each side of xxhash64's 32-byte stripe),
byte/short/int (hashed as 4-byte ints) and long, alone and as
composite keys with NULL components."""

from __future__ import annotations

import pyspark.sql.types as T
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from yadamu___yet_another_data_migration_utility_spark.sources.lakebase import (
    _bucket_id,
    _driver_hashable,
)

COLS = {
    "s": T.StringType(),
    "b": T.ByteType(),
    "h": T.ShortType(),
    "i": T.IntegerType(),
    "l": T.LongType(),
}
DDL = "s string, b tinyint, h smallint, i int, l bigint"
KEYS = [["s"], ["b"], ["h"], ["i"], ["l"], ["s", "i"], ["l", "s", "h"],
        ["i", "b", "l", "s"]]
NS = (1, 7, 16)


def _int(bits):
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    return st.one_of(st.sampled_from([lo, hi, -1, 0, 1]),
                     st.integers(min_value=lo, max_value=hi))


STRINGS = st.one_of(
    st.text(max_size=40),
    st.text(alphabet="éß中🙂a", max_size=20),
    st.integers(min_value=0, max_value=70).map(lambda n: "x" * n),
    st.sampled_from(["", "a" * 31, "a" * 32, "a" * 33, "é" * 16, "ü" * 17]),
)
ROWS = st.lists(
    st.tuples(*[st.none() | g for g in
                (STRINGS, _int(8), _int(16), _int(32), _int(64))]),
    min_size=1, max_size=25)

EDGE = [
    ("", -128, -32768, -(2**31), -(2**63)),
    ("é中文🙂", 127, 32767, 2**31 - 1, 2**63 - 1),
    ("z" * 31, -1, -1, -1, -1),
    ("z" * 32, 0, 0, 0, 0),
    ("z" * 33, 1, 1, 1, 1),
    ("q" * 200, None, 5, None, -7),
    (None, None, None, None, None),
]


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=ROWS)
def test_bucket_id_matches_spark_xxhash64(spark, rows):
    rows = rows + EDGE
    df = spark.createDataFrame(rows, DDL)
    got = df.select(*[
        F.pmod(F.xxhash64(*ks), F.lit(n)).alias(f"{'_'.join(ks)}@{n}")
        for ks in KEYS for n in NS]).collect()
    pos = {c: i for i, c in enumerate(COLS)}
    for row, spark_row in zip(rows, got):
        for ks in KEYS:
            vals = [row[pos[c]] for c in ks]
            types = [COLS[c] for c in ks]
            for n in NS:
                assert _bucket_id(vals, types, n) == spark_row[f"{'_'.join(ks)}@{n}"], (
                    ks, vals, n)


def test_bucket_id_rejects_values_outside_the_key_type():
    with pytest.raises(TypeError):
        _bucket_id(["1"], [T.IntegerType()], 4)
    with pytest.raises(TypeError):
        _bucket_id([2**31], [T.IntegerType()], 4)
    with pytest.raises(TypeError):
        _bucket_id([True], [T.LongType()], 4)
    with pytest.raises(TypeError):
        _bucket_id([7], [T.StringType()], 4)


def test_driver_hashable_types():
    assert all(_driver_hashable(t) for t in COLS.values())
    assert not _driver_hashable(T.StringType("UTF8_LCASE"))
    for t in (T.DoubleType(), T.TimestampType(), T.DateType(),
              T.DecimalType(10, 2), T.BooleanType(), T.BinaryType()):
        assert not _driver_hashable(t)
