"""The driver-side key hash is bit-identical to Spark's for every key
type ``_driver_hashable`` accepts, alone and as composite keys with
NULL components: the bucket function ``_bucket_id`` against the write
path's ``pmod(xxhash64(key cols), n)`` for strings (UTF-8, on each side
of xxhash64's 32-byte stripe), byte/short/int (hashed as 4-byte ints)
and long -- the bucket layout of every existing table -- and both the
bucket function and the bloom index's two salted hashes for boolean,
date, timestamp_ntz, binary and decimal(p <= 18) keys."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pyspark.sql.types as T
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from yadamu___yet_another_data_migration_utility_spark.sources.lakebase import (
    _bloom_hash_exprs,
    _bloom_hashes,
    _bucket_id,
    _driver_hashable,
    _key_bytes,
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


#: the other hashed key types, with a string and a long to mix into
#: composites
COLS2 = {
    "s": T.StringType(),
    "l": T.LongType(),
    "o": T.BooleanType(),
    "d": T.DateType(),
    "t": T.TimestampNTZType(),
    "y": T.BinaryType(),
    "m": T.DecimalType(10, 2),
    "q": T.DecimalType(18, 0),
}
DDL2 = ("s string, l bigint, o boolean, d date, t timestamp_ntz, y binary, "
        "m decimal(10,2), q decimal(18,0)")
KEYS2 = [["o"], ["d"], ["t"], ["y"], ["m"], ["q"], ["s", "m", "d"],
         ["y", "t", "o", "q"], ["d", "s", "l"], ["m", "y"]]


def _dec(digits, scale):
    bound = 10 ** digits - 1
    return st.integers(-bound, bound).map(lambda n: Decimal(n).scaleb(-scale))


ROWS2 = st.lists(
    st.tuples(*[st.none() | g for g in (
        STRINGS, _int(64), st.booleans(), st.dates(), st.datetimes(),
        st.binary(max_size=70), _dec(10, 2), _dec(18, 0))]),
    min_size=1, max_size=25)

EDGE2 = [
    ("", 0, True, datetime.date(1, 1, 1), datetime.datetime(1, 1, 1), b"",
     Decimal("-99999999.99"), Decimal(-(10**18 - 1))),
    ("é", -1, False, datetime.date(9999, 12, 31),
     datetime.datetime(9999, 12, 31, 23, 59, 59, 999999), b"x" * 31,
     Decimal("99999999.99"), Decimal(10**18 - 1)),
    ("z" * 33, 2**63 - 1, None, datetime.date(1969, 12, 31),
     datetime.datetime(1969, 12, 31, 23, 59, 59, 1), b"\0" * 32,
     Decimal("0.00"), Decimal(0)),
    (None, None, True, datetime.date(1970, 1, 1), datetime.datetime(1970, 1, 1),
     b"\xff" * 33, Decimal("-0.01"), None),
    ("q", 7, False, None, None, bytes(range(256)), None, Decimal(-1)),
    (None, None, None, None, None, None, None, None),
]


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=ROWS2)
def test_other_key_types_hash_as_spark(spark, rows):
    """The bucket id and the two bloom hashes of every other hashed key
    type, alone and in composites with strings, longs and NULLs."""
    rows = rows + EDGE2
    df = spark.createDataFrame(rows, DDL2)
    names = ["_".join(ks) for ks in KEYS2]
    got = df.select(*[
        e.alias(f"{nm}#{i}") for ks, nm in zip(KEYS2, names)
        for i, e in enumerate([F.pmod(F.xxhash64(*ks), F.lit(7)),
                               *_bloom_hash_exprs(ks)])]).collect()
    pos = {c: i for i, c in enumerate(COLS2)}
    for row, spark_row in zip(rows, got):
        for ks, nm in zip(KEYS2, names):
            vals = [row[pos[c]] for c in ks]
            types = [COLS2[c] for c in ks]
            want = tuple(spark_row[f"{nm}#{i}"] for i in range(3))
            assert (_bucket_id(vals, types, 7), *_bloom_hashes(vals, types)) == want, (
                ks, vals)


def test_key_bytes_rejects_values_outside_the_key_type():
    """A probe of another Python type, or one its column cannot hold,
    has no key bytes -- as a bool on an integral key."""
    D = Decimal
    cases = [
        (True, T.LongType()),
        (1, T.BooleanType()),
        (datetime.datetime(2020, 1, 1), T.DateType()),
        (datetime.date(2020, 1, 1), T.TimestampNTZType()),
        (datetime.datetime(2020, 1, 1, tzinfo=datetime.timezone.utc),
         T.TimestampNTZType()),
        (bytearray(b"a"), T.BinaryType()),
        ("a", T.BinaryType()),
        (D("1.005"), T.DecimalType(10, 2)),  # more digits than the scale
        (D("100000000"), T.DecimalType(10, 2)),  # beyond the precision
        (D("1E+30"), T.DecimalType(18, 0)),
        (D("NaN"), T.DecimalType(10, 2)),
        (1.5, T.DecimalType(10, 2)),
        (1, T.DecimalType(10, 2)),
    ]
    for v, dt in cases:
        assert _key_bytes(v, dt) is None, (v, dt)
    # a value's scale does not matter, only its value
    dec = T.DecimalType(10, 2)
    assert _key_bytes(D("1.5"), dec) == _key_bytes(D("1.500"), dec) is not None
    assert _key_bytes(D("0E+5"), T.DecimalType(18, 0)) == bytes(8)


def test_driver_hashable_types():
    assert all(_driver_hashable(t) for t in COLS.values())
    assert all(_driver_hashable(t) for t in COLS2.values())
    assert not _driver_hashable(T.StringType("UTF8_LCASE"))
    for t in (T.FloatType(), T.DoubleType(), T.DecimalType(30, 4),
              T.DecimalType(19, 0), T.TimestampType(),
              T.ArrayType(T.LongType()),
              T.StructType([T.StructField("a", T.LongType())]),
              T.MapType(T.StringType(), T.LongType())):
        assert not _driver_hashable(t), t
