"""Merge keys of every type the driver hashes beyond strings and
integers -- boolean, date, timestamp_ntz, binary and decimal(p <= 18),
each alone, and all of them composite with a string -- on a
merge-on-read table holding base files, deltas and tombstones:

- ``apply_batch`` commits deltas and tombstones in-process and leaves
  the same table, bucket by bucket, as its Spark path;
- ``lookup`` runs on the Arrow path and equals ``read(keys=)`` and the
  filtered snapshot read;
- ``plan_files(keys=)`` keeps only the probes' buckets, and after
  ``harvest_blooms`` never drops a file that holds a probe while it
  skips the files of absent keys."""

from __future__ import annotations

import datetime
import os
import shutil
from decimal import Decimal

import pyarrow.parquet as pq
import pyspark.sql.types as T
import pytest

from yadamu___yet_another_data_migration_utility_spark.operators import apply as apply_mod
from yadamu___yet_another_data_migration_utility_spark.sources.lakebase import _bucket_id
from yadamu___yet_another_data_migration_utility_spark.sources.laketable import LakeTable
from tests.test_merge_property import _by_bucket, _trace_records

_DAY0 = datetime.date(1969, 12, 20)
_TS0 = datetime.datetime(1969, 12, 31, 23, 0)

#: type -> the i-th key value; even i are written, odd i stay absent,
#: so absent keys sort inside the written range (zone maps cannot
#: skip them) -- except for boolean alone, whose two values are written.
#: Insertion order is the composite key's column order
TYPES = {
    "boolean": (T.BooleanType(), lambda i: i % 4 == 0),
    "date": (T.DateType(), lambda i: _DAY0 + datetime.timedelta(days=3 * i)),
    "timestamp_ntz": (T.TimestampNTZType(), lambda i: _TS0 + datetime.timedelta(
        seconds=977 * i, microseconds=i)),
    "binary": (T.BinaryType(), lambda i: bytes([i]) * (1 + i % 35)),
    "decimal(10,2)": (T.DecimalType(10, 2),
                      lambda i: Decimal(137 * i - 1500).scaleb(-2)),
    "decimal(18,0)": (T.DecimalType(18, 0),
                      lambda i: Decimal(10**17 + 7919 * i)),
}
N = 12


def _norm(v):
    return bytes(v) if isinstance(v, bytearray) else v


def _rows(rows):
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


@pytest.mark.parametrize("name", [*TYPES, "all_with_a_string"])
def test_hashed_key_type_is_served_in_process(spark, tmp_path, monkeypatch, name):
    composite = name not in TYPES
    names = list(TYPES) if composite else [name]
    key = ([("s", T.StringType())] if composite else []) + [
        (f"k{j}", TYPES[n][0]) for j, n in enumerate(names)]
    ks = [k for k, _ in key]

    def kv(i):
        return ((f"s{i}",) if composite else ()) + tuple(
            TYPES[n][1](i) for n in names)

    def probe(i):
        return kv(i) if composite else kv(i)[0]

    schema = T.StructType([T.StructField(k, t) for k, t in key]
                          + [T.StructField("val", T.StringType())])
    batch_schema = T.StructType(
        list(schema.fields) + [T.StructField("op", T.StringType()),
                               T.StructField("lsn", T.LongType())])
    written = range(0, 2 * N, 2)
    batches = [
        [kv(i) + (f"v{i}", "I", i + 1) for i in written[:-2]],
        [kv(i) + (None, "D", 100 + i) for i in written[::3]]
        + [kv(i) + (f"w{i}", "U", 200 + i) for i in written[1::3]]
        + [kv(i) + (f"n{i}", "I", 300 + i) for i in written[-2:]],
    ]

    def apply(t, bid, spark_path=False):
        # a local relation, whose size the optimizer knows
        df = spark.createDataFrame(spark.createDataFrame(
            batches[bid], batch_schema).toArrow(), batch_schema)
        with monkeypatch.context() as mp:
            if spark_path:
                mp.setattr(apply_mod, "ARROW_MAX_BYTES", -1)
            apply_mod.apply_batch(t, df, bid, run_extract=False)

    t = LakeTable.create(str(tmp_path / "arrow"), schema, key=ks,
                         bucket_count=4, merge_mode="mor")
    apply(t, 0)
    t.compact(spark, all_deltas=True)  # base files
    shutil.copytree(t.root, tmp_path / "spark")
    other = LakeTable.load(str(tmp_path / "spark"))
    _, recs = _trace_records(tmp_path, lambda: (apply(t, 1), apply(other, 1, True)),
                             op="apply")
    assert [(r["path"], r.get("reason")) for r in recs] == [
        ("arrow", None), ("spark", "size")]
    assert t.manifest()["deltas"]
    assert _by_bucket(t) == _by_bucket(other)
    snapshot = t.read(spark).collect()
    assert _rows(snapshot) == _rows(other.read(spark).collect())

    probes = [probe(i) for i in range(2 * N)] + [None]
    want_keys = {kv(i) for i in range(2 * N)}
    filtered = [r for r in snapshot if tuple(_norm(r[k]) for k in ks) in want_keys]
    assert filtered  # deletes left live keys behind
    got, recs = _trace_records(tmp_path, lambda: t.lookup(spark, probes).collect())
    assert [r["path"] for r in recs] == ["arrow"]
    assert _rows(got) == _rows(t.read(spark, keys=probes).collect()) == _rows(filtered)

    # bucket pruning: one probe plans only its own bucket's files
    b = _bucket_id(kv(0), [dt for _, dt in key], 4)
    one = t.plan_files(keys=[probe(0)])
    assert one["plain"] + one["delta_resolved"]
    assert all(f"/_b={b}/" in f for f in one["plain"] + one["delta_resolved"])

    absent = [probe(i) for i in range(1, 2 * N, 2)
              if kv(i) not in {kv(j) for j in written}]
    before = t.plan_files(keys=absent)
    t.harvest_blooms(spark)
    plan = t.plan_files(keys=probes)
    planned = set(plan["plain"] + plan["delta_resolved"])
    full = t.plan_files()
    for rel in full["plain"] + full["delta_resolved"]:
        tbl = pq.read_table(os.path.join(t.root, rel), columns=ks)
        if want_keys & set(zip(*[tbl.column(k).to_pylist() for k in ks])):
            assert rel in planned, rel
    if absent:  # boolean alone writes both its values
        assert before["plain"] + before["delta_resolved"]
        assert t.plan_files(keys=absent) == {"plain": [], "delta_resolved": []}
    got, recs = _trace_records(tmp_path, lambda: t.lookup(spark, probes).collect())
    assert [r["path"] for r in recs] == ["arrow"]
    assert _rows(got) == _rows(filtered)
