"""Property-based MERGE semantics: for ANY event sequence (ops, keys,
batch boundaries, duplicate re-deliveries), replaying through LakeTable
in either merge mode must equal the last-writer-wins oracle computed
independently in plain Python. Hypothesis shrinks failures to minimal
sequences -- the deterministic tests pin known cases, this pins the
space between them."""

from __future__ import annotations

import os

import pyspark.sql.types as T
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from yadamu___yet_another_data_migration_utility_spark.operators.apply import (
    last_lsn_dedup,
)
from yadamu___yet_another_data_migration_utility_spark.sources.laketable import LakeTable

SCHEMA = T.StructType(
    [T.StructField("url", T.StringType()), T.StructField("val", T.StringType())]
)

#: (key_idx 0-4, op) sequences; lsn = position + 1 (strictly increasing,
#: like a WAL); every 3rd event is re-delivered verbatim (at-least-once)
EVENTS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=4), st.sampled_from("IUD")),
    min_size=1,
    max_size=24,
)
CUTS = st.lists(st.integers(min_value=1, max_value=23), max_size=2, unique=True)
MODE = st.sampled_from(["mor", "cow"])


def _python_oracle(events):
    """Independent last-writer-wins state: dict key -> (val, lsn)."""
    state = {}
    for lsn, (k, op) in enumerate(events, start=1):
        key = f"k{k}"
        prev = state.get(key)
        if prev is not None and prev[1] >= lsn:
            continue  # stale (never happens with increasing lsn; kept for clarity)
        if op == "D":
            state[key] = (None, lsn, True)
        else:
            state[key] = (f"v{lsn}", lsn, False)
    return {
        (key, v[0], v[1]) for key, v in state.items() if not v[2]
    }


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=EVENTS, cuts=CUTS, mode=MODE)
def test_merge_equals_lww_oracle(spark, tmp_path_factory, events, cuts, mode):
    rows = [
        (f"k{k}", None if op == "D" else f"v{lsn}", op, lsn)
        for lsn, (k, op) in enumerate(events, start=1)
    ]
    # at-least-once: re-deliver every 3rd event inside its own batch
    root = str(tmp_path_factory.mktemp("prop") / "t")
    t = LakeTable.create(root, SCHEMA, key="url", bucket_count=4, merge_mode=mode)
    bounds = sorted({c for c in cuts if c < len(rows)}) + [len(rows)]
    start = 0
    for bid, end in enumerate(bounds):
        chunk = rows[start:end]
        if not chunk:
            continue
        # at-least-once delivery: every 3rd event arrives twice
        dup = [r for i, r in enumerate(chunk) if i % 3 == 0]
        df = spark.createDataFrame(chunk + dup, "url string, val string, op string, lsn long")
        if mode == "cow":
            # merge()'s contract: cow batches arrive pre-reduced to one
            # winning lsn per key -- apply it with the ENGINE's own
            # reduction (the same operator apply_batch routes through),
            # so the property fuzzes the real pre-reduction + merge
            # pipeline, duplicates included, not a test-local re-oracle
            df = last_lsn_dedup(df, key="url", lsn_col="lsn", salt_buckets=4)
        t.merge(spark, df, batch_id=bid)
        start = end
    # replay the first batch verbatim: must fence as a no-op
    first = rows[: bounds[0]]
    if first:
        r = t.merge(
            spark,
            spark.createDataFrame(first, "url string, val string, op string, lsn long"),
            batch_id=0,
        )
        assert r.fenced
    got = {
        (r["url"], r["val"], r["_lsn"])
        for r in t.read(spark).select("url", "val", "_lsn").collect()
    }
    assert got == _python_oracle(events)


# ---------------------------------------------------------------------
# same property over a COMPOSITE key: the tuple (site, page) is 1:1
# with the single key above (site = k % 2, page = k), so the oracle is
# the same LWW state re-keyed -- fuzzing arity proves the tuple paths
# (bucket hash, dedup, resolve, fence) share the single-key semantics
# ---------------------------------------------------------------------

SCHEMA2 = T.StructType(
    [T.StructField("site", T.StringType()),
     T.StructField("page", T.StringType()),
     T.StructField("val", T.StringType())]
)


def _python_oracle2(events):
    state = {}
    for lsn, (k, op) in enumerate(events, start=1):
        key = (f"s{k % 2}", f"p{k}")
        if op == "D":
            state[key] = (None, lsn, True)
        else:
            state[key] = (f"v{lsn}", lsn, False)
    return {
        (key[0], key[1], v[0], v[1])
        for key, v in state.items() if not v[2]
    }


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=EVENTS, cuts=CUTS, mode=MODE)
def test_merge_equals_lww_oracle_composite_key(
        spark, tmp_path_factory, events, cuts, mode):
    rows = [
        (f"s{k % 2}", f"p{k}", None if op == "D" else f"v{lsn}", op, lsn)
        for lsn, (k, op) in enumerate(events, start=1)
    ]
    root = str(tmp_path_factory.mktemp("prop2") / "t")
    t = LakeTable.create(root, SCHEMA2, key=["site", "page"],
                         bucket_count=4, merge_mode=mode)
    bounds = sorted({c for c in cuts if c < len(rows)}) + [len(rows)]
    start = 0
    ddl = "site string, page string, val string, op string, lsn long"
    for bid, end in enumerate(bounds):
        chunk = rows[start:end]
        if not chunk:
            continue
        dup = [r for i, r in enumerate(chunk) if i % 3 == 0]
        df = spark.createDataFrame(chunk + dup, ddl)
        if mode == "cow":
            df = last_lsn_dedup(df, key=["site", "page"], lsn_col="lsn",
                                salt_buckets=4)
        t.merge(spark, df, batch_id=bid)
        start = end
    first = rows[: bounds[0]]
    if first:
        r = t.merge(spark, spark.createDataFrame(first, ddl), batch_id=0)
        assert r.fenced
    got = {
        (r["site"], r["page"], r["val"], r["_lsn"])
        for r in t.read(spark).collect()
    }
    assert got == _python_oracle2(events)


# ---------------------------------------------------------------------
# point lookups: the in-process path (driver-side bucket hash, pyarrow
# read of the planned files, LWW resolution in Python) against the
# Spark answer read(keys=K) and the same LWW oracle
# ---------------------------------------------------------------------

KTYPES = st.sampled_from(["string", "long"])


def _key(k, ktype):
    return f"k{k}" if ktype == "string" else k * 1_000_003 - 2


def _oracle_at(events, ktype):
    """LWW state after ``events``: key -> (val, lsn) of live keys."""
    state = {}
    for lsn, (k, op) in enumerate(events, start=1):
        state[_key(k, ktype)] = None if op == "D" else (f"v{lsn}", lsn)
    return {k: v for k, v in state.items() if v is not None}


def _rows(df):
    return {(r["url"], r["val"], r["_lsn"]) for r in df.collect()}


def _expect(state, probes):
    return {(k, *state[k]) for k in probes if k in state}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=EVENTS, more=EVENTS, cuts=CUTS, mode=MODE, ktype=KTYPES)
def test_lookup_equals_read_and_oracle(spark, tmp_path_factory, events, more,
                                       cuts, mode, ktype):
    """Replay random I/U/D events (redeliveries included), compact
    partway, merge more: at every step ``lookup(K)`` equals
    ``read(keys=K)`` and the LWW oracle -- hits, misses and a None
    probe, ``public=True``, and a lookup pinned to an older version."""
    schema = T.StructType([T.StructField("url", T.StringType() if ktype == "string"
                                         else T.LongType()),
                           T.StructField("val", T.StringType())])
    ddl = f"url {ktype}, val string, op string, lsn long"
    root = str(tmp_path_factory.mktemp("lk") / "t")
    t = LakeTable.create(root, schema, key="url", bucket_count=4, merge_mode=mode)
    allev = events + more
    rows = [(_key(k, ktype), None if op == "D" else f"v{lsn}", op, lsn)
            for lsn, (k, op) in enumerate(allev, start=1)]
    bounds = sorted({c for c in cuts if c < len(events)}) + [len(events), len(allev)]
    probes = [_key(k, ktype) for k in range(6)] + [None]  # k5: never written
    history = []  # (version, events applied)
    start = 0
    for bid, end in enumerate(bounds):
        chunk = rows[start:end]
        if chunk:
            df = spark.createDataFrame(chunk + chunk[::3], ddl)
            if mode == "cow":
                df = last_lsn_dedup(df, key="url", lsn_col="lsn", salt_buckets=4)
            t.merge(spark, df, batch_id=bid)
        if end == len(events):
            t.compact(spark, all_deltas=True)
        history.append((t.current_version(), end))
        state = _oracle_at(allev[:end], ktype)
        got = _rows(t.lookup(spark, probes))
        assert got == _rows(t.read(spark, keys=probes)) == _expect(state, probes)
        for k in probes:  # one key alone: its winner may be a tombstone
            assert _rows(t.lookup(spark, [k])) == _expect(state, [k])
        start = end
    pub = t.lookup(spark, probes[:3], public=True)
    assert pub.columns == ["url", "val"]
    assert ({tuple(r) for r in pub.collect()}
            == {tuple(r) for r in t.read(spark, keys=probes[:3], public=True).collect()})
    v, n = history[0]
    old = t.lookup(spark, probes, version=v)
    assert _rows(old) == _expect(_oracle_at(allev[:n], ktype), probes)


def _lookup_trace(tmp_path, fn):
    """Run ``fn`` with the operation trace on; its lookup records."""
    import json
    import uuid

    from yadamu___yet_another_data_migration_utility_spark.operators import trace

    path = str(tmp_path / f"trace-{uuid.uuid4().hex}.jsonl")
    trace.enable(path)
    try:
        out = fn()
    finally:
        trace.disable()
    with open(path) as f:
        recs = [json.loads(line) for line in f]
    return out, [r["detail"] for r in recs if r["op"] == "lookup"]


CHG = "url string, val string, op string, lsn long"


def test_lookup_lsn_tie_with_differing_content_answers_through_spark(spark, tmp_path):
    """Two live rows of one key with the SAME _lsn and different
    content in a delta bucket: only the content-hash tie-break of
    _lsn_rank orders them, so the lookup answers through read() and
    the trace names the Spark path and the reason."""
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, key="url",
                         bucket_count=4, merge_mode="mor")
    t.merge(spark, spark.createDataFrame(
        [("a", "x", "I", 5), ("b", "p", "I", 6), ("b", "p", "I", 6)], CHG), 0)
    t.merge(spark, spark.createDataFrame([("a", "y", "U", 5)], CHG), 1)
    rows, recs = _lookup_trace(tmp_path, lambda: t.lookup(spark, ["a", "b"]).collect())
    assert {tuple(r) for r in rows} == {tuple(r) for r in t.read(spark, keys=["a", "b"]).collect()}
    assert len(rows) == 2
    assert [(r["path"], r["reason"]) for r in recs] == [("spark", "lsn_tie")]
    # identical redeliveries tie benignly and stay in-process
    _, recs = _lookup_trace(tmp_path, lambda: t.lookup(spark, ["b"]).collect())
    assert [(r["path"], r.get("reason")) for r in recs] == [("arrow", None)]


def test_lookup_other_key_types_keep_the_spark_path(spark, tmp_path):
    sch = T.StructType([T.StructField("k", T.DoubleType()),
                        T.StructField("v", T.StringType())])
    t = LakeTable.create(str(tmp_path / "t"), sch, key="k", bucket_count=2)
    t.append(spark, spark.createDataFrame([(1.5, "a"), (2.5, "b")], "k double, v string"))
    rows, recs = _lookup_trace(tmp_path, lambda: t.lookup(spark, [1.5, 9.0]).collect())
    assert [r["v"] for r in rows] == ["a"]
    assert [(r["path"], r["reason"]) for r in recs] == [("spark", "key_type")]


def test_lookup_after_column_added_and_type_widened(spark, tmp_path):
    """Files written before a payload column existed read it as NULL,
    and an int column widened to long is cast up -- in both the plain
    and the delta-resolved part of the lookup."""
    sch = T.StructType([T.StructField("url", T.StringType()),
                        T.StructField("n", T.IntegerType())])
    t = LakeTable.create(str(tmp_path / "t"), sch, key="url",
                         bucket_count=2, merge_mode="mor")
    t.merge(spark, spark.createDataFrame(
        [(f"u{i}", i, "I", i + 1) for i in range(6)], "url string, n int, op string, lsn long"), 0)
    t.compact(spark, all_deltas=True)  # narrow base files
    t.merge(spark, spark.createDataFrame(
        [("u1", 2**40, "new", "U", 10)],
        "url string, n long, tag string, op string, lsn long"), 1)
    assert t.schema()["n"].dataType == T.LongType()
    assert [f.name for f in t.schema().fields] == ["url", "n", "_lsn", "tag"]
    probes = [f"u{i}" for i in range(6)]
    got = {tuple(r) for r in t.lookup(spark, probes).collect()}
    assert got == {tuple(r) for r in t.read(spark, keys=probes).collect()}
    assert ("u1", 2**40, 10, "new") in got and ("u2", 2, 3, None) in got
    assert len(got) == 6


def test_lookup_on_objectfs(spark, tmp_path):
    from yadamu___yet_another_data_migration_utility_spark.sources.fsio import ObjectFS

    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, key="url", bucket_count=4,
                         merge_mode="mor", fs=ObjectFS())
    t.merge(spark, spark.createDataFrame(
        [(f"u{i}", f"v{i}", "I", i + 1) for i in range(12)], CHG), 0)
    t.compact(spark, all_deltas=True)
    t.merge(spark, spark.createDataFrame([("u3", None, "D", 50), ("u4", "w", "U", 51)], CHG), 1)
    probes = ["u3", "u4", "u5", "zz"]
    got = {tuple(r) for r in t.lookup(spark, probes).collect()}
    assert got == {("u4", "w", 51), ("u5", "v5", 6)}
    assert got == {tuple(r) for r in t.read(spark, keys=probes).collect()}


def test_fast_lookup_runs_no_spark_job_and_opens_the_planned_files(spark, tmp_path):
    """String and integral keys: no Spark job from the call through
    collect(), and the files opened are exactly plan_files(keys=K)."""
    for ktype, keys in (("string", ["u1", "u7", "nope"]), ("int", [1, 7, 99])):
        sch = T.StructType([T.StructField("url", T.StringType() if ktype == "string"
                                          else T.IntegerType()),
                            T.StructField("val", T.StringType())])
        t = LakeTable.create(str(tmp_path / ktype), sch, key="url",
                             bucket_count=8, merge_mode="mor")
        mk = (lambda i: f"u{i}") if ktype == "string" else (lambda i: i)
        ddl = f"url {ktype}, val string, op string, lsn long"
        t.merge(spark, spark.createDataFrame(
            [(mk(i), f"v{i}", "I", i + 1) for i in range(40)], ddl), 0)
        t.compact(spark, all_deltas=True)
        t.merge(spark, spark.createDataFrame([(mk(7), "w", "U", 100)], ddl), 1)
        plan = t.plan_files(keys=keys)
        assert plan["delta_resolved"] and plan["plain"]
        assert len(plan["plain"]) + len(plan["delta_resolved"]) < len(
            t.plan_files()["plain"]) + len(t.plan_files()["delta_resolved"])
        opened = []
        real_open = t.fs.open_read

        def spy(path):
            opened.append(path)
            return real_open(path)

        t.fs.open_read = spy
        sc = spark.sparkContext
        group = f"lookup-{ktype}"
        sc.setJobGroup(group, group)
        try:
            rows = t.lookup(spark, keys).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            del t.fs.open_read
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert {(r["url"], r["val"]) for r in rows} == {(mk(1), "v1"), (mk(7), "w")}
        planned = plan["plain"] + plan["delta_resolved"]
        assert sorted(opened) == sorted(os.path.join(t.root, f) for f in planned)
