"""Property-based MERGE semantics: for ANY event sequence (ops, keys,
batch boundaries, duplicate re-deliveries), replaying through LakeTable
in either merge mode must equal the last-writer-wins oracle computed
independently in plain Python. Hypothesis shrinks failures to minimal
sequences -- the deterministic tests pin known cases, this pins the
space between them."""

from __future__ import annotations

import math
import os

import pyarrow as pa
import pyspark.sql.types as T
from hypothesis import HealthCheck, example, given, settings
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
            df = last_lsn_dedup(df, key="url", lsn_col="lsn")
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
            df = last_lsn_dedup(df, key=["site", "page"], lsn_col="lsn")
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
                df = last_lsn_dedup(df, key="url", lsn_col="lsn")
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


def _trace_records(tmp_path, fn, op="lookup"):
    """Run ``fn`` with the operation trace on; its ``op`` records."""
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
    return out, [r["detail"] for r in recs if r["op"] == op]


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
    rows, recs = _trace_records(tmp_path, lambda: t.lookup(spark, ["a", "b"]).collect())
    assert {tuple(r) for r in rows} == {tuple(r) for r in t.read(spark, keys=["a", "b"]).collect()}
    assert len(rows) == 2
    assert [(r["path"], r["reason"]) for r in recs] == [("spark", "lsn_tie")]
    # identical redeliveries tie benignly and stay in-process
    _, recs = _trace_records(tmp_path, lambda: t.lookup(spark, ["b"]).collect())
    assert [(r["path"], r.get("reason")) for r in recs] == [("arrow", None)]


#: (site, page, f, s, _lsn, _deleted) rows over a small domain, so keys
#: collide and top-rank ties are common: NULL _lsn, a live row and a
#: tombstone at one _lsn, and a float content column holding NaN
LWW_ROWS = st.lists(st.tuples(
    st.sampled_from(["s0", "s1", "s2"]), st.integers(0, 1),
    st.sampled_from([None, 0.5, 1.5, math.nan]), st.sampled_from(["a", "b"]),
    st.sampled_from([None, 1, 2, 2, 3]), st.sampled_from([None, False, True])),
    max_size=16)
LWW_SCHEMA = pa.schema([("site", pa.string()), ("page", pa.int64()),
                        ("f", pa.float64()), ("s", pa.string()),
                        ("_lsn", pa.int64()), ("_deleted", pa.bool_())])
NAN_TIE = [("s0", 0, math.nan, "a", 4, False), ("s0", 0, math.nan, "a", 4, False)]
LIVE_OVER_TOMBSTONE = [("s0", 0, 1.5, "a", 4, True), ("s0", 0, 0.5, "b", 4, False),
                       ("s1", 1, None, "a", None, None), ("s1", 1, None, "b", None, True)]


def _nan_free(row):
    return tuple("NaN" if isinstance(v, float) and math.isnan(v) else v
                 for v in row)


def _top_tie_differs(rows, nk):
    """True iff some key's top ``(coalesce(_lsn, -1), live)`` rank is
    held by live rows whose content differs (NaN differs from itself)."""
    top = {}
    for r in rows:
        rank = (-1 if r[4] is None else r[4], not r[5])
        best = top.get(r[:nk])
        if best is None or rank > best[0]:
            top[r[:nk]] = (rank, [r[nk:4]])
        elif rank == best[0]:
            best[1].append(r[nk:4])
    return any(rank[1] and any(a != b for c in cs[1:] for a, b in zip(cs[0], c))
               for rank, cs in top.values())


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=LWW_ROWS, composite=st.booleans())
@example(rows=NAN_TIE, composite=False)
@example(rows=LIVE_OVER_TOMBSTONE, composite=True)
def test_lookup_winners_equal_spark_resolve(spark, rows, composite):
    """lookup's Arrow LWW pass against Spark's ``_resolve`` on the same
    (base ∪ delta) rows: the same winners, or None exactly where a
    top-rank live tie differs in content (only Spark orders those)."""
    from yadamu___yet_another_data_migration_utility_spark.sources.lakebase import (
        _resolve,
    )
    from yadamu___yet_another_data_migration_utility_spark.sources.lakescan import (
        _lookup_winners,
    )

    ks = ["site", "page"] if composite else ["site"]
    tbl = pa.Table.from_pylist([dict(zip(LWW_SCHEMA.names, r)) for r in rows],
                               schema=LWW_SCHEMA)
    got = _lookup_winners(tbl, ks)
    assert (got is None) == _top_tie_differs(rows, len(ks))
    if got is not None:
        df = spark.createDataFrame(tbl)
        want = _resolve(df, ks, T.StructType(df.schema.fields[:-1])).collect()
        assert (sorted(_nan_free(r.values()) for r in got.to_pylist())
                == sorted(_nan_free(r) for r in want))


def test_lookup_other_key_types_keep_the_spark_path(spark, tmp_path):
    """A double key is not hashed driver-side (pyarrow's is_in(0.0)
    skips a -0.0 row that Spark's isin(0.0) matches): the lookup is
    ``read(keys=)``, traced with reason ``key_type``, and it equals the
    filtered read for 0.0, -0.0 and NaN probes."""
    from pyspark.sql import functions as F

    sch = T.StructType([T.StructField("k", T.DoubleType()),
                        T.StructField("v", T.StringType())])
    t = LakeTable.create(str(tmp_path / "t"), sch, key="k", bucket_count=2,
                         merge_mode="mor")
    t.append(spark, spark.createDataFrame(
        [(-0.0, "neg"), (math.nan, "nan"), (1.5, "a")], "k double, v string"))
    t.merge(spark, spark.createDataFrame(
        [(1.5, "b", "U", 10), (2.5, "c", "I", 11)], "k double, v string, op string, lsn long"), 0)
    probes = [0.0, -0.0, math.nan, 9.0]
    rows, recs = _trace_records(tmp_path, lambda: t.lookup(spark, probes).collect())
    want = t.read(spark).filter(F.col("k").isin(probes)).collect()
    assert sorted(r["v"] for r in rows) == sorted(r["v"] for r in want) == ["nan", "neg"]
    assert sorted(r["v"] for r in t.read(spark, keys=probes).collect()) == ["nan", "neg"]
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


# ---------------------------------------------------------------------
# the two merge-on-read writers of apply_batch: the same batches through
# the in-process path (Arrow dedup, driver-side extract, pyarrow delta
# write) and the Spark path must leave the same table, file by bucket
# ---------------------------------------------------------------------

KEYS = st.sampled_from(["string", "long", "composite"])
#: (key 0-5, op -- X is a bad op, n -- negative violates the CHECK,
#: poison: none, a NULL key component or a NULL html)
APPLY_EVENTS = st.lists(
    st.tuples(st.integers(0, 5), st.sampled_from("IUDIUX"),
              st.integers(-1, 3), st.sampled_from([None, None, None, "key", "html"])),
    min_size=1, max_size=20)
STEPS = st.lists(st.sampled_from(["commit", "commit", "compact", "delete", "replay"]),
                 min_size=2, max_size=6)


def _apply_table(root, kind):
    key = {"string": [("url", T.StringType())], "long": [("url", T.LongType())],
           "composite": [("site", T.StringType()), ("page", T.LongType())]}[kind]
    schema = T.StructType([T.StructField(k, t) for k, t in key]
                          + [T.StructField("n", T.IntegerType()),
                             T.StructField("html", T.BinaryType()),
                             T.StructField("text", T.StringType())])
    return LakeTable.create(root, schema, key=[k for k, _ in key], bucket_count=4,
                            merge_mode="mor")


def _apply_rows(kind, events, first_lsn, evolved):
    """Change rows for ``events``; ``evolved`` batches carry ``n`` as a
    long (the table widens it) and a new ``tag`` column. Every third
    event is re-delivered verbatim."""
    rows = []
    for lsn, (k, op, n, poison) in enumerate(events, start=first_lsn):
        key = {"string": (f"k{k}",), "long": (k * 1_000_003 - 2,),
               "composite": (f"s{k % 2}", k)}[kind]
        if poison == "key":
            key = (None,) + key[1:]
        html = None if op == "D" or poison == "html" else (
            f"<p>k{k} &amp; <b>{lsn}</b></p><script>x</script>".encode())
        rows.append(key + (n, html) + ((f"t{lsn}",) if evolved else ()) + (op, lsn))
    return rows + rows[::3]


def _apply_ddl(kind, evolved):
    key = {"string": "url string", "long": "url long",
           "composite": "site string, page long"}[kind]
    return (f"{key}, n {'long' if evolved else 'int'}, html binary"
            + (", tag string" if evolved else "") + ", op string, lsn long")


def _by_bucket(t):
    """Per bucket of base files and of deltas: row count and the zone
    map over its files (a column's zone only if every file has one), so
    one file and several files of the same rows compare equal."""
    m = t.manifest()
    out = {}
    for which in ("buckets", "deltas"):
        for b, files in m.get(which, {}).items():
            if not files:
                continue
            zones = [m.get("stats", {}).get(f, {}) for f in files]
            cols = set().union(*zones)
            out[which, b] = (
                sum(m["file_rows"][f] for f in files),
                {c: (min(z[c][0] for z in zones), max(z[c][1] for z in zones))
                 if all(c in z for z in zones) else None for c in cols})
    return out


def _table_state(spark, t):
    import pyarrow.parquet as pq

    from yadamu___yet_another_data_migration_utility_spark.operators.apply import (
        QUARANTINE_DIR,
        pending_quarantine_ids,
    )

    # quarantine per batch directory: batches of a widened column hold
    # differently typed files, which one Spark read cannot merge
    quarantine = {
        b: sorted(map(repr, pq.read_table(os.path.join(
            t.root, QUARANTINE_DIR, f"batch_id={b}")).to_pylist()))
        for b in pending_quarantine_ids(t)}
    return (
        sorted(map(repr, t.read(spark).collect())),
        _by_bucket(t),
        t.audit_entries(),
        sorted(map(repr, t.lineage_entries())),
        t.schema().jsonValue(),
        quarantine,
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=APPLY_EVENTS, cuts=CUTS, steps=STEPS, kind=KEYS)
# k0's max-lsn event is payload-poisoned: k0 contributes nothing
@example(events=[(0, "I", 1, None), (0, "U", 2, "html"), (1, "I", 1, None)],
         cuts=[], steps=["commit", "commit"], kind="composite")
def test_in_process_apply_equals_spark_apply(spark, tmp_path_factory, monkeypatch,
                                             events, cuts, steps, kind):
    """Random commit / compact / delete / replay sequences applied to
    two tables, one through each apply_batch path: quarantined rows
    (NULL key component, NULL html, bad op, CHECK violation), exact
    redeliveries, a column added and one widened mid-stream, string,
    integral and composite keys. After every step both tables read the
    same rows (``text`` byte for byte), hold the same rows and zone
    maps per bucket, the same audit and lineage rows and quarantine,
    and every call returned the same BatchMetrics."""
    from yadamu___yet_another_data_migration_utility_spark.operators import apply as apply_mod

    root = tmp_path_factory.mktemp("diff")
    arrow, sparkt = (_apply_table(str(root / p), kind) for p in ("arrow", "spark"))
    for t in (arrow, sparkt):
        t.add_constraint(spark, "nonneg", "n >= 0")
    bounds = sorted({c for c in cuts if c < len(events)}) + [len(events)]
    batches = [events[a:b] for a, b in zip([0] + bounds, bounds) if b > a]
    applied: list[tuple[int, object]] = []

    def apply_both(bid, df, paths):
        def run():
            got = []
            for t, bound in ((arrow, None), (sparkt, -1)):
                with monkeypatch.context() as mp:
                    if bound is not None:
                        mp.setattr(apply_mod, "ARROW_MAX_BYTES", bound)
                    got.append(apply_mod.apply_batch(t, df, bid))
            return got

        got, recs = _trace_records(tmp_path_factory.mktemp("tr"), run, op="apply")
        assert [r["path"] for r in recs] == paths
        a, s = ({k: v for k, v in m.as_dict().items() if k != "duration_ms"}
                for m in got)
        assert a == s
        got[0].check_invariant()

    lsn = 1
    for step in steps:
        if step == "commit" and batches:
            bid = len(applied)
            evolved = bid >= 1 and bid % 2 == 1
            ev = batches.pop(0)
            # a local relation: a DataFrame made from a Python list is an
            # RDD of unknown size, which apply_batch never treats as small
            df = spark.createDataFrame(spark.createDataFrame(
                _apply_rows(kind, ev, lsn, evolved), _apply_ddl(kind, evolved)).toArrow())
            lsn += len(ev)
            apply_both(bid, df, ["arrow", "spark"])
            applied.append((bid, df))
        elif step == "replay" and applied:
            apply_both(*applied[0], ["fenced", "fenced"])  # a no-op on both
        elif step == "compact":
            for t in (arrow, sparkt):
                t.compact(spark, all_deltas=True)
        elif step == "delete":
            for t in (arrow, sparkt):
                t.delete_where(spark, "n = 1")
        assert _table_state(spark, arrow) == _table_state(spark, sparkt), step
