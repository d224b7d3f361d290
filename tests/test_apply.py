"""End-to-end micro-batch apply: quarantine, dedup, extraction, merge,
metrics invariant, full-replay oracle compare (SURVEY.md §7.1 slice)."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from yadamu___yet_another_data_migration_utility_spark.fixtures.changelog import (
    PAGE_SCHEMA,
    changelog_df,
)
from yadamu___yet_another_data_migration_utility_spark.functions.extract import (
    extract_text_series,
)
from yadamu___yet_another_data_migration_utility_spark.operators import apply as apply_mod
from yadamu___yet_another_data_migration_utility_spark.operators.apply import (
    BatchAborted,
    apply_batch,
    last_lsn_dedup,
    quarantine_df,
    quarantine_split,
)
from yadamu___yet_another_data_migration_utility_spark.operators.compare import (
    changelog_oracle,
    compare,
)
from yadamu___yet_another_data_migration_utility_spark.sources.laketable import LakeTable


def mk_table(root, bucket_count=8, merge_mode="mor"):
    return LakeTable.create(root, PAGE_SCHEMA, key="url", bucket_count=bucket_count,
                            merge_mode=merge_mode)


def test_extractor_deterministic_and_correct():
    html = pd.Series(
        [
            b"<html><head><title>T</title><style>a{}</style></head>"
            b"<body><script>var x=1<2;</script><!-- no --><p>Hello&nbsp;&amp;"
            b" <b>world</b> &#8364;</p></body></html>",
            None,
            b"plain text no tags",
        ]
    )
    out1 = extract_text_series(html)
    out2 = extract_text_series(html)
    assert out1.equals(out2)
    assert out1[0] == "T Hello & world €"
    assert out1[1] is None
    assert out1[2] == "plain text no tags"


def test_last_lsn_dedup_salted_equals_unsalted(spark):
    """The map-side combined ``max_by`` reduction equals a window-rank
    reduction (one row per url, the max-lsn event with its payload),
    exact redeliveries included."""
    from pyspark.sql import Window

    df = changelog_df(spark, 2000, 50, dup_mod=10)
    a = last_lsn_dedup(df)
    rank = F.row_number().over(Window.partitionBy("url").orderBy(F.col("lsn").desc()))
    b = df.withColumn("_rn", rank).filter("_rn = 1").select(*a.columns)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # one row per url, each the max lsn
    mx = df.groupBy("url").agg(F.max("lsn").alias("lsn"))
    assert a.select("url", "lsn").exceptAll(mx).count() == 0


def test_quarantine_split_reasons(spark):
    rows = [
        (1, "I", None, "2024-01-01 00:00:00", bytearray(b"<p>x</p>"), "en"),  # null url
        (2, "X", "https://a/1", "2024-01-01 00:00:00", bytearray(b"<p>x</p>"), "en"),  # bad op
        (3, "I", "https://a/2", "2024-01-01 00:00:00", None, "en"),  # null html on I
        (4, "D", "https://a/3", "2024-01-01 00:00:00", None, "en"),  # valid delete
        (5, "U", "https://a/4", "2024-01-01 00:00:00", bytearray(b"<p>y</p>"), "en"),
    ]
    df = spark.createDataFrame(
        rows, "lsn long, op string, url string, warc_ts string, html binary, lang string"
    )
    good, bad = quarantine_split(df)
    assert good.count() == 2
    reasons = {r["lsn"]: r["_reason"] for r in bad.collect()}
    assert reasons == {1: "null_key", 2: "bad_op", 3: "null_html"}


@pytest.mark.parametrize("mode,dedup", [
    ("mor", "broadcast"), ("cow", "broadcast"),
    ("mor", "none"),
])
def test_apply_replay_matches_oracle(spark, tmp_table_root, mode, dedup):
    """Replay a 5k-event changelog in 5 batches; final state must equal
    the whole-log batch oracle (YADAMU acceptance operator) -- in both
    merge modes and across every dedup strategy (under mor, pre-write
    reduction is an optimization; resolution must give the identical
    final state with it and without it)."""
    t = mk_table(tmp_table_root, merge_mode=mode)
    log = changelog_df(spark, 5000, 300, dup_mod=25)
    n_batches = 5
    per = 5000 // n_batches
    for b in range(n_batches):
        batch = log.filter((F.col("lsn") > b * per) & (F.col("lsn") <= (b + 1) * per))
        m = apply_batch(t, batch, batch_id=b, dedup=dedup)
        m.check_invariant()
    oracle = changelog_oracle(log.drop("warc_ts"))
    oracle = oracle.withColumn("text", F.lit(None).cast("string"))  # filled below
    # oracle text: run the same extractor over the winning html
    from yadamu___yet_another_data_migration_utility_spark.functions.extract import extract_text

    oracle = oracle.withColumn("text", extract_text(F.col("html")))
    got = t.read(spark).drop("warc_ts")
    res = compare(oracle, got, columns=["url", "html", "lang", "text", "_lsn"])
    assert res.ok, res


def test_apply_batch_replay_is_noop(spark, tmp_table_root):
    t = mk_table(tmp_table_root)
    log = changelog_df(spark, 500, 50)
    m1 = apply_batch(t, log, batch_id=0)
    v = t.current_version()
    m2 = apply_batch(t, log, batch_id=0)
    assert not m1.fenced and m2.fenced
    assert t.current_version() == v


def test_apply_quarantine_and_max_errors(spark, tmp_table_root):
    t = mk_table(tmp_table_root)
    log = changelog_df(spark, 1000, 100, poison_mod=20, dup_mod=0)
    m = apply_batch(t, log, batch_id=0)
    assert m.rows_quarantined > 0
    m.check_invariant()
    q = quarantine_df(spark, t)
    assert q is not None and q.count() == m.rows_quarantined
    assert set(q.select("reason").distinct().toPandas()["reason"]) <= {
        "null_key", "null_lsn", "bad_op", "null_html"
    }
    # ON_ERROR=ABORT analogue
    t2 = mk_table(tmp_table_root + "_2")
    with pytest.raises(BatchAborted):
        apply_batch(t2, log, batch_id=0, max_errors=1)
    # aborted batch: NOTHING committed, but the quarantine rows were
    # persisted first (diagnosis data is never lost)
    assert t2.current_version() == 1 and not t2.is_applied(0)
    q2 = quarantine_df(spark, t2)
    assert q2 is not None and q2.count() > 0
    # abort-then-retry with a raised budget applies cleanly (quarantine
    # write is an idempotent overwrite)
    m2 = apply_batch(t2, log, batch_id=0, max_errors=10_000)
    m2.check_invariant()
    assert quarantine_df(spark, t2).count() == m2.rows_quarantined


def test_apply_on_error_skip_policy(spark, tmp_table_root):
    """ON_ERROR=SKIP: a poisoned batch beyond max_errors is fenced
    without applying; later batches continue; a replay of the skipped
    batch is a no-op (reference yadamuWriter.js:678-708)."""
    t = mk_table(tmp_table_root)
    log = changelog_df(spark, 1000, 100, poison_mod=20, dup_mod=0)
    bad = log.filter(F.col("lsn") <= 500)
    good = log.filter((F.col("lsn") > 500) & (F.col("lsn") <= 1000))
    m0 = apply_batch(t, bad, batch_id=0, max_errors=1, on_error="skip")
    assert m0.rows_skipped > 0 and m0.rows_merged_in == 0 and not m0.fenced
    m0.check_invariant()
    assert t.is_applied(0)
    assert t.audit_entries()[-1]["operation"] == "skip"
    # quarantine rows of the skipped batch persist for diagnosis
    assert quarantine_df(spark, t).count() == m0.rows_quarantined
    # the stream continues: next batch applies normally
    m1 = apply_batch(t, good, batch_id=1, max_errors=1000, on_error="skip")
    assert m1.rows_merged_in > 0
    # replayed skipped batch fences
    m0b = apply_batch(t, bad, batch_id=0, max_errors=1, on_error="skip")
    assert m0b.fenced
    # same poisoned batch under ABORT (fresh table) raises instead
    t2 = mk_table(tmp_table_root + "_abort")
    with pytest.raises(BatchAborted):
        apply_batch(t2, bad, batch_id=0, max_errors=1, on_error="abort")


def test_schema_evolution_mid_stream(spark, tmp_table_root):
    """Batch 1 without content_type, batch 2 with it: table evolves,
    old rows read NULL, final state matches oracle over evolved log."""
    t = mk_table(tmp_table_root)
    log = changelog_df(spark, 1000, 80, evolve_from=501, dup_mod=0)
    b1 = log.filter(F.col("lsn") <= 500).drop("content_type")
    b2 = log.filter(F.col("lsn") > 500)
    apply_batch(t, b1, batch_id=0)
    assert "content_type" not in t.schema().fieldNames()
    apply_batch(t, b2, batch_id=1)
    assert "content_type" in t.schema().fieldNames()

    from yadamu___yet_another_data_migration_utility_spark.functions.extract import extract_text

    oracle = changelog_oracle(log.drop("warc_ts")).withColumn(
        "text", extract_text(F.col("html"))
    )
    got = t.read(spark).drop("warc_ts")
    res = compare(oracle, got, columns=["url", "lang", "text", "content_type", "_lsn"])
    assert res.ok, res


def test_apply_precheck_rejects_before_writing(spark, tmp_table_root):
    """A poisoned batch beyond max_errors is skipped/aborted by the
    merge's pre-commit hook, BEFORE the manifest commit -- no delta
    files of the batch are referenced or left on disk -- while
    quarantine rows still persist for diagnosis."""
    import os

    t = mk_table(tmp_table_root)
    log = changelog_df(spark, 1000, 100, poison_mod=20, dup_mod=0)
    bad = log.filter(F.col("lsn") <= 500)
    m0 = apply_batch(t, bad, batch_id=0, max_errors=1, on_error="skip")
    assert m0.rows_skipped > 0 and m0.rows_merged_in == 0
    assert t.is_applied(0)
    assert t.audit_entries()[-1]["operation"] == "skip"
    assert quarantine_df(spark, t).count() == m0.rows_quarantined
    # the skip committed no data: no data files referenced or on disk
    m = t.manifest()
    assert all(not fl for fl in m["buckets"].values())
    assert all(not fl for fl in m.get("deltas", {}).values())
    assert not [f for _, _, fs in os.walk(os.path.join(t.root, "data")) for f in fs]
    # abort policy raises (fresh table), quarantine kept
    t2 = mk_table(tmp_table_root + "_pre_abort")
    with pytest.raises(BatchAborted, match="max_errors=1"):
        apply_batch(t2, bad, batch_id=0, max_errors=1, on_error="abort")
    assert quarantine_df(spark, t2).count() > 0
    # a clean batch under the same policy applies normally
    good = log.filter((F.col("lsn") > 500) & (F.col("lsn") <= 1000))
    m1 = apply_batch(t, good, batch_id=1, max_errors=1000, on_error="skip")
    assert m1.rows_merged_in > 0


def test_apply_batch_multi_routes_and_resumes(spark, tmp_path):
    """One WAL micro-batch interleaving two tables: each table's slice
    applies under the same fence id; a crash between the per-table
    commits resumes by re-applying only the unfenced table; unknown
    route names fail up front."""
    import pyspark.sql.types as T

    from yadamu___yet_another_data_migration_utility_spark.operators.apply import (
        apply_batch_multi,
    )

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("val", T.StringType()),
    ])
    ta = LakeTable.create(str(tmp_path / "a"), schema, key="url",
                          bucket_count=4, merge_mode="mor")
    tb = LakeTable.create(str(tmp_path / "b"), schema, key="url",
                          bucket_count=4, merge_mode="mor")
    tables = {"a": ta, "b": tb}

    def wal(rows):
        return spark.createDataFrame(
            rows,
            "_table string, url string, val string, op string, lsn long")

    b0 = wal([("a", "x", "v1", "I", 1), ("b", "y", "v1", "I", 2),
              ("a", "x", "v2", "U", 3), ("b", "z", "v1", "I", 4)])
    got = apply_batch_multi(tables, b0, batch_id=0, run_extract=False)
    assert sorted(got) == ["a", "b"]
    assert got["a"].rows_in == 2 and got["b"].rows_in == 2
    assert not got["a"].fenced and not got["b"].fenced

    def state(t):
        return {(r["url"], r["val"])
                for r in t.read(spark, public=True).collect()}

    assert state(ta) == {("x", "v2")}
    assert state(tb) == {("y", "v1"), ("z", "v1")}

    # crash between the per-table commits: table a's slice of batch 1
    # landed, b's did not (simulated by applying a's slice directly
    # under the shared fence id, as the crashed run did)
    b1 = wal([("a", "x", "v3", "U", 5), ("b", "y", None, "D", 6)])
    apply_batch(ta, b1.filter("_table = 'a'").drop("_table"),
                batch_id=1, run_extract=False)
    # restart replays the WHOLE batch: a no-ops on its fence, b applies
    got = apply_batch_multi(tables, b1, batch_id=1, run_extract=False)
    assert got["a"].fenced and got["a"].rows_merged_in == 0
    assert not got["b"].fenced
    assert state(ta) == {("x", "v3")}
    assert state(tb) == {("z", "v1")}
    # replaying again is a full no-op on both
    got = apply_batch_multi(tables, b1, batch_id=1, run_extract=False)
    assert got["a"].fenced and got["b"].fenced

    # routing to an undeclared table is an up-front error, nothing applies
    b2 = wal([("c", "q", "v1", "I", 7), ("a", "x", "v9", "U", 8)])
    with pytest.raises(KeyError, match="unknown tables"):
        apply_batch_multi(tables, b2, batch_id=2, run_extract=False)
    assert state(ta) == {("x", "v3")} and not ta.is_applied(2)


# ---------------------------------------------------------------------
# the two merge-on-read writers: every batch in this file is small, so
# the cases above run in-process; the fixture sends them through Spark
# ---------------------------------------------------------------------


def local_df(spark, rows, ddl):
    """``rows`` as a local relation, whose size the optimizer knows (a
    DataFrame made from a Python list is an RDD of unknown size, which
    apply_batch never treats as small)."""
    return spark.createDataFrame(spark.createDataFrame(rows, ddl).toArrow())


@pytest.fixture()
def spark_path(monkeypatch):
    """No batch is small: every merge-on-read apply_batch takes the
    Spark path (the bound sits below any size estimate, 0 included)."""
    monkeypatch.setattr(apply_mod, "ARROW_MAX_BYTES", -1)


@pytest.mark.parametrize("case", [
    test_apply_batch_replay_is_noop,
    test_apply_quarantine_and_max_errors,
    test_apply_on_error_skip_policy,
    test_schema_evolution_mid_stream,
], ids=lambda f: f.__name__)
def test_core_cases_on_the_spark_path(spark, tmp_table_root, spark_path, case):
    case(spark, tmp_table_root)


@pytest.mark.parametrize("dedup", ["broadcast", "none"])
def test_replay_matches_oracle_on_the_spark_path(spark, tmp_table_root,
                                                 spark_path, dedup):
    test_apply_replay_matches_oracle(spark, tmp_table_root, "mor", dedup)


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_all_quarantined_local_batch_on_the_spark_path(spark, tmp_path, spark_path,
                                                       mode):
    """A local-relation batch whose every row is quarantined: the
    optimizer folds the merge plan to an empty relation at plan time,
    and the input Observation with it; the counts still come out."""
    import pyspark.sql.types as T

    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("val", T.StringType())])
    t = LakeTable.create(str(tmp_path / "t"), schema, key="url",
                         bucket_count=4, merge_mode=mode)
    df = local_df(spark, [("a", "1", "X", 1), (None, "2", "I", 2)],
                  "url string, val string, op string, lsn long")
    m = apply_batch(t, df, 0, run_extract=False)
    assert (m.rows_in, m.rows_quarantined, m.rows_merged_in) == (2, 2, 0)
    assert t.is_applied(0) and t.read(spark).count() == 0
    assert quarantine_df(spark, t).count() == 2


def _apply_trace(tmp_path, fn):
    """Run ``fn`` with the operation trace on; its apply records."""
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
    return out, [r for r in recs if r["op"] == "apply"]


@pytest.mark.parametrize("path", ["arrow", "spark"])
def test_constraints_and_composite_key_on_both_paths(spark, tmp_path,
                                                      monkeypatch, path):
    """A composite-key table with a CHECK constraint: NULL key
    components, a violation and a bad op quarantine, the newest valid
    event per key wins, exact redeliveries collapse on read -- on
    either path, and the trace names the path that ran."""
    import pyspark.sql.types as T

    if path == "spark":
        monkeypatch.setattr(apply_mod, "ARROW_MAX_BYTES", -1)
    schema = T.StructType([T.StructField("site", T.StringType()),
                           T.StructField("page", T.LongType()),
                           T.StructField("n", T.IntegerType())])
    t = LakeTable.create(str(tmp_path / "t"), schema, key=["site", "page"],
                         bucket_count=4, merge_mode="mor")
    t.add_constraint(spark, "nonneg", "n >= 0")
    rows = [("a", 1, 1, "I", 1), ("a", 1, 2, "U", 2), ("a", 1, 2, "U", 2),
            ("a", 2, -5, "I", 3), ("b", 1, 7, "I", 4), ("b", 1, None, "D", 5),
            (None, 3, 1, "I", 6), ("c", None, 1, "I", 7), ("c", 4, 9, "X", 8),
            ("c", 5, 3, "I", 9)]
    df = local_df(spark, rows, "site string, page long, n int, op string, lsn long")
    m, recs = _apply_trace(tmp_path, lambda: apply_batch(t, df, batch_id=0))
    m.check_invariant()
    assert (m.rows_in, m.rows_quarantined, m.rows_merged_in) == (10, 4, 4)
    assert {(r["site"], r["page"], r["n"], r["_lsn"]) for r in t.read(spark).collect()} == {
        ("a", 1, 2, 2), ("c", 5, 3, 9)}
    assert {(r["reason"], r["lsn"]) for r in quarantine_df(spark, t).collect()} == {
        ("check:nonneg", 3), ("null_key", 6), ("null_key", 7), ("bad_op", 8)}
    assert [(r["detail"]["path"], r["detail"]["reason"], r["rows"]) for r in recs] == [
        (path, None if path == "arrow" else "size", 10)]


def test_apply_trace_records_each_path_and_its_reason(spark, tmp_path):
    """One apply record per call: the in-process path with its four
    phase timings, the Spark path with the reason it was taken, a
    fenced replay, and the dedup strategy each call ran -- a
    copy-on-write table reduces even when asked for ``dedup="none"``."""
    sch = "url string, val string, op string, lsn long"
    import pyspark.sql.types as T

    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("val", T.StringType())])
    mor = LakeTable.create(str(tmp_path / "mor"), schema, key="url",
                           bucket_count=4, merge_mode="mor")
    cow = LakeTable.create(str(tmp_path / "cow"), schema, key="url",
                           bucket_count=4, merge_mode="cow")
    df = local_df(spark, [("a", "1", "I", 1), ("b", "2", "I", 2)], sch)

    def run():
        apply_batch(mor, df, 0, run_extract=False)
        apply_batch(mor, spark.createDataFrame([("c", "3", "I", 3)], sch), 3,
                    run_extract=False)
        apply_batch(mor, df, 0, run_extract=False)
        apply_batch(mor, df, 1, run_extract=False, dedup="none")
        apply_batch(cow, df, 0, run_extract=False)
        apply_batch(cow, df, 1, run_extract=False, dedup="none")

    _, recs = _apply_trace(tmp_path, run)
    got = [(r["table"], r["batch_id"], r["detail"]["path"],
            r["detail"].get("reason"), r["detail"]["dedup"]) for r in recs]
    assert got == [(mor.root, 0, "arrow", None, "broadcast"),
                   (mor.root, 3, "spark", "size", "broadcast"),
                   (mor.root, 0, "fenced", None, "broadcast"),
                   (mor.root, 1, "arrow", None, "none"),
                   (cow.root, 0, "spark", "cow", "broadcast"),
                   (cow.root, 1, "spark", "cow", "broadcast")]
    phases = {"collect_s", "dedup_extract_s", "write_s", "commit_s"}
    assert phases <= set(recs[0]["detail"])
    # a list-built batch is an RDD: its size is unknown, so not small
    assert recs[1]["detail"]["plan_bytes"] == 2**63 - 1
    assert {"write_s", "commit_s"} <= set(recs[1]["detail"])
    assert not phases & set(recs[2]["detail"])
