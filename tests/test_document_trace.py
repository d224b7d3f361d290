"""Tests for the operation trace log (M2, ref yadamuDBI.js:243-251
sqlTrace)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from yadamu___yet_another_data_migration_utility_spark.operators import trace


def test_trace_span_and_readback(spark, tmp_path):
    path = str(tmp_path / "trace.jsonl")
    trace.enable(path, tag="manager")
    try:
        with trace.span("merge", table="/t1") as info:
            info["rows"] = 42
            info["batch_id"] = 7
        with pytest.raises(ValueError):
            with trace.span("read", table="/t2"):
                raise ValueError("boom")
        tdf = trace.trace_df(spark, path)
        rows = {r.op: r for r in tdf.collect()}
        assert rows["merge"].rows == 42 and rows["merge"].batch_id == 7
        assert rows["merge"].elapsed_sec is not None
        assert "boom" in rows["read"].detail  # failures are logged too
        assert [r.tag for r in rows.values()] == ["manager", "manager"]
    finally:
        trace.disable()


def test_trace_disabled_is_noop(tmp_path):
    trace.disable()
    trace.trace_event("merge", table="/t", rows=1)  # must not raise/write
    assert not trace.enabled()


def test_laketable_commits_traced(spark, tmp_path):
    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import LakeTable

    path = str(tmp_path / "trace.jsonl")
    root = str(tmp_path / "lt")
    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).alias("lsn"), F.lit("x").alias("v")
    )
    trace.enable(path)
    try:
        t = LakeTable.create(root, df.schema, key="k", bucket_count=2)
        t.append(spark, df)
        recs = [json.loads(l) for l in open(path)]
        assert any(r["op"] == "append" and r["rows"] == 10 for r in recs)
    finally:
        trace.disable()


def test_compact_commit_traced_as_compact(spark, tmp_path):
    """Audit-less commits (compact) must be labeled by their summary
    operation in the trace, not fall back to 'create'."""
    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import LakeTable

    path = str(tmp_path / "trace_compact.jsonl")
    root = str(tmp_path / "lt_compact")
    schema = "url string, val string"
    import pyspark.sql.types as T

    t = LakeTable.create(
        root, T._parse_datatype_string(schema), key="url", bucket_count=2,
        merge_mode="mor",
    )
    b = spark.createDataFrame(
        [("a", "v1", "I", 1)], "url string, val string, op string, lsn long"
    )
    t.merge(spark, b, batch_id=0)
    trace.enable(path)
    try:
        assert t.compact(spark, all_deltas=True) is not None
        recs = [json.loads(l) for l in open(path)]
        assert any(r["op"] == "compact" for r in recs)
        assert not any(r["op"] == "create" for r in recs)
    finally:
        trace.disable()
