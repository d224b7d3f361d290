"""Physical-plan assertions: the scale properties the engine claims
(broadcast dedup winner-join, no wide shuffle in the write path) must
be visible in the plan Spark actually executes -- not just in
docstrings.

These guard against regressions that stay correct but silently lose the
100 TB plan shape (e.g. a refactor that flips a broadcast join back to
sort-merge)."""

from __future__ import annotations

import contextlib
import io

import pyspark.sql.functions as F


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_dedup_winner_join_broadcasts_at_runtime(spark):
    """The apply-path dedup must resolve (via AQE) to a broadcast semi
    join: the wide html payload must NOT be shuffled by the dedup."""
    from yadamu___yet_another_data_migration_utility_spark.fixtures.changelog import (
        changelog_df,
    )

    valid = changelog_df(spark, 5000, 500)
    winners = valid.groupBy("url").agg(F.max("lsn").alias("lsn"))
    reduced = valid.join(winners, on=["url", "lsn"], how="leftsemi")
    plan = explain_str(reduced)
    assert "BroadcastHashJoin LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mor_apply_plan_is_single_stage_no_payload_shuffle(spark, tmp_path):
    """The merge-on-read apply pipeline (what LakeTable.merge writes)
    must contain exactly ONE Exchange -- the NARROW winner aggregation
    inside the broadcast build (its parquet scan must prune the html
    payload) -- and join winners via BroadcastHashJoin LeftSemi. The
    wide payload shuffles exactly once, inside the delta write
    (_distribute_delta: hash write-distribution, files O(buckets) not
    O(tasks x buckets)); this gate covers the apply pipeline above
    it."""
    from yadamu___yet_another_data_migration_utility_spark.fixtures.changelog import (
        changelog_df,
    )
    from yadamu___yet_another_data_migration_utility_spark.functions.extract import (
        extract_text,
    )
    from yadamu___yet_another_data_migration_utility_spark.operators.apply import (
        _tag_quarantine,
    )

    import re

    log_path = str(tmp_path / "log")
    changelog_df(spark, 3000, 300, dup_mod=0).write.parquet(log_path)
    log = spark.read.parquet(log_path)
    tagged = _tag_quarantine(log)
    valid = tagged.filter(F.col("_reason").isNull()).drop("_reason")
    structurally_valid = (
        F.col("url").isNotNull() & F.col("lsn").isNotNull()
        & F.col("op").isin("I", "U", "D")
    )
    winners = (
        log.filter(structurally_valid).groupBy("url").agg(F.max("lsn").alias("lsn"))
    )
    reduced = valid.join(F.broadcast(winners), on=["url", "lsn"], how="leftsemi")
    reduced = reduced.withColumn(
        "text", F.when(F.col("op") != "D", extract_text(F.col("html")))
    )
    plan = explain_str(reduced)
    assert "BroadcastHashJoin LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # exactly one shuffle Exchange node (the narrow winner agg feeding
    # the BroadcastExchange); none over the wide payload
    shuffles = re.findall(r"(?<!Broadcast)Exchange \(\d+\)", plan)
    assert len(shuffles) == 1, f"expected 1 narrow exchange, saw {shuffles}:\n{plan}"
    # the winner subtree's parquet scan reads ONLY (url, lsn, op) --
    # html must be pruned (it cost a second full html decode per batch)
    reads = re.findall(r"ReadSchema: (\S+)", plan)
    assert len(reads) == 2, plan
    assert any("html" not in r for r in reads), f"winner scan did not prune html: {reads}"


def test_mor_merge_manifest_lineage(spark, tmp_table_root):
    """apply_batch + mor merge: manifest carries per-touched-bucket
    lineage and the audit counts written delta rows."""
    from yadamu___yet_another_data_migration_utility_spark.fixtures.changelog import (
        PAGE_SCHEMA,
        changelog_df,
    )
    from yadamu___yet_another_data_migration_utility_spark.operators.apply import (
        apply_batch,
    )
    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    t = LakeTable.create(tmp_table_root, PAGE_SCHEMA, key="url", bucket_count=8)
    log = changelog_df(spark, 2000, 150)
    m0 = apply_batch(t, log, batch_id=0)
    m = t.manifest()
    assert m["audit"]["touched_buckets"] <= 8
    # lineage rows exist per touched bucket (partition-level lineage)
    assert len(m["lineage"]) == m["audit"]["touched_buckets"]
    assert sum(r["row_count"] for r in m["lineage"]) == m0.rows_merged_in
