"""Structured Streaming replay: end-to-end, checkpoint resume after a
mid-replay kill (the reference's LOSTCONNECTION suite analogue,
/root/reference/qa/regression/lostConnection.json)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from yadamu___yet_another_data_migration_utility_spark.fixtures.changelog import (
    PAGE_SCHEMA,
    changelog_df,
    write_wal_segments,
)
from yadamu___yet_another_data_migration_utility_spark.functions.extract import extract_text
from yadamu___yet_another_data_migration_utility_spark.operators.compare import (
    changelog_oracle,
    compare,
)
from yadamu___yet_another_data_migration_utility_spark.sources.laketable import LakeTable
from yadamu___yet_another_data_migration_utility_spark.streaming.stream import (
    replay_available,
    start_replay,
    start_replay_multi,
)

N_EVENTS, N_URLS, N_SEGMENTS = 3000, 200, 6


def _setup(spark, tmp_path):
    log = changelog_df(spark, N_EVENTS, N_URLS, dup_mod=40)
    wal = str(tmp_path / "wal")
    write_wal_segments(log, wal, N_SEGMENTS)
    table = LakeTable.create(str(tmp_path / "pages"), PAGE_SCHEMA, key="url", bucket_count=8)
    return log, wal, table


def _assert_matches_oracle(spark, log, table):
    oracle = changelog_oracle(log.drop("warc_ts")).withColumn(
        "text", extract_text(F.col("html"))
    )
    got = table.read(spark).drop("warc_ts")
    res = compare(oracle, got, columns=["url", "html", "lang", "text", "_lsn"])
    assert res.ok, res


def test_streaming_replay_matches_oracle(spark, tmp_path):
    log, wal, table = _setup(spark, tmp_path)
    metrics = replay_available(spark, table, wal, str(tmp_path / "ckpt"))
    assert len(metrics) == N_SEGMENTS
    for m in metrics:
        m.check_invariant()
    _assert_matches_oracle(spark, log, table)
    # audit chain covers all batches exactly once
    audits = [a for a in table.audit_entries() if a["operation"] == "merge"]
    assert sorted(a["batch_id"] for a in audits) == list(range(N_SEGMENTS))


def test_streaming_kill_and_resume_exactly_once(spark, tmp_path):
    """Crash the query right AFTER the table commit of batch 1 but
    BEFORE Spark checkpoints it -- the worst-case double-apply window --
    then restart from the same checkpoint: the re-delivered batch must
    fence as a no-op and the final state must match the oracle."""
    log, wal, table = _setup(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")

    applied = []

    def crash_after_two(m):
        applied.append(m)
        if len(applied) == 2:
            raise RuntimeError("injected crash after table commit, before checkpoint")

    q = start_replay(
        spark, table, wal, ckpt, available_now=True, on_metrics=crash_after_two
    )
    try:
        q.awaitTermination()
    except Exception:
        pass  # expected: injected crash
    assert len(applied) == 2
    assert table.current_version() >= 2
    assert not q.isActive

    # restart from the same checkpoint: batch 1 is re-delivered (it was
    # never checkpointed) and must fence; the rest replay normally
    metrics2 = replay_available(spark, table, wal, ckpt)
    assert any(m.fenced for m in metrics2), "re-delivered batch should have fenced"
    _assert_matches_oracle(spark, log, table)
    merge_audits = [a for a in table.audit_entries() if a["operation"] == "merge"]
    batch_ids = [a["batch_id"] for a in merge_audits]
    assert len(batch_ids) == len(set(batch_ids)) == N_SEGMENTS  # each applied exactly once
    assert len(applied) + len([m for m in metrics2 if not m.fenced]) == N_SEGMENTS


def test_replay_compaction_and_metrics_tables(spark, tmp_path):
    """Auto-compaction mid-replay keeps state correct, and the audit /
    lineage metrics surface as DataFrames with consistent counts."""
    import pyspark.sql.functions as F  # noqa: F811

    log, wal, table = _setup(spark, tmp_path)
    replay_available(
        spark, table, wal, str(tmp_path / "ckpt"),
        compact_every=2, compact_max_files=1,
    )
    _assert_matches_oracle(spark, log, table)

    adf = table.audit_df(spark)
    merges = adf.filter(F.col("operation") == "merge")
    assert merges.count() == N_SEGMENTS
    ldf = table.lineage_df(spark)
    assert ldf.count() > 0
    # per-partition lineage row counts must sum to the audit rows_in
    sums = ldf.groupBy("batch_id").agg(F.sum("row_count").alias("n"))
    bad = sums.join(merges, "batch_id").filter(F.col("n") != F.col("rows_in"))
    assert bad.count() == 0


@pytest.mark.parametrize("multi", [False, True], ids=["start_replay", "start_replay_multi"])
def test_replay_source_rejects_bad_format_before_starting(spark, tmp_path, multi):
    """Both replay starters build their source the same way: an unknown
    ``source_format``, and ``jsonl`` without a decoder, are ValueErrors
    raised before any query starts or any checkpoint is written."""
    table = LakeTable.create(str(tmp_path / "t"), PAGE_SCHEMA, key="url",
                             bucket_count=2)
    start, target = ((start_replay_multi, {"t": table}) if multi
                     else (start_replay, table))
    ckpt = str(tmp_path / "ckpt")
    for fmt, msg in (("csv", "unknown source_format 'csv'"),
                     ("jsonl", "requires a decoder")):
        with pytest.raises(ValueError, match=msg):
            start(spark, target, str(tmp_path / "wal"), ckpt, source_format=fmt)
    assert spark.streams.active == []
    assert not os.path.exists(ckpt)


def test_follow_changes_tail_reconstructs_snapshots(spark, tmp_path):
    """CDC-out tail: the polling cursor emits each new window once;
    applying the windows in order through the real merge reconstructs
    the followed table. Stop conditions make the loop deterministic."""
    import pyspark.sql.functions as F

    from yadamu___yet_another_data_migration_utility_spark.streaming.stream import (
        follow_changes,
    )

    def batch(rows):
        return spark.createDataFrame(rows, "url string, val string, op string, lsn long")

    t = LakeTable.create(str(tmp_path / "src"),
                         spark.createDataFrame([], "url string, val string").schema,
                         key="url", bucket_count=4)
    t.merge(spark, batch([("a", "v1", "I", 1), ("b", "v1", "I", 2)]), batch_id=0)
    v_seed = t.current_version()

    # downstream consumer: a second table seeded at the cursor's origin
    t2 = LakeTable.create(str(tmp_path / "dst"),
                          spark.createDataFrame([], "url string, val string").schema,
                          key="url", bucket_count=4)
    t2.merge(spark, batch([("a", "v1", "I", 1), ("b", "v1", "I", 2)]), batch_id=0)
    windows = []

    def consume(df, since, until):
        windows.append((since, until))
        ch = df.select(
            "url", "val",
            F.when(F.col("_change_type") == "delete", "D").otherwise("U").alias("op"),
            F.col("_lsn").alias("lsn"),
        )
        t2.merge(spark, ch, batch_id=100 + until)

    # nothing new yet: cursor stays put, no emission
    cur = follow_changes(spark, t, v_seed, consume, poll_seconds=0.01, max_polls=1)
    assert cur == v_seed and windows == []
    # two upstream commits, then one poll -> ONE coalesced window
    t.merge(spark, batch([("a", "v2", "U", 10), ("c", "v1", "I", 11)]), batch_id=1)
    t.merge(spark, batch([("b", None, "D", 12)]), batch_id=2)
    cur = follow_changes(spark, t, cur, consume, poll_seconds=0.01,
                         stop_at_version=t.current_version())
    assert windows == [(v_seed, v_seed + 2)] and cur == v_seed + 2
    # another commit, tail again from the persisted cursor
    t.merge(spark, batch([("d", "v1", "I", 20)]), batch_id=3)
    cur = follow_changes(spark, t, cur, consume, poll_seconds=0.01,
                         stop_at_version=t.current_version())
    assert windows[-1] == (v_seed + 2, v_seed + 3)

    src = {(r["url"], r["val"]) for r in t.read(spark).collect()}
    dst = {(r["url"], r["val"]) for r in t2.read(spark).collect()}
    assert src == dst == {("a", "v2"), ("c", "v1"), ("d", "v1")}


def test_follow_changes_compact_crossing_delete_converges(spark, tmp_path):
    """A tail window crossing a compact sees the delete on the diff
    path, where the tombstone's physical LSN is folded away (NULL) --
    the tail must stamp it with a winning synthetic LSN or the
    downstream monotonic apply keeps the deleted row forever. Also:
    stop_at_version clamps delivery when the upstream keeps writing."""
    import pyspark.sql.functions as F

    from yadamu___yet_another_data_migration_utility_spark.streaming.stream import (
        follow_changes,
    )

    def batch(rows):
        return spark.createDataFrame(rows, "url string, val string, op string, lsn long")

    schema = spark.createDataFrame([], "url string, val string").schema
    t = LakeTable.create(str(tmp_path / "src"), schema, key="url", bucket_count=4)
    t.merge(spark, batch([("a", "v1", "I", 1), ("b", "v1", "I", 2)]), batch_id=0)
    v_seed = t.current_version()
    t2 = LakeTable.create(str(tmp_path / "dst"), schema, key="url", bucket_count=4)
    t2.merge(spark, batch([("a", "v1", "I", 1), ("b", "v1", "I", 2)]), batch_id=0)

    def consume(df, since, until):
        assert df.filter(F.col("_lsn").isNull()).count() == 0  # always stamped
        ch = df.select(
            "url", "val",
            F.when(F.col("_change_type") == "delete", "D").otherwise("U").alias("op"),
            F.col("_lsn").alias("lsn"),
        )
        t2.merge(spark, ch, batch_id=100 + until)

    # delete b, then compact BEFORE the consumer polls: the coalesced
    # window crosses the compact -> diff path -> NULL tombstone lsn
    t.merge(spark, batch([("b", None, "D", 10)]), batch_id=1)
    assert t.compact(spark, all_deltas=True) is not None
    stop = t.current_version()
    # upstream keeps writing PAST the consumer's alignment point
    t.merge(spark, batch([("c", "v1", "I", 20)]), batch_id=2)
    cur = follow_changes(spark, t, v_seed, consume, poll_seconds=0.01,
                         stop_at_version=stop)
    assert cur == stop  # clamped: nothing past the requested stop
    dst = {(r["url"], r["val"]) for r in t2.read(spark).collect()}
    assert dst == {("a", "v1")}, dst  # the folded delete DID land
    # resume to the live head picks up the post-stop commit
    cur = follow_changes(spark, t, cur, consume, poll_seconds=0.01,
                         stop_at_version=t.current_version())
    src = {(r["url"], r["val"]) for r in t.read(spark).collect()}
    dst = {(r["url"], r["val"]) for r in t2.read(spark).collect()}
    assert src == dst == {("a", "v1"), ("c", "v1")}


def test_follow_changes_randomized_op_sequence_converges(spark, tmp_path):
    """Seeded randomized CDC-loop stress: a writer interleaves merges
    (inserts/updates/deletes), compactions and a rebucket; a tail
    consumer polls at random points and applies each window through the
    real merge. The downstream copy must equal the source at EVERY
    poll -- the end-to-end exactly-once story under arbitrary
    maintenance interleavings."""
    import random

    import pyspark.sql.functions as F

    from yadamu___yet_another_data_migration_utility_spark.streaming.stream import (
        follow_changes,
    )

    rng = random.Random(31337)

    def batch(rows):
        return spark.createDataFrame(rows, "url string, val string, op string, lsn long")

    schema = spark.createDataFrame([], "url string, val string").schema
    t = LakeTable.create(str(tmp_path / "src"), schema, key="url", bucket_count=4)
    t2 = LakeTable.create(str(tmp_path / "dst"), schema, key="url", bucket_count=4)
    seed_rows = [(f"u{i}", "v0", "I", i + 1) for i in range(30)]
    t.merge(spark, batch(seed_rows), batch_id=0)
    t2.merge(spark, batch(seed_rows), batch_id=0)
    cursor, lsn, bid, polls = t.current_version(), 100, 1, 0

    def consume(df, since, until):
        ch = df.select(
            "url", "val",
            F.when(F.col("_change_type") == "delete", "D").otherwise("U").alias("op"),
            F.col("_lsn").alias("lsn"),
        )
        t2.merge(spark, ch, batch_id=1000 + until)

    def snap(tbl):
        return {(r["url"], r["val"]) for r in tbl.read(spark).collect()}

    live = {f"u{i}" for i in range(30)}
    for step in range(14):
        op = rng.choice(["merge", "merge", "merge", "compact", "rebucket", "poll"])
        if op == "merge":
            rows = []
            for _ in range(rng.randint(1, 4)):
                if live and rng.random() < 0.3:
                    u = rng.choice(sorted(live))
                    rows.append((u, None, "D", lsn))
                    live.discard(u)
                else:
                    u = f"u{rng.randint(0, 40)}"
                    rows.append((u, f"v{lsn}", "U", lsn))
                    live.add(u)
                lsn += 1
            # one winner per key within the batch (engine precondition)
            winners = {r[0]: r for r in rows}
            t.merge(spark, batch(list(winners.values())), batch_id=bid)
            bid += 1
        elif op == "compact":
            t.compact(spark, all_deltas=True)
        elif op == "rebucket":
            t.rebucket(spark, 8 if t.manifest()["bucket_count"] == 4 else 4)
        else:
            cursor = follow_changes(spark, t, cursor, consume, poll_seconds=0.01,
                                    stop_at_version=t.current_version())
            polls += 1
            assert snap(t2) == snap(t), f"diverged at step {step}"
    # deterministic coverage regardless of the seed's draw: one final
    # backfill whose replacement key collides with a live row outside
    # the slice, then a closing poll must converge through it
    repl = spark.createDataFrame([("u1", f"ow{lsn}"), (f"nw{lsn}", f"ow{lsn}")],
                                 "url string, val string")
    t.overwrite_where(spark, repl, predicate="val like 'ow%'")
    cursor = follow_changes(spark, t, cursor, consume, poll_seconds=0.01,
                            stop_at_version=t.current_version())
    assert snap(t2) == snap(t)
    assert polls >= 1  # the seed actually exercised mid-sequence polls


# ---------------------------------------------------------------------------
# mirror: cross-lake table replication over the CDC tail
# ---------------------------------------------------------------------------


def _mbatch(spark, rows):
    return spark.createDataFrame(rows, "url string, val string, op string, lsn long")


def test_mirror_seeds_tails_and_resumes(spark, tmp_path):
    """mirror() seeds a replica from a snapshot, catches up through the
    change tail, resumes from its fence-derived cursor across calls,
    and re-running at head is a fenced no-op (no new replica commits)."""
    from yadamu___yet_another_data_migration_utility_spark.streaming.stream import (
        mirror,
        mirror_cursor,
    )

    schema = spark.createDataFrame([], "url string, val string").schema
    src = LakeTable.create(str(tmp_path / "src"), schema, key="url",
                           bucket_count=4, merge_mode="mor")
    src.merge(spark, _mbatch(spark, [("a", "v1", "I", 1), ("b", "v1", "I", 2)]),
              batch_id=0)

    rep_root = str(tmp_path / "rep")
    rep, cur = mirror(spark, src, rep_root, poll_seconds=0.01)
    assert cur == src.current_version() == mirror_cursor(rep)
    # replica manifest copies the source's physical layout
    rm, sm = rep.manifest(), src.manifest()
    assert (rm["key"], rm["bucket_count"], rm.get("merge_mode")) == (
        sm["key"], sm["bucket_count"], sm.get("merge_mode"))

    def snap(t):
        return {(r["url"], r["val"]) for r in t.read(spark, public=True).collect()}

    assert snap(rep) == snap(src) == {("a", "v1"), ("b", "v1")}

    # upstream keeps moving: update, delete, insert, and a compact that
    # forces the next window onto the snapshot-diff path
    src.merge(spark, _mbatch(spark, [("a", "v2", "U", 10), ("c", "v1", "I", 11)]),
              batch_id=1)
    src.merge(spark, _mbatch(spark, [("b", None, "D", 12)]), batch_id=2)
    assert src.compact(spark, all_deltas=True) is not None
    rep2, cur2 = mirror(spark, src, rep_root, poll_seconds=0.01)
    assert cur2 == src.current_version()
    assert snap(rep2) == snap(src) == {("a", "v2"), ("c", "v1")}

    # idempotent: nothing new upstream -> no new replica commit
    v_before = rep2.current_version()
    _, cur3 = mirror(spark, src, rep_root, poll_seconds=0.01)
    assert cur3 == cur2
    assert LakeTable.load(rep_root).current_version() == v_before


def test_mirror_reseeds_after_interrupted_create_and_carries_evolution(
        spark, tmp_path):
    """A replica whose create landed but whose seed merge never fenced
    (crash between the two) resumes from cursor 0 -> re-seeds. Appended
    source rows (NULL _lsn) seed at lsn 0 so later real changes win,
    and additive schema evolution flows through the tail."""
    from yadamu___yet_another_data_migration_utility_spark.streaming.stream import (
        mirror,
        mirror_cursor,
    )

    schema = spark.createDataFrame([], "url string, val string").schema
    src = LakeTable.create(str(tmp_path / "src"), schema, key="url",
                           bucket_count=4, merge_mode="mor")
    # append-only rows carry NULL _lsn in the source
    src.append(spark, spark.createDataFrame(
        [("a", "v1"), ("b", "v1")], "url string, val string"))

    rep_root = str(tmp_path / "rep")
    # simulate the interrupted first mirror: table exists, no fence yet
    half = LakeTable.create(rep_root, schema, key="url", bucket_count=4,
                            merge_mode="mor")
    assert mirror_cursor(half) == 0

    rep, cur = mirror(spark, src, rep_root, poll_seconds=0.01)
    assert cur == src.current_version()

    def snap(t):
        return {tuple(r) for r in t.read(spark, public=True).collect()}

    assert snap(rep) == {("a", "v1"), ("b", "v1")}

    # a real change to an appended key must beat the lsn-0 seed row,
    # and a wider batch schema must evolve the replica additively
    wide = spark.createDataFrame(
        [("a", "v2", "en", "U", 5)],
        "url string, val string, lang string, op string, lsn long")
    src.merge(spark, wide, batch_id=1)
    rep, _ = mirror(spark, src, rep_root, poll_seconds=0.01)
    assert snap(rep) == snap(src) == {("a", "v2", "en"), ("b", "v1", None)}


def test_follow_changes_stress_with_rewrites_and_tags(spark, tmp_path):
    """Second randomized CDC-loop stress, biased to the NEW day-2 ops:
    the writer interleaves merges with delete_where, update_where,
    overwrite_where (REPLACE WHERE backfills whose replacement keys
    collide with live rows outside the slice), compactions, tag/untag
    and SNAPSHOT ROLLBACKS (revert to the last polled version -- the
    change window crossing the revert is NULL-stamped and the tail
    must converge through it); a tail consumer applies every window
    through the real merge. The copy must equal the source at every
    poll. The writer allocates LSNs strictly above the audit chain
    after each rewrite (a monotonic WAL always satisfies this)."""
    import random

    import pyspark.sql.functions as F

    from yadamu___yet_another_data_migration_utility_spark.streaming.stream import (
        follow_changes,
    )

    rng = random.Random(4242)

    def batch(rows):
        return spark.createDataFrame(rows, "url string, val string, op string, lsn long")

    schema = spark.createDataFrame([], "url string, val string").schema
    t = LakeTable.create(str(tmp_path / "src"), schema, key="url", bucket_count=4)
    t2 = LakeTable.create(str(tmp_path / "dst"), schema, key="url", bucket_count=4)
    seed_rows = [(f"u{i}", f"w{i % 3}", "I", i + 1) for i in range(24)]
    t.merge(spark, batch(seed_rows), batch_id=0)
    t2.merge(spark, batch(seed_rows), batch_id=0)
    cursor, lsn, bid, polls, tagged = t.current_version(), 100, 1, 0, False
    savepoint, rollbacks = t.current_version(), 0

    def consume(df, since, until):
        ch = df.select(
            "url", "val",
            F.when(F.col("_change_type") == "delete", "D").otherwise("U").alias("op"),
            F.col("_lsn").alias("lsn"),
        )
        t2.merge(spark, ch, batch_id=1000 + until)

    def snap(tbl):
        return {(r["url"], r["val"]) for r in tbl.read(spark).collect()}

    ops = ["merge", "merge", "delete_where", "update_where", "overwrite",
           "compact", "tag", "rollback", "poll"]
    for step in range(18):
        op = rng.choice(ops)
        if op == "merge":
            rows = {}
            for _ in range(rng.randint(1, 3)):
                u = f"u{rng.randint(0, 30)}"
                rows[u] = (u, f"v{lsn}", "U", lsn)
                lsn += 1
            t.merge(spark, batch(list(rows.values())), batch_id=bid)
            bid += 1
        elif op == "delete_where":
            t.delete_where(spark, predicate=f"val = 'w{rng.randint(0, 2)}'")
            lsn += 50  # stay above the synthetic stamps
        elif op == "update_where":
            t.update_where(spark, {"val": "concat(val, '+')"},
                           predicate=f"url like 'u{rng.randint(0, 2)}%'")
            lsn += 50
        elif op == "overwrite":
            rows = {}
            for _ in range(rng.randint(1, 2)):
                u = f"u{rng.randint(0, 30)}"
                rows[u] = (u, f"ow{lsn}")
            repl = spark.createDataFrame(
                list(rows.values()), "url string, val string")
            t.overwrite_where(spark, repl, predicate="val like 'ow%'")
            lsn += 50
        elif op == "compact":
            t.compact(spark, all_deltas=True)
        elif op == "tag":
            if tagged:
                t.untag("stress")
            else:
                t.tag("stress")
            tagged = not tagged
        elif op == "rollback":
            if t.current_version() > savepoint:
                t.rollback_to(savepoint)
                rollbacks += 1
                lsn += 50  # stay above the revert's lsn_high bump
            savepoint = t.current_version()
        else:
            cursor = follow_changes(spark, t, cursor, consume, poll_seconds=0.01,
                                    stop_at_version=t.current_version())
            polls += 1
            savepoint = t.current_version()
            assert snap(t2) == snap(t), f"diverged at step {step}"
    # deterministic coverage regardless of the seed's draw: one final
    # backfill whose replacement key collides with a live row outside
    # the slice, then a closing poll must converge through it
    repl = spark.createDataFrame([("u1", f"ow{lsn}"), (f"nw{lsn}", f"ow{lsn}")],
                                 "url string, val string")
    t.overwrite_where(spark, repl, predicate="val like 'ow%'")
    cursor = follow_changes(spark, t, cursor, consume, poll_seconds=0.01,
                            stop_at_version=t.current_version())
    assert snap(t2) == snap(t)
    assert polls >= 1
    assert rollbacks >= 1  # the seed actually exercised a revert


def test_follow_changes_stress_with_staging_and_branches(spark, tmp_path):
    """Third randomized CDC-loop stress, biased to the MULTI-COMMIT
    publication surfaces: WAP staging (stage -> publish, stage ->
    abort), writable branches (create -> branch merges ->
    fast_forward -> drop) and general merge_into, interleaved with
    plain merges under a tailing follow_changes consumer applying
    every window through the real merge. The replica must equal the
    source at every poll -- this pins the claim that published and
    adopted commits keep the downstream change cursor seamless, and
    that aborted stages never leak rows."""
    import random

    import pyspark.sql.functions as F

    from yadamu___yet_another_data_migration_utility_spark.streaming.stream import (
        follow_changes,
    )

    rng = random.Random(20260821)

    def batch(rows):
        return spark.createDataFrame(
            rows, "url string, val string, op string, lsn long")

    schema = spark.createDataFrame([], "url string, val string").schema
    t = LakeTable.create(str(tmp_path / "src"), schema, key="url",
                         bucket_count=4)
    t2 = LakeTable.create(str(tmp_path / "dst"), schema, key="url",
                          bucket_count=4)
    seed_rows = [(f"u{i}", "v0", "I", i + 1) for i in range(24)]
    t.merge(spark, batch(seed_rows), batch_id=0)
    t2.merge(spark, batch(seed_rows), batch_id=0)
    cursor, lsn, bid, polls = t.current_version(), 100, 1, 0

    def consume(df, since, until):
        ch = df.select(
            "url", "val",
            F.when(F.col("_change_type") == "delete", "D")
            .otherwise("U").alias("op"),
            F.col("_lsn").alias("lsn"),
        )
        t2.merge(spark, ch, batch_id=1000 + until)

    def snap(tbl):
        return {(r["url"], r["val"]) for r in tbl.read(spark).collect()}

    def some_rows(tag):
        nonlocal lsn
        rows = {}
        for _ in range(rng.randint(1, 3)):
            u = f"u{rng.randint(0, 30)}"
            rows[u] = (u, f"{tag}{lsn}", "U", lsn)
            lsn += 1
        return list(rows.values())

    ops = ["merge", "merge", "stage_publish", "stage_abort",
           "branch_cycle", "merge_into", "poll"]
    for step in range(16):
        op = rng.choice(ops)
        if op == "merge":
            t.merge(spark, batch(some_rows("v")), batch_id=bid)
            bid += 1
        elif op == "stage_publish":
            t.stage_merge(spark, batch(some_rows("sp")), batch_id=bid)
            assert t.publish_staged(bid) is not None
            bid += 1
        elif op == "stage_abort":
            before = snap(t)
            t.stage_merge(spark, batch(some_rows("ab")), batch_id=bid)
            assert snap(t) == before  # staged rows invisible
            t.abort_staged(bid)
            assert snap(t) == before  # ...and gone for good
            bid += 1  # the id is burned, never reused
        elif op == "branch_cycle":
            name = f"b{step}"
            br = t.create_branch(name)
            for _ in range(rng.randint(1, 2)):
                br.merge(spark, batch(some_rows("br")), batch_id=bid)
                bid += 1
            t.fast_forward(name)  # drops the branch on success
        elif op == "merge_into":
            src = spark.createDataFrame(
                [(f"u{rng.randint(0, 34)}", f"mi{lsn}")],
                "url string, val string")
            t.merge_into(spark, src, update_set="all",
                         insert_values="all", batch_id=bid)
            bid += 1
            # merge_into stamps fresh LSNs above the watermark; the
            # WAL counter must stay above them (a monotonic real WAL
            # always does)
            lsn = max(lsn, t.lsn_high_watermark() + 1)
        else:
            cursor = follow_changes(spark, t, cursor, consume,
                                    poll_seconds=0.01,
                                    stop_at_version=t.current_version())
            polls += 1
            assert snap(t2) == snap(t), f"diverged at step {step}"
    # deterministic closing coverage regardless of the seed's draw:
    # one stage->publish and one branch cycle, then a final poll
    t.stage_merge(spark, batch(some_rows("sp")), batch_id=bid)
    assert t.publish_staged(bid) is not None
    br = t.create_branch("final")
    br.merge(spark, batch(some_rows("br")), batch_id=bid + 1)
    t.fast_forward("final")  # drops the branch on success
    cursor = follow_changes(spark, t, cursor, consume, poll_seconds=0.01,
                            stop_at_version=t.current_version())
    assert snap(t2) == snap(t)
    assert polls >= 1


def test_streaming_replay_multi_routes_resumes_exactly_once(spark, tmp_path):
    """One WAL stream interleaving two tables: start_replay_multi
    routes each micro-batch's slices under a shared fence id. Kill
    after the first batch (committed to both tables, checkpoint not
    yet advanced is the worst case) and restart: re-delivered slices
    fence as no-ops and the union of both tables equals the
    single-stream oracle split by the same route."""
    log =changelog_df(spark, 1500, 120, dup_mod=40)
    route = F.when(F.crc32(F.col("url")) % 2 == 0, "even").otherwise("odd")
    wal = str(tmp_path / "wal")
    write_wal_segments(log.withColumn("_table", route).select(
        "_table", "lsn", "op", "url", "warc_ts", "html", "lang"), wal, 4)
    tables = {
        n: LakeTable.create(str(tmp_path / n), PAGE_SCHEMA, key="url",
                            bucket_count=4)
        for n in ("even", "odd")
    }
    ckpt = str(tmp_path / "ckpt")

    seen: list = []

    def crash_after_one(ms):
        seen.append(ms)
        if len(seen) == 1:
            raise RuntimeError("injected crash after both table commits")

    q = start_replay_multi(spark, tables, wal, ckpt,
                           on_metrics=crash_after_one)
    try:
        q.awaitTermination()
    except Exception:
        pass  # injected
    assert len(seen) == 1 and sorted(seen[0]) == ["even", "odd"]

    # restart from the same checkpoint: batch 0 re-delivers and must
    # fence in BOTH tables; the rest applies once
    q = start_replay_multi(spark, tables, wal, ckpt, on_metrics=seen.append)
    q.awaitTermination()
    refenced = seen[1]
    assert refenced["even"].fenced and refenced["odd"].fenced

    oracle = changelog_oracle(log.drop("warc_ts")).withColumn(
        "text", extract_text(F.col("html"))).withColumn("tbl", route)
    for name, t in tables.items():
        res = compare(
            oracle.filter(F.col("tbl") == name).drop("tbl"),
            t.read(spark).drop("warc_ts"),
            columns=["url", "html", "lang", "text", "_lsn"],
        )
        assert res.ok, (name, res)
        audits = [a for a in t.audit_entries() if a["operation"] == "merge"]
        assert sorted(a["batch_id"] for a in audits) == sorted(
            set(a["batch_id"] for a in audits))  # once per table
