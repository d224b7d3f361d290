"""Dead-letter requeue: drain the quarantine side table back through
the engine with repair, re-validation, and exactly-once fencing.

Reference capability: the reject manager persists rejected rows in the
engine's own import format precisely so they can be re-imported after
repair (/root/reference/src/YADAMU/common/yadamuRejectManager.js:48-108)
-- this is that missing second half (the drain)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from yadamu___yet_another_data_migration_utility_spark.fixtures.changelog import (
    PAGE_SCHEMA,
    changelog_df,
)
from yadamu___yet_another_data_migration_utility_spark.operators.apply import (
    QUARANTINE_DIR,
    REQUEUE_BASE,
    apply_batch,
    pending_quarantine_ids,
    quarantine_df,
    requeue_quarantine,
)
from yadamu___yet_another_data_migration_utility_spark.sources.laketable import LakeTable

PLACEHOLDER = b"<p>repaired</p>"


def mk_table(root, bucket_count=8, merge_mode="mor"):
    return LakeTable.create(str(root), PAGE_SCHEMA, key="url",
                            bucket_count=bucket_count, merge_mode=merge_mode)


def fix_html(df):
    """Repair the repairable poison (null html on I/U); null-url rows
    stay broken and must be re-quarantined by the drain."""
    return df.withColumn(
        "html",
        F.when((F.col("op") != "D") & F.col("html").isNull(),
               F.lit(PLACEHOLDER)).otherwise(F.col("html")),
    )


def expected_state(log):
    """Declarative LWW oracle over the changelog with the SAME repair
    applied: null-url rows never apply; repaired html rows participate
    at their original lsn."""
    fixed = fix_html(log.filter(F.col("url").isNotNull()))
    w = fixed.groupBy("url").agg(
        F.max_by(F.struct("lsn", "op", "html"), F.col("lsn")).alias("_w")
    ).select("url", "_w.*")
    return w.filter(F.col("op") != "D").select("url", "lsn", "html")


def test_requeue_drains_repairs_and_requarantines_rest(spark, tmp_table_root):
    t = mk_table(tmp_table_root)
    log = changelog_df(spark, 1000, 100, poison_mod=20, dup_mod=0)
    m = apply_batch(t, log, batch_id=0)
    nq = m.rows_quarantined
    assert nq > 0 and pending_quarantine_ids(t) == [0]
    n_unfixable = quarantine_df(spark, t).filter(
        F.col("reason") == "null_key").count()
    assert 0 < n_unfixable < nq

    m2 = requeue_quarantine(t, spark, repair=fix_html)
    m2.check_invariant()
    assert m2.batch_id == REQUEUE_BASE + 0
    assert m2.rows_in == nq
    assert m2.rows_quarantined == n_unfixable  # still-bad rows re-tagged
    # source dir swept; the re-failed rows live under the requeue's id
    assert pending_quarantine_ids(t) == [REQUEUE_BASE + 0]
    assert quarantine_df(spark, t).count() == n_unfixable

    # final state == declarative LWW over the repaired changelog
    got = t.read(spark).select("url", "_lsn", "html")
    exp = expected_state(log).withColumnRenamed("lsn", "_lsn")
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_requeue_replay_is_fenced_noop(spark, tmp_table_root):
    t = mk_table(tmp_table_root)
    log = changelog_df(spark, 400, 40, poison_mod=15, dup_mod=0)
    apply_batch(t, log, batch_id=0)
    m1 = requeue_quarantine(t, spark, batch_ids=[0], repair=fix_html)
    v = t.current_version()
    m2 = requeue_quarantine(t, spark, batch_ids=[0], repair=fix_html)
    assert m2.fenced and m2.rows_in == 0 and m2.batch_id == m1.batch_id
    assert t.current_version() == v  # no new commit, state untouched


def test_requeue_crash_after_commit_recovers_recorded_dirs(
    spark, tmp_table_root
):
    """Kill the drain between the fenced commit and the dir sweep; a
    quarantine dir that arrives in the gap must survive the replay."""
    t = mk_table(tmp_table_root)
    log = changelog_df(spark, 400, 40, poison_mod=15, dup_mod=0)
    apply_batch(t, log, batch_id=0)

    orig = t.fs.rmtree

    def boom(path):
        if QUARANTINE_DIR in path:
            raise RuntimeError("injected crash before sweep")
        orig(path)

    t.fs.rmtree = boom
    with pytest.raises(RuntimeError, match="injected crash"):
        requeue_quarantine(t, spark, batch_ids=[0], repair=fix_html)
    t.fs.rmtree = orig
    # commit fenced, dirs NOT swept
    assert t.is_applied(REQUEUE_BASE + 0)
    assert 0 in pending_quarantine_ids(t)

    # a NEW batch quarantines in the crash window
    log2 = changelog_df(spark, 400, 40, seed=7, poison_mod=15, dup_mod=0)
    apply_batch(t, log2, batch_id=5)
    assert 5 in pending_quarantine_ids(t)
    v = t.current_version()

    # replay with the same args: sweeps ONLY the recorded dir(s)
    m = requeue_quarantine(t, spark, batch_ids=[0], repair=fix_html)
    assert m.fenced and t.current_version() == v
    ids = pending_quarantine_ids(t)
    assert 0 not in ids and 5 in ids

    # and batch 5's dead letters drain independently afterwards
    m5 = requeue_quarantine(t, spark, batch_ids=[5], repair=fix_html)
    m5.check_invariant()
    assert m5.rows_in > 0 and 5 not in pending_quarantine_ids(t)


def test_requeue_second_pass_and_edge_args(spark, tmp_table_root):
    t = mk_table(tmp_table_root)
    log = changelog_df(spark, 400, 40, poison_mod=15, dup_mod=0)
    apply_batch(t, log, batch_id=0)
    requeue_quarantine(t, spark, repair=fix_html)
    rid = REQUEUE_BASE + 0
    assert pending_quarantine_ids(t) == [rid]  # null-url survivors

    # a second pass with a stronger repair (synthesize a key) drains all
    n_left = quarantine_df(spark, t).count()
    m = requeue_quarantine(
        t, spark,
        repair={"url": "coalesce(url, concat('https://repaired/', lsn))",
                "html": f"coalesce(html, X'{PLACEHOLDER.hex()}')"},
    )
    m.check_invariant()
    assert m.rows_in == n_left and m.rows_quarantined == 0
    assert pending_quarantine_ids(t) == []
    assert quarantine_df(spark, t) is None

    # nothing to drain -> None; unknown unfenced ids -> clean error
    assert requeue_quarantine(t, spark) is None
    with pytest.raises(FileNotFoundError, match="no quarantine dirs"):
        requeue_quarantine(t, spark, batch_ids=[99])

    # a bad repair argument is rejected before anything is touched
    apply_batch(t, log, batch_id=77)  # repopulate the DLQ
    assert pending_quarantine_ids(t) == [77]
    with pytest.raises(TypeError, match="repair must be"):
        requeue_quarantine(t, spark, repair=42)
    assert pending_quarantine_ids(t) == [77]  # untouched


def full_fix(df):
    """Repair EVERYTHING (html and null urls) so a drain leaves no
    re-quarantined remainder -- keeps the fence-collision tests about
    the fence, not the repair."""
    df = fix_html(df)
    return df.withColumn(
        "url",
        F.coalesce(F.col("url"),
                   F.concat(F.lit("https://fixed/"),
                            F.col("lsn").cast("string"))))


def test_requeue_fence_collision_redrains_leftover(spark, tmp_table_root):
    """Two drain sets sharing a max() collide on the default fence id;
    the still-pending remainder must re-drain, not silently no-op."""
    t = mk_table(tmp_table_root)
    m0 = apply_batch(t, changelog_df(spark, 200, 20, poison_mod=10,
                                     dup_mod=0), batch_id=0)
    m2 = apply_batch(t, changelog_df(spark, 200, 20, seed=7,
                                     poison_mod=10, dup_mod=0)
                     .withColumn("lsn", F.col("lsn") + 1000), batch_id=2)
    assert m0.rows_quarantined > 0 and m2.rows_quarantined > 0
    assert pending_quarantine_ids(t) == [0, 2]

    # drain ONLY batch 2 -> fence REQUEUE_BASE + 2
    r = requeue_quarantine(t, spark, batch_ids=[2], repair=full_fix)
    assert r.batch_id == REQUEUE_BASE + 2 and not r.fenced
    assert pending_quarantine_ids(t) == [0]

    # request [0, 2]: same default id (R+2, applied) -- the old code
    # returned a fenced no-op and stranded batch 0 forever
    r2 = requeue_quarantine(t, spark, batch_ids=[0, 2], repair=full_fix)
    assert not r2.fenced and r2.batch_id == REQUEUE_BASE + 0
    assert r2.rows_in == m0.rows_quarantined
    assert pending_quarantine_ids(t) == []

    # and the whole thing is now replay-stable
    r3 = requeue_quarantine(t, spark, batch_ids=[0, 2], repair=full_fix)
    assert r3.fenced


def test_requeue_survives_audit_truncation(spark, tmp_table_root):
    """expire_snapshots truncating the audit row that recorded a drain
    must not strand re-quarantined/pending dead letters forever."""
    t = mk_table(tmp_table_root)
    m0 = apply_batch(t, changelog_df(spark, 300, 30, poison_mod=12,
                                     dup_mod=0), batch_id=0)
    assert m0.rows_quarantined > 0
    # crash between the fenced drain commit and the dir sweep:
    # simulate by committing the drain then re-creating the dir state
    # of the crash (the dirs were never swept)
    import shutil

    qdir = os.path.join(t.root, QUARANTINE_DIR, "batch_id=0")
    saved = qdir + ".saved"
    shutil.copytree(qdir, saved)
    r = requeue_quarantine(t, spark, repair=full_fix)
    assert not r.fenced
    shutil.copytree(saved, qdir)            # the un-swept crash state
    shutil.rmtree(saved)

    # retention truncates the audit chain past the drain's record
    for i in range(12):
        t.append(spark, changelog_df(spark, 5, 5, dup_mod=0)
                 .select("url", "warc_ts", "html")
                 .withColumn("text", F.lit(None).cast("string"))
                 .withColumn("lang", F.lit(None).cast("string")),
                 batch_id=100 + i)
    t.expire_snapshots(keep_last=2)
    from yadamu___yet_another_data_migration_utility_spark.operators.apply import (
        _recorded_drain,
    )
    assert _recorded_drain(t, REQUEUE_BASE + 0) is None  # truly truncated

    # replay: the old code swept nothing and returned fenced forever;
    # now the pending dir re-drains under the next free id (safe:
    # original lsns -> LWW double-application converges)
    r2 = requeue_quarantine(t, spark, repair=full_fix)
    assert not r2.fenced and r2.batch_id == REQUEUE_BASE + 0 + 1
    assert pending_quarantine_ids(t) == []


@pytest.mark.parametrize("small", [True, False], ids=["arrow", "spark"])
def test_quarantine_goes_through_the_table_fs(spark, tmp_path, monkeypatch, small):
    """Dead letters are written, listed, read and drained through the
    table's FS: on an object-store FS whose Spark paths map into the
    store, with a relative table root, nothing lands in the working
    directory and the requeue finds and drains the rows."""
    import pyarrow.fs as pafs

    from yadamu___yet_another_data_migration_utility_spark.operators import apply as apply_mod
    from yadamu___yet_another_data_migration_utility_spark.sources.fsio import ObjectFS

    store, cwd = tmp_path / "store", tmp_path / "cwd"
    store.mkdir()
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    if not small:
        monkeypatch.setattr(apply_mod, "ARROW_MAX_BYTES", -1)

    class StoreFS(ObjectFS):
        def spark_path(self, path):
            return os.path.join(str(store), path)

    fs = StoreFS(pafs.SubTreeFileSystem(str(store), pafs.LocalFileSystem()))
    t = LakeTable.create("t", PAGE_SCHEMA, key="url", bucket_count=4, fs=fs)
    ddl = "url string, op string, lsn long"
    df = spark.createDataFrame(spark.createDataFrame(
        [("a", "I", 1), (None, "I", 2)], ddl).toArrow())
    m = apply_batch(t, df, 0, run_extract=False)
    assert m.rows_quarantined == 1 and m.rows_merged_in == 1
    assert pending_quarantine_ids(t) == [0]
    assert quarantine_df(spark, t).count() == 1
    assert os.path.isdir(store / "t" / QUARANTINE_DIR / "batch_id=0")
    r = requeue_quarantine(t, spark, repair={"url": "coalesce(url, 'b')"},
                           run_extract=False)
    assert r is not None and r.rows_merged_in == 1 and r.rows_quarantined == 0
    assert pending_quarantine_ids(t) == [] and quarantine_df(spark, t) is None
    assert {row["url"] for row in t.read(spark).collect()} == {"a", "b"}
    assert list(cwd.iterdir()) == []
