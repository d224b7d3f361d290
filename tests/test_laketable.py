"""LakeTable format: commits, merge semantics per op-type, fencing,
schema evolution, time travel, compaction -- in BOTH merge modes
(merge-on-read deltas and copy-on-write rewrites)."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from yadamu___yet_another_data_migration_utility_spark.sources.laketable import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("val", T.StringType()),
    ]
)

MODES = ["mor", "cow"]


def _test_fs():
    """SPARK_GRAFT_TEST_FS=objectfs runs this whole suite through the
    deployable pyarrow-backed ObjectFS instead of LocalFS -- the
    object-store port's suite-level proof (see tests/test_objectfs.py
    for the targeted lifecycle cases)."""
    if os.environ.get("SPARK_GRAFT_TEST_FS") == "objectfs":
        from yadamu___yet_another_data_migration_utility_spark.sources.fsio import (
            ObjectFS,
        )

        return ObjectFS()
    return None


def mk(spark, root, bucket_count=4, merge_mode="mor"):
    return LakeTable.create(root, SCHEMA, key="url", bucket_count=bucket_count,
                            merge_mode=merge_mode, fs=_test_fs())


def batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, val string, op string, lsn long"
    )


def state(spark, t):
    return {
        (r["url"], r["val"], r["_lsn"])
        for r in t.read(spark).select("url", "val", "_lsn").collect()
    }


def test_create_and_empty_read(spark, tmp_table_root):
    t = mk(spark, tmp_table_root)
    assert t.read(spark).count() == 0
    assert t.current_version() == 1
    assert LakeTable.exists(tmp_table_root)
    assert t.merge_mode() == "mor"


@pytest.mark.parametrize("mode", MODES)
def test_insert_update_delete(spark, tmp_table_root, mode):
    t = mk(spark, tmp_table_root, merge_mode=mode)
    t.merge(spark, batch(spark, [("a", "v1", "I", 1), ("b", "v1", "I", 2)]), batch_id=0)
    assert state(spark, t) == {("a", "v1", 1), ("b", "v1", 2)}
    # update a, delete b, insert c
    t.merge(
        spark,
        batch(spark, [("a", "v2", "U", 3), ("b", None, "D", 4), ("c", "v1", "I", 5)]),
        batch_id=1,
    )
    assert state(spark, t) == {("a", "v2", 3), ("c", "v1", 5)}


@pytest.mark.parametrize("mode", MODES)
def test_lsn_monotonic_discard_stale(spark, tmp_table_root, mode):
    """An event older than the applied _lsn must lose (restart replay)."""
    t = mk(spark, tmp_table_root, merge_mode=mode)
    t.merge(spark, batch(spark, [("a", "new", "U", 10)]), batch_id=0)
    t.merge(spark, batch(spark, [("a", "old", "U", 5)]), batch_id=1)
    assert state(spark, t) == {("a", "new", 10)}


@pytest.mark.parametrize("mode", MODES)
def test_batch_fencing_exactly_once(spark, tmp_table_root, mode):
    t = mk(spark, tmp_table_root, merge_mode=mode)
    r1 = t.merge(spark, batch(spark, [("a", "v1", "I", 1)]), batch_id=7)
    v = t.current_version()
    r2 = t.merge(spark, batch(spark, [("a", "v1", "I", 1)]), batch_id=7)  # replay
    assert not r1.fenced and r2.fenced
    assert t.current_version() == v  # no new snapshot
    assert state(spark, t) == {("a", "v1", 1)}


@pytest.mark.parametrize("mode", MODES)
def test_delete_then_reinsert_across_batches(spark, tmp_table_root, mode):
    t = mk(spark, tmp_table_root, merge_mode=mode)
    t.merge(spark, batch(spark, [("a", "v1", "I", 1)]), batch_id=0)
    t.merge(spark, batch(spark, [("a", None, "D", 2)]), batch_id=1)
    t.merge(spark, batch(spark, [("a", "v3", "I", 3)]), batch_id=2)
    assert state(spark, t) == {("a", "v3", 3)}


@pytest.mark.parametrize("mode", MODES)
def test_delete_nonexistent_key_is_noop(spark, tmp_table_root, mode):
    t = mk(spark, tmp_table_root, merge_mode=mode)
    t.merge(spark, batch(spark, [("ghost", None, "D", 1)]), batch_id=0)
    assert t.read(spark).count() == 0


@pytest.mark.parametrize("mode", MODES)
def test_schema_evolution_additive(spark, tmp_table_root, mode):
    t = mk(spark, tmp_table_root, merge_mode=mode)
    t.merge(spark, batch(spark, [("a", "v1", "I", 1)]), batch_id=0)
    evolved = spark.createDataFrame(
        [("b", "v1", "text/html", "I", 2)],
        "url string, val string, content_type string, op string, lsn long",
    )
    t.merge(spark, evolved, batch_id=1)
    got = {
        (r["url"], r["val"], r["content_type"])
        for r in t.read(spark).select("url", "val", "content_type").collect()
    }
    # old row backfilled NULL, new row typed
    assert got == {("a", "v1", None), ("b", "v1", "text/html")}
    assert "content_type" in t.schema().fieldNames()


@pytest.mark.parametrize("mode", MODES)
def test_time_travel(spark, tmp_table_root, mode):
    t = mk(spark, tmp_table_root, merge_mode=mode)
    t.merge(spark, batch(spark, [("a", "v1", "I", 1)]), batch_id=0)
    v2 = t.current_version()
    t.merge(spark, batch(spark, [("a", "v2", "U", 2)]), batch_id=1)
    old = {(r["url"], r["val"]) for r in t.read(spark, version=v2).select("url", "val").collect()}
    new = {(r["url"], r["val"]) for r in t.read(spark).select("url", "val").collect()}
    assert old == {("a", "v1")} and new == {("a", "v2")}


def test_cow_bucket_pruning_untouched_files_inherited(spark, tmp_table_root):
    """A cow merge touching one key must not rewrite other buckets."""
    t = mk(spark, tmp_table_root, bucket_count=8, merge_mode="cow")
    many = [(f"u{i}", "v1", "I", i + 1) for i in range(64)]
    t.merge(spark, batch(spark, many), batch_id=0)
    m0 = t.manifest()
    t.merge(spark, batch(spark, [("u0", "v2", "U", 100)]), batch_id=1)
    m1 = t.manifest()
    changed = [b for b in m0["buckets"] if m0["buckets"][b] != m1["buckets"].get(b)]
    assert len(changed) == 1  # only u0's bucket rewritten
    assert m1["audit"]["touched_buckets"] == 1


def test_mor_merge_is_o_batch_not_o_table(spark, tmp_table_root):
    """A mor merge must write ONLY delta files for the batch's buckets:
    base files untouched, other buckets' delta lists untouched -- the
    no-write-amplification property that makes MERGE O(batch) at 100 TB."""
    t = mk(spark, tmp_table_root, bucket_count=8, merge_mode="mor")
    many = [(f"u{i}", "v1", "I", i + 1) for i in range(64)]
    t.merge(spark, batch(spark, many), batch_id=0)
    m0 = t.manifest()
    t.merge(spark, batch(spark, [("u0", "v2", "U", 100)]), batch_id=1)
    m1 = t.manifest()
    assert m1["buckets"] == m0["buckets"]  # base never rewritten
    changed = [b for b in m1["deltas"] if m1["deltas"][b] != m0["deltas"].get(b, [])]
    assert len(changed) == 1 and m1["audit"]["touched_buckets"] == 1
    # total new files this commit == files for exactly one bucket
    new_files = [f for fl in m1["deltas"].values() for f in fl
                 if f not in {x for fl0 in m0["deltas"].values() for x in fl0}]
    assert all("c%012d" % m1["version"] in f for f in new_files)
    assert state(spark, t) == {(f"u{i}", "v1", i + 1) for i in range(1, 64)} | {("u0", "v2", 100)}


def test_write_distribution_bounds_files_per_commit(spark, tmp_table_root):
    """Hash write-distribution: however many upstream tasks feed a
    commit, the file count is O(buckets), not O(tasks x buckets) --
    merge caps at ceil(cores/buckets) files per bucket (salted split
    for hot buckets), append/cow rewrites at exactly ONE file per
    bucket. At 1000 executors this is the difference between 32 and
    32,000 objects per commit."""
    t = mk(spark, tmp_table_root, bucket_count=4, merge_mode="mor")
    rows = [(f"u{i}", "v1", "I", i + 1) for i in range(400)]
    src = batch(spark, rows).repartition(16)  # many upstream tasks
    t.merge(spark, src, batch_id=0)
    m = t.manifest()
    dp = spark.sparkContext.defaultParallelism
    cap = max(1, -(-dp // 4))
    for b, files in m["deltas"].items():
        assert len(files) <= cap, (b, files)
    # append: one file per bucket, exactly
    t2 = LakeTable.create(tmp_table_root + "_a", SCHEMA, key="url",
                          bucket_count=4)
    t2.append(spark, batch(spark, rows).drop("op", "lsn").repartition(16),
              batch_id=0)
    for b, files in t2.manifest()["buckets"].items():
        assert len(files) == 1, (b, files)


def test_mor_compact_folds_deltas(spark, tmp_table_root):
    """compact() folds delta files into the base, clears the delta
    lists, drops winning tombstones physically, and preserves state."""
    t = mk(spark, tmp_table_root, bucket_count=2, merge_mode="mor")
    t.merge(spark, batch(spark, [(f"u{i}", "v1", "I", i + 1) for i in range(10)]), batch_id=0)
    t.merge(spark, batch(spark, [("u0", "v2", "U", 100), ("u1", None, "D", 101)]), batch_id=1)
    before = state(spark, t)
    assert ("u0", "v2", 100) in before and not any(u == "u1" for u, _, _ in before)
    # threshold 0 selects every bucket holding a file: how many files a
    # merge writes per bucket depends on the session's core count
    t.compact(spark, max_files_per_bucket=0)
    m = t.manifest()
    assert all(not fl for fl in m["deltas"].values())
    assert state(spark, t) == before
    # after compaction reads are plain scans (no tombstones remain)
    raw = t.read(spark)
    assert "_deleted" not in raw.columns


def test_cow_merge_refuses_outstanding_deltas(spark, tmp_table_root):
    t = mk(spark, tmp_table_root, merge_mode="mor")
    t.merge(spark, batch(spark, [("a", "v1", "I", 1)]), batch_id=0)
    with pytest.raises(RuntimeError, match="compact"):
        t.merge(spark, batch(spark, [("a", "v2", "U", 2)]), batch_id=1, mode="cow")
    # the remedy named in the error must actually unstick the table even
    # when no bucket is over the default file-count threshold
    assert t.compact(spark, all_deltas=True) is not None
    assert all(not fl for fl in t.manifest()["deltas"].values())
    t.merge(spark, batch(spark, [("a", "v2", "U", 2)]), batch_id=1, mode="cow")
    assert state(spark, t) == {("a", "v2", 2)}


def test_compact_default_leaves_thin_buckets_alone(spark, tmp_table_root):
    """Default (auto-compaction cadence) must NOT rewrite buckets under
    the file-count threshold even when they hold deltas -- that would
    turn every streaming batch into a full rewrite (cow again)."""
    t = mk(spark, tmp_table_root, merge_mode="mor")
    t.merge(spark, batch(spark, [("a", "v1", "I", 1)]), batch_id=0)
    assert t.compact(spark) is None
    assert any(fl for fl in t.manifest()["deltas"].values())


def test_record_skip_fences(spark, tmp_table_root):
    t = mk(spark, tmp_table_root)
    v = t.record_skip(7, extra_audit={"rows_batch_in": 5, "rows_quarantined": 5})
    assert v == 2 and t.is_applied(7)
    # a replay of the skipped batch fences as a no-op
    r = t.merge(spark, batch(spark, [("a", "v1", "I", 1)]), batch_id=7)
    assert r.fenced
    assert t.read(spark).count() == 0
    assert t.audit_entries()[-1]["operation"] == "skip"


@pytest.mark.parametrize("mode", MODES)
def test_append_bulk_path(spark, tmp_table_root, mode):
    t = mk(spark, tmp_table_root, merge_mode=mode)
    seed = spark.createDataFrame(
        [("a", "v1", 0), ("b", "v1", 0)], "url string, val string, _lsn long"
    )
    t.append(spark, seed, batch_id=0)
    assert t.read(spark).count() == 2
    # merge on top of the seed
    t.merge(spark, batch(spark, [("a", "v2", "U", 1)]), batch_id=1)
    assert state(spark, t) == {("a", "v2", 1), ("b", "v1", 0)}


def test_mor_seed_null_lsn_survives_resolution(spark, tmp_table_root):
    """Seed rows carry NULL _lsn; resolution must rank them lowest, not
    drop them (max_by ignores NULL ordering keys without the coalesce)."""
    t = mk(spark, tmp_table_root, merge_mode="mor")
    seed = spark.createDataFrame([("a", "seed"), ("b", "seed")], "url string, val string")
    t.append(spark, seed, batch_id=0)
    t.merge(spark, batch(spark, [("a", "v1", "U", 1)]), batch_id=1)
    got = {(r["url"], r["val"]) for r in t.read(spark).select("url", "val").collect()}
    assert got == {("a", "v1"), ("b", "seed")}


@pytest.mark.parametrize("mode", MODES)
def test_audit_and_lineage(spark, tmp_table_root, mode):
    t = mk(spark, tmp_table_root, merge_mode=mode)
    t.merge(spark, batch(spark, [("a", "v1", "I", 1), ("b", None, "D", 2)]), batch_id=0)
    audits = t.audit_entries()
    assert audits[-1]["rows_in"] == 2
    assert audits[-1]["rows_deleted"] == 1
    assert audits[-1]["min_lsn"] == 1 and audits[-1]["max_lsn"] == 2
    lin = t.lineage_entries()
    # lineage = per-bucket APPLIED rows (incl. the tombstone): 'a' and
    # the delete of 'b' were both applied by this batch
    assert sum(r["row_count"] for r in lin) == 2
    assert all(r["min_lsn"] <= r["max_lsn"] for r in lin)


def test_compact(spark, tmp_table_root):
    t = mk(spark, tmp_table_root, bucket_count=2)
    for i in range(6):
        t.append(spark, spark.createDataFrame(
            [(f"u{i}", "v", i)], "url string, val string, _lsn long"))
    m = t.manifest()
    assert any(len(fl) > 2 for fl in m["buckets"].values())
    before = t.read(spark).count()
    t.compact(spark, max_files_per_bucket=2)
    m2 = t.manifest()
    assert all(len(fl) <= 2 for fl in m2["buckets"].values())
    assert t.read(spark).count() == before


def test_commit_conflict_detected(spark, tmp_table_root):
    t1 = mk(spark, tmp_table_root)
    t2 = LakeTable.load(tmp_table_root)
    m1 = t1.manifest()
    t1.merge(spark, batch(spark, [("a", "v1", "I", 1)]), batch_id=0)
    stale = {**m1, "version": m1["version"] + 1, "parent": m1["version"]}
    with pytest.raises(RuntimeError, match="commit conflict"):
        t2._write_manifest(stale, expected_parent=m1["version"])


# ----------------------------------------------------------------------
# Incremental CDC-out read (read_changes)
# ----------------------------------------------------------------------


def _changes(spark, t, since, until=None):
    return {
        (r["url"], r["val"], r["_lsn"], r["_change_type"])
        for r in t.read_changes(spark, since, until).collect()
    }


def test_read_changes_fast_path_roundtrip(spark, tmp_table_root, tmp_path):
    """Window of pure mor merges -> O(changes) delta-file read; feeding
    the changes into a copy of the since-snapshot through the REAL merge
    reproduces the until-snapshot exactly."""
    t = mk(spark, tmp_table_root, merge_mode="mor")
    t.merge(spark, batch(spark, [("a", "v1", "I", 1), ("b", "v1", "I", 2),
                                 ("d", "v1", "I", 3)]), batch_id=0)
    v_since = t.current_version()
    t.merge(spark, batch(spark, [("a", "v2", "U", 4), ("b", None, "D", 5)]), batch_id=1)
    t.merge(spark, batch(spark, [("c", "v1", "I", 6), ("a", "v3", "U", 7)]), batch_id=2)

    ch = _changes(spark, t, v_since)
    # NET per-key winners of the window only; d is untouched -> absent
    assert ch == {("a", "v3", 7, "upsert"), ("b", None, 5, "delete"),
                  ("c", "v1", 6, "upsert")}, ch

    # round-trip: copy-at-since + changes == until
    t2 = mk(spark, str(tmp_path / "copy"), merge_mode="mor")
    t2.merge(spark, batch(spark, [("a", "v1", "I", 1), ("b", "v1", "I", 2),
                                  ("d", "v1", "I", 3)]), batch_id=0)
    ch_df = t.read_changes(spark, v_since).select(
        "url", "val",
        F.when(F.col("_change_type") == "delete", "D").otherwise("U").alias("op"),
        F.col("_lsn").alias("lsn"),
    )
    t2.merge(spark, ch_df, batch_id=1)
    assert state(spark, t2) == state(spark, t)


def test_read_changes_empty_window_and_bad_args(spark, tmp_table_root):
    t = mk(spark, tmp_table_root, merge_mode="mor")
    t.merge(spark, batch(spark, [("a", "v1", "I", 1)]), batch_id=0)
    v = t.current_version()
    assert t.read_changes(spark, v).count() == 0
    assert "_lsn" not in t.read_changes(spark, v, public=True).columns
    with pytest.raises(ValueError):
        t.read_changes(spark, v + 5, v)


def test_read_changes_snapshot_diff_after_compact(spark, tmp_table_root):
    """A compact inside the window forces the snapshot-diff path; net
    upserts/deletes must still be exact (deletes carry NULL lsn -- the
    tombstone was physically folded away)."""
    t = mk(spark, tmp_table_root, merge_mode="mor")
    t.merge(spark, batch(spark, [("a", "v1", "I", 1), ("b", "v1", "I", 2),
                                 ("d", "v1", "I", 3)]), batch_id=0)
    v_since = t.current_version()
    t.merge(spark, batch(spark, [("a", "v2", "U", 4), ("b", None, "D", 5)]), batch_id=1)
    assert t.compact(spark, all_deltas=True) is not None  # rewrites files
    t.merge(spark, batch(spark, [("c", "v1", "I", 6)]), batch_id=2)

    ch = _changes(spark, t, v_since)
    assert ch == {("a", "v2", 4, "upsert"), ("b", None, None, "delete"),
                  ("c", "v1", 6, "upsert")}, ch
    # unchanged key d is NOT re-emitted by the diff
    assert all(u != "d" for (u, *_rest) in ch)


def test_read_changes_cow_override_forces_diff(spark, tmp_table_root):
    """A per-merge mode='cow' override writes NO delta files; the fast
    path must detect it from the commit's audited mode (not the table
    property) and fall back to the snapshot diff."""
    t = mk(spark, tmp_table_root, merge_mode="mor")
    t.merge(spark, batch(spark, [("a", "v1", "I", 1)]), batch_id=0)
    t.compact(spark, all_deltas=True)  # cow requires no outstanding deltas
    v = t.current_version()
    t.merge(spark, batch(spark, [("a", "v2", "U", 2)]), batch_id=1, mode="cow")
    assert _changes(spark, t, v) == {("a", "v2", 2, "upsert")}


def test_expire_snapshots_retention(spark, tmp_table_root):
    """expire_snapshots drops expired manifests + unreferenced PARQUET
    data files (not just sidecars), keeps retained files' checksum
    sidecars intact, preserves current state, the fence ledger, and
    time travel within the retention window; re-running is a no-op."""
    import glob
    import os

    t = mk(spark, tmp_table_root, merge_mode="mor")
    for b in range(8):
        t.merge(spark, batch(spark, [(f"k{b % 3}", f"v{b}", "U", b + 1)]), batch_id=b)
    t.compact(spark, all_deltas=True)  # pre-compact files now unreferenced by HEAD
    state_before = state(spark, t)
    cur = t.current_version()
    pq = lambda: set(glob.glob(os.path.join(tmp_table_root, "data", "**", "*.parquet"),
                               recursive=True))  # noqa: E731
    before = pq()

    with pytest.raises(ValueError):
        t.expire_snapshots(keep_last=0)
    stats = t.expire_snapshots(keep_last=1)  # only the compact snapshot survives
    assert stats["expired_manifests"] > 0
    after = pq()
    # real parquet files expired, counted as primaries
    assert len(before - after) > 0
    assert stats["deleted_files"] >= len(before - after)
    # every RETAINED parquet file keeps its checksum sidecar
    for f in after:
        d, n = os.path.split(f)
        assert os.path.exists(os.path.join(d, f".{n}.crc")), f"lost crc of {f}"
    assert state(spark, t) == state_before  # current state intact
    with pytest.raises(FileNotFoundError):
        t.manifest(1)  # expired version unreadable (Iceberg contract)
    assert t.read(spark, version=cur).count() == len(state_before)  # retained travel

    # fence ledger rides the current manifest: old batch still fences
    r = t.merge(spark, batch(spark, [("k0", "vX", "U", 99)]), batch_id=0)
    assert r.fenced
    # audit chain truncates gracefully at the expiry horizon (the only
    # retained commit is the audit-less compact) and grows again from
    # fresh commits
    assert t.audit_df(spark).count() == 0
    t.merge(spark, batch(spark, [("k9", "v9", "I", 200)]), batch_id=99)
    assert t.audit_df(spark).count() == 1

    stats2 = t.expire_snapshots(keep_last=2)
    assert stats2["expired_manifests"] == 0 and stats2["deleted_files"] == 0


def test_read_changes_across_schema_evolution(spark, tmp_table_root):
    """Additive evolution INSIDE the window: pre-evolution delta files
    lack the new column; the fast path reads them with the until-schema
    so the missing column surfaces as NULL, like read() does."""
    t = mk(spark, tmp_table_root, merge_mode="mor")
    t.merge(spark, batch(spark, [("a", "v1", "I", 1)]), batch_id=0)
    v_since = t.current_version()
    t.merge(spark, batch(spark, [("b", "v1", "I", 2)]), batch_id=1)
    evolved = spark.createDataFrame(
        [("c", "v1", "text/html", "I", 3)],
        "url string, val string, content_type string, op string, lsn long",
    )
    t.merge(spark, evolved, batch_id=2)
    got = {
        (r["url"], r["val"], r["content_type"], r["_lsn"], r["_change_type"])
        for r in t.read_changes(spark, v_since).collect()
    }
    assert got == {("b", "v1", None, 2, "upsert"),
                   ("c", "v1", "text/html", 3, "upsert")}, got


def test_rebucket_changes_layout_preserves_state(spark, tmp_table_root):
    """rebucket: full rewrite under a new bucket_count -- state, fences,
    time travel and incremental reads all survive; subsequent merges
    prune under the NEW layout."""
    t = mk(spark, tmp_table_root, bucket_count=2, merge_mode="mor")
    t.merge(spark, batch(spark, [(f"u{i}", "v1", "I", i + 1) for i in range(32)]),
            batch_id=0)
    t.merge(spark, batch(spark, [("u0", "v2", "U", 100), ("u1", None, "D", 101)]),
            batch_id=1)
    before = state(spark, t)
    v_since = t.current_version()

    assert t.rebucket(spark, 2) is None  # same layout -> no-op
    with pytest.raises(ValueError):
        t.rebucket(spark, 0)
    v = t.rebucket(spark, 8)
    m = t.manifest()
    assert v == m["version"] and m["bucket_count"] == 8
    assert not any(m["deltas"].values())
    assert len(m["buckets"]) > 2  # rows spread over the wider layout
    assert state(spark, t) == before
    # fences survive: replaying an old batch is still a no-op
    assert t.merge(spark, batch(spark, [("u0", "x", "U", 1)]), batch_id=0).fenced

    # merges keep working under the new layout, bucket-pruned
    t.merge(spark, batch(spark, [("u5", "v3", "U", 200)]), batch_id=2)
    assert ("u5", "v3", 200) in state(spark, t)
    assert t.manifest()["audit"]["touched_buckets"] == 1

    # a change window CROSSING the rebucket takes the diff path, exactly
    ch = {(r["url"], r["_change_type"])
          for r in t.read_changes(spark, v_since).collect()}
    assert ch == {("u5", "upsert")}
    # time travel to the pre-rebucket snapshot reads the OLD layout
    assert t.read(spark, version=v_since).count() == len(before)


def test_compact_sort_within_buckets_clusters_files(spark, tmp_table_root):
    """sort_within_buckets: every rewritten bucket file is internally
    ordered by the sort key (tight row-group min/max -> prunable point
    lookups), and state is unchanged."""
    import os

    import pyarrow.parquet as pq

    t = mk(spark, tmp_table_root, bucket_count=2, merge_mode="mor")
    rows = [(f"u{i:03d}", "v", "I", i + 1) for i in reversed(range(40))]
    t.merge(spark, batch(spark, rows), batch_id=0)
    before = state(spark, t)
    assert t.compact(spark, all_deltas=True, sort_within_buckets=["url"]) is not None
    m = t.manifest()
    checked = 0
    for fl in m["buckets"].values():
        for rel in fl:
            urls = pq.read_table(
                os.path.join(tmp_table_root, rel), columns=["url"]
            )["url"].to_pylist()
            assert urls == sorted(urls), rel
            checked += 1
    assert checked >= 2
    assert state(spark, t) == before


@pytest.mark.parametrize("mode", MODES)
def test_type_widening_evolution(spark, tmp_table_root, mode):
    """A batch arriving with a WIDER column type (int->long,
    float->double, decimal precision growth) widens the table schema;
    old narrow files are read upcast, values exact, in both merge
    modes, through compaction and on a values-beyond-int32 batch."""
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("views", T.IntegerType()),
        T.StructField("score", T.FloatType()),
        T.StructField("price", T.DecimalType(5, 2)),
    ])
    t = LakeTable.create(tmp_table_root, schema, key="url", bucket_count=4,
                         merge_mode=mode)
    seed = spark.createDataFrame(
        [("u1", 7, 1.5, "3.25"), ("u2", 9, 2.5, "4.75")],
        "url string, views int, score float, price string",
    ).withColumn("price", F.col("price").cast("decimal(5,2)"))
    t.append(spark, seed, batch_id=0)

    wide = spark.createDataFrame(
        [("u3", 2**40, 0.25, "12345678.50", "U", 10),
         ("u2", 2**41, 0.75, "5.25", "U", 11)],
        "url string, views long, score double, price string, op string, lsn long",
    ).withColumn("price", F.col("price").cast("decimal(10,2)"))
    t.merge(spark, wide, batch_id=1)

    got_schema = {f.name: f.dataType for f in t.schema().fields}
    assert got_schema["views"] == T.LongType()
    assert got_schema["score"] == T.DoubleType()
    assert got_schema["price"] == T.DecimalType(10, 2)

    def snap():
        return {r["url"]: (r["views"], r["score"], str(r["price"]))
                for r in t.read(spark).collect()}

    expect = {
        "u1": (7, 1.5, "3.25"),                       # old narrow file, upcast
        "u2": (2**41, 0.75, "5.25"),                  # overwritten wide
        "u3": (2**40, 0.25, "12345678.50"),           # new, beyond int32/decimal(5)
    }
    assert snap() == expect
    # compaction rewrites old files under the widened schema; state holds
    t.compact(spark, all_deltas=True)
    assert snap() == expect
    # a narrower batch AFTER widening keeps the wide schema (cast up)
    t.merge(spark, spark.createDataFrame(
        [("u1", 3, 9.0, "1.00", "U", 20)],
        "url string, views int, score double, price string, op string, lsn long",
    ).withColumn("price", F.col("price").cast("decimal(10,2)")), batch_id=2)
    assert t.schema()["views"].dataType == T.LongType()
    assert snap()["u1"] == (3, 9.0, "1.00")


def test_read_changes_across_type_widening(spark, tmp_table_root):
    """Type widening INSIDE the window: pre-widening delta files carry
    the narrow type; the fast path reads them with the until-schema so
    old values surface upcast -- same contract as read()."""
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("views", T.IntegerType()),
    ])
    t = LakeTable.create(tmp_table_root, schema, key="url", bucket_count=4,
                         merge_mode="mor")
    t.merge(spark, spark.createDataFrame(
        [("a", 7, "I", 1)], "url string, views int, op string, lsn long"
    ), batch_id=0)
    v_since = t.current_version()
    t.merge(spark, spark.createDataFrame(
        [("b", 9, "I", 2)], "url string, views int, op string, lsn long"
    ), batch_id=1)
    t.merge(spark, spark.createDataFrame(
        [("c", 2**40, "I", 3)], "url string, views long, op string, lsn long"
    ), batch_id=2)
    ch = t.read_changes(spark, v_since)
    assert dict(ch.dtypes)["views"] == "bigint"
    got = {(r["url"], r["views"], r["_change_type"]) for r in ch.collect()}
    assert got == {("b", 9, "upsert"), ("c", 2**40, "upsert")}, got


@pytest.mark.parametrize("mode", MODES)
def test_drop_column_purges_and_readd_is_fresh(spark, tmp_table_root, mode):
    """drop_column: full-rewrite purge; time travel keeps the column in
    old snapshots; re-adding the name later never resurrects values."""
    t = mk(spark, tmp_table_root, merge_mode=mode)
    t.merge(spark, batch(spark, [("a", "va", "I", 1), ("b", "vb", "I", 2)]),
            batch_id=0)
    v_before = t.current_version()
    with pytest.raises(ValueError):
        t.drop_column(spark, "url")  # merge key
    with pytest.raises(ValueError):
        t.drop_column(spark, "_lsn")
    with pytest.raises(ValueError):
        t.drop_column(spark, "nope")
    v = t.drop_column(spark, "val")
    assert v == v_before + 1
    assert "val" not in t.schema().fieldNames()
    assert set(t.read(spark).columns) == {"url", "_lsn"}
    assert {r["url"] for r in t.read(spark).collect()} == {"a", "b"}
    # physical purge: no parquet file of the new snapshot carries val
    m = t.manifest()
    assert m["summary"]["operation"] == "drop_column"
    for fl in m["buckets"].values():
        for f in fl:
            cols = spark.read.parquet(
                t.fs.spark_path(f"{tmp_table_root}/{f}")).columns
            assert "val" not in cols
    # time travel: the pre-drop snapshot still has it
    old = t.read(spark, version=v_before)
    assert {(r["url"], r["val"]) for r in old.collect()} == {("a", "va"), ("b", "vb")}
    # re-add the name: fresh column, no ghosts
    t.merge(spark, batch(spark, [("c", "vc", "I", 3)]), batch_id=1)
    got = {(r["url"], r["val"]) for r in t.read(spark).collect()}
    assert got == {("a", None), ("b", None), ("c", "vc")}, got
    # incremental read across the drop takes the diff path cleanly
    ch = {(r["url"], r["_change_type"])
          for r in t.read_changes(spark, v_before).collect()}
    assert ("c", "upsert") in ch


@pytest.mark.parametrize("mode", MODES)
def test_key_type_never_widens(spark, tmp_table_root, mode):
    """A batch whose MERGE KEY arrives wider must NOT widen the key:
    bucket placement is xxhash64(key-as-its-type), so a widened key
    would hash new rows into different buckets than their old versions
    and resurrect duplicates. The wider batch key is cast down to the
    table type instead."""
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("val", T.StringType()),
    ])
    t = LakeTable.create(tmp_table_root, schema, key="id", bucket_count=4,
                         merge_mode=mode)
    t.append(spark, spark.createDataFrame([(5, "old"), (6, "keep")],
                                          "id int, val string"), batch_id=0)
    t.merge(spark, spark.createDataFrame(
        [(5, "new", "U", 10)], "id long, val string, op string, lsn long"
    ), batch_id=1)
    assert t.schema()["id"].dataType == T.IntegerType()
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert got == {5: "new", 6: "keep"}, got
    t.compact(spark, all_deltas=True)
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert got == {5: "new", 6: "keep"}, got


@pytest.mark.parametrize("mode", MODES)
def test_validate_fsck(spark, tmp_table_root, mode):
    """validate(): healthy table passes (shallow + deep); a deleted data
    file, a misplaced row and a fence-ledger hole are each reported."""
    import json
    import os

    t = mk(spark, tmp_table_root, merge_mode=mode)
    t.merge(spark, batch(spark, [(f"u{i}", "v1", "I", i + 1) for i in range(20)]),
            batch_id=0)
    t.merge(spark, batch(spark, [("u1", "v2", "U", 100), ("u2", None, "D", 101)]),
            batch_id=1)
    # an UNFENCED append (batch_id=None) is legal, not a finding
    t.append(spark, spark.createDataFrame([("extra", "v1")],
                                          "url string, val string"))
    rep = t.validate(spark, deep=True)
    assert rep["ok"] and rep["issues"] == [], rep
    assert rep["checked"]["manifests"] >= 3 and rep["checked"]["files"] > 0

    # corruption 1: delete a referenced data file (mor merges write
    # deltas only -- base buckets are empty until a compact)
    m = t.manifest()
    victim = os.path.join(
        tmp_table_root,
        next(f for which in ("buckets", "deltas")
             for fl in m.get(which, {}).values() for f in fl))
    saved = open(victim, "rb").read()
    os.remove(victim)
    rep = t.validate()
    assert not rep["ok"] and any("missing file" in i for i in rep["issues"])
    open(victim, "wb").write(saved)  # restore
    t.rebucket(spark, 8)  # fresh base layout for the planted-row check
    assert t.validate(spark, deep=True)["ok"]

    # corruption 2: plant a misplaced row in a bucket (the key-type
    # blast radius validate --deep exists to catch)
    m = t.manifest()
    b0 = next(b for b, fl in m["buckets"].items() if fl)
    dest_dir = os.path.dirname(os.path.join(tmp_table_root,
                                            m["buckets"][b0][0]))
    wrong = spark.createDataFrame([("zzz_not_in_bucket", "x", 999)],
                                  t.schema())
    wrong.coalesce(1).write.mode("append").parquet(dest_dir)
    # re-register the planted file in a fresh manifest copy via direct
    # edit (simulating an engine bug / manual surgery)
    planted = [f for f in os.listdir(dest_dir) if f.endswith(".parquet")]
    rel = [os.path.relpath(os.path.join(dest_dir, f), tmp_table_root)
           for f in planted]
    mf_path = os.path.join(tmp_table_root, "manifests",
                           f"v{m['version']:012d}.json")
    doc = json.loads(open(mf_path).read())
    doc["buckets"][b0] = sorted(set(doc["buckets"][b0]) | set(rel))
    os.chmod(mf_path, 0o644)
    open(mf_path, "w").write(json.dumps(doc))
    rep = t.validate(spark, deep=True)
    assert not rep["ok"]
    assert any("different bucket" in i for i in rep["issues"]), rep


@pytest.mark.parametrize("mode", MODES)
def test_lookup_point_reads_are_mor_exact(spark, tmp_path, mode):
    """lookup(keys) must equal read() filtered to those keys -- LWW
    resolution included -- while scanning only the hashed buckets."""
    t = mk(spark, str(tmp_path / "t"), bucket_count=8, merge_mode=mode)
    t.merge(spark, batch(spark, [
        ("u1", "a", "I", 1), ("u2", "b", "I", 2), ("u3", "c", "I", 3),
    ]), batch_id=0)
    t.merge(spark, batch(spark, [
        ("u1", "a2", "U", 4),            # update must win
        ("u3", None, "D", 5),            # delete must vanish
    ]), batch_id=1)
    got = {
        (r["url"], r["val"]) for r in
        t.lookup(spark, ["u1", "u3", "missing"]).collect()
    }
    assert got == {("u1", "a2")}
    assert [r["url"] for r in t.lookup(spark, ["u2"], public=True).collect()] == ["u2"]
    assert "_lsn" not in t.lookup(spark, ["u2"], public=True).columns
    assert t.lookup(spark, []).count() == 0
    # time travel composes: the pre-update snapshot (create=v1,
    # first merge=v2) still sees the original rows
    v2 = t.lookup(spark, ["u1", "u3"], version=2)
    assert {(r["url"], r["val"]) for r in v2.collect()} == {("u1", "a"), ("u3", "c")}


def test_cli_lookup_verb(spark, tmp_path, capsys):
    import json

    from yadamu___yet_another_data_migration_utility_spark.cli import main

    t = mk(spark, str(tmp_path / "t"), bucket_count=8)
    t.merge(spark, batch(spark, [
        ("u1", "a", "I", 1), ("u2", "b", "I", 2),
    ]), batch_id=0)
    rc = main(["lookup", "--table-root", str(tmp_path / "t"),
               "--key", "u1", "--key", "missing", "--cpus", "4"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["requested"] == 2 and out["found"] == 1
    assert out["rows"][0]["url"] == "u1" and out["rows"][0]["val"] == "a"


# ---------------------------------------------------------------------------
# named refs (tags) + timestamp time travel
# ---------------------------------------------------------------------------


def test_tag_names_resolve_everywhere_and_pin_expire(spark, tmp_table_root):
    """A tag is a durable named snapshot pointer: read/lookup/manifest
    accept the name wherever a version number is accepted, the ref
    survives later commits (every commit path spreads the parent
    manifest), and expire_snapshots refuses to cross the oldest tagged
    version until the tag is dropped."""
    t = mk(spark, tmp_table_root)
    t.merge(spark, batch(spark, [("a", "v1", "I", 1), ("b", "v1", "I", 2)]),
            batch_id=0)
    v_snap = t.current_version()
    t.tag("audit-2020")
    assert t.refs() == {"audit-2020": v_snap}

    # history keeps moving; the ref rides every commit
    t.merge(spark, batch(spark, [("a", "v2", "U", 3)]), batch_id=1)
    t.compact(spark, all_deltas=True)
    assert t.refs() == {"audit-2020": v_snap}
    assert {r["val"] for r in t.read(spark, version="audit-2020")
            .filter(F.col("url") == "a").collect()} == {"v1"}
    assert t.manifest("audit-2020")["version"] == v_snap
    with pytest.raises(ValueError, match="unknown ref"):
        t.read(spark, version="nope")

    # churn enough commits that keep_last=2 would expire the tag target
    for i in range(4):
        t.merge(spark, batch(spark, [("c", f"v{i}", "U", 10 + i)]),
                batch_id=10 + i)
    rep = t.expire_snapshots(keep_last=2)
    assert t.manifest("audit-2020")["version"] == v_snap  # still readable
    assert {r["val"] for r in t.read(spark, version="audit-2020")
            .filter(F.col("url") == "a").collect()} == {"v1"}

    # untag releases the pin; the next expire sweeps the old history
    t.untag("audit-2020")
    assert t.refs() == {}
    t.expire_snapshots(keep_last=2)
    with pytest.raises(FileNotFoundError):
        t.manifest(v_snap)
    # invalid names rejected (numbers would shadow version lookups)
    with pytest.raises(ValueError, match="bad tag name"):
        t.tag("123")
    with pytest.raises(ValueError, match="unknown ref"):
        t.untag("never-was")


def test_version_as_of_timestamp(spark, tmp_table_root):
    """TIMESTAMP AS OF: the newest commit at or before ts; pre-history
    timestamps raise (Iceberg contract). committed_at is second-
    resolution UTC, so probe with explicit datetimes around it."""
    import datetime as dt

    t = mk(spark, tmp_table_root)
    t.merge(spark, batch(spark, [("a", "v1", "I", 1)]), batch_id=0)
    v1 = t.current_version()
    c1 = dt.datetime.strptime(t.manifest()["committed_at"],
                              "%Y-%m-%dT%H:%M:%SZ")
    assert t.version_as_of(c1) == v1
    assert t.version_as_of(c1 + dt.timedelta(hours=1)) == v1
    # an aware timestamp converts to UTC before the compare
    aware = (c1.replace(tzinfo=dt.timezone.utc)
             .astimezone(dt.timezone(dt.timedelta(hours=5, minutes=30))))
    assert t.version_as_of(aware) == v1
    with pytest.raises(ValueError, match="no retained snapshot"):
        t.version_as_of(c1 - dt.timedelta(hours=1))


def test_read_changes_tag_commit_keeps_fast_path(spark, tmp_table_root):
    """tag/untag are data no-ops, so a window containing one stays on
    the O(changes) delta fast path -- observable because a fast-path
    delete carries its tombstone lsn (the diff path folds it to NULL)."""
    t = mk(spark, tmp_table_root, merge_mode="mor")
    t.merge(spark, batch(spark, [("a", "v1", "I", 1), ("b", "v1", "I", 2)]),
            batch_id=0)
    v_since = t.current_version()
    t.tag("mid-window")
    t.merge(spark, batch(spark, [("b", None, "D", 3)]), batch_id=1)
    t.untag("mid-window")
    ch = _changes(spark, t, v_since)
    assert ch == {("b", None, 3, "delete")}, ch  # lsn present => fast path


def test_update_stamp_survives_expire_truncation(spark, tmp_table_root):
    """The fresh-LSN stamp comes from the manifest-carried lsn_high
    watermark, not the expirable audit chain: after expire_snapshots
    wipes the audit history, an update_where must still stamp ABOVE
    every live row's lsn (a stamp below them would make the correction
    invisible to the change stream and revertible by stale events)."""
    t = mk(spark, tmp_table_root, merge_mode="mor")
    t.merge(spark, batch(spark, [("a", "v1", "I", 41), ("b", "v1", "I", 42)]),
            batch_id=0)
    t.compact(spark, all_deltas=True)
    t.expire_snapshots(keep_last=1)
    assert t.audit_entries() == []  # chain truncated
    assert t.lsn_high_watermark() == 42  # manifest-carried

    v, n = t.update_where(spark, {"val": "'fixed'"}, predicate="url = 'a'")
    assert n == 1
    got = {r["url"]: (r["val"], r["_lsn"]) for r in t.read(spark).collect()}
    assert got["a"] == ("fixed", 43)  # stamped ABOVE the live lsns
    assert got["b"] == ("v1", 42)
    assert t.lsn_high_watermark() == 43  # stamp recorded for the next one


def test_lsn_tie_resolves_identically_on_source_and_replica(spark, tmp_path):
    """A synthetic stamp can collide with the next upstream WAL lsn.
    The (lsn, content-rank) total order makes the tie resolve the SAME
    way in the source read, the change stream, and a mirror replica --
    arbitrary winner, but convergent."""
    from yadamu___yet_another_data_migration_utility_spark.streaming.stream import (
        mirror,
    )

    t = mk(spark, str(tmp_path / "src"), merge_mode="mor")
    t.merge(spark, batch(spark, [("k", "v1", "I", 5), ("x", "v1", "I", 4)]),
            batch_id=0)
    v, _ = t.update_where(spark, {"val": "concat(val, '+fix')"},
                          predicate="url = 'k'")
    assert {r["_lsn"] for r in t.read(spark).filter(F.col("url") == "k")
            .collect()} == {6}
    rep_root = str(tmp_path / "rep")
    mirror(spark, t, rep_root, poll_seconds=0.01)

    # upstream WAL allocates "strictly above what it delivered": lsn 6
    # -- EXACTLY the stamp. The tie must converge, whoever wins.
    t.merge(spark, batch(spark, [("k", "v2", "U", 6)]), batch_id=1)
    rep, _ = mirror(spark, t, rep_root, poll_seconds=0.01)
    src = {(r["url"], r["val"]) for r in t.read(spark, public=True).collect()}
    dst = {(r["url"], r["val"]) for r in rep.read(spark, public=True).collect()}
    assert src == dst, (src, dst)
    assert ("k", "v1+fix") in src or ("k", "v2") in src
    # and the source itself is deterministic: re-reading gives the same
    for _ in range(2):
        again = {(r["url"], r["val"])
                 for r in t.read(spark, public=True).collect()}
        assert again == src


def test_metadata_tables_snapshots_and_files(spark, tmp_path):
    """Iceberg-style snapshots/files metadata tables: the snapshot walk
    mirrors the audit chain and the file inventory matches the manifest
    (kind, bucket, real sizes, zone-map stats riding along)."""
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("val", T.StringType()),
    ])
    t = LakeTable.create(str(tmp_path / "t"), schema, key="url",
                         bucket_count=2, merge_mode="mor")
    t.append(spark, spark.createDataFrame(
        [(f"u{i}", f"v{i}") for i in range(6)], "url string, val string"))
    t.merge(spark, spark.createDataFrame(
        [("u0", "w0", "U", 10), ("u1", "w1", "U", 11)],
        "url string, val string, op string, lsn long"), batch_id=1)

    snaps = t.snapshot_entries()
    assert [s["version"] for s in snaps] == [1, 2, 3]
    assert [s["operation"] for s in snaps] == ["create", "append", "merge"]
    assert snaps[0]["data_files"] == 0 and snaps[2]["delta_files"] > 0
    # DataFrame twin agrees row-for-row
    sdf = t.snapshots_df(spark)
    assert sdf.count() == 3
    assert {r["version"]: r["operation"] for r in sdf.collect()} == {
        s["version"]: s["operation"] for s in snaps}

    files = t.file_entries()
    kinds = {f["kind"] for f in files}
    assert kinds == {"data", "delta"}
    for f in files:
        assert 0 <= f["bucket"] < 2
        assert f["size_bytes"] and f["size_bytes"] > 0
        assert os.path.exists(os.path.join(t.root, f["path"]))
        json.loads(f["stats"])  # always valid JSON, possibly {}
    # data files carry the key's string zone bounds from the footers
    data_stats = [json.loads(f["stats"]) for f in files if f["kind"] == "data"]
    assert any("url" in s for s in data_stats)
    # a pinned older snapshot lists only its own (pre-merge) inventory
    old = t.file_entries(version=2)
    assert {f["kind"] for f in old} == {"data"}
    assert t.files_df(spark, version=2).count() == len(old)


def test_lookup_with_nan_key_skips_envelope(spark, tmp_path):
    """A NaN merge-key value breaks both python min/max and Spark's
    range filter (NaN orders above every double): the lookup envelope
    must stand down rather than drop rows."""
    import math

    schema = T.StructType([
        T.StructField("k", T.DoubleType()),
        T.StructField("val", T.StringType()),
    ])
    t = LakeTable.create(str(tmp_path / "t"), schema, key="k", bucket_count=2)
    t.append(spark, spark.createDataFrame(
        [(1.0, "one"), (float("nan"), "nan-row")], "k double, val string"))
    for keys in ([1.0, float("nan")], [float("nan"), 1.0]):
        got = {r["val"] for r in t.lookup(spark, keys).collect()}
        assert got == {"one", "nan-row"}, (keys, got)
    # finite keys still use the envelope and still find their rows
    assert {r["val"] for r in t.lookup(spark, [1.0]).collect()} == {"one"}


def test_map_payload_column_resolves_fine(spark, tmp_path):
    """xxhash64 rejects MapType; the tie rank must leave map columns
    out of the content hash instead of breaking every read of a table
    whose schema contains one."""
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
    ])
    t = LakeTable.create(str(tmp_path / "t"), schema, key="url",
                         bucket_count=2, merge_mode="mor")
    df = spark.createDataFrame(
        [("a", {"x": "1"}, "I", 1), ("b", {"y": "2"}, "I", 2)],
        "url string, attrs map<string,string>, op string, lsn long")
    t.merge(spark, df, batch_id=0)
    t.merge(spark, spark.createDataFrame(
        [("a", {"x": "9"}, "U", 3)],
        "url string, attrs map<string,string>, op string, lsn long"),
        batch_id=1)
    got = {r["url"]: dict(r["attrs"]) for r in t.read(spark).collect()}
    assert got == {"a": {"x": "9"}, "b": {"y": "2"}}
    # change stream fast path over the map schema works too
    ch = t.read_changes(spark, 2)
    assert {r["url"] for r in ch.collect()} == {"a"}
    # cow resolution as well
    t2 = LakeTable.create(str(tmp_path / "t2"), schema, key="url",
                          bucket_count=2, merge_mode="cow")
    t2.merge(spark, df, batch_id=0)
    assert t2.read(spark).count() == 2


# ======================================================================
# Maintenance advisor (plan_maintenance / maintain)
# ======================================================================


def test_plan_maintenance_flags_and_maintain_applies(spark, tmp_table_root):
    """Fragment a table with many small merges, let history pile up,
    then: the advisor flags fragmentation + retention, maintain(apply)
    compacts the flagged buckets and expires history, the resolved
    state is UNCHANGED, and a re-plan under the same thresholds finds
    nothing actionable left."""
    t = mk(spark, tmp_table_root, bucket_count=2, merge_mode="mor")
    for i in range(6):
        t.merge(spark, batch(spark, [(f"u{j}", f"v{i}", "I", i * 10 + j)
                                     for j in range(4)]), batch_id=i)
    before = state(spark, t)

    plan = t.plan_maintenance(max_files_per_bucket=3, keep_last=3)
    reasons = {a["reason"] for a in plan["actions"]}
    assert "fragmentation" in reasons, plan
    assert "retention" in reasons, plan
    assert plan["n_manifests"] > 3

    done = t.maintain(spark, apply=True, max_files_per_bucket=3, keep_last=3)
    compacts = [a for a in done["actions"] if a["action"] == "compact"]
    assert compacts and all(a.get("applied_version") for a in compacts)
    exp = next(a for a in done["actions"] if a["action"] == "expire")
    assert exp["result"]["expired_manifests"] > 0

    assert state(spark, t) == before  # semantics-preserving
    again = t.plan_maintenance(max_files_per_bucket=3, keep_last=3)
    assert [a for a in again["actions"] if not a.get("advisory")] == [], again


def test_plan_maintenance_delta_backlog_and_skew(spark, tmp_table_root):
    """A bucket whose MoR deltas outweigh its base is flagged as delta
    backlog even when its file count is under the fragmentation bar;
    a table where one bucket dwarfs the median gets the advisory
    rebucket finding."""
    t = mk(spark, tmp_table_root, bucket_count=2, merge_mode="mor")
    t.append(spark, spark.createDataFrame(
        [(f"u{j}", "seed") for j in range(4)], "url string, val string"))
    # one merge -> delta bytes comparable to the tiny base
    t.merge(spark, batch(spark, [(f"u{j}", "x" * 2000, "U", 100 + j)
                                 for j in range(4)]), batch_id=0)
    plan = t.plan_maintenance(max_files_per_bucket=10, keep_last=10)
    assert any(a["reason"] == "delta_backlog" for a in plan["actions"]), plan

    # skew: all keys identical -> one bucket holds everything. The
    # payload must be INCOMPRESSIBLE (md5 chains) -- with hash write
    # distribution each bucket is one file, so a repetitive payload
    # would dictionary-encode below the parquet footer floor and the
    # byte-ratio detector (correctly) would not fire.
    import hashlib

    def blob(j):
        return "".join(
            hashlib.md5(f"{j}:{k}".encode()).hexdigest() for k in range(150)
        )

    t2 = LakeTable.create(tmp_table_root + "_skew", SCHEMA, key="url",
                          bucket_count=8, merge_mode="mor")
    t2.append(spark, spark.createDataFrame(
        [("hot", blob(j)) for j in range(50)]
        + [(f"u{j}", "y") for j in range(20)],
        "url string, val string"))
    plan2 = t2.plan_maintenance()
    assert any(a["action"] == "rebucket" and a.get("advisory")
               for a in plan2["actions"]), plan2


def test_compact_explicit_bucket_targeting(spark, tmp_table_root):
    """compact(buckets=[...]) folds exactly the requested buckets'
    deltas and leaves the others' in place."""
    t = mk(spark, tmp_table_root, bucket_count=4, merge_mode="mor")
    t.merge(spark, batch(spark, [(f"u{j}", "v", "I", j) for j in range(16)]),
            batch_id=0)
    m = t.manifest()
    delta_buckets = sorted(int(b) for b, fl in m.get("deltas", {}).items() if fl)
    assert len(delta_buckets) >= 2
    target = delta_buckets[:1]
    before = state(spark, t)
    v = t.compact(spark, buckets=target)
    assert v is not None
    m2 = t.manifest()
    assert not m2["deltas"].get(str(target[0]))
    remaining = [b for b in delta_buckets[1:] if m2["deltas"].get(str(b))]
    assert remaining == delta_buckets[1:]
    assert state(spark, t) == before


def test_analyze_table_stats(spark, tmp_table_root):
    """analyze(): one-job HLL NDV + exact null counts per column, stored
    as a metadata-only commit that read_changes treats as a no-op."""
    t = mk(spark, tmp_table_root, bucket_count=4)
    rows = [(f"u{i}", f"v{i % 10}" if i % 5 else None, "I", i)
            for i in range(200)]
    t.merge(spark, batch(spark, rows), batch_id=0)
    stats = t.analyze(spark)
    assert stats["n_rows"] == 200
    cs = stats["columns"]
    assert cs["url"]["n_nulls"] == 0
    assert cs["val"]["n_nulls"] == 40  # every i % 5 == 0
    # HLL m=64 -> ~13% relative error; generous test bounds
    assert abs(cs["url"]["ndv"] - 200) <= 60
    assert abs(cs["val"]["ndv"] - 10) <= 3

    m = t.manifest()
    assert m["table_stats"]["analyzed_version"] == stats["analyzed_version"]
    assert (m.get("summary") or {}).get("operation") == "analyze"

    # the stats commit is a data no-op: a window CROSSING it (pre is
    # captured before analyze below) stays on the O(changes) delta
    # fast path -- observable because a fast-path delete carries its
    # tombstone lsn (the diff path folds it to NULL)
    pre = stats["analyzed_version"]
    assert pre < t.current_version()  # the analyze commit is inside the window
    t.merge(spark, batch(spark, [("u0", None, "D", 999)]), batch_id=1)
    ch = {(r["url"], r["_lsn"], r["_change_type"])
          for r in t.read_changes(spark, pre).collect()}
    assert ch == {("u0", 999, "delete")}, ch  # lsn present => fast path

    sub = t.analyze(spark, columns=["val"])
    assert list(sub["columns"]) == ["val"]
    with pytest.raises(ValueError):
        t.analyze(spark, columns=["nope"])


def test_analyze_all_null_and_binary_columns(spark, tmp_table_root):
    """Degenerate columns: all-NULL gives ndv=0 with exact null count;
    binary payloads hash via base64 (no lossy string cast)."""
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("blob", T.BinaryType()),
        T.StructField("empty", T.StringType()),
    ])
    t = LakeTable.create(tmp_table_root, schema, key="url", bucket_count=2)
    df = spark.createDataFrame(
        [(f"u{i}", bytes([i % 7]) * 3, None) for i in range(50)], schema
    )
    t.append(spark, df)
    stats = t.analyze(spark)
    assert stats["columns"]["empty"] == {"ndv": 0, "n_nulls": 50}
    assert abs(stats["columns"]["blob"]["ndv"] - 7) <= 2
    assert stats["columns"]["url"]["n_nulls"] == 0


# ======================================================================
# overwrite_where (REPLACE WHERE backfill)
# ======================================================================


def _ow_seed(spark, root, mode="mor"):
    t = LakeTable.create(root, SCHEMA, key="url", bucket_count=4,
                         merge_mode=mode)
    t.merge(spark, batch(spark, [(f"u{i}", f"old{i % 3}", "I", i)
                                 for i in range(12)]), batch_id=0)
    if mode == "cow":
        assert not any(t.manifest().get("deltas", {}).values())
    return t


@pytest.mark.parametrize("mode", MODES)
def test_overwrite_where_replaces_slice_atomically(spark, tmp_table_root, mode):
    """One commit deletes the matching slice and inserts the
    replacement; the final state is declaratively old-where-not-matched
    + df -- in BOTH merge modes (mor: replacements as stamped deltas;
    cow: insert-touched buckets rewritten whole, table stays
    delta-free so the next cow merge is not blocked)."""
    t = _ow_seed(spark, tmp_table_root, mode)
    v0 = t.current_version()
    repl = spark.createDataFrame(
        [("u100", "old0"), ("u101", "old0")], "url string, val string")
    v, n_del, n_ins = t.overwrite_where(spark, repl, predicate="val = 'old0'")
    assert v == v0 + 1 and n_ins == 2
    assert n_del == 4  # i % 3 == 0 for i in 0..11
    got = {(r["url"], r["val"]) for r in t.read(spark).collect()}
    expect = {(f"u{i}", f"old{i % 3}") for i in range(12) if i % 3 != 0}
    expect |= {("u100", "old0"), ("u101", "old0")}
    assert got == expect
    a = t.manifest()["audit"]
    assert a["operation"] == "overwrite"
    assert a["rows_deleted"] == 4 and a["rows_applied"] == 2
    if mode == "cow":
        # the table stayed delta-free: the next cow merge must work
        assert not any(t.manifest().get("deltas", {}).values())
    t.merge(spark, batch(spark, [("after", "x", "I", 500)]), batch_id=9)
    assert t.read(spark).filter(F.col("url") == "after").count() == 1


@pytest.mark.parametrize("mode", MODES)
def test_overwrite_where_key_outside_slice_converges_lww(
        spark, tmp_table_root, mode):
    """A key whose current row does NOT match the predicate still
    converges to the replacement row (the fresh stamp wins LWW) instead
    of duplicating -- on cow via the whole-bucket fold, on mor via the
    delta resolution."""
    t = _ow_seed(spark, tmp_table_root, mode)
    # u1 currently has val='old1' (not matching); replace the old0
    # slice with a row for u1 that DOES satisfy the predicate
    repl = spark.createDataFrame([("u1", "old0")], "url string, val string")
    v, n_del, n_ins = t.overwrite_where(spark, repl, predicate="val = 'old0'")
    assert v is not None and n_ins == 1
    rows = t.read(spark).filter(F.col("url") == "u1").collect()
    assert len(rows) == 1 and rows[0]["val"] == "old0"
    # compaction folds the replacement delta without changing state
    before = {(r["url"], r["val"]) for r in t.read(spark).collect()}
    t.compact(spark, all_deltas=True)
    assert {(r["url"], r["val"]) for r in t.read(spark).collect()} == before


def test_overwrite_where_validates_replacement_rows(spark, tmp_table_root):
    """A replacement row violating the predicate aborts the commit
    cleanly (REPLACE WHERE contract)."""
    t = _ow_seed(spark, tmp_table_root)
    v0 = t.current_version()
    bad = spark.createDataFrame([("u200", "oldX")], "url string, val string")
    with pytest.raises(ValueError, match="do not satisfy"):
        t.overwrite_where(spark, bad, predicate="val = 'old0'")
    assert t.current_version() == v0
    assert t.validate()["ok"]


def test_overwrite_where_fence_and_insert_only(spark, tmp_table_root):
    """batch_id makes the backfill exactly-once; a slice with no
    current matches still commits the pure insert."""
    t = _ow_seed(spark, tmp_table_root)
    base_before = dict(t.manifest()["buckets"])
    repl = spark.createDataFrame([("zz1", "fresh")], "url string, val string")
    v, n_del, n_ins = t.overwrite_where(
        spark, repl, predicate="val = 'fresh'", batch_id=77)
    assert v is not None and n_del == 0 and n_ins == 1
    # no real match -> the speculative rewrite is dropped and every old
    # base file is carried by reference, not rewritten
    m = t.manifest()
    assert m["summary"]["files_rewritten"] == 0
    assert m["buckets"] == base_before
    again = t.overwrite_where(
        spark, repl, predicate="val = 'fresh'", batch_id=77)
    assert again == (None, 0, 0)  # fenced replay is a no-op
    assert t.read(spark).filter(F.col("url") == "zz1").count() == 1


def test_overwrite_where_read_changes_net(spark, tmp_table_root):
    """A change window crossing an overwrite reports the net effect:
    deletes for removed keys, upserts for replacements."""
    t = _ow_seed(spark, tmp_table_root)
    pre = t.current_version()
    repl = spark.createDataFrame([("u0", "new0")], "url string, val string")
    t.overwrite_where(spark, repl,
                      predicate="url in ('u0', 'u3', 'u6', 'u9')")
    ch = t.read_changes(spark, pre)
    got = {(r["url"], r["_change_type"]) for r in ch.collect()}
    # u0/u3/u6/u9 matched; u0 replaced (upsert), the rest deleted
    assert got == {("u0", "upsert"), ("u3", "delete"),
                   ("u6", "delete"), ("u9", "delete")}


def test_plan_maintenance_retention_respects_tag_floor(spark, tmp_table_root):
    """A pinned tag extends the expire horizon, so the advisor must not
    report retention work expire_snapshots cannot perform -- otherwise
    maintain --apply never converges."""
    t = mk(spark, tmp_table_root, bucket_count=2, merge_mode="mor")
    for i in range(6):
        t.merge(spark, batch(spark, [(f"u{i}", "v", "I", i)]), batch_id=i)
    t.tag("pin", version=1)
    plan = t.plan_maintenance(max_files_per_bucket=100, keep_last=3)
    assert not any(a["reason"] == "retention" for a in plan["actions"]), plan
    t.untag("pin")
    plan2 = t.plan_maintenance(max_files_per_bucket=100, keep_last=3)
    exp = [a for a in plan2["actions"] if a["reason"] == "retention"]
    assert exp and "horizon" in exp[0]["detail"], plan2


# ======================================================================
# rename_column / register
# ======================================================================


def test_rename_column_payload(spark, tmp_table_root):
    """Full-rewrite rename: state preserved under the new name, old
    snapshots keep the old name, later merges use the new schema."""
    t = mk(spark, tmp_table_root)
    t.merge(spark, batch(spark, [("a", "v1", "I", 1), ("b", "v2", "I", 2)]),
            batch_id=0)
    v_old = t.current_version()
    v = t.rename_column(spark, "val", "payload")
    assert v == v_old + 1
    got = {(r["url"], r["payload"]) for r in t.read(spark).collect()}
    assert got == {("a", "v1"), ("b", "v2")}
    # time travel reads the OLD name from the old snapshot's files
    old = t.read(spark, version=v_old)
    assert "val" in old.columns and "payload" not in old.columns
    # a merge in the new schema works
    nb = spark.createDataFrame([("c", "v3", "I", 3)],
                               "url string, payload string, op string, lsn long")
    t.merge(spark, nb, batch_id=1)
    assert t.read(spark).filter(F.col("payload") == "v3").count() == 1
    # errors
    with pytest.raises(ValueError, match="no column"):
        t.rename_column(spark, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column(spark, "url", "payload")
    with pytest.raises(ValueError, match="engine columns"):
        t.rename_column(spark, "_lsn", "lsn2")


def test_rename_merge_key_keeps_placement(spark, tmp_table_root):
    """Renaming the MERGE KEY: same values hash to the same buckets, the
    manifest key follows, merges keyed on the new name hit the right
    rows, and the deep fsck's bucket-placement invariant holds."""
    t = mk(spark, tmp_table_root, bucket_count=4)
    t.merge(spark, batch(spark, [(f"u{i}", "v1", "I", i) for i in range(16)]),
            batch_id=0)
    t.compact(spark, all_deltas=True)
    dist_before = {b: len(fl) for b, fl in t.manifest()["buckets"].items() if fl}
    t.rename_column(spark, "url", "page_url")
    m = t.manifest()
    assert m["key"] == "page_url"
    dist_after = {b: len(fl) for b, fl in m["buckets"].items() if fl}
    assert set(dist_before) == set(dist_after)  # same buckets occupied
    upd = spark.createDataFrame([("u3", "v2", "U", 100)],
                                "page_url string, val string, op string, lsn long")
    t.merge(spark, upd, batch_id=1)
    rows = t.read(spark).filter(F.col("page_url") == "u3").collect()
    assert len(rows) == 1 and rows[0]["val"] == "v2"
    fsck = t.validate(spark, deep=True)
    assert fsck["ok"], fsck


def test_register_temp_view(spark, tmp_table_root):
    """register() exposes the resolved snapshot to Spark SQL; a pinned
    version view stays at its snapshot."""
    t = mk(spark, tmp_table_root)
    t.merge(spark, batch(spark, [("a", "v1", "I", 1)]), batch_id=0)
    v1 = t.current_version()
    t.register(spark, "pages_now")
    assert spark.sql("SELECT count(*) n FROM pages_now").collect()[0]["n"] == 1
    t.merge(spark, batch(spark, [("b", "v2", "I", 2)]), batch_id=1)
    t.register(spark, "pages_pinned", version=v1)
    t.register(spark, "pages_now")  # refresh to head
    assert spark.sql("SELECT count(*) n FROM pages_now").collect()[0]["n"] == 2
    assert spark.sql("SELECT count(*) n FROM pages_pinned").collect()[0]["n"] == 1
    assert "_lsn" not in spark.table("pages_now").columns


def test_register_meta_sql_views(spark, tmp_table_root):
    """register_meta exposes the metadata tables to plain SQL -- the
    Iceberg snapshots/files/history/refs surface. Views must agree with
    each other (joinable) and with the engine's own accessors."""
    t = mk(spark, tmp_table_root)
    t.merge(spark, batch(spark, [("a", "v1", "I", 1), ("b", "v1", "I", 2)]),
            batch_id=0)
    t.merge(spark, batch(spark, [("a", "v2", "U", 3), ("b", None, "D", 4)]),
            batch_id=1)
    t.compact(spark, all_deltas=True)
    t.tag("rc1", version=2)
    views = t.register_meta(spark, "m")
    assert views == ["m_files", "m_history", "m_lineage", "m_refs",
                     "m_snapshots"]

    # snapshots: one row per retained manifest, newest == head
    snaps = spark.sql(
        "SELECT version, operation FROM m_snapshots ORDER BY version"
    ).collect()
    assert [r["version"] for r in snaps] == list(
        range(1, t.current_version() + 1))
    # head is the tag commit (a metadata-only commit like any other);
    # the compact sits just below it
    assert snaps[-1]["operation"] == "tag"
    assert snaps[-2]["operation"] == "compact"

    # history (audit/metrics): per-batch persisted-row counts
    hist = {r["batch_id"]: r for r in spark.sql(
        "SELECT * FROM m_history WHERE operation = 'merge'").collect()}
    assert hist[0]["rows_in"] == 2 and hist[0]["rows_deleted"] == 0
    assert hist[1]["rows_in"] == 2 and hist[1]["rows_deleted"] == 1
    assert (hist[1]["min_lsn"], hist[1]["max_lsn"]) == (3, 4)

    # files joins snapshots' head inventory; sizes are real
    f = spark.sql("""
        SELECT f.kind, count(*) AS n, min(f.size_bytes) AS smin
        FROM m_files f JOIN m_snapshots s ON f.version = s.version
        GROUP BY f.kind
    """).collect()
    byk = {r["kind"]: r for r in f}
    assert byk["data"]["n"] >= 1 and byk["data"]["smin"] > 0
    assert "delta" not in byk  # compact folded every delta

    # lineage carries per-bucket LSN ranges consistent with history
    ln = spark.sql("""
        SELECT batch_id, sum(row_count) AS rows, min(min_lsn) AS lo,
               max(max_lsn) AS hi
        FROM m_lineage GROUP BY batch_id
    """).collect()
    for r in ln:
        h = hist[r["batch_id"]]
        assert r["rows"] == h["rows_in"]
        assert r["lo"] >= h["min_lsn"] and r["hi"] <= h["max_lsn"]

    # refs: the tag, queryable
    refs = spark.sql("SELECT name, version FROM m_refs").collect()
    assert [(r["name"], r["version"]) for r in refs] == [("rc1", 2)]

    # the views are a SNAPSHOT: a later commit appears after re-register
    t.merge(spark, batch(spark, [("c", "v1", "I", 9)]), batch_id=2)
    assert spark.sql(
        "SELECT max(version) v FROM m_snapshots").collect()[0]["v"] \
        == t.current_version() - 1
    t.register_meta(spark, "m")
    assert spark.sql(
        "SELECT max(version) v FROM m_snapshots").collect()[0]["v"] \
        == t.current_version()


@pytest.mark.parametrize("mode", MODES)
def test_row_count_metadata_fast_path(spark, tmp_table_root, mode):
    """count(*) from footers alone: exact whenever no deltas are
    pending (append-only, cow always, mor after compact), None while
    mor deltas could drop/overwrite rows on resolution."""
    t = mk(spark, tmp_table_root, merge_mode=mode)
    assert t.row_count() == 0  # delta-free empty table

    t.append(spark, spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(25)], SCHEMA))
    assert t.row_count() == 25 == t.read(spark).count()

    # an update + a delete: cow resolves in the rewrite (still exact);
    # mor leaves delta files (fast path must refuse)
    t.merge(spark, batch(
        spark, [("k1", "x", "U", 100), ("k2", None, "D", 101)]),
        batch_id=1)
    if mode == "mor":
        assert t.row_count() is None
        t.compact(spark, all_deltas=True)
    assert t.row_count() == 24 == t.read(spark).count()

    # time travel: the pinned append-only snapshot still counts exactly
    assert t.row_count(version=2) == 25


def test_row_count_is_metadata_only_after_commit(spark, tmp_table_root):
    """file_rows (per-file record_count recorded at commit time) must
    answer row_count() with ZERO data-file I/O -- the Iceberg manifest
    count pushdown. Pre-file_rows manifests fall back to footer reads."""
    t = mk(spark, tmp_table_root, merge_mode="cow")
    t.merge(spark, batch(spark, [("a", "1", "I", 1), ("b", "2", "I", 2),
                                 ("c", "3", "I", 3)]), batch_id=0)
    m = t.manifest()
    assert m.get("file_rows"), "commit must stamp per-file row counts"
    assert sum(m["file_rows"].values()) == 3
    opened = []
    orig = t.fs.open_read
    t.fs.open_read = lambda p: (opened.append(p), orig(p))[1]
    try:
        assert t.row_count() == 3
        assert opened == [], "fast path must not touch data files"
    finally:
        t.fs.open_read = orig
    # the map follows rewrites and prunes to live files
    t.merge(spark, batch(spark, [("b", None, "D", 4)]), batch_id=1)
    assert t.row_count() == 2
    live = {f for fl in t.manifest()["buckets"].values() for f in fl}
    assert set(t.manifest()["file_rows"]) <= live


def test_validate_deep_catches_wrong_file_rows(spark, tmp_table_root):
    """A corrupted per-file record count must be reported by the deep
    fsck: unlike zone maps (prune-only, over-approximation is safe),
    file_rows feeds row_count() directly -- a wrong entry is a wrong
    COUNT(*) answer."""
    t = mk(spark, tmp_table_root, merge_mode="cow")
    t.merge(spark, batch(spark, [("a", "1", "I", 1), ("b", "2", "I", 2)]),
            batch_id=0)
    assert t.validate(spark, deep=True)["ok"]
    # corrupt one recorded count in a NEW manifest (manifests are
    # immutable -- forge the corruption the way an engine bug would
    # surface it: a bad value in the head)
    m = t.manifest()
    rel = next(iter(m["file_rows"]))
    m["file_rows"][rel] = int(m["file_rows"][rel]) + 5
    m["version"] += 1
    m["parent"] = m["version"] - 1
    t.fs.put_if_absent(t._manifest_path(m["version"]), json.dumps(m))
    res = t.validate(spark, deep=True)
    assert not res["ok"]
    assert any("file_rows" in i and "footer" in i for i in res["issues"])


def test_overwrite_where_mor_no_real_match_with_inserts(spark, tmp_table_root):
    """REPLACE WHERE on a mor table where the zone-map candidates hold
    NO actually-matching row (the speculative survivor rewrite is
    dropped) while replacements still insert -- regression for the
    round-4 file_rows wiring, which crashed on this branch
    (UnboundLocalError) because the dropped rewrite has no footer
    stats to record."""
    t = mk(spark, tmp_table_root, merge_mode="mor")
    t.merge(spark, batch(spark, [("a", "1", "I", 1), ("b", "2", "I", 2)]),
            batch_id=0)
    ins = spark.createDataFrame([("z", "9")], "url string, val string")
    # predicate selects no existing row but accepts the replacement
    v, n_del, n_ins = t.overwrite_where(
        spark, ins, predicate="url = 'z'")
    assert n_del == 0 and n_ins == 1
    got = {(r["url"], r["val"]) for r in t.read(spark, public=True).collect()}
    assert got == {("a", "1"), ("b", "2"), ("z", "9")}
