"""Write-audit-publish (WAP): staged merges.

Reference parity: YADAMU stages every copy through an intermediate
representation that is only "published" when the whole table succeeds
(ON_ERROR/rollback semantics, src/YADAMU/common/yadamuDBI.js); Iceberg
formalizes the pattern as WAP (spark.wap.id / branch + fast-forward).
Here: stage_merge writes delta files invisible to every read surface,
read_staged exposes them for audit queries, publish_staged links them
into the chain via the same optimistic rebase as live merges.
"""
from __future__ import annotations

import json
import os

import pytest

from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
    LakeTable,
    RebaseError,
)
from yadamu___yet_another_data_migration_utility_spark.sources.fsio import (
    CommitConflict,
)

from tests.test_laketable import SCHEMA, batch, mk, state


def seed(spark, t):
    t.merge(spark, batch(spark, [("a", "v1", "I", 1), ("b", "v1", "I", 2)]),
            batch_id=0)


def test_staged_batch_invisible_until_publish(spark, tmp_table_root):
    t = mk(spark, tmp_table_root)
    seed(spark, t)
    v_before = t.current_version()
    frag = t.stage_merge(
        spark, batch(spark, [("a", "v2", "U", 10), ("c", "v1", "I", 11)]),
        batch_id=1)
    assert frag["status"] == "staged" and frag["rows_in"] == 2
    # nothing visible: no new version, read() unchanged, fence empty
    assert t.current_version() == v_before
    assert state(spark, t) == {("a", "v1", 1), ("b", "v1", 2)}
    assert not t.is_applied(1)
    # audit surface sees exactly the staged rows
    staged = t.read_staged(spark, 1)
    assert {(r["url"], r["val"], r["_lsn"]) for r in staged.collect()} == {
        ("a", "v2", 10), ("c", "v1", 11)}
    r = t.publish_staged(1)
    assert r is not None and not r.fenced and r.rows_applied == 2
    assert t.is_applied(1)
    assert state(spark, t) == {("a", "v2", 10), ("b", "v1", 2),
                               ("c", "v1", 11)}
    # fragment cleaned up; files live on in the staged dir
    assert t.list_staged() == []
    m = t.manifest()
    assert any("staged-1-" in f for fl in m["deltas"].values() for f in fl)
    assert m["audit"]["staged"] is True


def test_publish_composes_with_intervening_commits(spark, tmp_table_root):
    """The whole point of WAP: audit takes time, the table moves on.
    A merge AND a compact land between stage and publish; publish
    rebases and the final state is as if the batch ran last."""
    t = mk(spark, tmp_table_root)
    seed(spark, t)
    t.stage_merge(spark, batch(spark, [("a", "v2", "U", 10)]), batch_id=1)
    t.merge(spark, batch(spark, [("b", "v2", "U", 20)]), batch_id=2)
    t.compact(spark, all_deltas=True)
    r = t.publish_staged(1)
    assert r is not None and r.version == t.current_version()
    assert state(spark, t) == {("a", "v2", 10), ("b", "v2", 20)}
    # and the staged files fold away on the next compact
    t.compact(spark, all_deltas=True)
    assert state(spark, t) == {("a", "v2", 10), ("b", "v2", 20)}


def test_abort_staged_cleans_and_allows_restage(spark, tmp_table_root):
    t = mk(spark, tmp_table_root)
    seed(spark, t)
    frag = t.stage_merge(spark, batch(spark, [("a", "bad", "U", 10)]),
                         batch_id=1)
    d = os.path.join(tmp_table_root, frag["dir"])
    assert os.path.isdir(d)
    # double-stage of the same batch is a clean conflict
    with pytest.raises(CommitConflict):
        t.stage_merge(spark, batch(spark, [("a", "x", "U", 11)]), batch_id=1)
    t.abort_staged(1)
    assert not os.path.exists(d) and t.list_staged() == []
    t.abort_staged(1)  # idempotent
    # re-stage with corrected data, publish
    t.stage_merge(spark, batch(spark, [("a", "good", "U", 12)]), batch_id=1)
    assert t.publish_staged(1) is not None
    assert state(spark, t) == {("a", "good", 12), ("b", "v1", 2)}


def test_publish_fenced_elsewhere_is_noop_and_cleans(spark, tmp_table_root):
    """Exactly-once across paths: the batch gets applied by a live
    merge while staged; publish returns None and removes the staged
    files (they are not referenced anywhere)."""
    t = mk(spark, tmp_table_root)
    seed(spark, t)
    frag = t.stage_merge(spark, batch(spark, [("a", "v2", "U", 10)]),
                         batch_id=1)
    t.merge(spark, batch(spark, [("a", "v2", "U", 10)]), batch_id=1)
    assert t.publish_staged(1) is None
    assert not os.path.exists(os.path.join(tmp_table_root, frag["dir"]))
    assert t.list_staged() == []
    assert state(spark, t) == {("a", "v2", 10), ("b", "v1", 2)}


def test_stage_requires_mor(spark, tmp_table_root):
    t = mk(spark, tmp_table_root, merge_mode="cow")
    seed(spark, t)
    with pytest.raises(RuntimeError, match="mor"):
        t.stage_merge(spark, batch(spark, [("a", "v2", "U", 10)]),
                      batch_id=1)


def test_publish_schema_change_since_stage_raises(spark, tmp_table_root):
    """A staged batch carries the schema it was staged against; an
    incompatible schema change in between must abort the publish
    (additive evolution BY the staged batch itself still works)."""
    import pyspark.sql.functions as F

    t = mk(spark, tmp_table_root)
    seed(spark, t)
    # the staged batch itself evolves additively: allowed
    wide = batch(spark, [("c", "v1", "I", 10)]).withColumn(
        "extra", F.lit("e"))
    t.stage_merge(spark, wide, batch_id=1)
    r = t.publish_staged(1)
    assert r is not None
    assert "extra" in t.schema().fieldNames()
    # now stage against the 3-column schema, then the table evolves
    # differently (another column) before publish -> RebaseError
    t.stage_merge(spark, batch(spark, [("d", "v1", "I", 20)]), batch_id=2)
    wider = batch(spark, [("e", "v1", "I", 30)]).withColumn(
        "other", F.lit("o"))
    t.merge(spark, wider, batch_id=3)
    with pytest.raises(RebaseError, match="staged"):
        t.publish_staged(2)
    t.abort_staged(2)


def test_retention_shields_staged_dir_while_fragment_exists(
        spark, tmp_table_root):
    """expire_snapshots must never sweep a staged (unpublished) dir --
    the fragment shields it; after a simulated abort-crash (fragment
    gone, dir left) the next expire collects the debris."""
    t = mk(spark, tmp_table_root)
    seed(spark, t)
    frag = t.stage_merge(spark, batch(spark, [("a", "v2", "U", 10)]),
                         batch_id=1)
    d = os.path.join(tmp_table_root, frag["dir"])
    # churn some history so expire has work to do
    for i in range(2, 6):
        t.merge(spark, batch(spark, [("b", f"v{i}", "U", i * 10)]),
                batch_id=i)
    t.expire_snapshots(keep_last=1)
    assert os.path.isdir(d), "staged dir swept while fragment exists"
    assert t.publish_staged(1) is not None
    # published: fragment gone but files referenced -> still shielded
    t.expire_snapshots(keep_last=1)
    assert state(spark, t) == {("a", "v2", 10), ("b", "v5", 50)}
    # abort-crash debris: a fragment-less staged dir with unreferenced
    # files is collected
    os.makedirs(os.path.join(tmp_table_root, "data", "staged-99-deadbeef"))
    with open(os.path.join(tmp_table_root, "data", "staged-99-deadbeef",
                           "junk.parquet"), "w") as f:
        f.write("x")
    t.expire_snapshots(keep_last=1)
    assert not os.path.exists(
        os.path.join(tmp_table_root, "data", "staged-99-deadbeef"))


def test_crashed_stage_is_detected_and_abortable(spark, tmp_table_root):
    """A fragment stuck at status='writing' (crash mid-stage) is
    reported by list_staged, rejected by read/publish with a clear
    error, and cleaned by abort_staged."""
    t = mk(spark, tmp_table_root)
    seed(spark, t)
    # simulate the crash: placeholder exists, no data, never finalized
    p = t._staged_fragment_path(7)
    with open(p, "w") as f:
        json.dump({"status": "writing", "batch_id": 7,
                   "dir": "data/staged-7-cafef00d",
                   "staged_at": "2026-01-01T00:00:00Z"}, f)
    assert [s["batch_id"] for s in t.list_staged()] == [7]
    with pytest.raises(RuntimeError, match="incomplete"):
        t.publish_staged(7)
    with pytest.raises(RuntimeError, match="incomplete"):
        t.read_staged(spark, 7)
    t.abort_staged(7)
    assert t.list_staged() == []


def test_stage_already_applied_batch_rejected(spark, tmp_table_root):
    t = mk(spark, tmp_table_root)
    seed(spark, t)
    with pytest.raises(ValueError, match="already applied"):
        t.stage_merge(spark, batch(spark, [("a", "v2", "U", 10)]),
                      batch_id=0)


def test_expire_never_sweeps_concurrently_published_stage(
        spark, tmp_table_root):
    """TOCTOU race: expire builds its protected-file set, then a
    publish lands (commit manifest -> remove fragment) BEFORE expire
    lists the data dir. The staged dir now has no fragment, and its
    files are referenced only by the post-walk head -- without the
    re-protection pass they would be deleted out from under the new
    head. The fragment-absent observation implies the publish commit
    is already visible, so re-deriving the protected set at that point
    closes the window."""
    t = mk(spark, tmp_table_root)
    seed(spark, t)
    t.stage_merge(
        spark, batch(spark, [("a", "v2", "U", 10), ("c", "v1", "I", 11)]),
        batch_id=7)
    # pad history so retention has something to chew on
    for i in range(4):
        t.merge(spark, batch(spark, [("z", f"v{i}", "U", 50 + i)]),
                batch_id=20 + i)

    real_listdir = t.fs.listdir
    fired = {"n": 0}
    data_dir = os.path.join(t.root, "data")

    def racing_listdir(path):
        if os.path.normpath(path) == os.path.normpath(data_dir) \
                and fired["n"] == 0:
            fired["n"] = 1
            t.fs.listdir = real_listdir
            assert t.publish_staged(7) is not None  # the racing publish
        return real_listdir(path)

    t.fs.listdir = racing_listdir
    try:
        t.expire_snapshots(keep_last=2)
    finally:
        t.fs.listdir = real_listdir
    assert fired["n"] == 1, "race was not exercised"
    # the published rows survive and the table is structurally sound
    assert {("a", "v2"), ("c", "v1")} <= {
        (r["url"], r["val"]) for r in t.read(spark).collect()}
    rep = t.validate(spark)
    assert rep["ok"], rep["issues"]


def test_staged_publish_commits_what_merge_commits(spark, tmp_path):
    """``stage_merge`` + ``publish_staged`` and ``merge`` share one
    delta writer and one commit record: the same batch (a new column,
    an update, a delete, a redelivery, an insert) committed either way
    reads the same rows and records the same per-bucket zone maps and
    file row counts, lineage, schema, ``lsn_high`` and audit rows --
    the audit and summary differ only in the ``staged`` flag."""
    from tests.test_merge_property import _by_bucket

    rows = [("a", "v2", 7, "U", 10), ("b", None, None, "D", 11),
            ("c", "v1", -3, "I", 12), ("c", "v1", -3, "I", 12),
            ("d", "v9", 40, "I", 13)]
    df = spark.createDataFrame(rows, "url string, val string, n long, op string, lsn long")
    staged, merged = (mk(spark, str(tmp_path / p), bucket_count=8)
                      for p in ("staged", "merged"))
    for t in (staged, merged):
        seed(spark, t)
    staged.stage_merge(spark, df, batch_id=1)
    r_staged = staged.publish_staged(1)
    r_merged = merged.merge(spark, df, batch_id=1)
    assert ({k: v for k, v in r_staged.as_dict().items() if k != "duration_ms"}
            == {k: v for k, v in r_merged.as_dict().items() if k != "duration_ms"})

    def record(t):
        """(the staged flags of the audit row and summary, the rest)"""
        m, audit = t.manifest(), t.audit_entries()
        flags = (audit[-1].pop("staged", None), m["summary"].pop("staged", None))
        return flags, (sorted(map(repr, t.read(spark).collect())), _by_bucket(t),
                       sorted(map(repr, t.lineage_entries())), audit,
                       m["schema"], m["lsn_high"], m["summary"])

    (flags_s, got_s), (flags_m, got_m) = record(staged), record(merged)
    assert flags_s == (True, True) and flags_m == (None, None)
    assert got_s == got_m
    assert "n" in staged.schema().fieldNames()
