"""File-level key Bloom indexes (harvest_blooms + lookup/read(keys=)):
(a) pruning skips files whose bloom rejects every probe key while the
result stays exactly the filtered read (no false negatives, residual
isin), (b) delta-touched buckets are skipped only whole, tombstone keys
included, (c) coverage is incremental and survives unrelated commits,
(d) rewrites orphan entries and expire GCs unreferenced sidecars,
(e) key types the driver does not hash cannot be indexed, yet read and
plan with ``keys=`` like every other type, (f) an index of a stale
format prunes nothing until the advisor's re-harvest replaces it."""

from __future__ import annotations

import json
import os
import random

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from yadamu___yet_another_data_migration_utility_spark.sources import bloomindex
from yadamu___yet_another_data_migration_utility_spark.sources.lakebase import (
    _bloom_hashes,
    _probe_tuples,
)
from yadamu___yet_another_data_migration_utility_spark.sources.laketable import LakeTable

SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("val", T.StringType()),
])


def mk(root, bucket_count=1, mode="mor"):
    return LakeTable.create(str(root), SCHEMA, key="url",
                            bucket_count=bucket_count, merge_mode=mode)


def adf(spark, pairs):
    return spark.createDataFrame(pairs, "url string, val string").coalesce(1)


def n_files(plan):
    return len(plan["plain"]) + len(plan["delta_resolved"])


def test_bloom_prunes_interleaved_files_exactly(spark, tmp_path):
    """Two files in ONE bucket with alphabetically interleaved keys --
    the zone-map envelope cannot separate them, the bloom can. Plans
    shrink, results stay exact, a missing key plans zero files."""
    t = mk(tmp_path / "t")
    t.append(spark, adf(spark, [(f"k{i:03d}", "a") for i in range(0, 80, 2)]))
    t.append(spark, adf(spark, [(f"k{i:03d}", "b") for i in range(1, 80, 2)]))
    # interleaved: the key envelope overlaps both files -> no zone prune
    assert n_files(t.plan_files(keys=["k002"])) == 2
    res = t.harvest_blooms(spark)
    assert res["files_indexed"] == 2
    assert n_files(t.plan_files(keys=["k002"])) == 1
    assert n_files(t.plan_files(keys=["k003"])) == 1
    assert n_files(t.plan_files(keys=["k002", "k003"])) == 2
    assert n_files(t.plan_files(keys=["never-written"])) == 0
    got = {(r["url"], r["val"]) for r in t.lookup(spark, ["k002", "k003"]).collect()}
    assert got == {("k002", "a"), ("k003", "b")}
    assert t.lookup(spark, ["never-written"]).count() == 0


def test_no_false_negatives_every_key_found(spark, tmp_path):
    """The hash contract holds across sides: every key written (hashed
    by Spark in the harvest) must probe positive in the driver-decoded
    bitset -- lookup over the full key set returns every row."""
    t = mk(tmp_path / "t", bucket_count=4)
    keys = [f"u{i}-{i*i}" for i in range(200)]
    t.append(spark, adf(spark, [(k, "x") for k in keys]))
    t.harvest_blooms(spark)
    assert t.lookup(spark, keys).count() == len(keys)
    # and the driver-side probe agrees file-by-file
    m = t.manifest()
    assert m["blooms_format"] == bloomindex.BLOOM_FORMAT
    (sc_rel, cov), = m["bloom_files"].items()
    doc = bloomindex.decode_sidecar(t.fs.read_text(os.path.join(t.root, sc_rel)))
    union_hit = {
        k for k in keys
        for rel in cov
        if bloomindex.might_contain(
            bloomindex.decode_bitset(doc["blooms"][rel]),
            bloomindex.positions(*_bloom_hashes((k,), [T.StringType()]),
                                 doc["m"], doc["k"]))
    }
    assert union_hit == set(keys)


def test_pruned_lookup_equals_filter_fuzz(spark, tmp_path):
    """Property: for random probe sets, lookup over the bloom-indexed
    table equals the unpruned snapshot filtered by key -- across
    appends, merges (tombstones included) and a post-harvest append."""
    rng = random.Random(7)
    t = mk(tmp_path / "t", bucket_count=2)
    t.append(spark, adf(spark, [(f"k{i}", "v0") for i in range(0, 60, 2)]))
    chg = spark.createDataFrame(
        [(f"k{i}", "v1", "U", i + 1000) for i in range(0, 30, 3)]
        + [(f"k{i}", None, "D", i + 2000) for i in range(0, 60, 12)],
        "url string, val string, op string, lsn long",
    )
    from yadamu___yet_another_data_migration_utility_spark.operators.apply import apply_batch
    apply_batch(t, chg, batch_id=1, run_extract=False)
    t.harvest_blooms(spark)
    t.append(spark, adf(spark, [(f"post{i}", "p") for i in range(5)]))
    full = {(r["url"], r["val"]) for r in t.read(spark).collect()}
    universe = [f"k{i}" for i in range(70)] + [f"post{i}" for i in range(8)]
    for _ in range(6):
        probe = rng.sample(universe, 9)
        got = {(r["url"], r["val"]) for r in t.lookup(spark, probe).collect()}
        assert got == {(u, v) for (u, v) in full if u in set(probe)}


def test_delta_bucket_skips_only_whole_and_tombstones_hold(spark, tmp_path):
    """A delta-touched bucket must stay visible whenever ANY of its
    files (base or delta) might hold a probe key -- in particular a
    deleted key's tombstone keeps the bucket scanned so the lookup
    correctly returns NO row instead of resurrecting the base row."""
    t = mk(tmp_path / "t")
    t.append(spark, adf(spark, [(f"k{i}", "base") for i in range(10)]))
    chg = spark.createDataFrame(
        [("k3", None, "D", 100)], "url string, val string, op string, lsn long")
    from yadamu___yet_another_data_migration_utility_spark.operators.apply import apply_batch
    apply_batch(t, chg, batch_id=1, run_extract=False)
    t.harvest_blooms(spark)
    # k3 exists only as base row + tombstone: bucket must be planned
    plan = t.plan_files(keys=["k3"])
    assert plan["delta_resolved"]
    assert t.lookup(spark, ["k3"]).count() == 0
    # a key in no file at all skips the delta bucket whole
    assert n_files(t.plan_files(keys=["absent-key"])) == 0
    # live keys still resolve through the delta bucket
    assert {r["val"] for r in t.lookup(spark, ["k4"]).collect()} == {"base"}


def test_coverage_survives_unrelated_commits_and_rewrites_orphan(spark, tmp_path):
    """bloom_files inherit through the {**parent} spread (tag, append,
    analyze); compact rewrites files and the publish-time prune drops
    the dead entries -- then a re-harvest covers the new files."""
    t = mk(tmp_path / "t")
    t.append(spark, adf(spark, [(f"k{i:02d}", "a") for i in range(0, 40, 2)]))
    t.append(spark, adf(spark, [(f"k{i:02d}", "b") for i in range(1, 40, 2)]))
    t.harvest_blooms(spark)
    assert n_files(t.plan_files(keys=["k02"])) == 1
    t.tag("before", t.current_version())
    t.analyze(spark)
    assert n_files(t.plan_files(keys=["k02"])) == 1  # survived both
    chg = spark.createDataFrame(
        [("k05", "u", "U", 100)], "url string, val string, op string, lsn long")
    from yadamu___yet_another_data_migration_utility_spark.operators.apply import apply_batch
    apply_batch(t, chg, batch_id=1, run_extract=False)
    t.compact(spark, all_deltas=True)  # fold: touched base files rewritten
    m = t.manifest()
    # every pre-compact file is gone; publish pruned their entries
    covered = {f for cov in (m.get("bloom_files") or {}).values() for f in cov}
    live = set(t.plan_files()["plain"])
    assert covered <= live
    got = {r["val"] for r in t.lookup(spark, ["k02"]).collect()}
    assert got == {"a"}
    r = t.harvest_blooms(spark)
    assert r["files_indexed"] >= 1
    assert n_files(t.plan_files(keys=["k02"])) == 1


def test_expire_gcs_unreferenced_sidecars(spark, tmp_path):
    """After compaction kills a sidecar's whole coverage and retention
    passes its version, the sidecar FILE is deleted; referenced
    sidecars stay."""
    t = mk(tmp_path / "t")
    t.append(spark, adf(spark, [(f"k{i}", "a") for i in range(20)]))
    first = t.harvest_blooms(spark)["sidecar"]
    chg = spark.createDataFrame(
        [("k0", "u", "U", 100)], "url string, val string, op string, lsn long")
    from yadamu___yet_another_data_migration_utility_spark.operators.apply import apply_batch
    apply_batch(t, chg, batch_id=1, run_extract=False)
    t.compact(spark, all_deltas=True)  # kills covered files -> refs pruned
    assert not t.manifest().get("bloom_files")
    second = t.harvest_blooms(spark)["sidecar"]
    for _ in range(3):
        t.append(spark, adf(spark, [("pad", "p")]))
    out = t.expire_snapshots(keep_last=2)
    assert out["deleted_bloom_sidecars"] >= 1
    assert not t.fs.exists(os.path.join(t.root, first))
    assert t.fs.exists(os.path.join(t.root, second))
    # the surviving index still serves lookups
    assert t.lookup(spark, ["k5"]).count() == 1


def test_unsupported_key_type_is_clean_error(spark, tmp_path):
    """A double key is not hashed driver-side, so it cannot be indexed;
    ``read(keys=)`` and ``lookup`` still answer it exactly."""
    sch = T.StructType([
        T.StructField("k", T.DoubleType()),
        T.StructField("v", T.StringType()),
    ])
    t = LakeTable.create(str(tmp_path / "t"), sch, key="k", bucket_count=2)
    t.append(spark, spark.createDataFrame([(1.5, "a"), (2.5, "b")],
                                          "k double, v string"))
    with pytest.raises(ValueError, match="driver hashes"):
        t.harvest_blooms(spark)
    assert [r["v"] for r in t.read(spark, keys=[1.5, 9.0]).collect()] == ["a"]
    assert [r["v"] for r in t.lookup(spark, [1.5, 9.0]).collect()] == ["a"]


def test_integer_key_blooms(spark, tmp_path):
    """Integral keys share the contract: the harvest and the probe hash
    a long the same way."""
    sch = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    t = LakeTable.create(str(tmp_path / "t"), sch, key="id", bucket_count=1)
    t.append(spark, spark.createDataFrame(
        [(i, "a") for i in range(0, 50, 2)], "id long, v string").coalesce(1))
    t.append(spark, spark.createDataFrame(
        [(i, "b") for i in range(1, 50, 2)], "id long, v string").coalesce(1))
    t.harvest_blooms(spark)
    assert n_files(t.plan_files(keys=[2])) == 1
    assert n_files(t.plan_files(keys=[9999])) == 0
    assert {r["v"] for r in t.lookup(spark, [2, 3]).collect()} == {"a", "b"}


def test_corrupt_or_missing_sidecar_is_scanned_not_wrong(spark, tmp_path):
    """An unreadable sidecar only loses pruning: plans fall back to the
    full file set and results stay exact."""
    t = mk(tmp_path / "t")
    t.append(spark, adf(spark, [(f"k{i:02d}", "a") for i in range(0, 20, 2)]))
    t.append(spark, adf(spark, [(f"k{i:02d}", "b") for i in range(1, 20, 2)]))
    sc_rel = t.harvest_blooms(spark)["sidecar"]
    assert n_files(t.plan_files(keys=["k02"])) == 1
    path = os.path.join(t.root, sc_rel)
    with open(path, "w") as fh:
        fh.write("{not json")
    t2 = LakeTable(t.root)  # fresh handle: no warm sidecar cache
    assert n_files(t2.plan_files(keys=["k02"])) == 2  # no prune, no crash
    assert {r["val"] for r in t2.lookup(spark, ["k02"]).collect()} == {"a"}


def test_k_bound_and_bits_validation(spark, tmp_path):
    """k beyond MAX_K would overflow int64 in the Spark-side position
    expression (silent cross-side divergence) -- a clean error instead;
    k = MAX_K itself works end to end."""
    t = mk(tmp_path / "t")
    t.append(spark, adf(spark, [(f"k{i:02d}", "a") for i in range(0, 20, 2)]))
    t.append(spark, adf(spark, [(f"k{i:02d}", "b") for i in range(1, 20, 2)]))
    with pytest.raises(ValueError, match="overflows int64"):
        t.harvest_blooms(spark, k=bloomindex.MAX_K + 1)
    with pytest.raises(ValueError, match=r"k must be in"):
        t.harvest_blooms(spark, k=0)
    with pytest.raises(ValueError, match="bits_per_key"):
        t.harvest_blooms(spark, bits_per_key=0)
    res = t.harvest_blooms(spark, k=bloomindex.MAX_K)
    assert res["files_indexed"] == 2
    assert n_files(t.plan_files(keys=["k02"])) == 1
    assert {r["val"] for r in t.lookup(spark, ["k02"]).collect()} == {"a"}


def test_malformed_valid_json_sidecar_degrades_to_scan(spark, tmp_path):
    """JSON-valid but semantically broken sidecars (m=0 modulus, missing
    blooms dict) must degrade to a scan like invalid JSON does, never
    crash the planner."""
    t = mk(tmp_path / "t")
    t.append(spark, adf(spark, [(f"k{i:02d}", "a") for i in range(0, 20, 2)]))
    t.append(spark, adf(spark, [(f"k{i:02d}", "b") for i in range(1, 20, 2)]))
    sc_rel = t.harvest_blooms(spark)["sidecar"]
    path = os.path.join(t.root, sc_rel)
    for bad in (
        {"format": bloomindex.BLOOM_FORMAT, "m": 0, "k": 5, "blooms": {}},
        {"format": bloomindex.BLOOM_FORMAT, "m": 1024, "k": 5},
        {"format": bloomindex.BLOOM_FORMAT, "m": 1024, "k": 5, "blooms": 7},
    ):
        with open(path, "w") as fh:
            json.dump(bad, fh)
        t2 = LakeTable(t.root)  # fresh handle: cold sidecar cache
        assert n_files(t2.plan_files(keys=["k02"])) == 2  # scan, no crash
        assert {r["val"] for r in t2.lookup(spark, ["k02"]).collect()} == {"a"}


def test_lost_sidecar_is_repairable_by_reharvest(spark, tmp_path):
    """A dead manifest ref (sidecar lost after commit) must not pin the
    files as covered forever: re-harvest re-indexes them and pruning
    comes back."""
    t = mk(tmp_path / "t")
    t.append(spark, adf(spark, [(f"k{i:02d}", "a") for i in range(0, 20, 2)]))
    t.append(spark, adf(spark, [(f"k{i:02d}", "b") for i in range(1, 20, 2)]))
    sc_rel = t.harvest_blooms(spark)["sidecar"]
    os.remove(os.path.join(t.root, sc_rel))
    t2 = LakeTable(t.root)
    assert n_files(t2.plan_files(keys=["k02"])) == 2  # degraded, sound
    res = t2.harvest_blooms(spark)
    assert res["files_indexed"] == 2  # NOT a no-op on the dead ref
    assert n_files(t2.plan_files(keys=["k02"])) == 1
    assert {r["val"] for r in t2.lookup(spark, ["k02"]).collect()} == {"a"}


def test_plan_files_keys_validation_matches_read(spark, tmp_path):
    """plan_files is the explanation of read: both accept every key
    type, and both reject a composite probe that is not a key tuple."""
    sch = T.StructType([
        T.StructField("k", T.DoubleType()),
        T.StructField("v", T.StringType()),
    ])
    t = LakeTable.create(str(tmp_path / "t"), sch, key="k", bucket_count=2)
    t.append(spark, spark.createDataFrame([(1.5, "a")], "k double, v string"))
    assert t.plan_files(keys=[1.5]) == t.plan_files()
    assert t.read(spark, keys=[1.5]).count() == 1
    c = LakeTable.create(str(tmp_path / "c"), sch, key=["k", "v"], bucket_count=2)
    for fn in (lambda: c.plan_files(keys=[1.5]),
               lambda: c.read(spark, keys=[1.5])):
        with pytest.raises(ValueError, match="2-tuples"):
            fn()


def test_null_probe_matches_nothing():
    """A None probe, or a composite probe with a None component, leaves
    no key tuple to hash -- the SQL-equality contract -- and never
    aliases the literal string 'None'."""
    assert _probe_tuples(["k"], [None, "None"]) == [("None",)]
    assert _probe_tuples(["a", "b"], [None, ("x", None), ("x", "y")]) == [
        ("x", "y")]
    pos = bloomindex.positions(*_bloom_hashes(("None",), [T.StringType()]),
                               1024, 5)
    assert len(pos) == 5 and all(0 <= p < 1024 for p in pos)
    assert bloomindex.might_contain(bytes(1024 // 8), pos) is False


def test_maintain_restores_bloom_coverage_after_compact(spark, tmp_path):
    """Compaction rewrites indexed files, orphaning their bloom entries;
    the maintenance advisor must flag the coverage hole and
    maintain(apply=True) must re-harvest AFTER the compact so the
    rewritten files are covered too -- the auto-compaction daemon's
    bloom half."""
    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )
    import pyspark.sql.types as T

    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("val", T.StringType())])
    t = LakeTable.create(str(tmp_path / "b"), schema, key="url",
                         bucket_count=2, merge_mode="mor")
    t.merge(spark, spark.createDataFrame(
        [(f"u{i}", f"v{i}", "I", i + 1) for i in range(12)],
        "url string, val string, op string, lsn long"), batch_id=0)
    t.compact(spark, all_deltas=True)
    t.harvest_blooms(spark)
    # no hole right after a harvest
    acts = {a["action"] for a in t.plan_maintenance()["actions"]}
    assert "harvest_blooms" not in acts
    # a merge + compact rewrites every bucket: coverage hole appears
    t.merge(spark, spark.createDataFrame(
        [("u3", "patched", "U", 99)],
        "url string, val string, op string, lsn long"), batch_id=1)
    t.compact(spark, all_deltas=True)
    plan = t.plan_maintenance()
    hole = [a for a in plan["actions"] if a["action"] == "harvest_blooms"]
    assert hole and hole[0]["uncovered_files"] > 0
    done = t.maintain(spark, apply=True)
    res = [a for a in done["actions"] if a["action"] == "harvest_blooms"]
    assert res and res[0]["result"]["files_indexed"] > 0
    # full coverage restored: every live file rejects an absent key
    assert t.plan_files(keys=["absent-key"]) == {
        "plain": [], "delta_resolved": []}
    # and the advisor is quiet again
    acts2 = {a["action"] for a in t.plan_maintenance()["actions"]}
    assert "harvest_blooms" not in acts2


def test_stale_format_index_is_ignored_flagged_and_replaced(
        spark, tmp_path, monkeypatch, capsys):
    """An index harvested under an older sidecar format never prunes
    (lookups stay exact), ``describe`` counts no coverage for it, the
    advisor flags it with reason ``bloom_format``, and
    ``maintain(apply=True)`` re-harvests every file so pruning returns."""
    from yadamu___yet_another_data_migration_utility_spark.cli import main

    t = mk(tmp_path / "t")
    t.append(spark, adf(spark, [(f"k{i:02d}", "a") for i in range(0, 20, 2)]))
    t.append(spark, adf(spark, [(f"k{i:02d}", "b") for i in range(1, 20, 2)]))
    with monkeypatch.context() as mp:
        mp.setattr(bloomindex, "BLOOM_FORMAT", bloomindex.BLOOM_FORMAT - 1)
        t.harvest_blooms(spark)
    t = LakeTable(t.root)  # fresh handle: cold sidecar cache
    assert t.manifest()["blooms_format"] == bloomindex.BLOOM_FORMAT - 1
    # k025 sorts inside both files' key zones: only a bloom can skip them
    assert n_files(t.plan_files(keys=["k02"])) == 2
    assert n_files(t.plan_files(keys=["k025"])) == 2
    assert {r["val"] for r in t.lookup(spark, ["k02", "k03"]).collect()} == {
        "a", "b"}
    assert main(["describe", "--table-root", t.root]) == 0
    desc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (desc["bloom_files"], desc["bloom_sidecars"]) == (0, 0)
    flag = [a for a in t.plan_maintenance(small_file_bytes=0)["actions"]
            if a["action"] == "harvest_blooms"]
    assert [(a["reason"], a["uncovered_files"]) for a in flag] == [
        ("bloom_format", 2)]
    done = t.maintain(spark, apply=True, small_file_bytes=0)
    res = [a for a in done["actions"] if a["action"] == "harvest_blooms"]
    assert res[0]["result"]["files_indexed"] == 2
    assert t.manifest()["blooms_format"] == bloomindex.BLOOM_FORMAT
    assert n_files(t.plan_files(keys=["k02"])) == 1
    assert n_files(t.plan_files(keys=["k025"])) == 0
    assert "harvest_blooms" not in {
        a["action"] for a in t.plan_maintenance(small_file_bytes=0)["actions"]}
