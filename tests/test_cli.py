"""CLI verbs (the reference's primary user surface, yadamuCLI.js):
export/import, unload/load, copy, encrypt/decrypt, compare -- driven
in-process through cli.main (get_spark getOrCreate reuses the test
session, so each verb runs exactly the code `python -m pkg ...` runs)."""

from __future__ import annotations

import json
import os

import pytest

from yadamu___yet_another_data_migration_utility_spark.cli import main
from tests.test_formats import _canon, tricky_df


@pytest.fixture()
def src_dir(spark, tmp_path):
    d = tmp_path / "src"
    tricky_df(spark).write.parquet(str(d / "t.parquet"))
    return str(d)


def _run(capsys, argv) -> tuple[int, dict]:
    rc = main(argv)
    out = capsys.readouterr().out.strip().splitlines()
    return rc, (json.loads(out[-1]) if out else {})


def test_cli_export_import_roundtrip(spark, tmp_path, src_dir, capsys):
    doc = str(tmp_path / "export.json")
    rc, out = _run(capsys, ["export", "--dir", src_dir, "--tables", "t",
                            "--file", doc, "--compression", "gzip"])
    assert rc == 0 and out["exported"] == ["t"]
    # EXPORT refuses to clobber without --overwrite (yadamuCLI.js:48)
    rc, _ = _run(capsys, ["export", "--dir", src_dir, "--tables", "t",
                          "--file", doc])
    assert rc == 2
    outdir = str(tmp_path / "imported")
    rc, out = _run(capsys, ["import", "--file", doc, "--out-dir", outdir])
    assert rc == 0 and out["imported"] == {"t": 4}
    back = spark.read.parquet(os.path.join(outdir, "t.parquet"))
    assert _canon(back) == _canon(tricky_df(spark))
    # import of a missing file is a clean error
    rc, _ = _run(capsys, ["import", "--file", str(tmp_path / "nope.json"),
                          "--out-dir", outdir])
    assert rc == 2


def test_cli_export_encrypted(spark, tmp_path, src_dir, capsys):
    doc = str(tmp_path / "export.enc")
    rc, _ = _run(capsys, ["export", "--dir", src_dir, "--tables", "t",
                          "--file", doc, "--passphrase", "pw"])
    assert rc == 0
    with open(doc, "rb") as f:
        assert b"systemInformation" not in f.read(64)
    outdir = str(tmp_path / "imported_enc")
    rc, out = _run(capsys, ["upload", "--file", doc, "--out-dir", outdir,
                            "--passphrase", "pw"])
    assert rc == 0 and out["imported"] == {"t": 4}


def test_cli_unload_load_and_compare(spark, tmp_path, src_dir, capsys):
    ds = str(tmp_path / "staged")
    rc, out = _run(capsys, ["unload", "--dir", src_dir, "--tables", "t",
                            "--out-dir", ds, "--format", "csv"])
    assert rc == 0 and out["unloaded"] == ["t"]
    outdir = str(tmp_path / "loaded")
    rc, out = _run(capsys, ["load", "--dataset-dir", ds, "--out-dir", outdir])
    assert rc == 0 and out["loaded"] == {"t": 4}
    # compare: loaded-vs-source equal -> exit 0; drifted -> exit 1
    rc, out = _run(capsys, ["compare",
                            "--source", os.path.join(src_dir, "t.parquet"),
                            "--target", os.path.join(outdir, "t.parquet")])
    assert rc == 0 and out["ok"]
    rc, out = _run(capsys, ["compare",
                            "--source", os.path.join(src_dir, "t.parquet"),
                            "--target", os.path.join(src_dir, "t.parquet")])
    assert rc == 0
    drifted = str(tmp_path / "drift.parquet")
    tricky_df(spark).limit(3).write.parquet(drifted)
    rc, out = _run(capsys, ["compare",
                            "--source", os.path.join(src_dir, "t.parquet"),
                            "--target", drifted])
    assert rc == 1 and not out["ok"]
    # schema mode: per-table rows, exit 0 iff every table matches
    rc = main(["compare", "--source", src_dir, "--target", outdir,
               "--tables", "t"])
    lines = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and json.loads(lines[-1]) == {
        "table": "t", "source_rows": 4, "target_rows": 4,
        "missing_rows": 0, "extra_rows": 0, "ok": True}


def test_cli_copy_seeds_laketable(spark, tmp_path, capsys):
    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    src = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [(f"u{i}", f"v{i}") for i in range(20)], "url string, val string"
    ).write.parquet(src)
    root = str(tmp_path / "lake")
    rc, out = _run(capsys, ["copy", "--source", src, "--table-root", root,
                            "--key", "url", "--buckets", "4"])
    assert rc == 0 and out["copied_rows"] == 20
    t = LakeTable.load(root)
    assert t.read(spark).count() == 20 and t.merge_mode() == "mor"


def test_cli_sql_verb(spark, tmp_path, capsys):
    """Ad-hoc SQL over the registered snapshot view: query + metadata
    views + --max-rows truncation + clean analysis-error exit."""
    src = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [(f"u{i}", i % 3) for i in range(20)], "url string, grp int"
    ).write.parquet(src)
    root = str(tmp_path / "lake")
    rc, _ = _run(capsys, ["copy", "--source", src, "--table-root", root,
                          "--key", "url", "--buckets", "4"])
    assert rc == 0

    rc = main(["sql", "--table-root", root, "--query",
               "SELECT grp, count(*) AS n FROM pages GROUP BY grp ORDER BY grp"])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and len(out) == 3
    assert json.loads(out[0]) == {"grp": 0, "n": 7}

    # NULL columns are explicit JSON nulls -- every line has the same
    # shape (toJSON would drop the key on null rows)
    rc = main(["sql", "--table-root", root, "--query",
               "SELECT url, CASE WHEN grp = 0 THEN NULL ELSE grp END AS g "
               "FROM pages ORDER BY url LIMIT 2"])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and json.loads(out[0]) == {"url": "u0", "g": None}

    # metadata views come along with --meta
    rc = main(["sql", "--table-root", root, "--meta", "--query",
               "SELECT operation FROM pages_snapshots ORDER BY version"])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and json.loads(out[-1])["operation"] == "append"

    # driver-side cap: 20 rows at --max-rows 5 -> 5 printed + a note
    rc = main(["sql", "--table-root", root, "--max-rows", "5",
               "--query", "SELECT url FROM pages"])
    cap = capsys.readouterr()
    assert rc == 0 and len(cap.out.strip().splitlines()) == 5
    assert "truncated" in cap.err

    # analysis errors exit 2 with a message, not a traceback
    rc = main(["sql", "--table-root", root, "--query",
               "SELECT nope FROM pages"])
    cap = capsys.readouterr()
    assert rc == 2 and "error:" in cap.err

    # ANSI-mode RUNTIME errors (1/0 fails at take(), not analysis) keep
    # the same clean-error contract
    rc = main(["sql", "--table-root", root, "--query",
               "SELECT 1/0 AS boom FROM pages"])
    cap = capsys.readouterr()
    assert rc == 2 and "error:" in cap.err

    # --out: full result written distributed, no --max-rows cap
    out_dir = str(tmp_path / "sqlout")
    rc = main(["sql", "--table-root", root, "--max-rows", "5",
               "--out", out_dir, "--query", "SELECT url FROM pages"])
    cap = capsys.readouterr()
    assert rc == 0 and json.loads(cap.out)["written"] == out_dir
    assert spark.read.parquet(out_dir).count() == 20


def test_cli_replay_verb(spark, tmp_path, capsys):
    """The core pipeline as a verb: WAL -> fenced merge, exactly-once on
    re-run from the same checkpoint."""
    from yadamu___yet_another_data_migration_utility_spark.fixtures.changelog import (
        changelog_df,
        write_wal_segments,
    )

    wal = str(tmp_path / "wal")
    write_wal_segments(changelog_df(spark, 600, 50, dup_mod=40), wal, 3)
    root, ckpt = str(tmp_path / "pages"), str(tmp_path / "ckpt")
    # no table + no --create is a clean usage error
    rc, _ = _run(capsys, ["replay", "--log-path", wal, "--table-root", root,
                          "--checkpoint-dir", ckpt])
    assert rc == 2
    rc, out = _run(capsys, ["replay", "--log-path", wal, "--table-root", root,
                            "--checkpoint-dir", ckpt, "--create", "--buckets", "8"])
    assert rc == 0 and out["batches"] == 3 and out["fenced_batches"] == 0
    assert out["table_rows"] > 0 and out["rows_merged_in"] > 0
    rows, ver = out["table_rows"], out["version"]
    # re-run: availableNow from the same checkpoint finds nothing new
    rc, out = _run(capsys, ["replay", "--log-path", wal, "--table-root", root,
                            "--checkpoint-dir", ckpt])
    assert rc == 0 and out["batches"] == 0
    assert out["table_rows"] == rows and out["version"] == ver

    # co-maintained rollup: unseeded root is a clean usage error ...
    rroot = str(tmp_path / "roll")
    rc, _ = _run(capsys, ["replay", "--log-path", wal, "--table-root", root,
                          "--checkpoint-dir", ckpt, "--rollup-root", rroot])
    assert rc == 2
    # ... seed it (catches up to the already-replayed table), then a
    # fresh WAL segment replays WITH the rollup riding in the pipeline
    rc, out = _run(capsys, ["rollup", "--table-root", root,
                            "--rollup-root", rroot, "--dims", "lang",
                            "--sums", ""])
    assert rc == 0 and out["created"] and out["groups"] > 0
    wal2 = str(tmp_path / "wal2")
    write_wal_segments(changelog_df(spark, 200, 50, dup_mod=40), wal2, 1)
    rc, out = _run(capsys, ["replay", "--log-path", wal2, "--table-root", root,
                            "--checkpoint-dir", str(tmp_path / "ckpt2"),
                            "--rollup-root", rroot])
    assert rc == 0 and out["batches"] == 1
    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )
    from yadamu___yet_another_data_migration_utility_spark.streaming.rollup import (
        IncrementalRollup,
    )
    ru = IncrementalRollup.open(LakeTable(root), rroot)
    assert ru.cursor() == LakeTable(root).current_version()
    got = {(r["lang"], r["n_rows"]) for r in ru.read(spark).collect()}
    exp = {(r["lang"], r["n_rows"]) for r in ru.recompute(spark).collect()}
    assert got == exp and got


def test_cli_table_maintenance(spark, tmp_path, capsys):
    """compact / expire / rebucket / history / changes over a merged table."""
    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    src = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [(f"u{i}", f"v{i}") for i in range(20)], "url string, val string"
    ).write.parquet(src)
    root = str(tmp_path / "lake")
    rc, _ = _run(capsys, ["copy", "--source", src, "--table-root", root,
                          "--key", "url", "--buckets", "4"])
    assert rc == 0
    t = LakeTable.load(root)
    for b in range(3):  # a few MoR merges so compact/expire/changes have work
        upd = spark.createDataFrame(
            [(f"u{i}", f"w{b}_{i}", "U", 100 * (b + 1) + i) for i in range(5)],
            "url string, val string, op string, lsn long",
        )
        t.merge(spark, upd, batch_id=b + 1)
    v_before = t.current_version()

    rc = main(["history", "--table-root", root])
    lines = capsys.readouterr().out.strip().splitlines()
    # one audit row per data commit: the seed append + 3 merges
    assert rc == 0 and len(lines) == 4
    assert {json.loads(ln)["operation"] for ln in lines} >= {"append", "merge"}

    ch = str(tmp_path / "changes.parquet")
    # since=2 (the seeded snapshot): the window covers just the 3 merges
    rc, out = _run(capsys, ["changes", "--table-root", root, "--since", "2",
                            "--out-dir", ch])
    assert rc == 0 and out["changes"] == 5 and out["until"] == v_before
    cols = spark.read.parquet(ch).columns
    assert "_change_type" in cols and "_lsn" in cols

    rc = main(["lineage", "--table-root", root])
    lines = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and lines
    assert {"bucket", "row_count", "version"} <= set(json.loads(lines[0]))

    rc = main(["snapshots", "--table-root", root])
    lines = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and json.loads(lines[-1])["version"] == v_before
    assert json.loads(lines[0])["operation"] == "create"

    rc = main(["files", "--table-root", root])
    lines = capsys.readouterr().out.strip().splitlines()
    rows = [json.loads(ln) for ln in lines]
    assert rc == 0 and rows
    assert {r["kind"] for r in rows} == {"data", "delta"}
    assert all(r["size_bytes"] > 0 for r in rows)

    rc, out = _run(capsys, ["compact", "--table-root", root, "--all-deltas",
                            "--sort-by", "url"])
    assert rc == 0 and out["compacted"] and out["version"] == v_before + 1

    rc, out = _run(capsys, ["rebucket", "--table-root", root, "--buckets", "8"])
    assert rc == 0 and out["rebucketed"]
    t = LakeTable.load(root)
    assert t.read(spark).count() == 20

    rc, out = _run(capsys, ["expire", "--table-root", root, "--keep-last", "2"])
    assert rc == 0 and out["expired"]["expired_manifests"] >= 1
    assert t.read(spark).count() == 20

    rc, out = _run(capsys, ["describe", "--table-root", root])
    assert rc == 0 and out["bucket_count"] == 8 and out["merge_mode"] == "mor"
    assert out["schema"]["url"] == "string" and out["delta_files"] == 0
    assert out["last_operation"] == "rebucket" and out["applied_batches"] == 4
    # zone coverage after the rebucket rewrite: only files whose every
    # stats-bearing column is all-NULL (pure seed-lsn files) may lack an
    # entry, so coverage is positive and bounded by the file count
    assert 0 < out["stats_files"] <= out["base_files"]



def test_cli_encrypt_decrypt(tmp_path, capsys):
    plain = tmp_path / "plain.txt"
    plain.write_bytes(b"the quick brown fox" * 100)
    enc, dec = str(tmp_path / "c.bin"), str(tmp_path / "p2.txt")
    rc, _ = _run(capsys, ["encrypt", "--file", str(plain), "--out-file", enc,
                          "--passphrase", "pw"])
    assert rc == 0
    assert open(enc, "rb").read()[16:32] != plain.read_bytes()[:16]
    rc, _ = _run(capsys, ["decrypt", "--file", enc, "--out-file", dec,
                          "--passphrase", "pw"])
    assert rc == 0
    assert open(dec, "rb").read() == plain.read_bytes()
    # missing passphrase is a clean usage error
    rc, _ = _run(capsys, ["encrypt", "--file", str(plain), "--out-file", enc])
    assert rc == 2


def test_cli_rollup_seed_and_incremental_refresh(spark, tmp_path, capsys):
    import pyspark.sql.types as T

    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    root = str(tmp_path / "base")
    rroot = str(tmp_path / "roll")
    base = LakeTable.create(root, schema, key="url", bucket_count=4,
                            merge_mode="mor")
    base.merge(spark, spark.createDataFrame(
        [("a", "x", 1.0, "I", 1), ("b", "y", 2.0, "I", 2)],
        "url string, kind string, value double, op string, lsn long",
    ), batch_id=0)

    # first run without a spec is a clean usage error
    rc, _ = _run(capsys, ["rollup", "--table-root", root,
                          "--rollup-root", rroot])
    assert rc == 2

    rc, out = _run(capsys, ["rollup", "--table-root", root,
                            "--rollup-root", rroot,
                            "--dims", "kind", "--sums", "value"])
    assert rc == 0 and out["created"] and out["groups"] == 2
    assert out["cursor"] == base.current_version()

    # second run: spec recovered from the rollup schema, incremental
    base.merge(spark, spark.createDataFrame(
        [("c", "x", 5.0, "I", 3), ("b", None, None, "D", 4)],
        "url string, kind string, value double, op string, lsn long",
    ), batch_id=1)
    rc, out = _run(capsys, ["rollup", "--table-root", root,
                            "--rollup-root", rroot])
    assert rc == 0 and not out["created"]
    assert out["dims"] == ["kind"] and out["sums"] == ["value"]
    assert out["groups"] == 1 and out["cursor"] == base.current_version()
    # the rollup itself holds group x with n_rows 2, sum 6.0
    from yadamu___yet_another_data_migration_utility_spark.streaming.rollup import (
        IncrementalRollup,
    )
    ru = IncrementalRollup.open(LakeTable(root), rroot)
    rows = {(r["kind"], r["n_rows"], str(r["sum_value"]))
            for r in ru.read(spark).collect()}
    assert rows == {("x", 2, "6.000000")}


def test_cli_mirror_seed_and_catch_up(spark, tmp_path, capsys):
    import pyspark.sql.types as T

    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("val", T.StringType()),
    ])
    root = str(tmp_path / "src")
    rroot = str(tmp_path / "rep")
    src = LakeTable.create(root, schema, key="url", bucket_count=4,
                           merge_mode="mor")
    src.merge(spark, spark.createDataFrame(
        [("a", "v1", "I", 1), ("b", "v1", "I", 2)],
        "url string, val string, op string, lsn long"), batch_id=0)

    rc, out = _run(capsys, ["mirror", "--table-root", root,
                            "--replica-root", rroot, "--count"])
    assert rc == 0 and out["seeded"] and out["replica_rows"] == 2
    assert out["cursor"] == src.current_version()

    src.merge(spark, spark.createDataFrame(
        [("b", None, "D", 3), ("c", "v1", "I", 4)],
        "url string, val string, op string, lsn long"), batch_id=1)
    rc, out = _run(capsys, ["mirror", "--table-root", root,
                            "--replica-root", rroot])
    assert rc == 0 and not out["seeded"]
    assert "replica_rows" not in out  # full scan is opt-in (--count)
    assert out["cursor"] == src.current_version() == out["source_version"]
    rep = LakeTable.load(rroot)
    assert {(r["url"], r["val"]) for r in rep.read(spark, public=True).collect()} \
        == {("a", "v1"), ("c", "v1")}


def test_cli_delete_where(spark, tmp_path, capsys):
    import datetime as dt

    import pyspark.sql.types as T

    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])
    root = str(tmp_path / "t")
    t = LakeTable.create(root, schema, key="url", bucket_count=4)
    t.append(spark, spark.createDataFrame(
        [("a", dt.datetime(2020, 1, 15), 1.0),
         ("b", dt.datetime(2020, 2, 15), 2.0),
         ("c", dt.datetime(2020, 2, 16), 9.0)],
        "url string, ts timestamp, value double"))

    # condition required
    rc, _ = _run(capsys, ["delete-where", "--table-root", root])
    assert rc == 2
    # bad range spec is a clean usage error (shared parser with `plan`)
    rc, _ = _run(capsys, ["delete-where", "--table-root", root,
                          "--range", "nope:1..2"])
    assert rc == 2

    rc, out = _run(capsys, ["delete-where", "--table-root", root,
                            "--range", "ts:2020-02-01..2020-02-28",
                            "--predicate", "value >= 9.0"])
    assert rc == 0 and out["rows_deleted"] == 1 and out["version"] == 3
    assert {r["url"] for r in LakeTable.load(root).read(spark).collect()} \
        == {"a", "b"}
    # no match -> no commit
    rc, out = _run(capsys, ["delete-where", "--table-root", root,
                            "--predicate", "value > 100"])
    assert rc == 0 and out == {"rows_deleted": 0, "version": None}


def test_cli_tag_refs_and_named_time_travel(spark, tmp_path, capsys):
    import pyspark.sql.types as T

    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("val", T.StringType()),
    ])
    root = str(tmp_path / "t")
    t = LakeTable.create(root, schema, key="url", bucket_count=4,
                         merge_mode="mor")
    t.merge(spark, spark.createDataFrame(
        [("a", "v1", "I", 1)], "url string, val string, op string, lsn long"),
        batch_id=0)
    v_snap = t.current_version()

    rc, out = _run(capsys, ["tag", "--table-root", root, "--set", "rel-1"])
    assert rc == 0 and out["tagged"] == "rel-1" and out["target"] == v_snap

    t.merge(spark, spark.createDataFrame(
        [("a", "v2", "U", 2)], "url string, val string, op string, lsn long"),
        batch_id=1)

    # --version accepts the tag name on lookup and plan
    rc, out = _run(capsys, ["lookup", "--table-root", root, "--key", "a",
                            "--version", "rel-1"])
    assert rc == 0 and out["rows"][0]["val"] == "v1"
    rc, out = _run(capsys, ["plan", "--table-root", root,
                            "--version", "rel-1"])
    assert rc == 0 and out["version"] == v_snap
    # plan --key explains the lookup: the files plan_files(keys=) lists
    rc, out = _run(capsys, ["plan", "--table-root", root, "--key", "a"])
    want = t.plan_files(keys=["a"])
    assert rc == 0 and out["files_scanned"] == len(want["delta_resolved"]) > 0
    assert out["delta_resolved"] == want["delta_resolved"]

    rc, out = _run(capsys, ["tag", "--table-root", root])
    assert rc == 0 and out["refs"] == {"rel-1": v_snap}
    rc, out = _run(capsys, ["tag", "--table-root", root, "--delete", "rel-1"])
    assert rc == 0 and out["untagged"] == "rel-1"
    rc, _ = _run(capsys, ["tag", "--table-root", root, "--delete", "rel-1"])
    assert rc == 2  # unknown ref is a clean error
    # unknown tag through --version is a clean rc-2 too, not a traceback
    rc, _ = _run(capsys, ["plan", "--table-root", root, "--version", "nope"])
    assert rc == 2


@pytest.mark.parametrize("ty", ["decimal(10,2)", "binary"])
def test_cli_lookup_and_plan_decimal_and_binary_keys(spark, tmp_path, capsys, ty):
    """``--key`` text parses to the key column's type: an exact
    decimal at the column scale, binary from hex. ``lookup`` finds the
    row and ``plan --key`` plans only the probe's bucket; malformed or
    rounding-needing text is a clean exit 2."""
    from decimal import Decimal

    import pyspark.sql.types as T

    from yadamu___yet_another_data_migration_utility_spark.sources.lakebase import (
        _bucket_id,
    )
    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    if ty == "binary":
        dt, keys = T.BinaryType(), [bytes([i, 255 - i]) for i in range(16)]
        probe, text, bad = keys[3], keys[3].hex(), ["zz", "abc"]
    else:
        dt, keys = T.DecimalType(10, 2), [Decimal(125 * i).scaleb(-2) for i in range(16)]
        probe, text, bad = keys[3], "3.75", ["3.755", "abc", "123456789", "NaN"]
    schema = T.StructType([T.StructField("k", dt), T.StructField("val", T.StringType())])
    root = str(tmp_path / "t")
    t = LakeTable.create(root, schema, key="k", bucket_count=8)
    t.merge(spark, spark.createDataFrame(
        [(k, f"v{i}", "I", i + 1) for i, k in enumerate(keys)],
        T.StructType([*schema.fields, T.StructField("op", T.StringType()),
                      T.StructField("lsn", T.LongType())])), batch_id=0)

    rc, out = _run(capsys, ["lookup", "--table-root", root, "--key", text])
    assert rc == 0 and out["found"] == 1 and out["rows"][0]["val"] == "v3"
    rc, out = _run(capsys, ["plan", "--table-root", root, "--key", text])
    b = _bucket_id((probe,), [dt], 8)
    files = out["plain"] + out["delta_resolved"]
    assert rc == 0 and files and out["files_pruned"] > 0
    assert all(f"/_b={b}/" in f for f in files), files
    assert out["files_scanned"] == len(files)
    for verb in ("lookup", "plan"):
        for text in bad:
            rc, _ = _run(capsys, [verb, "--table-root", root, "--key", text])
            assert rc == 2, (verb, text)


def test_cli_update_where(spark, tmp_path, capsys):
    import pyspark.sql.types as T

    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    root = str(tmp_path / "t")
    t = LakeTable.create(root, schema, key="url", bucket_count=4)
    t.append(spark, spark.createDataFrame(
        [("a", "en", 1.0), ("b", "xx", 2.0), ("c", "xx", 9.0)],
        "url string, lang string, value double"))

    rc, _ = _run(capsys, ["update-where", "--table-root", root,
                          "--set", "lang='de'"])
    assert rc == 2  # condition required
    rc, _ = _run(capsys, ["update-where", "--table-root", root,
                          "--set", "url='x'", "--predicate", "true"])
    assert rc == 2  # key is locked -> clean error

    rc, out = _run(capsys, ["update-where", "--table-root", root,
                            "--set", "lang = 'und'",
                            "--set", "value = value * 2",
                            "--predicate", "lang = 'xx'"])
    assert rc == 0 and out["rows_updated"] == 2 and out["version"] == 3
    got = {(r["url"], r["lang"], float(r["value"]))
           for r in LakeTable.load(root).read(spark, public=True).collect()}
    assert got == {("a", "en", 1.0), ("b", "und", 4.0), ("c", "und", 18.0)}


def test_cli_maintain_plan_and_apply(spark, tmp_path, capsys):
    """`maintain` prints the advisor plan; `maintain --apply` executes
    the compact + expire it recommended and a re-plan comes back
    clean (rebucket advisories aside)."""
    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    root = str(tmp_path / "lake")
    src = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [(f"u{i}", f"v{i}") for i in range(8)], "url string, val string"
    ).write.parquet(src)
    rc, _ = _run(capsys, ["copy", "--source", src, "--table-root", root,
                          "--key", "url", "--buckets", "2"])
    assert rc == 0
    t = LakeTable.load(root)
    for b in range(5):
        upd = spark.createDataFrame(
            [(f"u{i}", f"w{b}_{i}", "U", 100 * (b + 1) + i) for i in range(8)],
            "url string, val string, op string, lsn long",
        )
        t.merge(spark, upd, batch_id=b + 1)

    rc, plan = _run(capsys, ["maintain", "--table-root", root,
                             "--max-files-per-bucket", "3", "--keep-last", "3"])
    assert rc == 0
    assert {a["reason"] for a in plan["actions"]} >= {"fragmentation", "retention"}

    before = sorted(
        (r["url"], r["val"]) for r in t.read(spark).select("url", "val").collect()
    )
    rc, done = _run(capsys, ["maintain", "--table-root", root, "--apply",
                             "--max-files-per-bucket", "3", "--keep-last", "3"])
    assert rc == 0
    assert any(a.get("applied_version") for a in done["actions"])
    assert any(a.get("result", {}).get("expired_manifests", 0) > 0
               for a in done["actions"])
    after = sorted(
        (r["url"], r["val"]) for r in t.read(spark).select("url", "val").collect()
    )
    assert after == before

    rc, again = _run(capsys, ["maintain", "--table-root", root,
                              "--max-files-per-bucket", "3", "--keep-last", "3"])
    assert rc == 0
    assert [a for a in again["actions"] if not a.get("advisory")] == []


def test_cli_analyze_and_describe_stats(spark, tmp_path, capsys):
    """`analyze` computes NDV/null stats into the manifest; `describe`
    surfaces them."""
    root = str(tmp_path / "lake")
    src = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [(f"u{i}", f"v{i % 5}") for i in range(100)], "url string, val string"
    ).write.parquet(src)
    rc, _ = _run(capsys, ["copy", "--source", src, "--table-root", root,
                          "--key", "url", "--buckets", "2"])
    assert rc == 0
    rc, stats = _run(capsys, ["analyze", "--table-root", root])
    assert rc == 0 and stats["n_rows"] == 100
    assert abs(stats["columns"]["val"]["ndv"] - 5) <= 2
    rc, desc = _run(capsys, ["describe", "--table-root", root])
    assert rc == 0
    assert desc["table_stats"]["columns"]["url"]["n_nulls"] == 0
    assert desc["last_operation"] == "analyze"
    rc, sub = _run(capsys, ["analyze", "--table-root", root, "--columns", "val"])
    assert rc == 0 and list(sub["columns"]) == ["val"]


def test_cli_overwrite_where(spark, tmp_path, capsys):
    """`overwrite-where` atomically replaces the matching slice with a
    parquet replacement; contract violations exit 2 without a commit."""
    root = str(tmp_path / "lake")
    src = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [(f"u{i}", f"old{i % 2}") for i in range(10)], "url string, val string"
    ).write.parquet(src)
    rc, _ = _run(capsys, ["copy", "--source", src, "--table-root", root,
                          "--key", "url", "--buckets", "2"])
    assert rc == 0
    repl = str(tmp_path / "repl.parquet")
    spark.createDataFrame(
        [("u100", "old0")], "url string, val string"
    ).write.parquet(repl)
    rc, out = _run(capsys, ["overwrite-where", "--table-root", root,
                            "--source", repl, "--predicate", "val = 'old0'"])
    assert rc == 0 and out["rows_deleted"] == 5 and out["rows_inserted"] == 1
    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )
    t = LakeTable.load(root)
    got = {(r["url"], r["val"]) for r in t.read(spark).collect()}
    assert got == {(f"u{i}", "old1") for i in range(10) if i % 2} | {("u100", "old0")}
    # replacement rows violating the predicate exit 2, version unchanged
    v = t.current_version()
    bad = str(tmp_path / "bad.parquet")
    spark.createDataFrame([("x", "nope")], "url string, val string") \
        .write.parquet(bad)
    rc, _ = _run(capsys, ["overwrite-where", "--table-root", root,
                          "--source", bad, "--predicate", "val = 'old0'"])
    assert rc == 2 and t.current_version() == v


def test_cli_rename_column(spark, tmp_path, capsys):
    root = str(tmp_path / "lake")
    src = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [(f"u{i}", f"v{i}") for i in range(6)], "url string, val string"
    ).write.parquet(src)
    rc, _ = _run(capsys, ["copy", "--source", src, "--table-root", root,
                          "--key", "url", "--buckets", "2"])
    assert rc == 0
    rc, out = _run(capsys, ["rename-column", "--table-root", root,
                            "--column", "val", "--to", "body"])
    assert rc == 0 and out["renamed"] == "val"
    rc, desc = _run(capsys, ["describe", "--table-root", root])
    assert rc == 0 and "body" in desc["schema"] and "val" not in desc["schema"]
    rc, _ = _run(capsys, ["rename-column", "--table-root", root,
                          "--column", "nope", "--to", "x"])
    assert rc == 2


def test_cli_stage_publish_abort(spark, tmp_path, capsys):
    """WAP as verbs: stage a changelog batch invisibly, see it in
    describe, publish it; abort works for a second staged batch."""
    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    src = str(tmp_path / "seed.parquet")
    spark.createDataFrame(
        [(f"u{i}", "v1") for i in range(8)], "url string, val string"
    ).write.parquet(src)
    root = str(tmp_path / "lake")
    rc, _ = _run(capsys, ["copy", "--source", src, "--table-root", root,
                          "--key", "url", "--buckets", "4"])
    assert rc == 0

    log = str(tmp_path / "batch.parquet")
    spark.createDataFrame(
        [("u0", "v2", "U", 100), ("u9", "v1", "I", 101)],
        "url string, val string, op string, lsn long",
    ).write.parquet(log)
    rc, out = _run(capsys, ["stage", "--table-root", root,
                            "--log-path", log, "--batch-id", "1"])
    assert rc == 0 and out["staged"] and out["rows_in"] == 2

    t = LakeTable.load(root)
    assert t.read(spark).count() == 8  # still invisible
    rc, out = _run(capsys, ["describe", "--table-root", root])
    assert [s["batch_id"] for s in out["staged"]] == [1]

    rc, out = _run(capsys, ["publish", "--table-root", root,
                            "--batch-id", "1"])
    assert rc == 0 and out["published"] and out["rows_applied"] == 2
    assert t.read(spark).count() == 9

    rc, out = _run(capsys, ["stage", "--table-root", root,
                            "--log-path", log, "--batch-id", "2"])
    assert rc == 0
    rc, out = _run(capsys, ["abort-staged", "--table-root", root,
                            "--batch-id", "2"])
    assert rc == 0 and out["aborted"]
    rc, out = _run(capsys, ["describe", "--table-root", root])
    assert out["staged"] == []
    # publishing an already-applied batch is a clean no-op
    rc, out = _run(capsys, ["stage", "--table-root", root,
                            "--log-path", log, "--batch-id", "3"])
    assert rc == 0
    t.merge(spark, spark.read.parquet(log), batch_id=3)
    rc, out = _run(capsys, ["publish", "--table-root", root,
                            "--batch-id", "3"])
    assert rc == 0 and out["published"] is False


def test_cli_branch_lifecycle(spark, tmp_path, capsys):
    import pyspark.sql.types as T

    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("val", T.StringType()),
    ])
    root = str(tmp_path / "t")
    t = LakeTable.create(root, schema, key="url", bucket_count=4,
                         merge_mode="mor")
    t.merge(spark, spark.createDataFrame(
        [("a", "v1", "I", 1)], "url string, val string, op string, lsn long"),
        batch_id=0)
    fork = t.current_version()

    rc, out = _run(capsys, ["branch", "--table-root", root, "--create", "dev"])
    assert rc == 0 and out == {"created": "dev", "fork_version": fork}

    # commit on the branch through a CLI verb (--branch routes _table)
    b = t.for_branch("dev")
    b.merge(spark, spark.createDataFrame(
        [("a", "v2", "U", 2)], "url string, val string, op string, lsn long"),
        batch_id=1)
    rc, out = _run(capsys, ["lookup", "--table-root", root, "--key", "a",
                            "--branch", "dev"])
    assert rc == 0 and out["rows"][0]["val"] == "v2"
    rc, out = _run(capsys, ["lookup", "--table-root", root, "--key", "a"])
    assert rc == 0 and out["rows"][0]["val"] == "v1"  # main unchanged

    rc, out = _run(capsys, ["branch", "--table-root", root])
    assert rc == 0 and out["branches"] == {
        "dev": {"fork_version": fork, "head": fork + 1}}

    rc, out = _run(capsys, ["branch", "--table-root", root,
                            "--fast-forward", "dev"])
    assert rc == 0 and out == {"fast_forwarded": "dev", "version": fork + 1}
    rc, out = _run(capsys, ["lookup", "--table-root", root, "--key", "a"])
    assert rc == 0 and out["rows"][0]["val"] == "v2"

    # clean errors: unknown branch on --drop and through --branch
    rc, _ = _run(capsys, ["branch", "--table-root", root, "--drop", "dev"])
    assert rc == 2
    rc, _ = _run(capsys, ["describe", "--table-root", root,
                          "--branch", "dev"])
    assert rc == 2


def test_cli_rollback(spark, tmp_path, capsys):
    import pyspark.sql.types as T

    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("val", T.StringType()),
    ])
    root = str(tmp_path / "t")
    t = LakeTable.create(root, schema, key="url", bucket_count=4,
                         merge_mode="mor")
    t.merge(spark, spark.createDataFrame(
        [("a", "v1", "I", 1)], "url string, val string, op string, lsn long"),
        batch_id=0)
    good = t.current_version()
    t.merge(spark, spark.createDataFrame(
        [("a", "BAD", "U", 2)], "url string, val string, op string, lsn long"),
        batch_id=1)

    rc, out = _run(capsys, ["rollback", "--table-root", root,
                            "--to", str(good)])
    assert rc == 0 and out["rolled_back_to"] == good
    rc, out = _run(capsys, ["lookup", "--table-root", root, "--key", "a"])
    assert rc == 0 and out["rows"][0]["val"] == "v1"
    # bad target is a clean error, and tag names resolve
    rc, _ = _run(capsys, ["rollback", "--table-root", root, "--to", "999"])
    assert rc == 2
    rc, _ = _run(capsys, ["tag", "--table-root", root, "--set", "pre-fix",
                          "--version", str(good)])
    assert rc == 0
    rc, out = _run(capsys, ["rollback", "--table-root", root,
                            "--to", "pre-fix"])
    assert rc == 0 and out["rolled_back_to"] == good


def test_cli_replay_multi(spark, tmp_path, capsys):
    """Schema-level replay verb: one WAL routing two tables, per-table
    fences, exactly-once on re-run from the same checkpoint."""
    import pyspark.sql.functions as F

    from yadamu___yet_another_data_migration_utility_spark.fixtures.changelog import (
        changelog_df,
        write_wal_segments,
    )

    log = changelog_df(spark, 600, 50, dup_mod=40).withColumn(
        "_table",
        F.when(F.crc32(F.col("url")) % 2 == 0, "even").otherwise("odd"))
    wal = str(tmp_path / "wal")
    write_wal_segments(
        log.select("_table", "lsn", "op", "url", "warc_ts", "html", "lang"),
        wal, 2)
    ra, rb = str(tmp_path / "even"), str(tmp_path / "odd")
    ckpt = str(tmp_path / "ckpt")

    # malformed spec and missing table are clean usage errors
    rc, _ = _run(capsys, ["replay-multi", "--log-path", wal, "--table",
                          "evenroot", "--checkpoint-dir", ckpt])
    assert rc == 2
    rc, _ = _run(capsys, ["replay-multi", "--log-path", wal,
                          "--table", f"even={ra}", "--table", f"odd={rb}",
                          "--checkpoint-dir", ckpt])
    assert rc == 2

    rc, out = _run(capsys, ["replay-multi", "--log-path", wal,
                            "--table", f"even={ra}", "--table", f"odd={rb}",
                            "--checkpoint-dir", ckpt, "--create",
                            "--buckets", "4"])
    assert rc == 0
    assert set(out) == {"even", "odd"}
    for side in out.values():
        assert side["batches"] == 2 and side["fenced_batches"] == 0
        assert side["table_rows"] > 0 and side["rows_merged_in"] > 0
    totals = {n: (s["table_rows"], s["version"]) for n, s in out.items()}

    # re-run from the same checkpoint: nothing new, nothing moved
    rc, out = _run(capsys, ["replay-multi", "--log-path", wal,
                            "--table", f"even={ra}", "--table", f"odd={rb}",
                            "--checkpoint-dir", ckpt])
    assert rc == 0
    for n, s in out.items():
        assert s["batches"] == 0
        assert (s["table_rows"], s["version"]) == totals[n]


def test_cli_bloom_harvest_and_describe(spark, tmp_path, capsys):
    """`bloom` harvests the merge-key Bloom sidecar incrementally;
    `describe` surfaces coverage; a second run with no new files is a
    no-op commit-free answer."""
    root = str(tmp_path / "lake")
    src = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [(f"u{i}", f"v{i}") for i in range(200)], "url string, val string"
    ).write.parquet(src)
    rc, _ = _run(capsys, ["copy", "--source", src, "--table-root", root,
                          "--key", "url", "--buckets", "4"])
    assert rc == 0
    rc, out = _run(capsys, ["bloom", "--table-root", root])
    assert rc == 0 and out["files_indexed"] > 0 and out["sidecar"]
    rc, desc = _run(capsys, ["describe", "--table-root", root])
    assert rc == 0
    assert desc["bloom_files"] == out["files_indexed"]
    assert desc["bloom_sidecars"] == 1
    # incremental: nothing new to index
    rc, again = _run(capsys, ["bloom", "--table-root", root])
    assert rc == 0 and again["files_indexed"] == 0 and again["sidecar"] is None


def test_cli_requeue_drains_dead_letters(spark, tmp_path, capsys):
    """`requeue --set COL=EXPR` drains the quarantine through the real
    engine: repaired rows re-enter at their original lsn, a re-run is a
    fenced no-op, and `--set` without '=' is a clean usage error."""
    from yadamu___yet_another_data_migration_utility_spark.fixtures.changelog import (
        PAGE_SCHEMA,
        changelog_df,
    )
    from yadamu___yet_another_data_migration_utility_spark.operators.apply import (
        REQUEUE_BASE,
        apply_batch,
    )
    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    root = str(tmp_path / "lake")
    t = LakeTable.create(root, PAGE_SCHEMA, key="url", bucket_count=4)
    log = changelog_df(spark, 400, 40, poison_mod=15, dup_mod=0)
    m = apply_batch(t, log, batch_id=0)
    assert m.rows_quarantined > 0

    rc, out = _run(capsys, [
        "requeue", "--table-root", root,
        "--set", "html=coalesce(html, X'3c703e3c2f703e')",
        "--set", "url=coalesce(url, concat('https://repaired/', lsn))",
    ])
    assert rc == 0 and out["drained"]
    assert out["metrics"]["batch_id"] == REQUEUE_BASE + 0
    assert out["metrics"]["rows_in"] == m.rows_quarantined
    assert out["metrics"]["rows_quarantined"] == 0
    assert out["pending_after"] == []

    # replay of the drained id is a fenced no-op through the CLI too
    rc, again = _run(capsys, ["requeue", "--table-root", root,
                              "--batch-id", "0"])
    assert rc == 0 and again["metrics"]["fenced"]

    # malformed --set is rejected before any work
    rc, _ = _run(capsys, ["requeue", "--table-root", root, "--set", "html"])
    assert rc == 2


def test_cli_merge_into(spark, tmp_path, capsys):
    """`merge-into` runs a full three-clause MERGE from a parquet
    source, fences on --batch-id, and rejects malformed clause args."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("status", T.StringType()),
    ])
    root = str(tmp_path / "lake")
    t = LakeTable.create(root, schema, key="url", bucket_count=4)
    t.append(spark, spark.range(10).select(
        F.concat(F.lit("k"), F.col("id")).alias("url"),
        F.col("id").cast("double").alias("value"),
        F.lit("old").alias("status")))
    srcp = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [("k0", 100.0, "upd"), ("k1", 0.0, "gone"), ("k99", 7.0, "new")],
        "url string, value double, status string").write.parquet(srcp)

    rc, out = _run(capsys, [
        "merge-into", "--table-root", root, "--source", srcp,
        "--set", "value=s.value", "--set", "status=s.status",
        "--delete", "--delete-condition", "s.status = 'gone'",
        "--insert-all", "--batch-id", "5",
    ])
    assert rc == 0
    assert out["counts"] == {"rows_source": 3, "rows_updated": 1,
                             "rows_deleted": 1, "rows_inserted": 1}
    got = {r["url"]: (r["value"], r["status"])
           for r in t.read(spark).collect()}
    assert got["k0"] == (100.0, "upd")
    assert "k1" not in got
    assert got["k99"] == (7.0, "new")

    # fenced replay through the CLI
    rc, again = _run(capsys, [
        "merge-into", "--table-root", root, "--source", srcp,
        "--set-all", "--batch-id", "5",
    ])
    assert rc == 0 and again["version"] is None
    assert again["counts"]["fenced"] == 1

    # malformed --set / conflicting flags are usage errors
    rc, _ = _run(capsys, ["merge-into", "--table-root", root,
                          "--source", srcp, "--set", "value"])
    assert rc == 2
    rc, _ = _run(capsys, ["merge-into", "--table-root", root,
                          "--source", srcp, "--set", "value=1",
                          "--set-all"])
    assert rc == 2


def test_cli_sync_and_by_source(spark, tmp_path, capsys):
    """`sync` converges a table to a snapshot file; `merge-into
    --by-source-delete` exposes the BY SOURCE clause family."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
        LakeTable,
    )

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    root = str(tmp_path / "lake")
    t = LakeTable.create(root, schema, key="url", bucket_count=4)
    t.append(spark, spark.range(6).select(
        F.concat(F.lit("k"), F.col("id")).alias("url"),
        F.col("id").cast("double").alias("value")))
    snapp = str(tmp_path / "snap.parquet")
    spark.createDataFrame(
        [("k0", 0.0), ("k1", 11.0), ("k9", 9.0)],
        "url string, value double").write.parquet(snapp)

    rc, out = _run(capsys, ["sync", "--table-root", root,
                            "--source", snapp, "--batch-id", "3"])
    assert rc == 0
    assert out["counts"] == {"rows_source": 3, "rows_updated": 1,
                             "rows_deleted": 4, "rows_inserted": 1}
    got = {r["url"]: r["value"] for r in t.read(spark).collect()}
    assert got == {"k0": 0.0, "k1": 11.0, "k9": 9.0}

    # a second sync to the same snapshot commits nothing
    rc, out2 = _run(capsys, ["sync", "--table-root", root,
                             "--source", snapp])
    assert rc == 0 and out2["version"] is None

    # BY SOURCE through merge-into directly: mark absent keys stale
    srcp = str(tmp_path / "src2.parquet")
    spark.createDataFrame([("k0", 1.0)], "url string, value double") \
        .write.parquet(srcp)
    rc, out3 = _run(capsys, [
        "merge-into", "--table-root", root, "--source", srcp,
        "--by-source-set", "value=t.value * -1",
    ])
    assert rc == 0 and out3["counts"]["rows_updated"] == 2
    got = {r["url"]: r["value"] for r in t.read(spark).collect()}
    assert got == {"k0": 0.0, "k1": -11.0, "k9": -9.0}
