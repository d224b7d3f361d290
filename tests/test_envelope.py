"""Debezium envelope codec: lossless round-trip, tombstones, wrapped
payloads, quarantine of unknown op codes, and a full streaming replay
tailing a JSON-lines envelope WAL (the Kafka/Debezium feed shape).

Reference analogue: the per-vendor wire-format normalization layers
(/root/reference/src/YADAMU/*/node/ DataTypes/statement libraries) --
here one declarative from_json projection."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from yadamu___yet_another_data_migration_utility_spark.fixtures.changelog import (
    PAGE_SCHEMA,
    changelog_df,
)
from yadamu___yet_another_data_migration_utility_spark.functions.extract import extract_text
from yadamu___yet_another_data_migration_utility_spark.operators.apply import quarantine_split
from yadamu___yet_another_data_migration_utility_spark.operators.compare import (
    changelog_oracle,
    compare,
)
from yadamu___yet_another_data_migration_utility_spark.sources.envelope import (
    decode_debezium,
    encode_debezium,
)
from yadamu___yet_another_data_migration_utility_spark.sources.laketable import LakeTable
from yadamu___yet_another_data_migration_utility_spark.streaming.stream import (
    start_replay,
)

N_EVENTS, N_URLS = 1200, 80


def _payload_schema(log) -> T.StructType:
    return T.StructType(
        [f for f in log.schema.fields if f.name not in ("lsn", "op")]
    )


def _roundtrip(log):
    wire = encode_debezium(log)
    return decode_debezium(wire, _payload_schema(log))


def test_roundtrip_lossless(spark):
    """encode -> decode returns the exact changelog: binary html via
    base64, timestamps via epoch-us, deletes via the before image,
    the additive content_type column straight through."""
    log = changelog_df(spark, N_EVENTS, N_URLS, dup_mod=40, evolve_from=600)
    back = _roundtrip(log)
    assert back.columns[:2] == ["lsn", "op"]
    res = compare(log.select(back.columns), back,
                  columns=["lsn", "op", "url", "warc_ts", "html", "lang",
                           "content_type"])
    assert res.ok, res


def test_roundtrip_timestamp_ntz(spark):
    """A zone-less timestamp column crosses the wire as epoch-us and
    decodes back to timestamp_ntz with the exact wall-clock values,
    pre-1970 and sub-second ones included."""
    log = changelog_df(spark, 300, 40, dup_mod=0).withColumn(
        "seen", (F.col("warc_ts").cast("timestamp_ntz")
                 - F.make_dt_interval(F.lit(20000), F.lit(0), F.lit(0),
                                      F.col("lsn") / 1000)))
    assert log.filter(F.year("seen") < 1970).count() > 0
    back = _roundtrip(log)
    assert isinstance(back.schema["seen"].dataType, T.TimestampNTZType)
    cols = ["lsn", "op", "url", "warc_ts", "seen"]
    res = compare(log.select(cols), back.select(cols), columns=cols)
    assert res.ok, res


def test_delete_carries_before_image(spark):
    log = changelog_df(spark, N_EVENTS, N_URLS, dup_mod=0)
    dels = _roundtrip(log).filter(F.col("op") == "D")
    n = dels.count()
    assert n > 0
    # key and event time survive the before-image path; html was
    # already NULL on deletes upstream
    assert dels.filter(F.col("url").isNull() | F.col("warc_ts").isNull()).count() == 0
    assert dels.filter(F.col("html").isNotNull()).count() == 0


def test_wrapped_connect_envelope(spark):
    log = changelog_df(spark, 300, 40, dup_mod=0)
    wire = encode_debezium(log, wrapped=True)
    one = wire.select("value").first()[0]
    assert one.startswith('{"schema":')
    back = decode_debezium(wire, _payload_schema(log), wrapped=True)
    res = compare(log.select(back.columns), back,
                  columns=["lsn", "op", "url", "html", "lang"])
    assert res.ok, res
    # decoding wrapped records WITHOUT wrapped=True must not silently
    # mis-parse: every envelope field comes back null -> quarantine
    misread = decode_debezium(wire, _payload_schema(log))
    assert misread.filter(F.col("lsn").isNotNull()).count() == 0


def test_tombstones_dropped_and_bad_ops_quarantined(spark):
    log = changelog_df(spark, 300, 40, dup_mod=0)
    wire = encode_debezium(log)
    junk = spark.createDataFrame(
        [
            (None,),  # Kafka tombstone after a delete
            ('{"op":"x","source":{"lsn":999111},'
             '"after":{"url":"https://bad.example.com/p/1"}}',),
        ],
        T.StructType([T.StructField("value", T.StringType())]),
    ).withColumn("key", F.lit(None).cast("string"))
    decoded = decode_debezium(wire.unionByName(junk), _payload_schema(log))
    assert decoded.count() == log.count() + 1  # tombstone gone
    good, bad = quarantine_split(decoded)
    rows = {(r["_reason"], r["lsn"]) for r in bad.collect()}
    assert ("bad_op", 999111) in rows
    assert good.count() == log.count()


def test_nested_payload_rejected(spark):
    bad = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("meta", T.StructType([T.StructField("a", T.StringType())])),
    ])
    with pytest.raises(ValueError, match="nested"):
        decode_debezium(None, bad)  # schema validation precedes df use


def test_streaming_replay_from_envelope_wal(spark, tmp_path):
    """End-to-end: JSONL Debezium WAL segments -> decode inside the
    stream -> fenced LSN-monotonic merge. Final table state must equal
    the whole-log LWW oracle -- proof the decode layer loses nothing
    under micro-batching, fencing and late/duplicate delivery."""
    log = changelog_df(spark, N_EVENTS, N_URLS, dup_mod=40)
    wal = str(tmp_path / "wal")
    n_seg, per = 4, (N_EVENTS + 3) // 4
    for s in range(n_seg):
        lo, hi = s * per, (s + 1) * per
        seg = log.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        if s == n_seg - 1:
            seg = log.filter(F.col("lsn") > lo)
        (encode_debezium(seg).select("value")
         .coalesce(1).write.mode("append").text(wal))
    table = LakeTable.create(str(tmp_path / "pages"), PAGE_SCHEMA,
                             key="url", bucket_count=8)
    payload = _payload_schema(log)
    q = start_replay(
        spark, table, wal, str(tmp_path / "ckpt"),
        source_format="jsonl",
        decoder=lambda df: decode_debezium(df, payload),
    )
    q.awaitTermination()
    oracle = changelog_oracle(log.drop("warc_ts")).withColumn(
        "text", extract_text(F.col("html")))
    got = table.read(spark).drop("warc_ts")
    res = compare(oracle, got, columns=["url", "html", "lang", "text", "_lsn"])
    assert res.ok, res


def test_cli_replay_debezium(spark, tmp_path, capsys):
    """`replay --format debezium` tails the same JSONL WAL through the
    public CLI surface."""
    import json

    from yadamu___yet_another_data_migration_utility_spark.cli import main

    log = changelog_df(spark, 400, 50, dup_mod=0)
    wal = str(tmp_path / "wal")
    encode_debezium(log).select("value").coalesce(1).write.text(wal)
    root = str(tmp_path / "pages")
    rc = main(["replay", "--log-path", wal, "--table-root", root,
               "--checkpoint-dir", str(tmp_path / "ckpt"),
               "--create", "--format", "debezium", "--buckets", "4"])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0
    summary = json.loads(out[-1])
    table = LakeTable.load(root)
    expect = changelog_oracle(log).count()
    assert summary["table_rows"] == expect
    assert table.read(spark).count() == expect


def _seed_source(spark, tmp_path, n=900, urls=60, batches=3):
    from yadamu___yet_another_data_migration_utility_spark.operators.apply import apply_batch

    log = changelog_df(spark, n, urls, dup_mod=0)
    src = LakeTable.create(str(tmp_path / "src"), PAGE_SCHEMA,
                           key="url", bucket_count=8)
    per = (n + batches - 1) // batches
    for b in range(batches):
        lo, hi = b * per, (b + 1) * per
        seg = log.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        if b == batches - 1:
            seg = log.filter(F.col("lsn") > lo)
        apply_batch(src, seg, batch_id=b)
    return log, src


def test_publish_then_replay_replicates_over_the_wire(spark, tmp_path):
    """Table -> Debezium JSONL -> table: the published feed is the SAME
    wire format the replay source consumes, so chaining them replicates
    the table with each side seeing only the connector shape -- the
    engine's CDC loop closed over a wire, not a shared lake."""
    from yadamu___yet_another_data_migration_utility_spark.streaming.stream import (
        publish_changes,
    )

    log, src = _seed_source(spark, tmp_path)
    wal = str(tmp_path / "topic")
    summ = publish_changes(spark, src, wal, since_version=1)
    assert summ["until"] == src.current_version()
    assert summ["published"] > 0
    dst = LakeTable.create(str(tmp_path / "dst"), PAGE_SCHEMA,
                           key="url", bucket_count=4)
    payload = T.StructType(
        [f for f in src.schema().fields if not f.name.startswith("_")]
    )
    q = start_replay(
        spark, dst, wal, str(tmp_path / "ckpt"),
        source_format="jsonl",
        decoder=lambda df: decode_debezium(df, payload),
    )
    q.awaitTermination()
    res = compare(src.read(spark), dst.read(spark),
                  columns=["url", "html", "lang", "text", "_lsn"])
    assert res.ok, res


def test_cli_changes_debezium_publish(spark, tmp_path, capsys):
    import json

    from yadamu___yet_another_data_migration_utility_spark.cli import main

    _, src = _seed_source(spark, tmp_path, n=300, urls=40, batches=1)
    wal = str(tmp_path / "topic")
    rc = main(["changes", "--table-root", str(tmp_path / "src"),
               "--since", "1", "--out-dir", wal, "--format", "debezium"])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0
    summ = json.loads(out[-1])
    # the window nets to upserts PLUS tombstones for keys that ended
    # deleted -- exactly what read_changes reports
    assert summ["published"] == src.read_changes(spark, 1).count()
    # --public + debezium is a contract violation, refused cleanly
    rc = main(["changes", "--table-root", str(tmp_path / "src"),
               "--since", "1", "--out-dir", wal + "2", "--format", "debezium",
               "--public"])
    assert rc == 2
    # the published feed replays through the CLI consumer verb;
    # --schema-from seeds the replica from the SOURCE table (the wire
    # replication path for arbitrary schemas, not just the pages table)
    root = str(tmp_path / "dst")
    rc = main(["replay", "--log-path", wal, "--table-root", root,
               "--checkpoint-dir", str(tmp_path / "ckpt"),
               "--schema-from", str(tmp_path / "src"),
               "--format", "debezium", "--buckets", "4"])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0
    assert json.loads(out[-1])["table_rows"] == src.read(spark).count()


def test_update_with_both_images_resolves_per_image(spark):
    """A connector with full replica identity ships BOTH images on an
    update; a field set to NULL in `after` must decode as NULL -- a
    per-field coalesce would resurrect the stale before-image value
    and silently diverge the replica."""
    payload = T.StructType([T.StructField("url", T.StringType()),
                            T.StructField("lang", T.StringType())])
    rec = ('{"before":{"url":"u1","lang":"en"},'
           '"after":{"url":"u1","lang":null},'
           '"source":{"lsn":7},"op":"u"}')
    df = spark.createDataFrame([(rec,)], "value string")
    row = decode_debezium(df, payload).first()
    assert (row["op"], row["lsn"], row["url"]) == ("U", 7, "u1")
    assert row["lang"] is None
    # deletes still resolve from the before image
    rec_d = ('{"before":{"url":"u2","lang":"de"},"after":null,'
             '"source":{"lsn":8},"op":"d"}')
    row = decode_debezium(
        spark.createDataFrame([(rec_d,)], "value string"), payload).first()
    assert (row["op"], row["url"], row["lang"]) == ("D", "u2", "de")


def test_wrapped_corrupt_records_quarantined_not_dropped(spark):
    """Only true tombstones (null/blank records) may vanish; a corrupt
    wrapped record (payload key lost, truncated JSON) must surface as
    an all-NULL row for the quarantine, preserving the audit trail."""
    payload = T.StructType([T.StructField("url", T.StringType()),
                            T.StructField("html", T.BinaryType())])
    good = ('{"schema":{"type":"struct"},"payload":{"after":'
            '{"url":"u1","html":"eA=="},"source":{"lsn":1},"op":"c"}}')
    recs = [(good,),
            ('{"schema":{"type":"struct"}}',),   # payload key lost
            ('{"schema":{"typ',),                # truncated JSON
            (None,),                             # Kafka tombstone
            ("   ",)]                            # blank line
    df = spark.createDataFrame(recs, "value string")
    decoded = decode_debezium(df, payload, wrapped=True)
    assert decoded.count() == 3  # tombstone + blank dropped, corrupt kept
    ok, bad = quarantine_split(decoded)
    assert ok.count() == 1
    assert bad.count() == 2
    assert {r["_reason"] for r in bad.collect()} == {"null_key"}


def test_publish_append_cursor_loop(spark, tmp_path):
    """The documented outbox loop: successive windows APPEND into one
    topic directory (the returned `until` is the next `since`); a
    consumer tailing the directory sees every window."""
    from yadamu___yet_another_data_migration_utility_spark.streaming.stream import (
        publish_changes,
    )

    log, src = _seed_source(spark, tmp_path, n=600, urls=50, batches=2)
    wal = str(tmp_path / "topic")
    w1 = publish_changes(spark, src, wal, since_version=1, until_version=2)
    w2 = publish_changes(spark, src, wal, since_version=w1["until"])
    assert w2["since"] == 2 and w2["until"] == src.current_version()
    assert w1["published"] > 0 and w2["published"] > 0
    dst = LakeTable.create(str(tmp_path / "dst"), PAGE_SCHEMA,
                           key="url", bucket_count=4)
    payload = T.StructType(
        [f for f in src.schema().fields if not f.name.startswith("_")]
    )
    q = start_replay(
        spark, dst, wal, str(tmp_path / "ckpt"),
        source_format="jsonl",
        decoder=lambda df: decode_debezium(df, payload),
    )
    q.awaitTermination()
    res = compare(src.read(spark), dst.read(spark),
                  columns=["url", "html", "lang", "text", "_lsn"])
    assert res.ok, res


def test_multi_table_wire_replication(spark, tmp_path):
    """Two tables with DIFFERENT schemas and keys publish into ONE
    topic; `replay-multi --format debezium` routes by source.table and
    projects each slice back to its own columns -- no cross-table
    column grafting, both replicas byte-equal."""
    import json

    from yadamu___yet_another_data_migration_utility_spark.cli import main
    from yadamu___yet_another_data_migration_utility_spark.operators.apply import (
        apply_batch,
    )
    from yadamu___yet_another_data_migration_utility_spark.streaming.stream import (
        publish_changes,
    )

    sa = T.StructType([T.StructField("url", T.StringType()),
                       T.StructField("lang", T.StringType())])
    sb = T.StructType([T.StructField("doc_id", T.StringType()),
                       T.StructField("score", T.DoubleType())])
    ta = LakeTable.create(str(tmp_path / "a"), sa, key="url", bucket_count=4)
    tb = LakeTable.create(str(tmp_path / "b"), sb, key="doc_id",
                          bucket_count=4)
    la = spark.createDataFrame(
        [(i, "D" if i % 11 == 0 else "U", f"https://a.test/{i % 17}",
          "en" if i % 3 else "de") for i in range(1, 121)],
        "lsn long, op string, url string, lang string")
    lb = spark.createDataFrame(
        [(i, "U", f"doc-{i % 13}", i / 7.0) for i in range(1, 81)],
        "lsn long, op string, doc_id string, score double")
    apply_batch(ta, la, batch_id=0)
    apply_batch(tb, lb, batch_id=0)
    wal = str(tmp_path / "topic")
    publish_changes(spark, ta, wal, since_version=1, topic="a")
    publish_changes(spark, tb, wal, since_version=1, topic="b")
    ra = LakeTable.create(str(tmp_path / "ra"), sa, key="url",
                          bucket_count=4)
    rb = LakeTable.create(str(tmp_path / "rb"), sb, key="doc_id",
                          bucket_count=4)
    rc = main(["replay-multi", "--log-path", wal,
               "--table", f"a={tmp_path / 'ra'}",
               "--table", f"b={tmp_path / 'rb'}",
               "--checkpoint-dir", str(tmp_path / "ckpt"),
               "--format", "debezium"])
    assert rc == 0
    res = compare(ta.read(spark), ra.read(spark),
                  columns=["url", "lang", "_lsn"])
    assert res.ok, res
    res = compare(tb.read(spark), rb.read(spark),
                  columns=["doc_id", "score", "_lsn"])
    assert res.ok, res
    # union-payload decode must NOT graft the other table's columns
    assert "score" not in ra.read(spark).columns
    assert "lang" not in rb.read(spark).columns


def test_cli_replay_multi_duplicate_name_refused(spark, tmp_path, capsys):
    from yadamu___yet_another_data_migration_utility_spark.cli import main

    rc = main(["replay-multi", "--log-path", str(tmp_path / "wal"),
               "--table", f"a={tmp_path / 'x'}",
               "--table", f"a={tmp_path / 'y'}",
               "--checkpoint-dir", str(tmp_path / "ckpt"), "--create"])
    assert rc == 2
    assert "duplicate" in capsys.readouterr().err
