"""Format-fidelity + QA-normalization unit tests: monolithic export
file, staged compression, identifier mappings, compare normalization
rules, JDBC interface."""

from __future__ import annotations

import datetime
import math
import os
from decimal import Decimal

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from yadamu___yet_another_data_migration_utility_spark.operators.compare import compare
from yadamu___yet_another_data_migration_utility_spark.operators.mapping import invert
from yadamu___yet_another_data_migration_utility_spark.sources.exportfile import (
    export_json,
    import_json,
)
from yadamu___yet_another_data_migration_utility_spark.sources.staged import (
    load_staged,
    unload,
)

TRICKY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BinaryType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("dec", T.DecimalType(10, 3)),
    ]
)


def tricky_df(spark):
    rows = [
        (1, "plain", bytearray(b"\x00\xffbin"), datetime.datetime(2024, 1, 2, 3, 4, 5, 123456),
         1.5, Decimal("12.345")),
        (2, "", None, None, float("nan"), None),  # empty string vs NULL
        (3, None, bytearray(b""), datetime.datetime(2024, 6, 1), float("inf"), Decimal("0.001")),
        (4, "line\nbreak,comma\"quote", bytearray(b"\x01\x02"), datetime.datetime(2024, 1, 1),
         float("-inf"), Decimal("-5.000")),
    ]
    return spark.createDataFrame(rows, TRICKY_SCHEMA)


def _canon(df):
    out = []
    for r in df.orderBy("id").collect():
        d = float("nan") if r["d"] is None else r["d"]
        out.append((r["id"], r["s"], bytes(r["b"]) if r["b"] is not None else None,
                    r["ts"], repr(d), r["dec"]))
    return out


def test_export_file_roundtrip_tricky_types(spark, tmp_path):
    """One monolithic JSON document must round-trip binary (hex), ISO-µs
    timestamps, NaN/±Infinity sentinels, exact decimals, empty-vs-NULL
    strings -- the reference's jsonWriter encodings."""
    df = tricky_df(spark)
    path = str(tmp_path / "export.json")
    meta = export_json({"t": df}, path)
    assert meta["t"]["columnNames"] == df.columns
    back = import_json(spark, path)["t"]
    assert back.schema == df.schema
    assert _canon(back) == _canon(df)


def test_export_file_gzip(spark, tmp_path):
    df = tricky_df(spark)
    path = str(tmp_path / "export.json.gz")
    export_json({"t": df}, path, compression="gzip")
    with open(path, "rb") as f:
        assert f.read(2) == b"\x1f\x8b"  # really gzip on disk
    back = import_json(spark, path)["t"]
    assert _canon(back) == _canon(df)


def test_import_json_tiny_chunks_roundtrip(spark, tmp_path):
    """Force the incremental parser across MANY buffer boundaries
    (values split mid-string/mid-number between refills): a 64-byte
    chunk over the tricky-types doc must still round-trip exactly."""
    df = tricky_df(spark)
    path = str(tmp_path / "export.json")
    export_json({"t": df, "t2": df}, path)
    back = import_json(spark, path, chunk_size=64)
    assert _canon(back["t"]) == _canon(df)
    assert _canon(back["t2"]) == _canon(df)


def test_import_json_bounded_driver_memory(tmp_path):
    """The streaming import's driver memory must be O(chunk + one row),
    NOT O(document): synthesize a document ~40 MB of row data (no
    Spark needed -- this tests the parser), stream it with a 64 KiB
    chunk, and assert the parser buffer peaked near the chunk size --
    three orders of magnitude below the document. This is the
    reference's clarinet/SAX property (jsonParser.js:35-218): the
    export document never lives in memory."""
    import json as _json

    from yadamu___yet_another_data_migration_utility_spark.sources.exportfile import (
        _stream_to_jsonl,
    )

    path = str(tmp_path / "big_export.json")
    n_rows, payload = 200_000, "x" * 180
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("s", T.StringType())])
    head = {
        "systemInformation": {"vendor": "test"},
        "ddl": [],
        "metadata": {"big": {"tableName": "big", "columnNames": ["id", "s"],
                             "schema": schema.jsonValue()}},
    }
    with open(path, "w", encoding="utf-8") as f:
        f.write(_json.dumps(head)[:-1])
        f.write(', "data": {"big": [')
        for i in range(n_rows):
            if i:
                f.write(", ")
            f.write(f'[{i}, "{payload}-{i}"]')
        f.write("]}}")
    doc_bytes = os.path.getsize(path)
    assert doc_bytes > 30_000_000  # the document really is large

    chunk = 64 * 1024
    out_head, files, peak = _stream_to_jsonl(path, str(tmp_path), chunk_size=chunk)
    # bounded: peak buffer ~ chunk + one row (plus slack), NOT the doc
    assert peak <= 4 * chunk, f"parser buffered {peak} chars (doc {doc_bytes})"
    assert peak * 100 < doc_bytes
    assert out_head["metadata"]["big"]["columnNames"] == ["id", "s"]
    with open(files["big"], encoding="utf-8") as f:
        n = sum(1 for _ in f)
    assert n == n_rows


@pytest.mark.parametrize("fmt", ["csv", "json", "parquet"])
def test_staged_compression_option(spark, tmp_path, fmt):
    """The staged writer's compression option (reference gzip chain,
    fileDBI.js:344-372) must produce gzip data files that load back
    losslessly."""
    df = tricky_df(spark).drop("d")  # JSON text format cannot carry NaN/Inf
    root = str(tmp_path / f"ds_{fmt}")
    unload({"t": df}, root, fmt=fmt, compression="gzip")
    data_dir = os.path.join(root, "data", "t")
    suffix = ".gz.parquet" if fmt == "parquet" else ".gz"
    assert any(f.endswith(suffix) for f in os.listdir(data_dir)), os.listdir(data_dir)
    back = load_staged(spark, root)["t"]
    res = compare(df, back)
    assert res.ok, res


def test_staged_identifier_mappings_roundtrip(spark, tmp_path):
    """Unload with table+column renames and a default case transform,
    load back with the inverted mapping: identical identifiers + data
    (reference yadamuDBI.js:497-653)."""
    df = tricky_df(spark)
    mappings = {
        "t": {"tableName": "T_RENAMED", "columnMappings": {"id": "ROW_ID", "s": "TXT"}},
        "*": {"case": "upper"},
    }
    root = str(tmp_path / "ds_map")
    unload({"t": df}, root, fmt="parquet", mappings=mappings)
    # mapped names on disk + in control file
    assert os.path.isdir(os.path.join(root, "data", "T_RENAMED"))
    mapped = load_staged(spark, root)
    assert set(mapped.keys()) == {"T_RENAMED"}
    assert "ROW_ID" in mapped["T_RENAMED"].columns
    assert "TS" in mapped["T_RENAMED"].columns  # case transform applied
    # round-trip back to source identifiers
    back = load_staged(spark, root, mappings=invert(mappings))["t"]
    assert back.columns == df.columns
    assert _canon(back) == _canon(df)


def test_compare_normalization_rules(spark):
    """A lossy-but-correct migration (µs->ms timestamps, rounded
    doubles, ''->NULL, Infinity->NULL) must FAIL the strict compare and
    PASS with the reference's normalization rules enabled
    (yadamuQA.js:327-357)."""
    src = tricky_df(spark).drop("b")
    tgt = src.select(
        "id",
        F.when(F.length("s") == 0, F.lit(None)).otherwise(F.col("s")).alias("s"),
        F.timestamp_millis(F.unix_millis("ts")).alias("ts"),  # µs -> ms truncation
        F.when(F.isnan("d") | (F.abs("d") == float("inf")), F.lit(None))
        .otherwise(F.round("d", 2)).alias("d"),
        "dec",
    )
    strict = compare(src, tgt)
    assert not strict.ok
    relaxed = compare(
        src, tgt,
        timestamp_precision=3, double_precision=2,
        empty_string_is_null=True, infinity_is_null=True,
    )
    assert relaxed.ok, relaxed


def test_compare_normalization_still_catches_real_drift(spark):
    """Normalization must not mask genuine value drift."""
    src = tricky_df(spark).drop("b")
    tgt = src.withColumn("d", F.col("d") + 1.0)
    res = compare(src, tgt, timestamp_precision=3, double_precision=2,
                  empty_string_is_null=True, infinity_is_null=True)
    assert not res.ok


def test_compare_ordered_json_rule(spark):
    """ORDERED_JSON (yadamuQA.js:327-357): two stores of the same JSON
    document with different key order / whitespace / nesting order must
    FAIL the strict compare and PASS with ordered_json=True -- while a
    true value drift, a number-vs-string type drift, and a plain-string
    difference still fail WITH the rule on."""
    src = spark.createDataFrame(
        [
            (1, '{"b": 1, "a": {"y": [1, 2], "x": "v"}}', "plain"),
            (2, '{"k": "v"}', ""),
            (3, None, "[not json"),
        ],
        "id long, props string, note string",
    )
    tgt_reordered = spark.createDataFrame(
        [
            (1, '{"a":{"x":"v","y":[1, 2]},"b":1}', "plain"),
            (2, '{ "k" : "v" }', ""),
            (3, None, "[not json"),
        ],
        "id long, props string, note string",
    )
    assert not compare(src, tgt_reordered).ok  # strict: byte compare fails
    assert compare(src, tgt_reordered, ordered_json=True).ok

    # genuine drift stays caught: value change, type change (1 vs "1"),
    # and a non-JSON string difference
    for drift in (
        [(1, '{"b": 2, "a": {"y": [1, 2], "x": "v"}}', "plain")],
        [(1, '{"b": "1", "a": {"y": [1, 2], "x": "v"}}', "plain")],
        [(1, '{"b": 1, "a": {"y": [1, 2], "x": "v"}}', "PLAIN")],
        [(1, '{"b": 1, "a": {"y": [2, 1], "x": "v"}}', "plain")],  # array ORDER is data
    ):
        tgt_bad = spark.createDataFrame(
            drift + [(2, '{"k": "v"}', ""), (3, None, "[not json")],
            "id long, props string, note string",
        )
        assert not compare(src, tgt_bad, ordered_json=True).ok, drift


def test_compare_canonical_xml_rule(spark):
    """XML canonicalization (the reference's XSLT rule): attribute
    order / empty-element serialization drift passes only with
    canonical_xml=True; text and attribute VALUE drift still fails."""
    src = spark.createDataFrame(
        [(1, '<doc a="1" b="2"><item x="y"/>text</doc>'),
         (2, None), (3, "not xml at all")],
        "id long, payload string",
    )
    tgt_equiv = spark.createDataFrame(
        [(1, '<doc b="2" a="1"><item x="y"></item>text</doc>'),
         (2, None), (3, "not xml at all")],
        "id long, payload string",
    )
    assert not compare(src, tgt_equiv).ok
    assert compare(src, tgt_equiv, canonical_xml=True).ok
    for drifted in (
        '<doc a="1" b="3"><item x="y"/>text</doc>',   # attribute value
        '<doc a="1" b="2"><item x="y"/>TEXT</doc>',   # text content
    ):
        tgt_bad = spark.createDataFrame(
            [(1, drifted), (2, None), (3, "not xml at all")],
            "id long, payload string",
        )
        assert not compare(src, tgt_bad, canonical_xml=True).ok, drifted


def test_compare_normalization_timestamp_ntz(spark, tmp_path):
    """timestamp_precision must also truncate TIMESTAMP_NTZ -- what
    Spark 4 actually reads back from parquet -- not only TIMESTAMP.
    A µs->ms-lossy round-trip through parquet passes only with the
    rule applied."""
    src_p = str(tmp_path / "ntz_src")
    tgt_p = str(tmp_path / "ntz_tgt")
    df = spark.createDataFrame(
        [(1, "2024-03-01 10:00:00.123456"), (2, "2024-03-01 10:00:00.999999")],
        "id int, ts string",
    ).select("id", F.col("ts").cast("timestamp_ntz").alias("ts"))
    df.write.parquet(src_p)
    df.select(
        "id",
        (F.col("ts").cast("timestamp")).alias("t0"),
    ).select(
        "id",
        F.timestamp_millis(F.unix_millis("t0")).cast("timestamp_ntz").alias("ts"),
    ).write.parquet(tgt_p)
    src = spark.read.parquet(src_p)
    tgt = spark.read.parquet(tgt_p)
    import pyspark.sql.types as T

    assert isinstance(src.schema["ts"].dataType, T.TimestampNTZType)
    assert not compare(src, tgt).ok
    assert compare(src, tgt, timestamp_precision=3).ok


def test_compare_ntz_truncation_dst_gap_safe(spark):
    """NTZ truncation must not round-trip whole seconds through the
    session zone: inside a DST spring-forward gap that collapses
    values an hour apart into one instant."""
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        src = spark.createDataFrame(
            [(1, "2024-03-10 02:30:00.123456")], "id int, ts string"
        ).select("id", F.col("ts").cast("timestamp_ntz").alias("ts"))
        tgt = spark.createDataFrame(
            [(1, "2024-03-10 03:30:00.123456")], "id int, ts string"
        ).select("id", F.col("ts").cast("timestamp_ntz").alias("ts"))
        res = compare(src, tgt, timestamp_precision=3)
        assert not res.ok, "gap times an hour apart compared equal"
        # and truncation itself still works on NTZ under a non-UTC zone
        tgt2 = src.select(
            "id",
            F.col("ts").cast("string").substr(F.lit(1), F.lit(23)).cast("timestamp_ntz").alias("ts"),
        )
        assert not compare(src, tgt2).ok
        assert compare(src, tgt2, timestamp_precision=3).ok
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
