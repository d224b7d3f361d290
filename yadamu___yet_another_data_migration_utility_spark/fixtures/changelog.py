"""Deterministic synthetic Common-Crawl-style changelog generator.

Pure Spark (``spark.range`` + hash builtins), seeded, no external data
(FIXTURES.md F2). Every value is a pure function of (seed, lsn), so the
same call always produces bit-identical events -- the property the whole
correctness story (oracle compare, restart tests, byte-identical text)
rests on.

Segments exercised (FIXTURES.md F2 table):
- clean inserts / updates: each url receives multiple events with
  ascending lsn (url assignment wraps around the key space)
- deletes incl. delete->reinsert: op derived from a hash of lsn --
  ~12% 'D', so most urls see I/U/D interleavings across lsns
- hot keys: ``hot_fraction`` of events are remapped onto ``n_hot``
  urls (skew for the map-side combined reduction + AQE skew join)
- exact duplicates: events with pmod(hash, dup_mod)==0 are re-emitted
  verbatim (at-least-once delivery)
- late events: ~10% get warc_ts pushed ``late_by`` seconds into the
  past (watermark exercise)
- schema evolution: events with lsn >= evolve_from carry an extra
  additive column ``content_type`` (callers select it away for
  pre-evolution batches)
- poison rows: if requested, a deterministic subset gets NULL url /
  NULL html on I/U (quarantine path; reference analogue
  checkColumnCount, /root/reference/src/YADAMU/common/yadamuWriter.js
  :279-289)

Reference analogue of the generator as a whole: the QA harness's vendor
demo schemas + regression corpora (/root/reference/qa/regression/
tasks.json) -- replaced by a seeded generator because the north rule
forbids external data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LANGS = ["en", "de", "fr", "es", "zh", "ja", "pt", "ru"]

#: Public page-table schema mandated by BASELINE.json#input_hint.
PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

BASE_TS = "2024-01-01 00:00:00"


def _h(seed: int, *cols) -> F.Column:
    """Deterministic 64-bit hash of (seed, cols)."""
    return F.xxhash64(F.lit(seed), *cols)


def synth_html_expr(url: F.Column, lsn: F.Column, seed: int = 42) -> F.Column:
    """Deterministic synthetic HTML bytes for (url, lsn).

    Includes a <script> block, a comment, entities and multi-line body so
    the extractor has real work to do; body text is sha2-derived so every
    (url, lsn) has distinct content.
    """
    body = F.sha2(F.concat_ws("|", url, lsn.cast("string"), F.lit(seed)), 256)
    title = F.concat(F.lit("Rev "), lsn.cast("string"), F.lit(" &amp; friends"))
    html_str = F.concat(
        F.lit("<html><head><title>"), title,
        F.lit("</title><style>body{color:red}</style></head>\n<body>"),
        F.lit("<script>var x = 1 < 2;</script><!-- hidden -->"),
        F.lit("<h1>Page "), url, F.lit("</h1>\n<p>content&nbsp;"),
        body,
        F.lit("</p>\n<p>tail &#8364; value</p></body></html>"),
    )
    return F.encode(html_str, "UTF-8")


def changelog_df(
    spark: SparkSession,
    n_events: int,
    n_urls: int,
    seed: int = 42,
    hot_fraction: float = 0.3,
    n_hot: int = 3,
    late_fraction: float = 0.1,
    late_by: int = 86_400,
    dup_mod: int = 50,
    evolve_from: int | None = None,
    poison_mod: int | None = None,
) -> DataFrame:
    """Ordered change-event DataFrame: (lsn, op, url, warc_ts, html,
    lang[, content_type]). lsn is strictly increasing and unique except
    for the exact-duplicate segment (same event re-delivered verbatim).
    """
    df = spark.range(n_events).withColumn("lsn", F.col("id") + 1).drop("id")

    # url assignment: uniform over n_urls, then remap a hot_fraction onto n_hot urls
    uid = F.pmod(_h(seed, F.col("lsn")), F.lit(n_urls))
    is_hot = (F.pmod(_h(seed + 1, F.col("lsn")), F.lit(1000)) < F.lit(int(hot_fraction * 1000)))
    uid = F.when(is_hot, F.pmod(_h(seed + 2, F.col("lsn")), F.lit(n_hot))).otherwise(uid)
    domain = F.concat(F.lit("site"), F.pmod(uid, F.lit(97)).cast("string"), F.lit(".example.com"))
    df = df.withColumn("url", F.concat(F.lit("https://"), domain, F.lit("/p/"), uid.cast("string")))

    # op: ~12% D, ~44% I, ~44% U (merge treats I and U identically: upsert)
    opv = F.pmod(_h(seed + 3, F.col("lsn")), F.lit(100))
    df = df.withColumn(
        "op", F.when(opv < 12, "D").when(opv < 56, "I").otherwise("U")
    )

    # event time: base + lsn seconds, with a late-arrival subset
    late = F.pmod(_h(seed + 4, F.col("lsn")), F.lit(1000)) < F.lit(int(late_fraction * 1000))
    offset = F.col("lsn") - F.when(late, F.lit(late_by)).otherwise(F.lit(0))
    df = df.withColumn(
        "warc_ts", F.timestamp_seconds(F.unix_timestamp(F.lit(BASE_TS)) + offset)
    )

    df = df.withColumn("lang", F.element_at(F.array(*[F.lit(x) for x in LANGS]),
                                            (F.pmod(_h(seed + 5, F.col("url")), F.lit(len(LANGS))) + 1).cast("int")))
    df = df.withColumn(
        "html",
        F.when(F.col("op") == "D", F.lit(None).cast("binary")).otherwise(
            synth_html_expr(F.col("url"), F.col("lsn"), seed)
        ),
    )

    if evolve_from is not None:
        df = df.withColumn(
            "content_type",
            F.when(
                F.col("lsn") >= evolve_from,
                F.when(F.pmod(_h(seed + 6, F.col("lsn")), F.lit(2)) == 0, "text/html")
                .otherwise("application/xhtml+xml"),
            ),
        )

    if poison_mod:
        bad = F.pmod(_h(seed + 7, F.col("lsn")), F.lit(poison_mod)) == 0
        kind = F.pmod(_h(seed + 8, F.col("lsn")), F.lit(2))
        df = df.withColumn(
            "url", F.when(bad & (kind == 0), F.lit(None)).otherwise(F.col("url"))
        ).withColumn(
            "html",
            F.when(bad & (kind == 1) & (F.col("op") != "D"), F.lit(None)).otherwise(F.col("html")),
        )

    # exact-duplicate segment: re-deliver every dup_mod-th event verbatim
    if dup_mod:
        dups = df.filter(F.pmod(_h(seed + 9, F.col("lsn")), F.lit(dup_mod)) == 0)
        df = df.unionByName(dups)

    return df


def write_wal_segments(
    df: DataFrame, path: str, n_segments: int, order_col: str = "lsn"
) -> None:
    """Materialize the changelog as ordered parquet 'WAL segments' (one
    directory per segment) for Structured Streaming file-source replay
    with maxFilesPerTrigger -- the analogue of the reference's ordered
    {table}->{data}xN->{eod} message protocol
    (/root/reference/src/YADAMU/common/dbReader.js:334-396).

    Segments are appended sequentially (ascending mtime) into one flat
    directory so Spark's file source discovers them oldest-first. The
    engine tolerates reordering anyway (LSN-monotonic merge), but
    in-order delivery matches a real WAL tail."""
    df = df.persist()
    try:
        mx = df.agg(F.max(order_col)).collect()[0][0] or 0
        per = max(1, (mx + n_segments - 1) // n_segments)
        for s in range(n_segments):
            lo, hi = s * per, (s + 1) * per
            seg = df.filter((F.col(order_col) > lo) & (F.col(order_col) <= hi))
            if s == n_segments - 1:
                seg = df.filter(F.col(order_col) > lo)
            (
                seg.sort(order_col)
                .coalesce(1)
                .write.mode("append")
                .parquet(path)
            )
    finally:
        df.unpersist()
