"""Round-4 catalog entries: composite-key CDC replay.

The reference replicates arbitrary relational tables whose primary
keys are mostly composite (/root/reference/src/YADAMU/common/
yadamuDBI.js:1163-1186 carries full per-column key metadata); these
queries drive the engine's composite-key support end-to-end through
the REAL surfaces (LakeTable MERGE, apply_batch, merge_into, lookup)
and pin the semantics to a DuckDB oracle.

Key derivation (identical in Spark and SQL so the oracle sees the
same input): the single-key catalog queries key on the synthetic
``url``; here the SAME identity splits into (site, path) -- a
two-column key whose tuple is 1:1 with the old url, so the composite
machinery must reproduce exactly the single-key final states.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import _register, load

_COMPOSITE_SQL_SRC = """
      SELECT event_id AS lsn,
             CASE WHEN event_type = 'error' THEN 'D'
                  WHEN event_type = 'signup' THEN 'I'
                  ELSE 'U' END AS op,
             concat('site', CAST(user_id % 10 AS VARCHAR), '.example.com') AS site,
             concat('/u/', CAST(user_id AS VARCHAR)) AS path,
             ts, value, event_type
      FROM events
"""


def composite_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("op"),
        F.concat(F.lit("site"), (F.col("user_id") % 10).cast("string"),
                 F.lit(".example.com")).alias("site"),
        F.concat(F.lit("/u/"), F.col("user_id").cast("string")).alias("path"),
        F.col("ts"),
        F.col("value"),
        F.col("event_type"),
    )


_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("site", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("event_type", T.StringType()),
    ]
)


def _replay_composite(spark: SparkSession, sf_dir: str, prefix: str,
                      n_batches: int = 3):
    """Replay the (site, path)-keyed changelog through the real engine:
    fenced mor merges via apply_batch, composite bucket hashing."""
    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = composite_changelog(spark, sf_dir).persist()  # n_batches x 2 subtrees
    root = tempfile.mkdtemp(prefix=prefix, dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, _PAGE_SCHEMA, key=["site", "path"],
                             bucket_count=16, overwrite=True)
    bounds = chg.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    per = max(1, (hi - lo + 1 + n_batches - 1) // n_batches)
    for b in range(n_batches):
        batch = chg.filter(
            (F.col("lsn") >= lo + b * per) & (F.col("lsn") < lo + (b + 1) * per)
        )
        apply_batch(table, batch, batch_id=b, run_extract=False)
    chg.unpersist(blocking=False)
    return table


@_register(
    "cdc_composite_key_replay",
    f"""
    WITH chg AS ({_COMPOSITE_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY site, path ORDER BY lsn DESC) AS rn
      FROM chg
    )
    SELECT site, path, lsn AS last_lsn, event_type, value, ts
    FROM last WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_composite_key_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITE-KEY replay: the flagship merge path on a two-column
    key (site, path) -- fenced mor batches, bucket placement by
    xxhash64(site, path), read-side LWW resolution per key TUPLE.
    The oracle computes the same final state with a two-column window
    partition; matching it proves every composite surface the replay
    crosses (quarantine tagging, winner reduction, delta distribution,
    resolve) keys on the full tuple.

    Scale: identical plan shape to the single-key flagship -- the
    composite hash is the same one-pass variadic xxhash64, so no extra
    shuffle, no concatenated key column materialized anywhere."""
    table = _replay_composite(spark, sf_dir, "cdc_ckey_")
    return (
        table.read(spark)
        .withColumnRenamed("_lsn", "last_lsn")
        .select("site", "path", "last_lsn", "event_type", "value", "ts")
    )


@_register(
    "cdc_composite_merge_into",
    f"""
    WITH chg AS ({_COMPOSITE_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY site, path ORDER BY lsn DESC) AS rn
      FROM chg
    ),
    base AS (
      SELECT site, path, event_type, value, ts
      FROM last WHERE rn = 1 AND op <> 'D'
    ),
    src AS (
      SELECT site, path, value * 2 AS value
      FROM base WHERE value > 0
    )
    -- MERGE INTO base USING src ON (site, path):
    --   WHEN MATCHED AND t.event_type = 'click' THEN DELETE
    --   WHEN MATCHED THEN UPDATE SET value = s.value
    -- (no insert clause: src ⊆ base keys)
    SELECT b.site, b.path, b.event_type,
           CASE WHEN s.site IS NOT NULL THEN s.value ELSE b.value END AS value
    FROM base b LEFT JOIN src s ON b.site = s.site AND b.path = s.path
    WHERE NOT (s.site IS NOT NULL AND b.event_type = 'click')
    """,
)
def cdc_composite_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General MERGE INTO on a composite key: replay the (site, path)
    table, then merge a derived source (same keys, doubled value) with
    a conditional DELETE and an UPDATE clause -- the ON equality, the
    touched-bucket discovery, dup/NULL-key rejection and the key-tuple
    join all run over both key columns. The oracle states the same
    merge declaratively as a LEFT JOIN."""
    table = _replay_composite(spark, sf_dir, "cdc_cmi_")
    base = table.read(spark, public=True)
    src = (base.filter(F.col("value") > 0)
           .select("site", "path", (F.col("value") * 2).alias("value")))
    table.merge_into(
        spark, src,
        update_set={"value": "s.value"},
        delete=True,
        delete_condition="t.event_type = 'click'",
        insert_values=None,
    )
    return table.read(spark, public=True).select(
        "site", "path", "event_type", "value")
