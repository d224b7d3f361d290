"""Driver-facing query catalog: the CDC engine queries, plus the
registry and shared helpers the other ``plans`` modules build on.

Every entry has a Spark implementation ``(spark, sf_dir) -> DataFrame``
and a DuckDB oracle under the same name with IDENTICAL output column
names. The driver compares row count + schema + order-insensitive value
hash, so:

- money arithmetic runs in DECIMAL (exact, order-independent) and is
  cast to DOUBLE only at the very end -- both engines then produce
  bit-identical doubles;
- averages are computed as CAST(SUM(decimal) AS DOUBLE)/COUNT so no
  engine-specific decimal-average scale rules leak in;
- top-k uses ROW_NUMBER with a full deterministic tiebreak, never a
  bare LIMIT;
- hash-dependent operators (the sampling dice) use md5, which both
  engines implement identically -- never engine-private hashes.

Scale notes are inline per query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _sum_dbl(c: F.Column) -> F.Column:
    # ROUND to scale 4 before the double cast: a scale-4 decimal of this
    # magnitude converts to double exactly in both engines, whereas
    # DuckDB's decimal(38,10)->double is not correctly rounded (observed
    # 1-ulp drift). Both engines round half-away-from-zero for positives.
    return F.round(F.sum(c), 4).cast("double")


# ======================================================================
# CDC operators over an events-derived changelog (north rule core).
# The changelog is derived IDENTICALLY in Spark and DuckDB so the
# oracle sees the same input: lsn=event_id, key from user_id,
# op: error->D, signup->I, else U.
# ======================================================================

_CDC_SQL_SRC = """
      SELECT event_id AS lsn,
             CASE WHEN event_type = 'error' THEN 'D'
                  WHEN event_type = 'signup' THEN 'I'
                  ELSE 'U' END AS op,
             concat('https://site', CAST(user_id % 10 AS VARCHAR), '.example.com/u/', CAST(user_id AS VARCHAR)) AS url,
             ts, value, event_type
      FROM events
"""


def cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("op"),
        F.concat(
            F.lit("https://site"),
            (F.col("user_id") % 10).cast("string"),
            F.lit(".example.com/u/"),
            F.col("user_id").cast("string"),
        ).alias("url"),
        F.col("ts"),
        F.col("value"),
        F.col("event_type"),
    )


@_register(
    "cdc_last_state",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn FROM chg
    )
    SELECT url, lsn AS last_lsn, op, event_type, value, ts
    FROM last WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_last_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins final state via max_by reduction -- the engine's
    dedup semantics as a standalone query (SURVEY.md §2.c dedup row).
    Scale: single hash-agg shuffle on the key; no window sort needed
    (max_by beats row_number for arg-max: no per-partition sort)."""
    chg = cdc_changelog(spark, sf_dir)
    payload = [c for c in chg.columns if c != "url"]
    return (
        chg.groupBy("url")
        .agg(F.max_by(F.struct(*payload), F.col("lsn")).alias("_w"))
        .select("url", "_w.*")
        .filter(F.col("op") != "D")
        .withColumnRenamed("lsn", "last_lsn")
        .select("url", "last_lsn", "op", "event_type", "value", "ts")
    )


@_register(
    "cdc_dedup_salted",
    f"""
    WITH chg AS ({_CDC_SQL_SRC})
    SELECT url, MAX(lsn) AS last_lsn, COUNT(*) AS n_events
    FROM chg GROUP BY url
    """,
)
def cdc_dedup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED reduction (hot-key safe): pre-aggregate per
    (url, salt) then reduce per url -- the skew strategy the engine uses
    before every MERGE (SURVEY.md §4 skew row). Results must equal the
    unsalted single-phase aggregate, which is what the oracle computes."""
    chg = cdc_changelog(spark, sf_dir)
    salt = F.pmod(F.xxhash64(F.col("lsn")), F.lit(8))
    partial = chg.groupBy(F.col("url"), salt.alias("_salt")).agg(
        F.max("lsn").alias("_mx"), F.count(F.lit(1)).alias("_n")
    )
    return partial.groupBy("url").agg(
        F.max("_mx").alias("last_lsn"), F.sum("_n").alias("n_events")
    )


@_register(
    "cdc_quarantine_split",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    poisoned AS (
      SELECT CASE WHEN lsn % 97 = 0 THEN NULL ELSE url END AS url,
             CASE WHEN lsn % 101 = 0 THEN 'X' ELSE op END AS op,
             lsn FROM chg
    )
    SELECT CASE WHEN url IS NULL THEN 'null_key'
                WHEN op NOT IN ('I','U','D') THEN 'bad_op' END AS reason,
           COUNT(*) AS n, MIN(lsn) AS min_lsn, MAX(lsn) AS max_lsn
    FROM poisoned
    WHERE url IS NULL OR op NOT IN ('I','U','D')
    GROUP BY 1
    """,
)
def cdc_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-quarantine operator (reference reject manager,
    /root/reference/src/YADAMU/common/yadamuRejectManager.js:48-108):
    deterministically poison the changelog, split, report per-reason
    counts. Uses the engine's real quarantine_split."""
    from ..operators.apply import quarantine_split

    chg = cdc_changelog(spark, sf_dir)
    poisoned = chg.withColumn(
        "url", F.when(F.col("lsn") % 97 == 0, F.lit(None)).otherwise(F.col("url"))
    ).withColumn(
        "op", F.when(F.col("lsn") % 101 == 0, F.lit("X")).otherwise(F.col("op"))
    )
    _, bad = quarantine_split(poisoned)
    return bad.groupBy(F.col("_reason").alias("reason")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("lsn").alias("min_lsn"),
        F.max("lsn").alias("max_lsn"),
    )


@_register(
    "cdc_dlq_requeue",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    repaired AS (
      SELECT url, ts,
             CASE WHEN lsn % 89 = 0 THEN ABS(value) + 1 ELSE value END AS value,
             event_type, op, lsn
      FROM chg
    ),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn
      FROM repaired
    )
    SELECT url, lsn AS last_lsn, event_type, value, ts
    FROM last WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_dlq_requeue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEAD-LETTER DRAIN through the real engine: poison the changelog
    (negate ``value`` on every lsn % 89 == 0 event), replay it in 2
    fenced mor batches into a table with a CHECK(value >= 0) constraint
    -- the poisoned non-delete rows land in the quarantine side table
    instead of the data -- then ``requeue_quarantine`` repairs them
    (``value := -value``) and re-applies them exactly-once at their
    ORIGINAL lsn. The oracle is the declarative LWW state over the
    repaired changelog: matching it proves quarantined rows re-enter
    the stream at the right position, not as new tail events.
    Reference: the reject manager persists rejects in the engine's own
    import format precisely so they can be re-imported after repair
    (/root/reference/src/YADAMU/common/yadamuRejectManager.js:48-108).
    At 100 TB the drain is O(dead letters), not O(table): one ordinary
    micro-batch apply over the quarantine dirs."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch, requeue_quarantine
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).withColumn(
        "value",
        F.when(F.col("lsn") % 89 == 0,
               -F.abs(F.col("value")) - 1).otherwise(F.col("value")),
    ).persist()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_dlq_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16,
                             overwrite=True)
    table.add_constraint(spark, "value_nonneg", "value >= 0")
    bounds = chg.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    per = max(1, (hi - lo + 2) // 2)
    for b in range(2):
        batch = chg.filter(
            (F.col("lsn") >= lo + b * per) & (F.col("lsn") < lo + (b + 1) * per)
        )
        apply_batch(table, batch, batch_id=b, run_extract=False)
    requeue_quarantine(table, spark, repair={"value": "-value"},
                       run_extract=False)
    chg.unpersist(blocking=False)
    return (
        table.read(spark)
        .withColumnRenamed("_lsn", "last_lsn")
        .select("url", "last_lsn", "event_type", "value", "ts")
    )


@_register(
    "cdc_merge_into",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT url, lsn, op, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn
      FROM chg
    ),
    seed AS (
      SELECT url, lsn, event_type, value, ts FROM last
      WHERE rn = 1 AND op <> 'D'
    ),
    hw AS (SELECT MAX(lsn) AS h FROM chg),
    src AS (
      SELECT url,
             CAST(concat('0x', substr(md5(url), 1, 15)) AS BIGINT) % 10
               AS die
      FROM (SELECT DISTINCT url FROM chg)
      UNION ALL
      SELECT concat('https://merged.example.com/u/', CAST(i AS VARCHAR))
               AS url,
             CAST(i AS BIGINT) AS die
      FROM range(50) t(i)
    ),
    actions AS (
      SELECT url, die, CASE WHEN die = 3 THEN 'D' ELSE 'U' END AS action
      FROM src
    ),
    merged AS (
      SELECT s2.url,
             CASE WHEN a.url IS NOT NULL AND a.action <> 'D'
                  THEN s2.value + 1000 ELSE s2.value END AS value,
             CASE WHEN a.url IS NOT NULL AND a.action <> 'D'
                  THEN 'merged' ELSE s2.event_type END AS event_type,
             CASE WHEN a.url IS NOT NULL AND a.action <> 'D'
                  THEN hw.h + 1 ELSE s2.lsn END AS last_lsn,
             s2.ts
      FROM seed s2 LEFT JOIN actions a ON s2.url = a.url CROSS JOIN hw
      WHERE NOT (a.url IS NOT NULL AND a.action = 'D')
      UNION ALL
      SELECT a.url, CAST(a.die AS DOUBLE) AS value,
             'inserted' AS event_type, hw.h + 1 AS last_lsn,
             CAST(NULL AS TIMESTAMP) AS ts
      FROM actions a LEFT JOIN seed s2 ON a.url = s2.url CROSS JOIN hw
      WHERE s2.url IS NULL AND a.action <> 'D'
    )
    SELECT url, last_lsn, event_type, value, ts FROM merged
    """,
)
def cdc_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERAL MERGE INTO through the real engine: seed the LWW state
    of the changelog into a LakeTable (one fenced apply), then run ONE
    ``merge_into`` exercising all three clause families at once --
    WHEN MATCHED AND s.action='D' THEN DELETE, WHEN MATCHED THEN
    UPDATE SET (value+1000, event_type='merged'), WHEN NOT MATCHED
    AND s.action<>'D' THEN INSERT -- and read the final state back
    with its ``_lsn`` stamps. The oracle replays the identical clause
    algebra declaratively (LEFT JOIN + UNION), including the fresh-LSN
    stamp (MAX(lsn)+1) updated/inserted rows must carry so downstream
    LSN-monotonic consumers see them win. The source's per-key action
    die is md5-derived -- bit-identical across Spark and DuckDB.
    At 100 TB: the source agg finds touched buckets, only those
    buckets rewrite (one co-partitioned key join), untouched data
    moves by manifest reference -- cost O(touched + source), the
    Iceberg copy-on-write MERGE shape."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..functions.sketchlib import md5_long
    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).persist()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_mi_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16,
                             overwrite=True)
    apply_batch(table, chg, batch_id=0, run_extract=False)

    src = (
        chg.select("url").distinct()
        .select("url", (md5_long(F.col("url")) % 10).alias("die"))
        .unionByName(
            spark.range(50).select(
                F.concat(F.lit("https://merged.example.com/u/"),
                         F.col("id").cast("string")).alias("url"),
                F.col("id").alias("die"),
            )
        )
        .withColumn("action",
                    F.when(F.col("die") == 3, "D").otherwise("U"))
    )
    table.merge_into(
        spark, src,
        update_set={"value": "t.value + 1000",
                    "event_type": "'merged'"},
        delete=True, delete_condition="s.action = 'D'",
        insert_values={"value": "CAST(s.die AS DOUBLE)",
                       "event_type": "'inserted'"},
        insert_condition="s.action <> 'D'",
        batch_id=1,
    )
    chg.unpersist(blocking=False)
    return (
        table.read(spark)
        .withColumnRenamed("_lsn", "last_lsn")
        .select("url", "last_lsn", "event_type", "value", "ts")
    )


@_register(
    "cdc_snapshot_sync",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT url, lsn, op, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn
      FROM chg
    ),
    seed AS (
      SELECT url, lsn, event_type, value, ts FROM last
      WHERE rn = 1 AND op <> 'D'
    ),
    hw AS (SELECT MAX(lsn) AS h FROM chg),
    keyed AS (
      SELECT seed.*,
             CAST(concat('0x', substr(md5(url), 1, 15)) AS BIGINT) % 4
               AS die
      FROM seed
    ),
    merged AS (
      SELECT url,
             CASE WHEN die = 0 THEN value + 500 ELSE value END AS value,
             event_type, ts,
             CASE WHEN die = 0 THEN hw.h + 1 ELSE lsn END AS last_lsn
      FROM keyed CROSS JOIN hw
      WHERE die <> 1
      UNION ALL
      SELECT concat('https://sync.example.com/u/', CAST(i AS VARCHAR))
               AS url,
             CAST(i AS DOUBLE) AS value, 'synced' AS event_type,
             CAST(NULL AS TIMESTAMP) AS ts, hw.h + 1 AS last_lsn
      FROM range(40) t(i) CROSS JOIN hw
    )
    SELECT url, last_lsn, event_type, value, ts FROM merged
    """,
)
def cdc_snapshot_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT SYNC (recrawl-replaces-state) through the real engine:
    seed the changelog's LWW state, build a full replacement snapshot
    (md5-die: 1/4 of urls get value+500, 1/4 drop, 40 new urls join),
    then ONE ``sync_from`` -- MERGE's WHEN MATCHED AND <differs>
    UPDATE / NOT MATCHED INSERT / NOT MATCHED BY SOURCE DELETE -- and
    read the converged state back. The oracle is the snapshot itself
    plus the LSN algebra the differs-condition guarantees: UNCHANGED
    rows keep their original winning lsn (downstream consumers see
    only the true diff), changed/new rows carry the fresh watermark
    stamp. At 100 TB the by-source delete makes this O(table) by
    necessity (absence must be checked everywhere); the join is one
    key-equality shuffle co-partitioned with the bucket rewrite."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..functions.sketchlib import md5_long
    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).persist()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_sync_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16,
                             overwrite=True)
    apply_batch(table, chg, batch_id=0, run_extract=False)

    cur = table.read(spark).select("url", "ts", "value", "event_type")
    die = (md5_long(F.col("url")) % 4).alias("die")
    snap = (
        cur.withColumn("die", die)
        .filter(F.col("die") != 1)
        .withColumn(
            "value",
            F.when(F.col("die") == 0, F.col("value") + 500)
            .otherwise(F.col("value")))
        .drop("die")
        .unionByName(
            spark.range(40).select(
                F.concat(F.lit("https://sync.example.com/u/"),
                         F.col("id").cast("string")).alias("url"),
                F.lit(None).cast("timestamp").alias("ts"),
                F.col("id").cast("double").alias("value"),
                F.lit("synced").alias("event_type"),
            )
        )
    )
    table.sync_from(spark, snap, batch_id=1)
    chg.unpersist(blocking=False)
    return (
        table.read(spark)
        .withColumnRenamed("_lsn", "last_lsn")
        .select("url", "last_lsn", "event_type", "value", "ts")
    )


@_register(
    "cdc_replay_merge",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn FROM chg
    )
    SELECT url, lsn AS last_lsn, event_type, value, ts
    FROM last WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_replay_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: replay the events-derived changelog through the REAL
    engine -- LakeTable MERGE in 5 micro-batches (fenced, bucketed,
    copy-on-write) -- then read the final table state back. The oracle
    computes the same final state in one SQL window; matching it proves
    the incremental MERGE path equals the declarative semantics
    (YADAMU's round-trip acceptance, SURVEY.md §5). Runs under the
    default merge-on-read mode: 5 O(batch) delta writes + one resolved
    read -- the r1 copy-on-write variant spent 46.7 s rewriting buckets
    five times at sf0.1."""
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    # persist the derived changelog for the replay loop: each of the 5
    # batches consumes it twice (winner subtree + probe side) plus the
    # bounds agg -- 11 recomputations of the synthetic derivation
    # otherwise. This is also the at-scale-honest shape: a real WAL
    # slice is read once from storage per batch, not re-derived.
    chg = cdc_changelog(spark, sf_dir).persist()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    import atexit
    import shutil

    root = tempfile.mkdtemp(prefix="cdc_replay_", dir=scratch_dir())
    # the returned DataFrame reads these files lazily, so cleanup must
    # wait for process exit (tmpfs is RAM -- never leave orphans)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16, overwrite=True)
    bounds = chg.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    n_batches = 5
    per = max(1, (hi - lo + 1 + n_batches - 1) // n_batches)
    for b in range(n_batches):
        batch = chg.filter(
            (F.col("lsn") >= lo + b * per) & (F.col("lsn") < lo + (b + 1) * per)
        )
        apply_batch(table, batch, batch_id=b, run_extract=False)
    chg.unpersist(blocking=False)  # merges are committed; read is table-only
    return (
        table.read(spark)
        .withColumnRenamed("_lsn", "last_lsn")
        .select("url", "last_lsn", "event_type", "value", "ts")
    )


@_register(
    "cdc_schema_evolution",
    f"""
    WITH chg0 AS ({_CDC_SQL_SRC}),
    bounds AS (SELECT MIN(lsn) AS lo, MAX(lsn) AS hi FROM chg0),
    cut AS (SELECT lo + 3 * ((hi - lo + 1 + 4) // 5) AS c FROM bounds),
    chg AS (
      SELECT c.* FROM chg0 c, cut
      WHERE c.lsn < cut.c
         OR substr(md5(c.url), 1, 1) IN ('0','2','4','6','8','a','c','e')
    ),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn FROM chg
    )
    SELECT l.url, l.lsn AS last_lsn, l.event_type, l.value,
           CASE WHEN l.lsn >= cut.c
                THEN substr(md5(l.url), 1, 2) END AS lang
    FROM last l, cut WHERE l.rn = 1 AND l.op <> 'D'
    """,
)
def cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution MID-STREAM (the north-star requirement;
    Iceberg: mergeSchema on write): batches 0-2 carry the original
    4-column payload, batches 3-4 arrive with a NEW ``lang`` column --
    and touch only half the key space (md5-even urls), so the final
    table holds BOTH populations: evolved winners with ``lang`` set and
    pre-evolution winners surfacing the new column as a typed NULL.
    The merge path widens the table schema in the same commit. The
    oracle replicates exactly that: winner per url over the same
    filtered stream, ``lang`` populated only when the winning event is
    post-cut."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).persist()  # 5 batches x 2 subtrees
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_evo_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16,
                             overwrite=True)
    bounds = chg.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    per = max(1, (hi - lo + 1 + 4) // 5)
    for b in range(5):
        batch = chg.filter(
            (F.col("lsn") >= lo + b * per) & (F.col("lsn") < lo + (b + 1) * per)
        )
        if b >= 3:  # the stream evolves: a new column appears, and the
            # late source only emits for half the keys (md5-even), so
            # pre-evolution winners survive with lang = typed NULL
            batch = batch.filter(
                F.substring(F.md5(F.col("url")), 1, 1).isin(
                    *"02468ace")
            ).withColumn("lang", F.substring(F.md5(F.col("url")), 1, 2))
        apply_batch(table, batch, batch_id=b, run_extract=False)
    chg.unpersist(blocking=False)
    return (
        table.read(spark)
        .withColumnRenamed("_lsn", "last_lsn")
        .select("url", "last_lsn", "event_type", "value", "lang")
    )


@_register(
    "cdc_wap_publish",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn FROM chg
    )
    SELECT url, lsn AS last_lsn, event_type, value, ts
    FROM last WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish over the real engine (Iceberg WAP /
    spark.wap.id; reference analogue: YADAMU only exposes a copy after
    its rollback window closes, src/YADAMU/common/yadamuDBI.js
    transaction wrappers). Replay batches 0-2 live, STAGE batch 3
    (invisible), let batch 4 land live IN BETWEEN (publish must
    rebase past it), audit the staged rows, then publish. The final
    state must equal the plain declarative LWW oracle -- proving the
    staged path neither loses, duplicates, nor reorders events."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).persist()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_wap_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16,
                             overwrite=True)
    bounds = chg.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    per = max(1, (hi - lo + 1 + 4) // 5)

    def part(b):
        return chg.filter(
            (F.col("lsn") >= lo + b * per) & (F.col("lsn") < lo + (b + 1) * per)
        )

    for b in range(3):
        apply_batch(table, part(b), batch_id=b, run_extract=False)
    frag = table.stage_merge(spark, part(3), batch_id=3)
    apply_batch(table, part(4), batch_id=4, run_extract=False)  # intervening
    # the AUDIT: staged rows stay inside batch 3's LSN window and are
    # invisible -- the fence must not know batch 3 yet
    assert not table.is_applied(3) and table.is_applied(4)
    assert frag["min_lsn"] >= lo + 3 * per and frag["max_lsn"] < lo + 4 * per
    res = table.publish_staged(3)
    assert res is not None and not res.fenced
    chg.unpersist(blocking=False)
    return (
        table.read(spark)
        .withColumnRenamed("_lsn", "last_lsn")
        .select("url", "last_lsn", "event_type", "value", "ts")
    )


@_register(
    "cdc_rollback_replay",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn FROM chg
    )
    SELECT url, lsn AS last_lsn, event_type, value, ts
    FROM last WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_rollback_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollback-then-re-replay over the real engine (Iceberg
    rollback_to_snapshot; reference analogue: YADAMU's
    rollbackTransaction aborts a failed copy inside the transaction
    window, src/YADAMU/common/yadamuDBI.js -- generalized here to
    reverting COMMITTED batches). Replay batches 0-4, declare batches
    3-4 bad, ROLL BACK to the batch-2 snapshot (metadata-only: the
    fence ledger reverts with the state), then re-replay 3-4 from the
    changelog -- the fences must accept them again, exactly-once per
    replay. The final state must equal the plain declarative LWW
    oracle: revert + re-replay is lossless and deterministic."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).persist()  # 8 applies x 2 subtrees
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_rollback_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16,
                             overwrite=True)
    bounds = chg.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    per = max(1, (hi - lo + 1 + 4) // 5)

    def part(b):
        return chg.filter(
            (F.col("lsn") >= lo + b * per) & (F.col("lsn") < lo + (b + 1) * per)
        )

    for b in range(3):
        apply_batch(table, part(b), batch_id=b, run_extract=False,
                    dedup="none")
    good = table.current_version()
    for b in (3, 4):
        apply_batch(table, part(b), batch_id=b, run_extract=False,
                    dedup="none")
    table.rollback_to(good)
    # the ledger reverted: 3-4 are unfenced again and re-apply; 0-2
    # stay fenced (a stray re-delivery of batch 2 must still no-op)
    assert not table.is_applied(3) and not table.is_applied(4)
    assert table.is_applied(2)
    apply_batch(table, part(2), batch_id=2, run_extract=False,
                dedup="none")  # no-ops
    for b in (3, 4):
        apply_batch(table, part(b), batch_id=b, run_extract=False,
                    dedup="none")
    chg.unpersist(blocking=False)
    return (
        table.read(spark)
        .withColumnRenamed("_lsn", "last_lsn")
        .select("url", "last_lsn", "event_type", "value", "ts")
    )


@_register(
    "cdc_metrics_audit",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    b AS (SELECT MIN(lsn) AS lo, MAX(lsn) AS hi FROM chg),
    tagged AS (
      SELECT c.lsn, c.op,
             CAST((c.lsn - b.lo) // GREATEST(1, (b.hi - b.lo + 1 + 4) // 5)
                  AS BIGINT) AS batch_id
      FROM chg c, b
    )
    SELECT batch_id,
           COUNT(*) AS rows_in,
           CAST(SUM(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT)
             AS rows_applied,
           CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
             AS rows_deleted,
           MIN(lsn) AS min_lsn, MAX(lsn) AS max_lsn
    FROM tagged
    GROUP BY batch_id
    """,
)
def cdc_metrics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's metrics table, read through the SQL metadata
    surface (Iceberg's ``db.table.history`` metadata table; reference
    analogue: YADAMU's per-table performance/metrics rows,
    src/YADAMU/common/yadamuWriter.js reportPerformance). Replay 5
    LSN-range batches through the real pipeline, ``register_meta`` the
    lake table, and read the audit view back with plain ``spark.sql``.
    The per-batch persisted-row counts and LSN ranges must equal what
    the oracle derives from the changelog itself -- i.e. the METRICS
    are oracle-checked, not just the data. The replay uses
    ``dedup="none"`` (Flink's Iceberg-upsert shape: every event lands
    as a delta row, read-side resolution dedups) -- the scale-correct
    strategy for near-unique web-crawl batches, with no driver-side
    winner build -- so the audit counts raw persisted events."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).persist()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_metrics_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16,
                             overwrite=True)
    bounds = chg.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    per = max(1, (hi - lo + 1 + 4) // 5)
    for b in range(5):
        apply_batch(
            table,
            chg.filter((F.col("lsn") >= lo + b * per)
                       & (F.col("lsn") < lo + (b + 1) * per)),
            batch_id=b, run_extract=False, dedup="none",
        )
    table.register_meta(spark, "mt")
    chg.unpersist(blocking=False)
    return spark.sql(
        """
        SELECT batch_id, rows_in, rows_applied, rows_deleted,
               min_lsn, max_lsn
        FROM mt_history WHERE operation = 'merge'
        """
    )


@_register(
    "cdc_multi_table_replay",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn
      FROM chg
    )
    SELECT CASE WHEN substr(url, 13, 1) IN ('0','1','2','3','4')
                THEN 'low' ELSE 'high' END AS tbl,
           url, lsn AS last_lsn, value
    FROM last WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_multi_table_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-level CDC: one WAL stream interleaving TWO tables, routed
    by ``apply_batch_multi`` under shared per-batch fence ids (the
    reference's unit of work is a whole schema -- yadamuDBI.js iterates
    schemaInfo table-by-table; a real binlog tail interleaves every
    table's events). Three LSN-range batches route each event by its
    url's site digit to the 'low' or 'high' table; after replay, the
    union of both tables must equal the single-table LWW oracle
    partitioned the same way -- routing loses nothing, duplicates
    nothing, and each table's fence advances independently."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch_multi
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).withColumn(
        "_table",
        F.when(F.substring("url", 13, 1).isin(*"01234"), "low")
        .otherwise("high"),
    ).persist()  # 3 batch slices re-scan it even with per-slice caching
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_multi_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    tables = {
        name: LakeTable.create(f"{root}/{name}", schema, key="url",
                               bucket_count=8, overwrite=True)
        for name in ("low", "high")
    }
    bounds = chg.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    per = max(1, (hi - lo + 1 + 2) // 3)
    for b in range(3):
        # the router makes 1 + T passes per batch (discovery + one
        # filtered apply per table); cache the slice so the changelog
        # read runs once per batch -- same rationale as the streaming
        # sink's persist
        sl = chg.filter((F.col("lsn") >= lo + b * per)
                        & (F.col("lsn") < lo + (b + 1) * per)).persist()
        try:
            apply_batch_multi(tables, sl, batch_id=b,
                              run_extract=False, dedup="none")
        finally:
            sl.unpersist()
    chg.unpersist(blocking=False)
    return (
        tables["low"].read(spark).withColumn("tbl", F.lit("low"))
        .unionByName(
            tables["high"].read(spark).withColumn("tbl", F.lit("high")))
        .withColumnRenamed("_lsn", "last_lsn")
        .select("tbl", "url", "last_lsn", "value")
    )


@_register(
    "cdc_constraint_enforce",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    kept AS (
      -- CHECK semantics: only FALSE violates (NULL passes); deletes
      -- are exempt. Violating events quarantine, so they never reach
      -- the merge -- the LWW fold runs over the KEPT stream only.
      SELECT * FROM chg WHERE op = 'D' OR value >= 10 OR value IS NULL
    ),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn
      FROM kept
    )
    SELECT url, lsn AS last_lsn, value, event_type
    FROM last WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_constraint_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared CHECK constraint enforced through a fenced CDC replay
    (Delta's ADD CONSTRAINT meets the reference's per-row rejection
    funnel, yadamuRejectManager.js): ``value >= 10`` is declared on the
    manifest, violating events quarantine per-row as
    ``check:value_floor`` (composing with ON_ERROR exactly like
    structural poison), and the final table state equals the LWW fold
    over only the surviving stream -- a key whose newest event violates
    keeps its previous good state.

    Scale: the check is one codegen'd predicate inside the existing
    quarantine projection -- no extra job, no shuffle, no Python."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_check_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    t = LakeTable.create(root, schema, key="url", bucket_count=8,
                         overwrite=True, merge_mode="mor")
    t.add_constraint(spark, "value_floor", "value >= 10")
    chg = cdc_changelog(spark, sf_dir).persist()
    bounds = chg.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    per = max(1, (hi - lo + 1 + 1) // 2)
    for b in range(2):
        apply_batch(
            t,
            chg.filter((F.col("lsn") >= lo + b * per)
                       & (F.col("lsn") < lo + (b + 1) * per)),
            batch_id=b, run_extract=False, dedup="none",
        )
    chg.unpersist(blocking=False)
    return t.read(spark).select(
        "url", F.col("_lsn").alias("last_lsn"), "value", "event_type")


@_register(
    "cdc_branch_publish",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn FROM chg
    )
    SELECT url, lsn AS last_lsn, event_type, value, ts
    FROM last WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_branch_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch-then-fast-forward over the real engine (Iceberg writable
    branches; reference analogue: YADAMU publishes a staged copy only
    when the whole job succeeds, src/YADAMU/common/yadamuDBI.js
    transaction wrappers). Replay batches 0-2 live on main, then apply
    batches 3-4 on an isolated BRANCH (main's readers still see the
    batch-2 state), audit the branch (fences, isolation), and
    fast-forward. The final main state must equal the plain declarative
    LWW oracle -- multi-commit staging neither loses, duplicates, nor
    reorders events, and the adopted commits carry their fences so a
    replayed batch stays exactly-once after the publish."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).persist()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_branch_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16,
                             overwrite=True)
    bounds = chg.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    per = max(1, (hi - lo + 1 + 4) // 5)

    def part(b):
        return chg.filter(
            (F.col("lsn") >= lo + b * per) & (F.col("lsn") < lo + (b + 1) * per)
        )

    for b in range(3):
        apply_batch(table, part(b), batch_id=b, run_extract=False)
    main_head = table.current_version()
    br = table.create_branch("ingest-audit")
    for b in (3, 4):
        apply_batch(br, part(b), batch_id=b, run_extract=False)
    # the AUDIT: branch fenced both batches; main saw neither commit
    assert br.is_applied(3) and br.is_applied(4)
    assert table.current_version() == main_head
    assert not table.is_applied(3) and not table.is_applied(4)
    table.fast_forward("ingest-audit")
    # adopted fences keep replays exactly-once on main
    assert table.is_applied(3) and table.is_applied(4)
    chg.unpersist(blocking=False)
    return (
        table.read(spark)
        .withColumnRenamed("_lsn", "last_lsn")
        .select("url", "last_lsn", "event_type", "value", "ts")
    )


@_register(
    "cdc_incremental_read",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    bounds AS (SELECT MIN(lsn) AS lo, MAX(lsn) AS hi FROM chg),
    win AS (
      SELECT c.* FROM chg c, bounds b
      WHERE c.lsn >= b.lo + 3 * ((b.hi - b.lo + 1 + 4) // 5)
    ),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn FROM win
    )
    SELECT url,
           CASE WHEN op = 'D' THEN NULL ELSE ts END AS ts,
           CASE WHEN op = 'D' THEN NULL ELSE value END AS value,
           CASE WHEN op = 'D' THEN NULL ELSE event_type END AS event_type,
           lsn AS "_lsn",
           CASE WHEN op = 'D' THEN 'delete' ELSE 'upsert' END AS "_change_type"
    FROM last WHERE rn = 1
    """,
)
def cdc_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC-OUT: replay the changelog in 5 fenced mor batches,
    snapshot the version after batch 3, then ``LakeTable.read_changes``
    emits the NET per-key changes of batches 4-5 -- scanning ONLY the
    delta files those two commits added (O(changes), no table scan; the
    fast path a downstream consumer tails). The oracle computes the same
    window-net winners declaratively: max-lsn row per url over the
    window's events, op='D' mapping to a delete change."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).persist()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_incr_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16, overwrite=True)
    bounds = chg.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    n_batches = 5
    per = max(1, (hi - lo + 1 + n_batches - 1) // n_batches)
    v_since = None
    for b in range(n_batches):
        batch = chg.filter(
            (F.col("lsn") >= lo + b * per) & (F.col("lsn") < lo + (b + 1) * per)
        )
        apply_batch(table, batch, batch_id=b, run_extract=False)
        if b == 2:
            v_since = table.current_version()
    chg.unpersist(blocking=False)
    return table.read_changes(spark, v_since).select(
        "url", "ts", "value", "event_type", "_lsn", "_change_type"
    )


@_register(
    "cdc_time_travel_tag",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    bounds AS (SELECT MIN(lsn) AS lo, MAX(lsn) AS hi FROM chg),
    win AS (
      SELECT c.* FROM chg c, bounds b
      WHERE c.lsn < b.lo + 2 * ((b.hi - b.lo + 1 + 2) // 3)
    ),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn FROM win
    )
    SELECT url, lsn AS last_lsn, event_type, value, ts
    FROM last WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_time_travel_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL BY NAME: replay the changelog in 3 fenced mor
    batches, ``tag()`` the snapshot after batch 2 ("pre-batch-3" -- a
    metadata-only commit riding the manifest), let batch 3 land, then
    ``read(version="pre-batch-3")`` resolves the name and reads the
    pinned snapshot. The oracle recomputes the first-two-batches LWW
    state declaratively, so a match proves named-ref resolution returns
    exactly the tagged version's state even after later commits --
    Iceberg's CREATE TAG + VERSION AS OF, the audit/repro-read surface
    a lakehouse user reaches for first."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).persist()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_tag_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16, overwrite=True)
    bounds = chg.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    per = max(1, (hi - lo + 1 + 2) // 3)
    for b in range(3):
        batch = chg.filter(
            (F.col("lsn") >= lo + b * per) & (F.col("lsn") < lo + (b + 1) * per)
        )
        apply_batch(table, batch, batch_id=b, run_extract=False)
        if b == 1:
            table.tag("pre-batch-3")
    chg.unpersist(blocking=False)
    return (
        table.read(spark, version="pre-batch-3")
        .withColumnRenamed("_lsn", "last_lsn")
        .select("url", "last_lsn", "event_type", "value", "ts")
    )


@_register(
    "cdc_predicate_delete",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn FROM chg
    )
    SELECT url, lsn AS last_lsn, event_type, value, ts
    FROM last
    WHERE rn = 1 AND op <> 'D'
      AND NOT COALESCE(value >= 0.5 AND event_type = 'click', FALSE)
    """,
)
def cdc_predicate_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate DELETE (GDPR erasure): replay the changelog into a
    lake table in one fenced batch, then ``delete_where`` removes every
    current click row with value >= 0.5 -- the ``ranges`` half prunes
    the rewrite with the manifest zone maps (only files that can hold
    value >= 0.5 are read), the ``predicate`` half applies the exact
    condition; NULL evaluations keep the row (SQL DELETE). The oracle
    filters the declarative LWW final state by the same condition, so a
    match proves the file-pruned copy-on-write rewrite deletes exactly
    the predicate's rows and nothing else. Iceberg's copy-on-write
    row-level delete; no reference analogue (insert-only per job)."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).persist()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_del_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16, overwrite=True)
    apply_batch(table, chg, batch_id=0, run_extract=False)
    table.delete_where(spark, predicate="event_type = 'click'",
                       ranges={"value": (0.5, None)})
    chg.unpersist(blocking=False)
    return (
        table.read(spark)
        .withColumnRenamed("_lsn", "last_lsn")
        .select("url", "last_lsn", "event_type", "value", "ts")
    )


@_register(
    "cdc_predicate_update",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn FROM chg
    )
    SELECT url, event_type,
           CASE WHEN COALESCE(event_type = 'view' AND value <= 0.3, FALSE)
                THEN value + 1 ELSE value END AS value,
           ts
    FROM last WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_predicate_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate UPDATE (out-of-band correction): replay the changelog
    into a lake table in one fenced batch, then ``update_where`` bumps
    ``value`` by 1 on every current view row with value <= 0.3 -- the same
    zone-pruned copy-on-write rewrite as ``cdc_predicate_delete``, with
    assignments evaluated against the OLD row and cast back to the
    column type. The oracle applies the identical CASE to the
    declarative LWW final state (IEEE double arithmetic matches across
    engines). ``_lsn`` is excluded from the projection: the engine
    deliberately re-stamps updated rows above the audit chain so the
    change wins downstream mirrors."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).persist()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_upd_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16, overwrite=True)
    apply_batch(table, chg, batch_id=0, run_extract=False)
    table.update_where(spark, {"value": "value + 1"},
                       predicate="event_type = 'view'",
                       ranges={"value": (None, 0.3)})
    chg.unpersist(blocking=False)
    return table.read(spark, public=True).select("url", "event_type", "value", "ts")


@_register(
    "cdc_backfill_overwrite",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn FROM chg
    )
    SELECT url, event_type, value, ts
    FROM last
    WHERE rn = 1 AND op <> 'D' AND url NOT LIKE 'https://site3.%'
    UNION ALL
    SELECT DISTINCT url, 'backfill' AS event_type,
           CAST(1.0 AS DOUBLE) AS value,
           TIMESTAMP '2024-01-01 00:00:00' AS ts
    FROM chg WHERE url LIKE 'https://site3.%'
    """,
)
def cdc_backfill_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic BACKFILL (REPLACE WHERE): replay the changelog into a
    lake table in one fenced batch, then ``overwrite_where`` replaces
    the site3 domain slice in ONE commit -- every current site3 row
    deleted, a regenerated row per site3 url (from the changelog's
    distinct url set, so urls whose last event was a delete come back
    too) inserted. The predicate is a pure function of the key, the
    canonical re-ingest shape ("re-crawl domain X"); the oracle is the
    declarative union of untouched-last-state and the regenerated
    slice, proving delete+insert atomicity and exact slice boundaries.
    Delta: INSERT ... REPLACE WHERE; Iceberg: overwrite(); no
    reference analogue (insert-only per job).

    Scale note: the rewrite half reads only files the zone maps cannot
    prove disjoint from the slice; the insert half is one bucketed
    delta write stamped above the LSN watermark (key-outside-slice
    safety is tested engine-side); untouched files move by manifest
    reference."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).persist()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_ow_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16, overwrite=True)
    apply_batch(table, chg, batch_id=0, run_extract=False)
    repl = (
        chg.filter(F.col("url").like("https://site3.%"))
        .select("url").distinct()
        .select(
            "url",
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
            F.lit(1.0).alias("value"),
            F.lit("backfill").alias("event_type"),
        )
    )
    table.overwrite_where(spark, repl,
                          predicate="url like 'https://site3.%'",
                          batch_id=1)
    chg.unpersist(blocking=False)
    return table.read(spark, public=True).select("url", "event_type", "value", "ts")


@_register(
    "cdc_sql_over_lake",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn FROM chg
    ),
    cur AS (SELECT * FROM last WHERE rn = 1 AND op <> 'D')
    SELECT event_type,
           COUNT(*) AS n_pages,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
             AS value_sum
    FROM cur GROUP BY event_type
    """,
)
def cdc_sql_over_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface over a lake table: replay the changelog in one
    fenced batch, ``register()`` the resolved snapshot as a temp view,
    and answer with PURE Spark SQL (spark.sql over the view) -- what an
    analyst actually runs against the ingested table. The oracle
    recomputes the same aggregate over the declarative LWW final state,
    so a match proves the view exposes exactly the resolved snapshot
    (mor delta resolution included, engine columns hidden).

    Scale: the view is a plan alias, not a materialization -- Catalyst
    sees straight through to the bucket-pruned parquet scan + LWW
    resolve, so SQL consumers inherit every pushdown the read path
    has. DECIMAL sum keeps the aggregate order-independent and
    engine-exact."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).persist()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_sql_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16, overwrite=True)
    apply_batch(table, chg, batch_id=0, run_extract=False)
    table.register(spark, "lake_pages_sql")
    chg.unpersist(blocking=False)
    return spark.sql("""
        SELECT event_type,
               COUNT(*) AS n_pages,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
                 AS value_sum
        FROM lake_pages_sql GROUP BY event_type
    """)


@_register(
    "cdc_mirror_replicate",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn FROM chg
    )
    SELECT url, lsn AS last_lsn, event_type, value, ts
    FROM last WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_mirror_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lake REPLICATION: replay the changelog into a source table
    (2 fenced mor batches), ``mirror()`` seeds a replica from the
    snapshot, a third source batch lands, and a second ``mirror`` call
    catches the replica up through the CDC tail (cursor = the replica's
    own fence ledger, exactly-once). Reading the REPLICA back must
    equal the declarative LWW final state of the whole changelog --
    proving snapshot seed + incremental change application compose to
    the same table a direct replay builds. This is the reference's
    whole-database COPY (/root/reference/src/YADAMU/common/yadamu.js
    doCopy: reader DBI -> writer DBI) made incremental: only the third
    batch's net changes cross after the seed, O(changes) not O(table).
    3 source batches, not 5: each mirror window adds a fenced commit
    and the ~1 s/commit fixed cost dominates at sf0.1."""
    import atexit
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable
    from ..streaming.stream import mirror

    chg = cdc_changelog(spark, sf_dir).persist()  # 3 batches x 2 subtrees
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_mirror_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    src = LakeTable.create(
        os.path.join(root, "src"), schema, key="url", bucket_count=16,
        overwrite=True,
    )
    bounds = chg.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    n_batches = 3
    per = max(1, (hi - lo + 1 + n_batches - 1) // n_batches)

    def batch(b):
        return chg.filter(
            (F.col("lsn") >= lo + b * per) & (F.col("lsn") < lo + (b + 1) * per)
        )

    apply_batch(src, batch(0), batch_id=0, run_extract=False)
    apply_batch(src, batch(1), batch_id=1, run_extract=False)
    rep_root = os.path.join(root, "rep")
    mirror(spark, src, rep_root, poll_seconds=0.01)  # seed at the snapshot
    apply_batch(src, batch(2), batch_id=2, run_extract=False)
    rep, _ = mirror(spark, src, rep_root, poll_seconds=0.01)  # CDC catch-up
    chg.unpersist(blocking=False)
    return (
        rep.read(spark)
        .withColumnRenamed("_lsn", "last_lsn")
        .select("url", "last_lsn", "event_type", "value", "ts")
    )


@_register(
    "cdc_incremental_rollup",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn
      FROM chg
    )
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM last WHERE rn = 1 AND op <> 'D'
    GROUP BY 1
    """,
)
def cdc_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate maintained INCREMENTALLY from the CDC
    stream: replay the changelog in 3 fenced mor batches and advance an
    IncrementalRollup (GROUP BY event_type -> count + exact DECIMAL
    sum) through three refresh windows -- the middle one spanning a
    ``compact()`` (snapshot-diff path), the others on the delta fast
    path. Each refresh costs two bucket-pruned time-travel image reads
    over the changed keys, never a full recompute. The oracle
    aggregates the declarative LWW final state directly, so a match
    proves the maintenance steps across both change-read paths compose
    to exactly the recomputed aggregate (the TimescaleDB/Materialize
    continuous-aggregate contract). 3 batches, not the siblings' 5:
    each refresh adds a fenced commit, and the per-commit ~1 s fixed
    cost (amortized away at real batch sizes) dominates at sf0.1."""
    import atexit
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable
    from ..streaming.rollup import IncrementalRollup

    chg = cdc_changelog(spark, sf_dir).persist()  # 3 batches x 2 subtrees
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_rollup_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(
        os.path.join(root, "base"), schema, key="url", bucket_count=16,
        overwrite=True,
    )
    ru = IncrementalRollup.create(
        spark, os.path.join(root, "roll"), table,
        dims=["event_type"], sums=["value"],
    )
    bounds = chg.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    n_batches = 3
    per = max(1, (hi - lo + 1 + n_batches - 1) // n_batches)
    for b in range(n_batches):
        batch = chg.filter(
            (F.col("lsn") >= lo + b * per) & (F.col("lsn") < lo + (b + 1) * per)
        )
        apply_batch(table, batch, batch_id=b, run_extract=False)
        if b == 1:
            table.compact(spark)  # window 2 = merge + compact: diff path
        ru.refresh(spark)
    chg.unpersist(blocking=False)
    return ru.read(spark).select(
        "event_type", "n_rows", F.col("sum_value").cast("double").alias("sum_value")
    )


def _replayed_lookup_table(spark: SparkSession, sf_dir: str, prefix: str):
    """Shared harness for the point-lookup queries: replay the
    changelog into a scratch LakeTable in 2 fenced mor batches and pick
    the deterministic probe set (8 alphabetically-first urls). Returns
    ``(table, keys)`` -- the queries differ only in what index they
    consult on top."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.apply import apply_batch
    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    chg = cdc_changelog(spark, sf_dir).persist()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix=prefix, dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, schema, key="url", bucket_count=16, overwrite=True)
    bounds = chg.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    per = max(1, (hi - lo + 2) // 2)
    for b in range(2):
        batch = chg.filter(
            (F.col("lsn") >= lo + b * per) & (F.col("lsn") < lo + (b + 1) * per)
        )
        apply_batch(table, batch, batch_id=b, run_extract=False)
    keys = [
        r["url"]
        for r in chg.select("url").distinct().orderBy("url").limit(8).collect()
    ]
    chg.unpersist(blocking=False)
    return table, keys


@_register(
    "cdc_point_lookup",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn
      FROM chg
    ),
    state AS (
      SELECT url, lsn AS last_lsn, event_type, value, ts
      FROM last WHERE rn = 1 AND op <> 'D'
    ),
    keys AS (SELECT DISTINCT url FROM chg ORDER BY url LIMIT 8)
    SELECT s.url, s.last_lsn, s.event_type, s.value, s.ts
    FROM state s JOIN keys k ON s.url = k.url
    """,
)
def cdc_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT LOOKUP through the real engine: replay the changelog in 2
    fenced mor batches, then ``LakeTable.lookup`` answers "current state
    of these 8 urls" scanning only the buckets they hash to (plus one
    constant-size hashing job) -- never the whole table. The oracle is
    the declarative LWW state filtered to the same deterministic key
    set (8 alphabetically-first urls; deleted keys yield no row in
    both). At 100 TB this is the operator's everyday query: O(keys/
    bucket_count) of the table instead of a scan."""
    table, keys = _replayed_lookup_table(spark, sf_dir, "cdc_lookup_")
    return (
        table.lookup(spark, keys)
        .withColumnRenamed("_lsn", "last_lsn")
        .select("url", "last_lsn", "event_type", "value", "ts")
    )


@_register(
    "cdc_bloom_lookup",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn
      FROM chg
    ),
    state AS (
      SELECT url, lsn AS last_lsn, event_type, value, ts
      FROM last WHERE rn = 1 AND op <> 'D'
    ),
    keys AS (SELECT DISTINCT url FROM chg ORDER BY url LIMIT 8)
    SELECT s.url, s.last_lsn, s.event_type, s.value, s.ts
    FROM state s JOIN keys k ON s.url = k.url
    """,
)
def cdc_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-INDEXED point lookup: same replay + lookup contract as
    cdc_point_lookup, but after ``harvest_blooms`` builds the puffin-
    style merge-key Bloom sidecar (sources/bloomindex.py) -- so the
    lookup skips FILES inside the hashed buckets, which the zone-map
    envelope cannot do for keys scattered uniformly through every
    file. The pruning claim is self-checking on every driver run: the
    keyed plan must touch strictly fewer files than the full plan, and
    a never-written key must plan zero files. The oracle is unchanged
    (pruning is exact: blooms have no false negatives, the residual
    ``isin`` keeps results exact regardless). At 100 TB this is
    Iceberg's bloom file skipping: a point lookup touches
    O(probed keys) files, not O(bucket)."""
    table, keys = _replayed_lookup_table(spark, sf_dir, "cdc_bloom_")
    table.harvest_blooms(spark)

    def nf(plan):
        return len(plan["plain"]) + len(plan["delta_resolved"])

    full, keyed = nf(table.plan_files()), nf(table.plan_files(keys=keys))
    assert keyed < full, f"bloom index did not prune: {keyed} vs {full}"
    assert nf(table.plan_files(keys=["never://written"])) == 0
    return (
        table.lookup(spark, keys)
        .withColumnRenamed("_lsn", "last_lsn")
        .select("url", "last_lsn", "event_type", "value", "ts")
    )


@_register(
    "cdc_metadata_count",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn
      FROM chg
    ),
    live AS (SELECT url FROM last WHERE rn = 1 AND op <> 'D')
    SELECT CAST(COUNT(*) AS BIGINT) AS n_meta,
           CAST(COUNT(*) AS BIGINT) AS n_scan
    FROM live
    """,
)
def cdc_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(*) answered from METADATA alone (Iceberg's count pushdown
    analogue, LakeTable.row_count): replay the changelog into a scratch
    mor table in 2 fenced batches -- while deltas are pending the fast
    path must refuse (read-side resolution could drop rows) -- then
    ``compact(all_deltas=True)`` folds to delta-free bases and
    ``row_count()`` sums parquet footer counts driver-side with NO
    Spark job. The output carries the metadata count NEXT TO the real
    distributed scan count, and the oracle is the declarative LWW live
    count -- a hash match therefore proves the fast path, the scan,
    and the independent SQL all agree on the live-row cardinality
    (tombstones physically gone after the fold).

    Scale: the count itself is O(files) footer reads; at 100 TB this is
    the difference between answering a BI count from metadata and
    scanning the table (Iceberg stores record_count per file in its
    manifests to skip even the footers -- the documented port point)."""
    table, _keys = _replayed_lookup_table(spark, sf_dir, "cdc_metacount_")
    if table.row_count() is not None:  # must hold under python -O too
        raise ValueError("delta-pending fast path must refuse")
    table.compact(spark, all_deltas=True)
    n_meta = table.row_count()
    n_scan = table.read(spark).count()
    return spark.createDataFrame([(n_meta, n_scan)],
                                 "n_meta long, n_scan long")


@_register(
    "cdc_timeslice_scan",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-21 00:00:00'
    GROUP BY event_type
    """,
)
def cdc_timeslice_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map-pruned time-range scan over an append-only event-table
    ingest: three fenced APPEND commits land the events fact table in
    time slices (days 1-10 / 11-20 / 21-30 -- the natural shape of a
    CDC/log ingest), then ``read(ranges=...)`` answers a "last 10 days"
    aggregate scanning ONLY the third commit's files via the manifest's
    per-file min/max stats (Iceberg min/max file skipping). The
    ``plan_files`` assertion makes the pruning claim self-checking on
    every driver run; the residual predicate keeps the result exact
    regardless, so the oracle is a plain filtered aggregate. At 100 TB
    this is the difference between scanning one day's ingest and the
    whole table: pruning happens on the DRIVER against O(files)
    manifest stats, before any Spark job is planned."""
    import atexit
    import datetime as dt
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..session import scratch_dir
    from ..sources.laketable import LakeTable

    ev = load(spark, sf_dir, "events")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="cdc_slice_", dir=scratch_dir())
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(
        root, schema, key="event_id", bucket_count=8, overwrite=True
    )
    cuts = [None, dt.datetime(2024, 1, 11), dt.datetime(2024, 1, 21), None]
    for b in range(3):
        part = ev.select([f.name for f in schema.fields])
        if cuts[b] is not None:
            part = part.filter(F.col("ts") >= F.lit(cuts[b]))
        if cuts[b + 1] is not None:
            part = part.filter(F.col("ts") < F.lit(cuts[b + 1]))
        table.append(spark, part, batch_id=b)
    lo = dt.datetime(2024, 1, 21)
    plan = table.plan_files(ranges={"ts": (lo, None)})
    full = table.plan_files()
    n_pruned = len(plan["plain"]) + len(plan["delta_resolved"])
    n_full = len(full["plain"]) + len(full["delta_resolved"])
    assert 0 < n_pruned < n_full, (n_pruned, n_full)
    return (
        table.read(spark, ranges={"ts": (lo, None)}, public=True)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )


@_register(
    "cdc_envelope_decode",
    f"""
    WITH chg AS ({_CDC_SQL_SRC}),
    last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn FROM chg
    )
    SELECT url, lsn AS last_lsn, op, event_type, value, ts
    FROM last WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_envelope_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-format normalization (binlog connector feed): render the
    changelog as Kafka-Connect-WRAPPED Debezium JSON envelopes
    (before/after images, op codes c/u/d, source.lsn, base64 binary,
    epoch-us timestamps), decode them back with the engine's envelope
    layer, and reduce to the LWW final state. The oracle computes the
    same state from the RAW changelog -- a hash match proves the
    encode->decode round trip is lossless for every column type
    (double, timestamp, string) across ~60k events, including deletes
    carried by the before image.

    Scale: encode and decode are single narrow projections (to_json /
    from_json inside the scan's codegen stage); the only shuffle is the
    final LWW hash-agg on url. Tailing a real 10^10-event topic runs
    exactly this decode shape with the file source swapped for Kafka.
    """
    from pyspark.sql import types as T

    from ..sources.envelope import decode_debezium, encode_debezium

    chg = cdc_changelog(spark, sf_dir)
    payload_schema = T.StructType(
        [f for f in chg.schema.fields if f.name not in ("lsn", "op")]
    )
    wire = encode_debezium(chg, ts_col="ts", wrapped=True)
    back = decode_debezium(wire, payload_schema, wrapped=True)
    payload = [c for c in back.columns if c != "url"]
    return (
        back.groupBy("url")
        .agg(F.max_by(F.struct(*payload), F.col("lsn")).alias("_w"))
        .select("url", "_w.*")
        .filter(F.col("op") != "D")
        .withColumnRenamed("lsn", "last_lsn")
        .select("url", "last_lsn", "op", "event_type", "value", "ts")
    )
