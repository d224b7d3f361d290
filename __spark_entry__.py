"""Driver contract: ``entry(spark)`` replays the events table at
sf0.001 as a changelog through the engine and returns the final table.

The changelog is derived from ``events``: ``lsn`` is ``event_id``, the
key ``url`` comes from ``user_id``, and ``op`` is ``D`` for an error
event, ``I`` for a signup and ``U`` otherwise. It is merged in five
fenced ``apply_batch`` calls into a merge-on-read ``LakeTable``, then
read back once. ``tests/test_entry_and_extras.py`` checks the result
against a DuckDB last-state query over the same parquet file.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from yadamu___yet_another_data_migration_utility_spark.operators.apply import apply_batch
from yadamu___yet_another_data_migration_utility_spark.session import scratch_dir
from yadamu___yet_another_data_migration_utility_spark.sources.laketable import LakeTable

SF_DIR = "/root/testdata/sf0.001"
N_BATCHES = 5
SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("event_type", T.StringType()),
])


def entry(spark: SparkSession) -> DataFrame:
    """The replayed final state: one row per live ``url`` with columns
    ``url, last_lsn, event_type, value, ts``."""
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    # persisted: each batch reads it twice (winner subtree and probe)
    chg = e.select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U").alias("op"),
        F.concat(F.lit("https://site"), (F.col("user_id") % 10).cast("string"),
                 F.lit(".example.com/u/"), F.col("user_id").cast("string")
                 ).alias("url"),
        "ts", "value", "event_type",
    ).persist()
    root = tempfile.mkdtemp(prefix="cdc_replay_", dir=scratch_dir())
    # the returned DataFrame reads the table lazily: remove it at exit
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(root, SCHEMA, key="url", bucket_count=16)
    lo, hi = chg.agg(F.min("lsn"), F.max("lsn")).first()
    per = (hi - lo + N_BATCHES) // N_BATCHES
    for b in range(N_BATCHES):
        batch = chg.filter(F.col("lsn").between(lo + b * per, lo + (b + 1) * per - 1))
        apply_batch(table, batch, batch_id=b, run_extract=False)
    chg.unpersist(blocking=False)
    return (table.read(spark).withColumnRenamed("_lsn", "last_lsn")
            .select("url", "last_lsn", "event_type", "value", "ts"))
