"""Shingles and MinHash band signatures: the near-duplicate signature
contract of the dedup-ingest stream (streaming/stream.py).

- a shingle is 3 consecutive words of the lower-cased text, split on
  single spaces and joined with one space;
- a signature is ``MINHASH_K`` md5-derived minhashes
  (``md5_long(k ':' shingle)``, functions/sketchlib.py) folded into
  bands of 2 -> ``(doc_id, band, h0, h1)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sketchlib import md5_long

MINHASH_K = 6  # 3 bands x 2 rows


def shingle_arr(w: F.Column) -> F.Column:
    """3-word shingle array over a word array: 1-indexed slice of 3,
    single-space join."""
    return F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.array_join(F.slice(w, i, 3), " "),
    )


def shingles(df: DataFrame) -> DataFrame:
    """Distinct 3-word shingles per doc (explode)."""
    w = F.split(F.lower(F.col("text")), " ")
    return (
        df.withColumn("_w", w)
        .filter(F.size("_w") >= 3)
        .select("doc_id", F.explode(F.array_distinct(shingle_arr(F.col("_w")))).alias("shingle"))
    )


def mh_sig(spark: SparkSession, sh: DataFrame) -> DataFrame:
    """K=:data:`MINHASH_K` md5-derived minhashes over a shingle set,
    folded into bands of 2 -> ``(doc_id, band, h0, h1)``."""
    ks = spark.range(MINHASH_K).select(F.col("id").cast("int").alias("k"))
    hashes = (
        sh.crossJoin(F.broadcast(ks))
        .groupBy("doc_id", "k")
        .agg(F.min(md5_long(F.concat(F.col("k").cast("string"), F.lit(":"), F.col("shingle")))).alias("mh"))
    )
    return (
        hashes.groupBy("doc_id", (F.col("k") / 2).cast("int").alias("band"))
        .agg(
            F.min(F.when(F.col("k") % 2 == 0, F.col("mh"))).alias("h0"),
            F.min(F.when(F.col("k") % 2 == 1, F.col("mh"))).alias("h1"),
        )
    )
