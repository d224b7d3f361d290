"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CDC replay (events-derived changelog
through the real LakeTable MERGE engine) at sf0.001. ``queries()`` /
``oracle_sql()`` expose the query catalog of
``yadamu___yet_another_data_migration_utility_spark.plans``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from yadamu___yet_another_data_migration_utility_spark.plans import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["cdc_replay_merge"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per catalog query. Computed columns are aliased
    identically in Spark and the oracle SQL."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracles -- one per ``queries()`` entry."""
    return dict(ORACLES)
