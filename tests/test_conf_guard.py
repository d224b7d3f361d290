"""The refcounted session-conf guards (_ts_micros, _aqe_off): a leaked
conf after a merge -- especially AQE left disabled -- would silently
deoptimize every later query in the session, so restoration must hold
under nesting, exceptions, and real engine use."""

from __future__ import annotations

import pytest
import pyspark.sql.types as T

from yadamu___yet_another_data_migration_utility_spark.operators import apply as apply_mod
from yadamu___yet_another_data_migration_utility_spark.operators.apply import (
    BatchAborted,
    apply_batch,
)
from yadamu___yet_another_data_migration_utility_spark.sources.lakebase import (
    _AQE_KEY,
    _aqe_off,
)
from yadamu___yet_another_data_migration_utility_spark.sources.laketable import (
    LakeTable,
)

SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("val", T.StringType()),
])
CHG = "url string, val string, op string, lsn long"


def test_aqe_guard_restores_and_nests(spark):
    before = spark.conf.get(_AQE_KEY)
    with _aqe_off(spark):
        assert spark.conf.get(_AQE_KEY) == "false"
        with _aqe_off(spark):  # nested writer: stays off, one refcount
            assert spark.conf.get(_AQE_KEY) == "false"
        assert spark.conf.get(_AQE_KEY) == "false"  # outer still active
    assert spark.conf.get(_AQE_KEY) == before


def test_aqe_guard_restores_on_exception(spark):
    before = spark.conf.get(_AQE_KEY)
    with pytest.raises(RuntimeError, match="boom"):
        with _aqe_off(spark):
            raise RuntimeError("boom")
    assert spark.conf.get(_AQE_KEY) == before


def test_apply_batch_leaves_aqe_enabled(spark, tmp_path, monkeypatch):
    """AQE is off inside a merge-on-read merge only: a copy-on-write
    merge keeps the session's value for its resolve join, and either
    way the session's value is back once apply_batch returns. The
    batches take the Spark path: a small merge-on-read batch committed
    in-process runs no Spark write, so there is no AQE value to see."""
    monkeypatch.setattr(apply_mod, "ARROW_MAX_BYTES", -1)
    before = spark.conf.get(_AQE_KEY)
    for mode, inside in (("cow", before), ("mor", "false")):
        t = LakeTable.create(str(tmp_path / mode), SCHEMA, key="url",
                             bucket_count=4, merge_mode=mode)
        seen = []
        merge = t.merge

        def spy(*args, pre_commit_hook=None, **kwargs):
            def hook():
                seen.append(spark.conf.get(_AQE_KEY))
                if pre_commit_hook is not None:
                    pre_commit_hook()
            return merge(*args, pre_commit_hook=hook, **kwargs)

        monkeypatch.setattr(t, "merge", spy)
        apply_batch(t, spark.createDataFrame(
            [("a", "1", "I", 1)], CHG), 0, run_extract=False)
        assert seen == [inside], mode
        assert spark.conf.get(_AQE_KEY) == before
        # aborted batch (poison rows over the limit) restores too
        with pytest.raises(BatchAborted):
            apply_batch(t, spark.createDataFrame(
                [(None, "x", "I", 2)], CHG), 1, run_extract=False, max_errors=0)
        assert seen == [inside, inside], mode
        assert spark.conf.get(_AQE_KEY) == before
