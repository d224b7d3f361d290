"""Driver-contract smoke tests: ``entry`` returns the changelog shape,
and ``queries``/``oracle_sql`` serve exactly the pinned catalog."""

from __future__ import annotations

import __spark_entry__ as entrymod

# every query the catalog registers: the CDC engine queries plus the
# sessionization and type-conversion entries
KEPT_QUERIES = {
    "cdc_asof_join", "cdc_backfill_overwrite", "cdc_bloom_lookup",
    "cdc_branch_publish", "cdc_composite_key_replay",
    "cdc_composite_merge_into", "cdc_constraint_enforce",
    "cdc_dedup_salted", "cdc_dlq_requeue", "cdc_envelope_decode",
    "cdc_incremental_read", "cdc_incremental_rollup", "cdc_last_state",
    "cdc_merge_into", "cdc_metadata_count", "cdc_metrics_audit",
    "cdc_mirror_replicate", "cdc_multi_table_replay", "cdc_point_lookup",
    "cdc_predicate_delete", "cdc_predicate_update", "cdc_quarantine_split",
    "cdc_replay_merge", "cdc_rollback_replay", "cdc_schema_evolution",
    "cdc_snapshot_sync", "cdc_sql_over_lake", "cdc_time_travel_tag",
    "cdc_timeslice_scan", "cdc_wap_publish", "events_sessionization",
    "interval_iso8601", "spatial_recode",
}


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"url", "last_lsn", "event_type", "value", "ts"}


def test_contract_shapes(spark):
    # every catalog entry is oracle-checked, and the served set is
    # pinned exactly so a query cannot vanish or appear unnoticed
    qs = entrymod.queries()
    assert set(qs) == set(entrymod.oracle_sql())
    assert set(qs) == KEPT_QUERIES
