"""Driver-contract smoke tests + measured-recall acceptance for the
approximate (LSH) operators: their bucketing is exactly hash-checked by
the oracles, and THIS file pins how much of the brute-force truth the
buckets recover."""

from __future__ import annotations

import pyspark.sql.functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

# every query the catalog registers: the CDC engine queries plus the
# text, dedup, corpus, ANN, media and type-conversion entries
KEPT_QUERIES = {
    "ann_cosine_topk", "ann_lsh_bucketed", "cdc_asof_join",
    "cdc_backfill_overwrite", "cdc_bloom_lookup", "cdc_branch_publish",
    "cdc_composite_key_replay", "cdc_composite_merge_into",
    "cdc_constraint_enforce", "cdc_dedup_salted", "cdc_dlq_requeue",
    "cdc_envelope_decode", "cdc_incremental_read", "cdc_incremental_rollup",
    "cdc_last_state", "cdc_merge_into", "cdc_metadata_count",
    "cdc_metrics_audit", "cdc_mirror_replicate", "cdc_multi_table_replay",
    "cdc_point_lookup", "cdc_predicate_delete", "cdc_predicate_update",
    "cdc_quarantine_split", "cdc_replay_merge", "cdc_rollback_replay",
    "cdc_scd2_history", "cdc_schema_evolution",
    "cdc_snapshot_sync", "cdc_sql_over_lake", "cdc_time_travel_tag",
    "cdc_timeslice_scan", "cdc_wap_publish", "corpus_balanced_sample",
    "corpus_decontaminate", "corpus_mix_weights", "corpus_pack_sequences",
    "corpus_sample", "corpus_shuffle", "corpus_train_split",
    "dedup_clusters", "dedup_containment", "dedup_embedding_cosine",
    "dedup_exact", "dedup_incremental", "dedup_ngram_jaccard",
    "dedup_passages", "dedup_simhash", "doc_chunk_sliding",
    "doc_fingerprint", "doc_repetition", "doc_rolling_hash",
    "document_roundtrip", "embedding_label_centroids", "events_funnel",
    "events_retention", "events_sessionization", "export_roundtrip_json",
    "interval_iso8601", "media_decode_meta", "media_frame_sample",
    "media_metadata", "minhash_lsh_dedup", "q10_returned_items",
    "q14_promo_revenue", "q18_large_orders", "simhash_signatures",
    "spatial_recode", "staged_roundtrip_csv", "staged_roundtrip_parquet",
    "text_lang_id", "text_length_quartiles", "text_quality_stats",
    "text_tfidf_topterms", "token_count_bpe", "token_stats_by_source",
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


def test_ann_lsh_recall_vs_bruteforce(spark):
    """Measured recall@5 of the bucketed ANN against the brute-force
    baseline, over the same 8 queries. Single-table 8-bit LSH on
    near-orthogonal synthetic vectors is the weakest case for LSH;
    the pinned floor documents the trade (scale path = more tables)."""
    qs = entrymod.queries()
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["ann_cosine_topk"](spark, SF).collect()
    }
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["ann_lsh_bucketed"](spark, SF).collect()
    }
    assert brute and lsh
    recall = len(brute & lsh) / len(brute)
    # pinned floor; measured value printed for the record
    print(f"ann_lsh_bucketed recall@5 vs brute force: {recall:.3f}")
    assert recall >= 0.2, f"recall collapsed: {recall}"


def test_embedding_dedup_candidate_recall(spark):
    """Measured recall of the 16x4 multi-table LSH candidate pairs vs
    the exact >=0.35 brute-force pair set (the r1 BNLJ implementation,
    reproduced here as the test oracle)."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    to_d = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    p = e.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("probe_id"), to_d("embedding").alias("pe")
    )
    t = e.select(F.col("vec_id").alias("cand_id"), to_d("embedding").alias("te"))

    def dot(x, y):
        return F.aggregate(F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda s, v: s + v)

    def norm(x):
        return F.sqrt(F.aggregate(F.transform(x, lambda a: a * a), F.lit(0.0), lambda s, v: s + v))

    sim = dot(F.col("pe"), F.col("te")) / (norm(F.col("pe")) * norm(F.col("te")))
    exact = {
        (r["probe_id"], r["cand_id"])
        for r in t.join(F.broadcast(p), F.col("probe_id") < F.col("cand_id"))
        .select("probe_id", "cand_id", sim.alias("sim"))
        .filter(F.col("sim") >= 0.35)
        .collect()
    }
    got = {
        (r["probe_id"], r["cand_id"])
        for r in entrymod.queries()["dedup_embedding_cosine"](spark, SF).collect()
    }
    assert exact, "test setup: no exact pairs at this SF"
    recall = len(exact & got) / len(exact)
    print(f"dedup_embedding_cosine candidate recall vs exact: {recall:.3f}")
    # these tail pairs (sim 0.35-0.46) are the HARD case for hyperplane
    # LSH; genuinely-near pairs (>=0.9) recall ~0.998 at 16x4
    assert recall >= 0.5, f"recall collapsed: {recall}"
    # no false positives: the exact-verify stage must keep candidates
    # only when they really clear the threshold
    extra = got - exact
    assert not extra, f"pairs below threshold leaked through verify: {sorted(extra)[:5]}"


def test_media_decode_meta_deterministic(spark):
    qs = entrymod.queries()
    a = qs["media_decode_meta"](spark, SF).orderBy("media_id").collect()
    b = qs["media_decode_meta"](spark, SF).orderBy("media_id").collect()
    assert a == b
    assert all(64 <= r["width"] <= 255 and r["n_bytes"] > 0 for r in a)


def test_frame_sample_plumbing(spark):
    from yadamu___yet_another_data_migration_utility_spark.functions.multimodal import (
        frame_sample,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    fs = frame_sample(d, every_n=2)
    rows = fs.groupBy("media_id").count().collect()
    assert all(1 <= r["count"] <= 2 for r in rows)  # n_frames in 1..4, every 2nd

def test_dedup_clusters_transitive_keeplist(spark):
    """dedup_clusters must assign one label per connected component of
    the MinHash pair graph (A~B~C collapses to ONE cluster even when
    the A~C pair was never emitted), label it with the component's
    minimum doc_id, and mark exactly that doc as keep."""
    qs = entrymod.queries()
    pairs = [
        (r["doc1"], r["doc2"])
        for r in qs["minhash_lsh_dedup"](spark, SF).collect()
    ]
    labels = {
        r["doc_id"]: (r["cluster"], r["keep"])
        for r in qs["dedup_clusters"](spark, SF).collect()
    }
    assert pairs, "test setup: no near-dup pairs at this SF"
    # domain = exactly the docs appearing in any pair
    assert set(labels) == {d for p in pairs for d in p}
    # transitivity: both endpoints of every pair share a cluster
    for a, b in pairs:
        assert labels[a][0] == labels[b][0], (a, b)
    # cluster id is the component minimum; keep <=> doc IS that minimum
    by_cluster: dict[int, list[int]] = {}
    for doc, (cl, _) in labels.items():
        by_cluster.setdefault(cl, []).append(doc)
    for cl, members in by_cluster.items():
        assert cl == min(members)
        assert [d for d in members if labels[d][1]] == [cl]
