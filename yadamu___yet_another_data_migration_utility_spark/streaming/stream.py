"""Structured Streaming replay: WAL-segment file source -> foreachBatch.

The control plane of the engine (reference analogue: the DBReader state
machine, /root/reference/src/YADAMU/common/dbReader.js:334-396, and its
reconnect/resume logic, /root/reference/src/YADAMU/common/yadamuDBI.js
:704-813 -- both replaced wholesale by Structured Streaming's
checkpointing).

- source: parquet file stream over a directory of ordered WAL segments;
  ``maxFilesPerTrigger`` is the micro-batch sizing knob (the analogue of
  BATCH_SIZE/COMMIT_COUNT windows, /root/reference/src/YADAMU/common/
  yadamuWriter.js:159-174, default 10k rows -- here a segment is the
  unit);
- watermark on ``warc_ts`` bounds event-time lateness for any stateful
  downstream consumer; correctness of the sink does NOT depend on it
  (the LSN-monotonic merge discards stale events regardless);
- sink: ``foreachBatch`` whose body is the pure ``apply_batch`` -- the
  micro-batch id from Structured Streaming is the fencing key, so
  restart-after-crash replays of the last batch are exact no-ops;
- resume: the checkpointLocation carries source offsets; the table
  manifest carries the fence. Either alone gives at-least-once; both
  together give exactly-once.

Scale note: on a real cluster this same code runs against a Kafka /
binlog source by swapping ``readStream.format``; everything downstream
of the source DataFrame is format-agnostic.
"""

from __future__ import annotations

import os
import time

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..functions.minhash import mh_sig, shingles
from ..operators.apply import BatchMetrics, apply_batch
from ..sources.laketable import LSN_COL, LakeTable

#: changelog wire schema (FIXTURES.md F2); content_type is the additive
#: evolution column -- present in evolved logs, absent otherwise.
CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("lang", T.StringType()),
    ]
)


def start_replay(
    spark: SparkSession,
    table: LakeTable,
    changelog_path: str,
    checkpoint_dir: str,
    schema: T.StructType = CHANGELOG_SCHEMA,
    max_files_per_trigger: int = 1,
    watermark: str = "1 hour",
    salt_buckets: int = 0,
    available_now: bool = True,
    on_metrics: Callable[[BatchMetrics], None] | None = None,
    compact_every: int | None = None,
    compact_max_files: int = 8,
    max_errors: int | None = None,
    on_error: str = "abort",
    rollup: "IncrementalRollup | None" = None,
    rollup_every: int = 1,
    source_format: str = "parquet",
    decoder: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """Start (not await) the replay query. Returns the StreamingQuery so
    callers can stop it mid-replay (restart/kill tests).

    ``source_format="jsonl"`` tails JSON-lines files of CDC envelopes
    instead of pre-normalized parquet segments -- the on-disk stand-in
    for a Kafka topic fed by a Debezium connector. ``decoder`` maps the
    raw source micro-batch to the canonical changelog columns (e.g.
    ``sources.envelope.decode_debezium``); it is required for jsonl and
    composes with parquet too (any per-source normalization). Decoding
    happens INSIDE the stream, so checkpoints/fencing/watermarks are
    identical in both modes -- the source swap the module docstring
    promises, demonstrated rather than asserted.

    ``compact_every=k`` rewrites buckets holding more than
    ``compact_max_files`` files after every k-th applied batch -- the
    scheduled-maintenance analogue of the reference's Vertica mergeout
    every N inserts (/root/reference/src/YADAMU/vertica/node/
    verticaWriter.js:467-484), here an Iceberg
    rewrite_data_files-style compaction commit. Compaction is its own
    atomic snapshot, so a crash between merge and compact loses
    nothing; a replayed batch still fences.

    ``rollup`` co-maintains a continuous aggregate inside the pipeline:
    after every ``rollup_every``-th applied batch the
    ``IncrementalRollup`` advances to the table head (refresh windows
    coalesce, so any skipped or crashed-before-refresh batches fold
    into the next window -- the refresh fence makes restarts
    exactly-once with no extra coordination). Callers should issue one
    final ``rollup.refresh`` after the stream drains to catch the
    tail; ``replay_available`` does."""
    if source_format == "parquet":
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(changelog_path)
        )
    elif source_format == "jsonl":
        if decoder is None:
            raise ValueError("source_format='jsonl' requires a decoder")
        stream = (
            spark.readStream
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .text(changelog_path)
        )
    else:
        raise ValueError(f"unknown source_format {source_format!r}")
    if decoder is not None:
        stream = decoder(stream)
    # the foreachBatch sink is stateless, so the watermark is advisory
    # (bounds lateness if a stateful op is ever composed upstream);
    # arbitrary replicated schemas may not carry the event-time column
    if "warc_ts" in stream.columns:
        stream = stream.withWatermark("warc_ts", watermark)

    def _sink(batch_df, batch_id: int) -> None:
        m = apply_batch(table, batch_df, batch_id, salt_buckets=salt_buckets,
                        max_errors=max_errors, on_error=on_error)
        if compact_every and not m.fenced and (batch_id + 1) % compact_every == 0:
            table.compact(batch_df.sparkSession, max_files_per_bucket=compact_max_files)
        if rollup is not None and (batch_id + 1) % max(1, rollup_every) == 0:
            rollup.refresh(batch_df.sparkSession)
        if on_metrics is not None:
            on_metrics(m)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("cdc_replay")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_replay_multi(
    spark: SparkSession,
    tables: dict[str, LakeTable],
    changelog_path: str,
    checkpoint_dir: str,
    table_col: str = "_table",
    schema: T.StructType | None = None,
    max_files_per_trigger: int = 1,
    watermark: str = "1 hour",
    available_now: bool = True,
    on_metrics: Callable[[dict[str, BatchMetrics]], None] | None = None,
    source_format: str = "parquet",
    decoder: Callable[[DataFrame], DataFrame] | None = None,
    project_to_table: bool = False,
    **apply_kwargs,
) -> StreamingQuery:
    """Schema-level replay: ONE WAL stream interleaving several tables
    (the shape a real binlog tail has -- the reference's unit of work
    is likewise a whole schema, yadamuDBI.js iterating schemaInfo).
    Each micro-batch routes through ``apply_batch_multi``: every
    table's slice merges under the batch's fence id, so exactly-once
    composes per table and a crash between two per-table commits
    resumes by re-applying only the unfenced tables -- Spark's
    checkpoint replays the batch, the fences dedupe it. Default wire
    schema = ``CHANGELOG_SCHEMA`` + a leading ``table_col`` string
    column. ``source_format``/``decoder`` mirror ``start_replay``:
    ``"jsonl"`` tails a raw connector feed, the decoder normalizes it
    and must emit ``table_col`` (``decode_debezium(...,
    table_col=...)`` surfaces ``source.table`` for exactly this).
    ``apply_kwargs`` pass through to ``apply_batch``
    (salt_buckets, dedup, max_errors, ...)."""
    from ..operators.apply import apply_batch_multi

    if source_format == "parquet":
        if schema is None:
            schema = T.StructType(
                [T.StructField(table_col, T.StringType()),
                 *CHANGELOG_SCHEMA.fields])
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(changelog_path)
        )
    elif source_format == "jsonl":
        if decoder is None:
            raise ValueError("source_format='jsonl' requires a decoder")
        stream = (
            spark.readStream
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .text(changelog_path)
        )
    else:
        raise ValueError(f"unknown source_format {source_format!r}")
    if decoder is not None:
        stream = decoder(stream)
    if "warc_ts" in stream.columns:
        stream = stream.withWatermark("warc_ts", watermark)

    def _sink(batch_df, batch_id: int) -> None:
        # the router makes 1 + T passes over the micro-batch (discovery
        # + one filtered apply per table); cache it so the WAL files
        # are read once per trigger, not once per table
        batch_df.persist()
        try:
            ms = apply_batch_multi(tables, batch_df, batch_id,
                                   table_col=table_col,
                                   project_to_table=project_to_table,
                                   **apply_kwargs)
        finally:
            batch_df.unpersist()
        if on_metrics is not None:
            on_metrics(ms)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("cdc_replay_multi")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_hourly_rollup(
    spark: SparkSession,
    changelog_path: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    watermark: str = "1 hour",
    window: str = "1 hour",
    schema: T.StructType = CHANGELOG_SCHEMA,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Stateful streaming twin of the batch ``events_hourly_rollup``:
    tumbling event-time windows over the changelog with WATERMARKED
    late-data semantics (the construct the replay sink itself does not
    need -- its LSN-monotonic merge is order-insensitive -- but every
    monitoring/derived-stream consumer does).

    Append output mode: a window row is written exactly once, when the
    watermark (max event time seen minus ``watermark``) passes the
    window end and the state is evicted. A late event arriving while
    its window is still in state is folded in; one arriving AFTER its
    window was finalized is dropped -- no duplicate window rows, ever
    (pinned by tests/test_streaming.py watermark-semantics test) --
    bounded state, the only stance that survives an unbounded
    10^10-event stream. State is O(open windows x ops), not O(corpus).

    Scale: groupBy(window, op) with algebraic aggs -- map-side partial
    combine, one shuffle per micro-batch keyed by (window, op); the
    parquet sink appends one finalized-window file set per batch."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(changelog_path)
        .withWatermark("warc_ts", watermark)
    )
    agg = (
        stream.groupBy(F.window("warc_ts", window).alias("w"), "op")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "op",
            "n_events",
            "min_lsn",
            "max_lsn",
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("cdc_hourly_rollup")
        .trigger(availableNow=True)
        .start()
    )


#: output row of one finalized url session
SESSION_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("min_lsn", T.LongType()),
        T.StructField("max_lsn", T.LongType()),
    ]
)

#: UDF-internal row: epoch-microsecond bounds (converted to timestamps
#: JVM-side -- Arrow round-trips naive datetimes through the SESSION
#: timezone, which would shear against the epoch-based watermark under
#: any non-UTC session)
_SESSION_US_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("min_lsn", T.LongType()),
        T.StructField("max_lsn", T.LongType()),
    ]
)

#: per-url crawl-session state: (start_us, last_us, n, min_lsn, max_lsn)
_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("min_lsn", T.LongType()),
        T.StructField("max_lsn", T.LongType()),
    ]
)

SESSION_GAP_US = 30 * 60 * 1_000_000


def start_url_sessions(
    spark: SparkSession,
    changelog_path: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    watermark: str = "1 hour",
    gap_us: int = SESSION_GAP_US,
    schema: T.StructType = CHANGELOG_SCHEMA,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """CUSTOM stateful streaming operator via ``applyInPandasWithState``
    (the construct for per-key logic that windowed aggs can't express):
    per-url crawl sessions closed by a 30-min event-time inactivity gap.

    Semantics (the streaming twin of the batch ``events_sessionization``
    gaps-and-islands): events for a url folding into an open session
    extend it; a gap > ``gap_us`` INSIDE arriving data closes the older
    session immediately; an open session with no further arrivals
    closes when the WATERMARK passes its deadline (event-time timeout),
    so every finalized session is emitted exactly once and sessions
    still open at end-of-stream stay in state (bounded by open keys).

    Scale: state is one 5-long tuple per OPEN url session -- O(active
    keys), evicted by timeout, never O(corpus); each micro-batch
    shuffles only that batch's events by url. Arrow-batched pandas on
    both edges; no per-row Python dispatch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = gap_us // 1000
    _cols = ["url", "start_us", "end_us", "n_events", "min_lsn", "max_lsn"]

    def fn(key, pdfs, state: GroupState):
        url = key[0]

        def finalize(cur) -> dict:
            return {
                "url": url,
                "start_us": cur[0],
                "end_us": cur[1],
                "n_events": cur[2],
                "min_lsn": cur[3],
                "max_lsn": cur[4],
            }

        if state.hasTimedOut:
            out = [finalize(state.get)]
            state.remove()
            yield pd.DataFrame(out)
            return

        events: list[tuple[int, int]] = []
        for pdf in pdfs:
            if len(pdf):
                # _ts_us is TRUE epoch microseconds, computed JVM-side
                # (unix_micros) -- immune to the session-timezone shear
                # of Arrow's naive-datetime round-trip
                events.extend(zip(pdf["_ts_us"].tolist(), pdf["lsn"].tolist()))
        events.sort()
        cur = list(state.get) if state.exists else None
        if not events and cur is None:  # defensive: nothing to do
            yield pd.DataFrame([], columns=_cols)
            return
        out = []
        for ts_us, lsn in events:
            if cur is None:
                cur = [ts_us, ts_us, 1, lsn, lsn]
            elif ts_us - cur[1] > gap_us:
                out.append(finalize(cur))
                cur = [ts_us, ts_us, 1, lsn, lsn]
            else:
                cur[1] = max(cur[1], ts_us)
                cur[2] += 1
                cur[3] = min(cur[3], lsn)
                cur[4] = max(cur[4], lsn)
        wm_ms = state.getCurrentWatermarkMs()
        deadline_ms = cur[1] // 1000 + gap_ms
        if deadline_ms <= wm_ms:
            # the watermark already passed the gap: close inline (an
            # event-time timeout may not be set in the past)
            out.append(finalize(cur))
            if state.exists:
                state.remove()
        else:
            state.update(tuple(cur))
            state.setTimeoutTimestamp(deadline_ms)
        yield pd.DataFrame(out, columns=_cols)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(changelog_path)
        .withWatermark("warc_ts", watermark)
        .withColumn("_ts_us", F.unix_micros(F.col("warc_ts")))
    )
    sessions = stream.groupBy("url").applyInPandasWithState(
        fn, _SESSION_US_SCHEMA, _SESSION_STATE_SCHEMA,
        "append", GroupStateTimeout.EventTimeTimeout,
    ).select(
        "url",
        F.timestamp_micros(F.col("start_us")).alias("session_start"),
        F.timestamp_micros(F.col("end_us")).alias("session_end"),
        "n_events", "min_lsn", "max_lsn",
    )
    return (
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("cdc_url_sessions")
        .trigger(availableNow=True)
        .start()
    )


def replay_available(
    spark: SparkSession,
    table: LakeTable,
    changelog_path: str,
    checkpoint_dir: str,
    **kwargs,
) -> list[BatchMetrics]:
    """Replay everything currently in the changelog and wait for
    completion; returns per-batch metrics. A co-maintained ``rollup``
    gets one final refresh after the stream drains (covers batches a
    ``rollup_every`` stride skipped)."""
    metrics: list[BatchMetrics] = []
    q = start_replay(
        spark, table, changelog_path, checkpoint_dir,
        available_now=True, on_metrics=metrics.append, **kwargs,
    )
    q.awaitTermination()
    ru = kwargs.get("rollup")
    if ru is not None:
        ru.refresh(spark)
    return metrics


def follow_changes(
    spark: SparkSession,
    table: LakeTable,
    since_version: int,
    on_changes: Callable,
    poll_seconds: float = 1.0,
    max_polls: int | None = None,
    stop_at_version: int | None = None,
) -> int:
    """CDC-out TAIL: poll the table head and emit each new window's net
    changes through ``on_changes(df, since, until)`` -- the downstream
    half of the CDC loop (upstream: ``start_replay`` ingests a
    changelog; here a consumer follows the table AS a changelog).
    This is exactly how Iceberg/Delta streaming reads work under the
    hood: a monotonic snapshot cursor + incremental scans between
    consecutive positions; Spark's source API would wrap this same
    loop in ``latestOffset``/``getBatch``.

    Delivery contract: per-window net per-key changes with
    ``_change_type`` and the ``_lsn`` ordering token; applying windows
    IN ORDER through the engine's LSN-monotonic merge reproduces every
    followed snapshot. One repair on top of raw ``read_changes``: a
    window crossing a compact/cow commit takes the snapshot-diff path,
    where a delete's physical tombstone LSN is already folded away
    (NULL) -- a NULL-LSN delete would LOSE the monotonic apply against
    the downstream copy's existing row and silently diverge, so the
    tail stamps those deletes with a synthetic LSN strictly above every
    LSN in the followed table's audit chain (driver-side manifest walk,
    no Spark job). The cursor is returned so a caller persisting it
    next to its sink gets exactly-once resume (re-emitting a window is
    idempotent under the monotonic apply).

    Scale: each poll is one manifest read (O(1) driver); each emitted
    window costs O(window changes) via the delta-file fast path. A
    retention-expired cursor raises read_changes' clean window error --
    the consumer must re-seed from a snapshot, Iceberg's contract.
    ``poll_seconds`` bounds idle cost; ``stop_at_version`` /
    ``max_polls`` make the loop testable (None = follow forever)."""
    cursor = since_version
    polls = 0
    while True:
        head = table.current_version()
        if stop_at_version is not None:
            # never deliver past the requested stop: a live upstream
            # writer must not push the consumer beyond its alignment
            # point, and the returned cursor must name it exactly
            head = min(head, stop_at_version)
        if head > cursor:
            df = table.read_changes(spark, cursor, until_version=head)
            # lsn_high_watermark (manifest-carried) rather than an audit
            # walk: it also covers update_where stamps and survives
            # expire_snapshots truncating the chain
            hi = table.lsn_high_watermark()
            df = df.withColumn(
                LSN_COL, F.coalesce(F.col(LSN_COL), F.lit(hi + 1))
            )
            on_changes(df, cursor, head)
            cursor = head
        if stop_at_version is not None and cursor >= stop_at_version:
            return cursor
        polls += 1
        if max_polls is not None and polls >= max_polls:
            return cursor
        time.sleep(poll_seconds)


def mirror_cursor(replica: LakeTable) -> int:
    """Resume cursor of a mirror replica: the highest SOURCE version
    whose change window has been fenced into the replica. ``mirror``
    uses the source ``until`` version as the replica merge ``batch_id``,
    so the replica's own fence ledger IS the durable cursor -- no
    side-channel state file, the same self-describing-checkpoint trick
    ``IncrementalRollup`` uses. Returns 0 for a replica that was
    created but never seeded (an interrupted first ``mirror`` call --
    the caller re-seeds)."""
    ids = [int(b) for b in replica.manifest().get("applied_batches", {})]
    return max(ids, default=0)


def mirror(
    spark: SparkSession,
    source: LakeTable,
    replica_root: str,
    stop_at_version: int | None = None,
    poll_seconds: float = 1.0,
    max_polls: int | None = None,
    fs=None,
) -> tuple[LakeTable, int]:
    """Maintain an exact REPLICA of ``source`` by tailing its change
    stream -- the engine's CDC loop closed end-to-end (changelog ->
    table -> changelog -> table), i.e. cross-lake table replication:
    what Iceberg users build from a streaming changelog scan feeding
    MERGE INTO, and what the reference performs as a whole-database
    copy per run (/root/reference/src/YADAMU/common/yadamu.js
    doCopy: reader DBI -> writer DBI) -- here INCREMENTAL, resumable,
    and exactly-once instead of a full re-copy.

    First call seeds the replica from a pinned source snapshot ``h``
    (schema, key, bucket count and merge mode copied from the source
    manifest; every row merged with its source ``_lsn`` under fence
    ``batch_id=h``), then tails ``follow_changes`` windows, applying
    each net change set through the replica's LSN-monotonic MERGE under
    fence ``batch_id=until``. Because the fence and the data commit are
    the same atomic manifest publish, a crash anywhere leaves the
    replica either before or after a whole window -- re-running
    ``mirror`` resumes from ``mirror_cursor`` and re-applying a
    delivered window is a fenced no-op: exactly-once replication with
    no checkpoint files.

    Contract: additive source evolution (new columns, type widening)
    flows through automatically -- the change read emits the current
    schema and the replica MERGE evolves to match. Destructive changes
    (``drop_column``) do NOT propagate (the replica keeps the column,
    NULL-filled for rows updated after the drop): re-seed a fresh
    replica for those, Iceberg's own guidance for non-additive
    evolution on a streaming reader. A retention-expired window raises
    ``read_changes``' clean ValueError and leaves the replica valid at
    its cursor -- re-seed (delete the replica directory and call
    ``mirror`` again) to catch up past the expired history.

    Scale: seeding is one resolved snapshot read + one bucketed write;
    each window costs O(window changes) on the delta fast path (a
    compact/cow/append in the window falls back to the snapshot diff,
    still correct). The replica is mirror-owned: do not merge foreign
    batch_ids into it, they would corrupt the fence-derived cursor."""
    if stop_at_version is None and max_polls is None:
        # default = one catch-up sync to the head observed NOW (a live
        # upstream writer must not turn a sync call into a daemon);
        # pass stop_at_version/max_polls explicitly to follow longer
        stop_at_version = source.current_version()
    if LakeTable.exists(replica_root, fs=fs):
        replica = LakeTable.load(replica_root, fs=fs)
        cursor = mirror_cursor(replica)
    else:
        replica, cursor = None, 0

    if cursor == 0:
        # fresh replica (or a create/seed interrupted before the seed
        # fence landed): seed from a pinned source snapshot
        h = source.current_version()
        if stop_at_version is not None:
            h = min(h, stop_at_version)
        m = source.manifest(h)
        schema = T.StructType.fromJson(m["schema"])
        if replica is None:
            replica = LakeTable.create(
                replica_root, schema, key=m["key"],
                bucket_count=m["bucket_count"],
                merge_mode=m.get("merge_mode", "mor"), fs=fs,
            )
        seed = (
            source.read(spark, version=h)
            # rows that only ever went through append carry NULL _lsn;
            # 0 keeps them below every real LSN so any later change to
            # the key wins the monotonic apply
            .withColumn(LSN_COL, F.coalesce(F.col(LSN_COL), F.lit(0)))
            .withColumn("_op", F.lit("U"))
        )
        replica.merge(spark, seed, batch_id=h, op_col="_op", lsn_col=LSN_COL)
        cursor = h

    def _apply(df, since: int, until: int) -> None:
        batch = df.withColumn(
            "_op",
            F.when(F.col(LakeTable.CHANGE_COL) == "delete", "D").otherwise("U"),
        ).drop(LakeTable.CHANGE_COL)
        replica.merge(spark, batch, batch_id=until, op_col="_op", lsn_col=LSN_COL)

    cursor = follow_changes(
        spark, source, cursor, _apply,
        poll_seconds=poll_seconds, max_polls=max_polls,
        stop_at_version=stop_at_version,
    )
    return replica, cursor


def publish_changes(
    spark: SparkSession,
    table: LakeTable,
    out_dir: str,
    since_version: int,
    until_version: int | None = None,
    wrapped: bool = False,
    db: str = "lake",
    topic: str | None = None,
    mode: str = "append",
) -> dict:
    """CDC PUBLISH (the outbox direction): render a change window as
    Debezium JSON-lines -- the same wire format ``start_replay(
    source_format="jsonl")`` consumes, so two engines chained through a
    published directory replicate a table over the WIRE, not a shared
    filesystem (lake -> topic -> lake, each side seeing only the
    connector feed shape). Upserts publish as op ``u`` with the full
    after image; deletes as op ``d`` with the key-bearing before image.
    NULL ``_lsn`` rows (diff-path tombstones, rollback windows) are
    stamped above the table's LSN watermark exactly as
    ``follow_changes`` does, so a downstream monotonic apply never
    loses them.

    Stateless by design: the returned ``until`` is the consumer's next
    ``since`` (the ``cmd_changes`` cursor contract); re-publishing a
    window is harmless downstream because the apply is LSN-monotonic
    and fenced. Successive windows APPEND into the topic directory by
    default -- exactly how a file-source consumer discovers new data.
    ``mode="overwrite"`` truncates the topic and is only safe when no
    consumer may still be lagging behind the destroyed files;
    ``mode="error"`` insists the directory is fresh.

    Scale: O(window changes) via the delta-file fast path + one narrow
    ``to_json`` projection; the published count rides the write job as
    an ``Observation`` (no second pass over the feed); file count
    follows the change read's parallelism (a Kafka sink would ride the
    same DataFrame)."""
    from pyspark.sql import Observation

    from ..sources.envelope import encode_debezium

    until = table.current_version() if until_version is None else until_version
    df = table.read_changes(spark, since_version, until_version=until)
    hi = table.lsn_high_watermark()
    df = df.withColumn(LSN_COL, F.coalesce(F.col(LSN_COL), F.lit(hi + 1)))
    payload = [c for c in df.columns if c not in (LSN_COL, "_change_type")]
    canon = df.select(
        F.col(LSN_COL).alias("lsn"),
        F.when(F.col("_change_type") == "delete", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        *payload,
    )
    key = table.manifest()["key"]
    wire = encode_debezium(
        canon, key=key, ts_col=None, db=db,
        table=topic or os.path.basename(table.root.rstrip("/")),
        wrapped=wrapped,
    )
    obs = Observation()
    wire = wire.observe(obs, F.count(F.lit(1)).alias("n"))
    wire.select("value").write.mode(mode).text(out_dir)
    return {"published": obs.get["n"], "since": since_version,
            "until": until, "out_dir": out_dir}


#: document-ingest wire schema for the dedup-on-ingest stream
DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ]
)


#: persisted MinHash band-signature index layout (one LakeTable row per
#: (doc, band); sig_key = 'doc_id:band' is the merge/bucket key)
SIG_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("sig_key", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("h0", T.LongType()),
        T.StructField("h1", T.LongType()),
    ]
)


def start_dedup_ingest(
    spark: SparkSession,
    docs_table: LakeTable,
    index_table: LakeTable,
    source_path: str,
    checkpoint_dir: str,
    min_band_matches: int = 2,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    on_metrics: Callable[[dict], None] | None = None,
) -> StreamingQuery:
    """Continuous ingest with INLINE near-dup filtering -- the streaming
    twin of the ``dedup_incremental`` batch operator, and the shape a
    crawl pipeline actually runs: every micro-batch of documents is
    checked against a PERSISTED MinHash band index (itself a LakeTable)
    before landing, so duplicates are dropped at the door instead of by
    a nightly sweep.

    Per micro-batch (foreachBatch):

    1. band signatures for the batch via the shared ``mh_sig``
       contract (functions/minhash.py) -- 3 bands of 2 md5-minhashes;
    2. candidates = batch bands equi-joined against the index AND
       against earlier docs in the same batch (smaller doc_id wins, so
       in-batch duplicates resolve deterministically); a doc is a DUP
       when >= ``min_band_matches`` of its 3 bands collide with the
       same prior doc (exact copies collide on all 3);
    3. survivors are APPENDED to ``docs_table`` and their signatures to
       ``index_table`` -- both appends fence on the micro-batch id, so
       a crash between the two (or a restart replay of the whole batch)
       re-applies only the half that never committed: exactly-once with
       no cross-table coordination. The dup decision is reproducible on
       replay: a batch whose id is already fenced in the docs table
       excludes same-doc_id index matches (its own signatures may
       already be indexed), while a NEW batch keeps them -- a source
       legitimately re-delivering a doc_id later still collides with
       its indexed self and is dropped as the duplicate it is.

    Docs shorter than one 3-word shingle produce no signature: they are
    always kept and never indexed (nothing to collide on).

    ``index_table`` schema: (sig_key string KEY = 'doc_id:band',
    doc_id long, band int, h0 long, h1 long); it grows O(corpus) rows
    (3 per doc). Scale, honestly: each micro-batch costs one SCAN of
    the index -- but no index shuffle: the batch's signatures are the
    small side of the band equi-join, so Spark broadcasts them and the
    index streams through a hash probe map-side. Signature compute is
    O(batch). Trimming the scan itself needs a band-keyed physical
    layout (key the index by '{h0}:{h1}:{band}' and prune buckets by
    the batch's band keys) -- worthwhile once the index outgrows scan
    bandwidth, unnecessary before."""
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
    )

    def _sink(batch_df, batch_id: int) -> None:
        # the batch, its signatures and the survivors each feed several
        # actions: _dedup_batch persists each once (forced by a count)
        # and they are all released when the batch is done, even on
        # failure
        held: list[DataFrame] = []
        try:
            _dedup_batch(batch_df, batch_id, held)
        finally:
            for df in held:
                df.unpersist()

    def _dedup_batch(batch_df, batch_id: int, held: list[DataFrame]) -> None:
        s = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        batch_df = batch_df.persist()
        held.append(batch_df)
        n_in = batch_df.count()
        sig = mh_sig(s, shingles(batch_df)).persist()
        held.append(sig)
        sig.count()
        idx = index_table.read(s, public=True).select(
            "doc_id", "band", "h0", "h1")
        b = sig.alias("b")
        prior = idx.alias("c")
        corpus_cond = (
            (F.col("b.band") == F.col("c.band"))
            & (F.col("b.h0") == F.col("c.h0"))
            & (F.col("b.h1") == F.col("c.h1"))
        )
        # REPLAY of an already-fenced batch (crash between the index
        # append and the streaming checkpoint) re-evaluates with the
        # batch's OWN signatures in the index: exclude same-doc matches
        # so the replayed decision (and metrics) reproduce the original.
        # Only on replay -- a source legitimately re-delivering a
        # doc_id in a LATER batch must still collide with its indexed
        # self and be dropped as the duplicate it is.
        replay = str(batch_id) in docs_table.manifest().get(
            "applied_batches", {})
        if replay:
            corpus_cond = corpus_cond & (
                F.col("c.doc_id") != F.col("b.doc_id"))
        cand_corpus = b.join(prior, corpus_cond).select(
            F.col("b.doc_id").alias("bdoc"), F.col("b.band").alias("band"),
            F.col("c.doc_id").alias("cdoc"))
        earlier = sig.alias("e")
        cand_self = b.join(
            earlier,
            (F.col("b.band") == F.col("e.band"))
            & (F.col("b.h0") == F.col("e.h0"))
            & (F.col("b.h1") == F.col("e.h1"))
            & (F.col("e.doc_id") < F.col("b.doc_id")),
        ).select(F.col("b.doc_id").alias("bdoc"), F.col("b.band").alias("band"),
                 F.col("e.doc_id").alias("cdoc"))
        dups = (
            cand_corpus.unionByName(cand_self)
            .distinct()  # one vote per (pair, band)
            .groupBy("bdoc", "cdoc")
            .agg(F.count(F.lit(1)).alias("bands"))
            .filter(F.col("bands") >= min_band_matches)
            .select(F.col("bdoc").alias("doc_id"))
            .distinct()
        )
        # materialize ONCE: survivors feeds a count and two table
        # appends -- without this the index scan + band join would
        # recompute per action, tripling the batch's dominant cost
        survivors = batch_df.join(dups, "doc_id", "left_anti").persist()
        held.append(survivors)
        n_kept = survivors.count()
        docs_table.append(s, survivors, batch_id=batch_id)
        surv_sig = (
            sig.join(survivors.select("doc_id"), "doc_id")
            .select(
                F.concat_ws(":", F.col("doc_id"), F.col("band")).alias("sig_key"),
                "doc_id", "band", "h0", "h1",
            )
        )
        index_table.append(s, surv_sig, batch_id=batch_id)
        if on_metrics is not None:
            on_metrics({"batch_id": batch_id, "n_in": n_in,
                        "n_kept": n_kept, "n_dups": n_in - n_kept})

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("dedup_ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
