"""The pure micro-batch apply function (SURVEY.md §7.1 minimum slice).

``apply_batch(table, batch_df, batch_id)`` is the entire data plane of
the engine, kept pure so the Structured Streaming ``foreachBatch`` body
is exactly this function (SURVEY.md §7.1: "keep it pure").

Stages:

1. **validate / quarantine split** -- poison events (NULL url, NULL lsn,
   unknown op, missing html on I/U) are routed to a side quarantine
   table instead of failing the batch. Reference analogue: the reject
   manager + iterative-mode fallback
   (/root/reference/src/YADAMU/common/yadamuRejectManager.js:48-108,
   /root/reference/src/YADAMU/common/yadamuWriter.js:467-504) -- in
   Spark there is no row-at-a-time retry, so the batch is *split* into
   good/bad DataFrames up front. ``on_error`` selects the policy when
   quarantined rows exceed ``max_errors`` (TABLE_MAX_ERRORS=10,
   /root/reference/src/YADAMU/common/dbiConstants.js:12):
   "abort" raises BatchAborted (ON_ERROR=ABORT, yadamuWriter.js:678-708);
   "skip" fences the batch WITHOUT applying it and continues
   (ON_ERROR=SKIP, same reference lines). In both policies the
   quarantine rows are persisted FIRST, so diagnosis data is never lost.
2. **last-LSN-wins dedup** -- per key, the valid events at the max lsn
   among structurally valid ones. On the Spark path a NARROW argmax
   (key+lsn only) finds each key's winning lsn and an explicitly
   broadcast semi-join fetches the winner payloads, so the wide html
   payload is never shuffled; in-process, one Arrow sort finds them
   (``_top_rank``, the LWW pass point lookups share).
3. **extract** -- html -> text via the Arrow-vectorized pandas UDF
   (functions.extract), only for winner I/U rows.
4. **MERGE** into the LakeTable (LSN-monotonic, batch-id fenced).
   Under the default merge-on-read mode there is no target read, no
   payload shuffle and no table rewrite, and a clean batch takes one
   of two paths:

   - **in-process** (input size estimate <= ``ARROW_MAX_BYTES``): ONE
     Spark job, a ``toArrow()`` collect that evaluates the quarantine
     tags and fires the input Observation; stages 1-3 then run in Arrow
     and pandas on the driver (``extract_text_series``) and the table
     writes the per-bucket delta files with pyarrow;
   - **Spark** (larger batches, copy-on-write, key or column types
     the in-process path does not carry): TWO Spark jobs measured per
     commit -- the broadcast winner build, then scan -> semi-join ->
     extract UDF -> per-bucket delta write.

Exactly-once: the quarantine write is made idempotent by overwriting a
per-batch partition directory; the merge (or skip) is fenced in the
manifest. A replayed batch therefore leaves every output byte-identical.

Metrics invariant (tested):
``rows_in == rows_merged_in + rows_deduped + rows_quarantined +
rows_skipped`` -- the reference's writer reconciliation ``rowsRead ==
committed + lost + skipped``
(/root/reference/src/YADAMU/common/yadamuWriter.js:813-815).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Any

import numpy as np
import pyarrow as pa
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.extract import extract_text, extract_text_series
from ..sources.lakebase import _driver_hashable, _same_cast, _top_rank
from ..sources.laketable import (
    LSN_COL, LakeTable, MergeResult, _evolved_schema, _keylist,
)

QUARANTINE_DIR = "quarantine"

ON_ERROR_POLICIES = ("abort", "skip")


class BatchAborted(RuntimeError):
    """Raised when quarantined rows exceed the max-errors policy
    (ON_ERROR=ABORT, /root/reference/src/YADAMU/common/yadamuWriter.js
    :678-708)."""


class _SkipBatch(RuntimeError):
    """Internal: unwind the merge without committing (ON_ERROR=SKIP)."""


@dataclass
class BatchMetrics:
    batch_id: int
    rows_in: int
    rows_quarantined: int
    rows_deduped: int
    rows_merged_in: int
    rows_deleted: int
    fenced: bool
    version: int | None
    duration_ms: int
    rows_skipped: int = 0

    def check_invariant(self) -> None:
        applied = self.rows_merged_in + self.rows_deduped + self.rows_quarantined + self.rows_skipped
        assert self.rows_in == applied, (
            f"Inconsistent Metrics: in={self.rows_in} merged={self.rows_merged_in} "
            f"deduped={self.rows_deduped} quarantined={self.rows_quarantined} "
            f"skipped={self.rows_skipped}"
        )

    def as_dict(self) -> dict[str, Any]:
        return dict(self.__dict__)


def _key_null(key) -> F.Column:
    """TRUE when ANY merge-key column is NULL (a composite key with a
    NULL component cannot be merged, same as a NULL single key)."""
    ks = _keylist(key)
    cond = F.col(ks[0]).isNull()
    for k in ks[1:]:
        cond = cond | F.col(k).isNull()
    return cond


def _tag_quarantine(df: DataFrame, op_col: str = "op", key="url",
                    lsn_col: str = "lsn", html_col: str = "html",
                    constraints: dict[str, str] | None = None) -> DataFrame:
    """Add a ``_reason`` column (NULL == valid row). ``key`` is one
    column name or the composite key column list. The payload-presence
    check applies only when the payload column exists in this changelog's
    schema. ``constraints`` ({name: sql_bool_expr}, from the table
    manifest) tag non-delete rows that violate a CHECK as
    ``check:<name>`` -- SQL semantics, so only FALSE violates (NULL
    passes); deletes are exempt (their logical content is "no row")."""
    reason = (
        F.when(_key_null(key), "null_key")
        .when(F.col(lsn_col).isNull(), "null_lsn")
        .when(~F.col(op_col).isin("I", "U", "D"), "bad_op")
    )
    if html_col in df.columns:
        reason = reason.when(
            (F.col(op_col) != "D") & F.col(html_col).isNull(), "null_html"
        )
    for name, check in sorted((constraints or {}).items()):
        reason = reason.when(
            (F.col(op_col) != "D")
            & ~F.coalesce(F.expr(check).cast("boolean"), F.lit(True)),
            f"check:{name}",
        )
    return df.withColumn("_reason", reason)


def quarantine_split(df: DataFrame, op_col: str = "op", key="url",
                     lsn_col: str = "lsn", html_col: str = "html",
                     constraints: dict[str, str] | None = None,
                     ) -> tuple[DataFrame, DataFrame]:
    """Split a raw event batch into (valid, quarantined-with-reason)."""
    tagged = _tag_quarantine(df, op_col, key, lsn_col, html_col, constraints)
    return (
        tagged.filter(F.col("_reason").isNull()).drop("_reason"),
        tagged.filter(F.col("_reason").isNotNull()),
    )


def last_lsn_dedup(df: DataFrame, key="url", lsn_col: str = "lsn") -> DataFrame:
    """Last-writer-wins: keep the max-lsn event per key (``key`` is one
    column name or the composite key column list).

    Exact duplicates (same lsn re-delivered) collapse here too: max_by
    picks one of the identical rows.

    Skew note (measured, sandbox local[32], 100k-event batch):
    ``max_by`` has a *partial* aggregate, so every map task combines its
    hot-key rows to one row BEFORE the shuffle -- map-side combine is
    the skew defense for algebraic aggregations, and a salt phase only
    doubles the work. Because the payload struct (html binary) is not
    fixed-width, Catalyst lowers max_by to SortAggregate, so a salted
    two-phase variant sorts the wide batch four times instead of two:
    measured 40.5s vs 1.6s per 100k-row batch.
    """
    ks = _keylist(key)
    return (
        df.groupBy(*ks)
        .agg(F.max_by(F.struct(*[c for c in df.columns if c not in ks]),
                      F.col(lsn_col)).alias("_w"))
        .select(*ks, "_w.*")
    )


DEDUP_STRATEGIES = ("broadcast", "none")

#: Largest merge-on-read batch, by the optimizer's size estimate of the
#: input (file bytes for a parquet scan; an RDD's unknown size counts
#: as unbounded), that ``apply_batch`` commits in-process. Set below
#: the measured crossover of the two paths (local[4] on a 4-vCPU VM,
#: 16 buckets): a 50k-event crawl batch (2.6 MB of parquet, every event
#: extracted) takes about 1.8 s either way, because the driver-side
#: extract is single-threaded; at 100k events Spark is faster (2.0 s
#: against 2.6 s), at 25k the in-process path (1.0 s against 1.3 s).
ARROW_MAX_BYTES = 2 << 20


def _plan_bytes(df: DataFrame) -> int:
    """The optimized plan's size estimate of ``df`` in bytes; reading it
    plans the query but starts no job."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def _spark_reason(mf: dict[str, Any], batch_df: DataFrame, out_schema,
                  op_col: str, lsn_col: str,
                  info: dict[str, Any]) -> str | None:
    """Why this batch must take the Spark path, or None when it commits
    in-process. ``out_schema`` is the schema of the rows handed to the
    merge (the batch's columns, plus ``text`` when extracting). The
    size estimate goes into the trace record ``info``: an input of
    unknown size (e.g. an RDD) estimates as ``Long.MaxValue``."""
    from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

    if mf.get("merge_mode", "cow") != "mor":
        return "cow"
    schema = T.StructType.fromJson(mf["schema"])
    if not all(_driver_hashable(schema[k].dataType) for k in _keylist(mf["key"])):
        return "key_type"
    info["plan_bytes"] = _plan_bytes(batch_df)
    if info["plan_bytes"] > ARROW_MAX_BYTES:
        return "size"
    try:
        back = from_arrow_schema(to_arrow_schema(out_schema),
                                 prefer_timestamp_ntz=True)
    except Exception:  # noqa: BLE001 -- a type Arrow cannot carry
        return "arrow_type"
    if [f.dataType for f in back.fields] != [f.dataType for f in out_schema.fields]:
        return "arrow_type"
    evolved = _evolved_schema(mf, out_schema, op_col, lsn_col)
    for f in out_schema.fields:
        name = LSN_COL if f.name == lsn_col else f.name
        if name in evolved.fieldNames() and not _same_cast(
                f.dataType, evolved[name].dataType):
            return "cast"
    return None


def _reduce_arrow(rows: pa.Table, key, op_col: str, lsn_col: str,
                  dedup: str, run_extract: bool) -> pa.Table:
    """The Spark path's valid split, last-LSN reduction and extract,
    over a batch collected with its ``_reason`` tags. Same winner rule,
    through ``_top_rank``: per key the max ``lsn`` among structurally
    valid rows (key, lsn and op all usable), then every valid row
    carrying that (key, lsn) -- exact redeliveries included, and none
    when that top event is payload-poisoned. ``dedup="none"`` keeps
    every valid row. ``text`` comes from ``extract_text_series`` over
    the live (non-delete) rows only."""
    import pyarrow.compute as pc

    ks = _keylist(key)
    keep = pc.is_null(rows.column("_reason")).to_numpy(zero_copy_only=False)
    if dedup != "none":
        ok = pc.is_in(rows.column(op_col), pa.array(["I", "U", "D"]))
        for c in ks + [lsn_col]:
            ok = pc.and_(ok, pc.is_valid(rows.column(c)))
        cand = np.flatnonzero(ok.to_numpy(zero_copy_only=False))
        top = np.zeros(rows.num_rows, bool)
        top[cand[_top_rank(rows.select(ks + [lsn_col]).take(cand), ks,
                           [lsn_col])[0]]] = True
        keep &= top
    valid = rows.filter(keep).drop_columns(["_reason"])
    if run_extract and "html" in valid.column_names:
        live = pc.fill_null(pc.not_equal(valid.column(op_col), "D"), False)
        live = live.combine_chunks() if isinstance(live, pa.ChunkedArray) else live
        html = valid.column("html").filter(live).to_pandas()
        text = pc.replace_with_mask(
            pa.nulls(valid.num_rows, pa.string()), live,
            pa.array(extract_text_series(html), pa.string()))
        if "text" in valid.column_names:
            valid = valid.set_column(valid.column_names.index("text"), "text", text)
        else:
            valid = valid.append_column("text", text)
    return valid


def _tag_counts() -> list[F.Column]:
    """Rows in and rows quarantined, over a ``_tag_quarantine`` output."""
    return [F.count(F.lit(1)).alias("n_in"), F.count("_reason").alias("n_bad")]


def _write_quarantine(table: LakeTable, tagged: DataFrame, batch_id: int) -> None:
    """Persist a batch's quarantined rows (``_reason`` set) to its own
    dead-letter directory. An overwrite of a per-batch directory, so a
    replayed batch rewrites it identically."""
    qdir = os.path.join(table.root, QUARANTINE_DIR, f"batch_id={batch_id}")
    (
        tagged.filter(F.col("_reason").isNotNull())
        .withColumn("_batch_id", F.lit(batch_id))
        .withColumnRenamed("_reason", "reason")
        .write.mode("overwrite")
        .parquet(table.fs.spark_path(qdir))
    )


def apply_batch(
    table: LakeTable,
    batch_df: DataFrame,
    batch_id: int,
    key: str | list[str] | None = None,
    op_col: str = "op",
    lsn_col: str = "lsn",
    max_errors: int | None = None,
    on_error: str = "abort",
    run_extract: bool = True,
    dedup: str = "broadcast",
    extra_audit: dict[str, Any] | None = None,
) -> BatchMetrics:
    """Apply one micro-batch of change events to ``table``. Pure:
    (table, df, batch_id) -> metrics; safe to replay.

    A merge-on-read batch whose input is small (the optimizer's size
    estimate is at most ``ARROW_MAX_BYTES``) commits in-process: one
    ``toArrow()`` collect evaluates the quarantine tags and CHECK
    constraints and fires the input Observation, the split, dedup and
    extract run in Arrow and pandas on the driver, and the table writes
    the delta with pyarrow -- one Spark job per commit, plus the
    quarantine write when bad rows exist. Copy-on-write tables, key
    types ``_bucket_id`` does not hash, types Arrow does not carry
    exactly, and larger batches take the Spark path: the dedup's winner
    build and the extract-and-write are two jobs. Both paths give the
    same table, the same metrics and the same audit row; each call
    writes one ``apply`` record to the operation trace
    (operators/trace.py) naming the path, the reason for the Spark
    path, the dedup strategy it ran, and per-phase seconds.

    Quarantined rows persist to the table's dead-letter directory
    before the commit. A batch with more than ``max_errors`` of them
    is rejected by the merge's pre-commit hook, after the delta write
    and before the manifest commit: ``on_error="skip"`` fences it with
    no data files, ``"abort"`` raises ``BatchAborted``.

    ``dedup`` picks the pre-write last-LSN reduction strategy. Under
    merge-on-read the reduction is an OPTIMIZATION, not a correctness
    requirement -- read-side resolution applies max-LSN-per-key exactly
    regardless -- so the right strategy depends on the batch's
    intra-key duplication:

    - "broadcast" (default): narrow argmax + broadcast semi-join (on
      the in-process path, the same rule as one Arrow sort,
      ``_top_rank``). Right for update-heavy streams (few keys, many events
      each): the winner set is small, and skipping extract/write for
      superseded events pays for the broadcast. Cost on the Spark path:
      the broadcast build is its own job and collects one row per
      distinct key to the driver -- a SERIAL cost that grows with batch
      key-cardinality, which caps scaling efficiency on near-unique
      batches.
    - "none": write every valid event as a delta row; resolution
      dedups at read/compact (exactly Flink's Iceberg upsert writer
      shape: appended upserts + equality deletes, no pre-reduce).
      Right for near-unique batches (web-crawl: most events in a batch
      touch distinct urls), where a reduction would pay a driver-side
      broadcast build + a second scan to drop only a few percent of
      rows. Fully parallel on the Spark path -- no shuffle, no
      broadcast, no collect. Copy-on-write tables always reduce
      ("broadcast"): they resolve against the table once per batch
      assuming one winner per key.
    """
    from . import trace

    with trace.span("apply", table=table.root) as info:
        info["batch_id"] = batch_id
        metrics = _apply(table, batch_df, batch_id, key, op_col, lsn_col,
                         max_errors, on_error, run_extract, dedup,
                         extra_audit, info)
        info["rows"] = metrics.rows_in
    return metrics


def _apply(table, batch_df, batch_id, key, op_col, lsn_col, max_errors,
           on_error, run_extract, dedup, extra_audit, info) -> BatchMetrics:
    """``apply_batch``'s body; ``info`` collects its trace record."""
    if on_error not in ON_ERROR_POLICIES:
        raise ValueError(f"on_error must be one of {ON_ERROR_POLICIES}")
    if dedup not in DEDUP_STRATEGIES:
        raise ValueError(f"dedup must be one of {DEDUP_STRATEGIES}")
    mf = table.manifest()
    if key is None:
        # the winner reduction and quarantine tagging must test the
        # TABLE's merge key, whatever it is -- a fixed default would
        # silently misvalidate any non-url-keyed table
        key = mf["key"]
    # CHECK constraints quarantine per-row, composing with ON_ERROR /
    # max_errors exactly like structural errors (append aborts instead
    # -- bulk loads have no per-row error funnel)
    constraints = mf.get("constraints", {})
    if dedup == "none" and mf.get("merge_mode", "cow") != "mor":
        # cow resolves against the table ONCE per batch assuming one
        # winner per key; unreduced batches are only exact under mor
        # read-resolution
        dedup = "broadcast"
    info["dedup"] = dedup
    spark = batch_df.sparkSession

    # fence first: a replayed batch must not even re-count
    if table.is_applied(batch_id):
        info["path"] = "fenced"
        return BatchMetrics(batch_id, 0, 0, 0, 0, 0, True, None, 0)

    out_schema = batch_df.schema
    if run_extract and "html" in out_schema.fieldNames():
        # the extract's withColumn: replaces ``text`` in place, or appends it
        text = T.StructField("text", T.StringType())
        out_schema = T.StructType(
            [text if f.name == "text" else f for f in out_schema.fields]
            + ([] if "text" in out_schema.fieldNames() else [text]))
    reason = _spark_reason(mf, batch_df, out_schema, op_col, lsn_col, info)
    info["path"], info["reason"] = ("spark", reason) if reason else ("arrow", None)

    # Input/quarantine counts ride on an Observation attached above the
    # validity filter ON THE PROBE SIDE ONLY (the winner subtree is a
    # separate, unobserved copy of the plan -- otherwise the broadcast
    # build job would double-count every row). The merge write (or the
    # in-process path's collect) materializes the probe side exactly
    # once and fires it. The quarantine write is an extra job only when
    # bad rows actually exist -- it runs inside the merge's pre-commit
    # hook, i.e. still strictly BEFORE the commit, so a crash between
    # quarantine write and merge commit replays both (the quarantine
    # write is an idempotent per-batch directory overwrite).
    from pyspark.sql import Observation

    obs = Observation(f"apply_batch_{batch_id}")
    tagged = _tag_quarantine(batch_df, op_col, key, lsn_col,
                                constraints=constraints).observe(obs, *_tag_counts())
    if reason is None:
        t = time.monotonic()
        rows = tagged.toArrow()
        info["collect_s"] = round(time.monotonic() - t, 4)
        t = time.monotonic()
        reduced = _reduce_arrow(rows, key, op_col, lsn_col, dedup, run_extract)
        info["dedup_extract_s"] = round(time.monotonic() - t, 4)
    else:
        reduced = _reduce_spark(batch_df, tagged, key, op_col, lsn_col, dedup,
                                run_extract)

    # filled by the hook once the observation has fired; doubles as the
    # extra_audit dict (merge reads it at manifest-build time, after the
    # hook has populated it). Caller-supplied extra_audit keys ride
    # along -- requeue_quarantine records its drained source dirs here
    # so a crashed drain can recover the exact list from the fence.
    counts: dict[str, Any] = dict(extra_audit or {})

    def _pre_commit() -> None:
        info["write_s"] = round(time.monotonic() - t_merge, 4)
        try:
            got = obs.get
        except Py4JJavaError:
            # the Observation never ran: the optimizer proved at plan
            # time that no row reaches the merge (a local-relation batch
            # whose every row is quarantined) and dropped the observed
            # subtree with the rest of the plan -- count the batch itself
            got = _tag_quarantine(batch_df, op_col, key, lsn_col,
                                  constraints=constraints).agg(
                *_tag_counts()).collect()[0]
        counts["rows_batch_in"] = got["n_in"]
        counts["rows_quarantined"] = got["n_bad"]
        if got["n_bad"] > 0:
            # persist quarantine rows BEFORE any policy decision so an
            # aborted/skipped batch always leaves its diagnosis data
            # (idempotent per-batch overwrite => replay-safe)
            _write_quarantine(table, _tag_quarantine(
                batch_df, op_col, key, lsn_col, constraints=constraints),
                batch_id)
        if max_errors is not None and got["n_bad"] > max_errors:
            if on_error == "skip":
                raise _SkipBatch()
            raise BatchAborted(
                f"batch {batch_id}: {got['n_bad']} quarantined > max_errors={max_errors}"
            )

    t_merge = time.monotonic()
    try:
        res: MergeResult = table.merge(
            spark,
            reduced,
            batch_id,
            op_col=op_col,
            lsn_col=lsn_col,
            extra_audit=counts,
            pre_commit_hook=_pre_commit,
        )
    except _SkipBatch:
        v = table.record_skip(batch_id, extra_audit=counts)
        n_in, n_bad = counts["rows_batch_in"], counts["rows_quarantined"]
        metrics = BatchMetrics(
            batch_id=batch_id,
            rows_in=n_in,
            rows_quarantined=n_bad,
            rows_deduped=0,
            rows_merged_in=0,
            rows_deleted=0,
            fenced=False,
            version=v,
            duration_ms=0,
            rows_skipped=n_in - n_bad,
        )
        metrics.check_invariant()
        return metrics
    if "write_s" in info:
        info["commit_s"] = round(time.monotonic() - t_merge - info["write_s"], 4)

    n_in, n_bad = counts["rows_batch_in"], counts["rows_quarantined"]
    metrics = BatchMetrics(
        batch_id=batch_id,
        rows_in=n_in,
        rows_quarantined=n_bad,
        rows_deduped=n_in - n_bad - res.rows_in,
        rows_merged_in=res.rows_in,
        rows_deleted=res.rows_deleted,
        fenced=res.fenced,
        version=res.version,
        duration_ms=res.duration_ms,
    )
    metrics.check_invariant()
    return metrics


def _reduce_spark(batch_df: DataFrame, tagged: DataFrame, key, op_col: str,
                  lsn_col: str, dedup: str, run_extract: bool) -> DataFrame:
    """The Spark path's valid split, last-LSN reduction and extract, as
    a plan the merge's delta write runs."""
    valid = tagged.filter(F.col("_reason").isNull()).drop("_reason")

    # last-writer-wins, scale path: a NARROW argmax shuffle (key + lsn
    # only, ~tens of bytes/row, map-side combined) finds each key's
    # winning lsn, then an EXPLICITLY BROADCAST semi-join fetches the
    # winner payloads -- the wide html payload is never shuffled by the
    # dedup at all, and no AQE materialization barrier is needed to
    # discover the broadcast (the hint decides at plan time; the
    # winner set of a 10^7-event batch is ~1M keys x ~60 B, trivial
    # against executor memory). The winner subtree re-scans ONLY the
    # (key, lsn) columns thanks to parquet column pruning. Exact
    # redelivered duplicates (same key AND lsn -- by CDC contract
    # byte-identical events) survive this reduction; resolution
    # collapses them via a benign max_by tie. The strict
    # one-row-per-key operator is ``last_lsn_dedup`` above.
    if dedup == "none":
        reduced = valid
    else:
        # Winner selection is max-lsn over STRUCTURALLY-valid events
        # (key/lsn/op only): the winner subtree must stay narrow so
        # parquet column pruning keeps the payload (html) out of this
        # scan entirely -- including the payload-presence check here
        # forces a second full html decode per batch (measured ~8.5 s
        # per 3M-event batch at 8 cores, pure waste). Consequence: a
        # key whose max-lsn event is payload-poisoned (quarantined
        # null-html) contributes nothing this batch -- its older events
        # are superseded by a newer (broken) delivery, and the correct
        # payload arrives on redelivery/repair, exactly like any other
        # quarantined event. The poisoned row itself is still counted
        # and persisted by the quarantine path.
        ks = _keylist(key)
        structurally_valid = (
            ~_key_null(key)
            & F.col(lsn_col).isNotNull()
            & F.col(op_col).isin("I", "U", "D")
        )
        winners = (
            batch_df.filter(structurally_valid)
            .groupBy(*ks)
            .agg(F.max(lsn_col).alias(lsn_col))
        )
        reduced = valid.join(F.broadcast(winners), on=ks + [lsn_col],
                             how="leftsemi")

    # extract AFTER dedup: text is a pure function of html, so only
    # winner rows need the pandas UDF (fewer rows through Python),
    # and the dedup reduction sorts/shuffles a narrower payload
    if run_extract and "html" in reduced.columns:
        reduced = reduced.withColumn(
            "text",
            F.when(F.col(op_col) != "D", extract_text(F.col("html"))),
        )
    return reduced


def apply_batch_multi(
    tables: dict[str, LakeTable],
    batch_df: DataFrame,
    batch_id: int,
    table_col: str = "_table",
    project_to_table: bool = False,
    **apply_kwargs: Any,
) -> dict[str, BatchMetrics]:
    """Route ONE WAL micro-batch that interleaves several tables --
    the shape a real binlog/WAL tail has (the reference migrates whole
    SCHEMAS table-by-table for the same reason:
    /root/reference/src/YADAMU/common/yadamuDBI.js iterates
    schemaInfo). Each table's slice is applied through the ordinary
    ``apply_batch`` under the SAME ``batch_id``, so exactly-once
    composes PER TABLE: a crash between two per-table commits leaves
    some tables fenced and some not, and replaying the batch re-applies
    only the unfenced ones -- no cross-table coordination, no global
    transaction, byte-identical outcome (each table's fence is its own
    manifest commit, same recovery contract as single-table replay).

    Rows whose ``table_col`` names no known table raise ``KeyError``
    up front (a routing bug should not half-apply) -- list every table
    the WAL can carry.

    ``project_to_table`` restricts each slice to the columns its table
    already has. A decoded multi-table wire feed parses every event
    with ONE union-of-fields struct, so a slice carries the OTHER
    tables' columns as all-NULL -- without the projection the merge's
    schema evolution would graft those columns onto every table.
    Leave False for parquet WALs where additive evolution through the
    stream is the point.

    Scale note: each table's slice is one filtered pass over the batch
    (tables applied in sorted order for deterministic replay). With T
    tables that is T scans of the micro-batch; at high table counts
    either pre-split the stream upstream (per-table topics) or cache
    the batch before calling. The per-table apply itself keeps the
    single-table plan shape (no extra shuffle -- the filter is narrow).

    Returns ``{table_name: BatchMetrics}`` for the tables present in
    the batch."""
    names = {r[0] for r in batch_df.select(table_col).distinct().collect()}
    unknown = [n for n in names if n is None or n not in tables]
    if unknown:
        raise KeyError(
            f"batch routes to unknown tables {unknown}; known: "
            f"{sorted(tables)}")
    present = sorted(names)
    op_col = apply_kwargs.get("op_col", "op")
    lsn_col = apply_kwargs.get("lsn_col", "lsn")
    out: dict[str, BatchMetrics] = {}
    for name in present:
        sl = batch_df.filter(F.col(table_col) == name).drop(table_col)
        if project_to_table:
            own = {f.name for f in tables[name].schema().fields}
            sl = sl.select(
                *[c for c in sl.columns
                  if c in own or c in (op_col, lsn_col)]
            )
        out[name] = apply_batch(tables[name], sl, batch_id, **apply_kwargs)
    return out


def quarantine_df(spark, table: LakeTable) -> DataFrame | None:
    """Read the quarantine side table (None if empty)."""
    qroot = os.path.join(table.root, QUARANTINE_DIR)
    if not table.fs.isdir(qroot) or not table.fs.listdir(qroot):
        return None
    qroot = table.fs.spark_path(qroot)
    return spark.read.option("basePath", qroot).parquet(qroot)


#: namespace offset keeping auto-derived requeue batch ids out of the
#: stream's ordinary batch-id space (a collision would mis-fence)
REQUEUE_BASE = 1 << 40

#: audit key recording which quarantine dirs a requeue commit drained
REQUEUE_AUDIT_KEY = "requeue_source_batches"


def _recorded_drain(table: LakeTable, rid: int) -> list[int] | None:
    """The drain list a requeue commit recorded in its audit row, or
    None when retention has truncated that row out of the chain."""
    recorded = None
    for a in table.audit_entries():
        if a.get("batch_id") == rid and REQUEUE_AUDIT_KEY in a:
            recorded = a[REQUEUE_AUDIT_KEY]
    return recorded


def pending_quarantine_ids(table: LakeTable) -> list[int]:
    """Batch ids with rows waiting in the dead-letter side table."""
    qroot = os.path.join(table.root, QUARANTINE_DIR)
    if not table.fs.isdir(qroot):
        return []
    out = []
    for name in table.fs.listdir(qroot):
        if name.startswith("batch_id="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


def requeue_quarantine(
    table: LakeTable,
    spark,
    batch_ids: list[int] | None = None,
    repair: Any = None,
    requeue_id: int | None = None,
    **apply_kwargs: Any,
) -> BatchMetrics | None:
    """Drain the dead-letter quarantine back through the engine --
    the reject-manager's missing second half (the reference persists
    rejects to a replayable file precisely so they can be re-imported
    after repair: /root/reference/src/YADAMU/common/yadamuRejectManager
    .js:48-108 writes them in the engine's own import format).

    ``repair`` fixes the poison before re-validation: a callable
    ``DataFrame -> DataFrame``, or a ``{column: sql_expr}`` dict applied
    via ``F.expr``. Rows the repair does NOT fix are re-tagged by the
    ordinary ``apply_batch`` validation and land back in quarantine
    under the requeue's own batch id -- nothing is ever dropped
    silently, and a second repair pass can drain them again.

    Exactly-once drain (the same replay contract as ``apply_batch``:
    call again with the same arguments after a crash):

    - the requeue IS an ``apply_batch`` under ``requeue_id`` (default:
      ``REQUEUE_BASE + max(batch_ids)``, deterministic), so the apply
      side is fenced in the manifest like any stream batch;
    - the commit's audit records the drained dir list
      (``requeue_source_batches``), so a crash AFTER the commit but
      BEFORE the dir sweep recovers the exact list from the fence --
      a quarantine dir that arrived between crash and replay is never
      swept by the replay;
    - the dir sweep itself is idempotent (rmtree of named dirs);
    - a fence whose recorded drain set does NOT cover the request
      (the default id is max()-derived, so sets sharing a max
      collide) -- or whose audit row retention truncated -- never
      strands dead letters: the still-pending remainder re-drains
      under the next free id (safe: rows re-enter at their original
      lsn, so LWW makes double-application convergent).

    Returns the apply's ``BatchMetrics`` (``None`` if there was nothing
    to drain). ``rows_quarantined`` in the result counts rows that
    FAILED repair and were re-quarantined under ``requeue_id``."""
    pending = pending_quarantine_ids(table)
    if batch_ids is None:
        batch_ids = pending
    else:
        missing = [b for b in batch_ids if b not in pending]
        if missing:
            # tolerate already-swept dirs ONLY when the fence proves the
            # drain happened; otherwise it is a caller bug
            rid = requeue_id if requeue_id is not None else (
                REQUEUE_BASE + max(batch_ids))
            if not table.is_applied(rid):
                raise FileNotFoundError(
                    f"no quarantine dirs for batch_ids {missing}; "
                    f"pending: {pending}")
    if not batch_ids:
        return None
    if requeue_id is None:
        requeue_id = REQUEUE_BASE + max(batch_ids)
    qroot = os.path.join(table.root, QUARANTINE_DIR)

    def _sweep(ids: list[int]) -> None:
        for b in ids:
            table.fs.rmtree(os.path.join(qroot, f"batch_id={b}"))

    if table.is_applied(requeue_id):
        # crash landed between the fenced commit and the dir sweep (or
        # this is a plain replay): recover the recorded drain list from
        # the commit's audit row -- NOT the current dir listing, which
        # may contain newer, undrained batches
        _sweep(_recorded_drain(table, requeue_id) or [])
        leftover = [b for b in batch_ids
                    if b in set(pending_quarantine_ids(table))]
        if not leftover:
            return BatchMetrics(requeue_id, 0, 0, 0, 0, 0, True, None, 0)
        # requested ids still pending AFTER the recorded sweep: the
        # fence covered a DIFFERENT drain set (the default id is
        # max()-derived, so [0,2] and [0,1,2] collide) or retention
        # truncated the audit row. Those dirs were provably not swept
        # by that commit, and re-draining is row-wise idempotent (rows
        # re-enter at their ORIGINAL lsn; LWW ties benignly), so
        # recovery stays hands-off: walk ids upward from the
        # leftover's own default -- an applied id whose recorded set
        # covers the leftover means "drained, just sweep"; the first
        # unapplied id hosts the re-drain.
        rid2 = REQUEUE_BASE + max(leftover)
        while table.is_applied(rid2):
            rec2 = _recorded_drain(table, rid2)
            if rec2 is not None and set(leftover) <= set(rec2):
                _sweep(leftover)
                return BatchMetrics(rid2, 0, 0, 0, 0, 0, True, None, 0)
            rid2 += 1
        return requeue_quarantine(
            table, spark, batch_ids=leftover, repair=repair,
            requeue_id=rid2, **apply_kwargs)

    paths = [table.fs.spark_path(os.path.join(qroot, f"batch_id={b}"))
             for b in batch_ids]
    df = (
        spark.read.option("basePath", table.fs.spark_path(qroot))
        .parquet(*paths)
        # partition col (batch_id) + bookkeeping cols must not reach the
        # merge, or schema evolution would graft them onto the table
        .drop("batch_id", "_batch_id", "reason")
    )
    if callable(repair):
        df = repair(df)
    elif isinstance(repair, dict):
        for col, expr in repair.items():
            df = df.withColumn(col, F.expr(expr))
    elif repair is not None:
        raise TypeError("repair must be callable or {column: sql_expr}")

    metrics = apply_batch(
        table, df, requeue_id,
        extra_audit={REQUEUE_AUDIT_KEY: sorted(batch_ids)},
        **apply_kwargs,
    )
    # the fence is durable; sweeping the drained dirs is now safe and
    # idempotent. (On BatchAborted above, nothing was fenced and nothing
    # is swept -- the replay redoes the whole drain.)
    _sweep(batch_ids)
    return metrics
