"""LakeTable write paths: bucketed append, the CDC MERGE core
(merge-on-read and copy-on-write), write-audit-publish staging,
the ON_ERROR=SKIP fence, and the bucketed parquet writer.
Mechanically split from laketable.py (round 4); see the laketable
module docstring for the commit-protocol design."""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from .fsio import CommitConflict
from .lakebase import (
    RebaseError, ConstraintViolation, MergeResult,
    MANIFEST_DIR, DATA_DIR, LSN_COL, DELETED_COL,
    _keylist, _bucket_expr, _bucket_ids, _distribute_delta, _lww,
    _evolved_schema, _buckets_changed_between,
    _list_bucket_files, _ts_micros, _aqe_off, _inherit_stats,
    _footer_stats, _align, _align_arrow, _cap, _utc_now_iso, _ZONE_TYPES,
)


def _mor_merge_manifest(mp: dict[str, Any], batch_id: int, schema_json,
                        delta: dict[str, Any], extra_audit: dict[str, Any] | None,
                        staged: bool = False) -> dict[str, Any]:
    """The manifest a merge-on-read merge commits on top of ``mp``: the
    delta files of ``delta`` (a ``_delta_record``, or a staged fragment,
    which carries the same fields) appended to the bucket delta lists,
    the batch's fence, audit row, lineage, zone maps, file row counts,
    summary and ``lsn_high``. ``staged`` marks a WAP publish in the
    audit row and summary."""
    v = mp["version"] + 1
    n_in, dels = delta["rows_in"], delta["rows_deleted"]
    deltas = {k: list(fl) for k, fl in mp.get("deltas", {}).items()}
    for b, files in delta["files"].items():
        deltas[b] = deltas.get(b, []) + files
    applied = dict(mp["applied_batches"])
    applied[str(batch_id)] = {"version": v, "op": "merge"}
    flag = {"staged": True} if staged else {}
    return {
        **mp,
        "version": v,
        "parent": mp["version"],
        "schema": schema_json,
        "deltas": deltas,
        "applied_batches": _cap(applied),
        "lsn_high": max(mp.get("lsn_high") or 0, delta["max_lsn"] or 0),
        "audit": {
            "batch_id": batch_id,
            "operation": "merge",
            "mode": "mor",
            **flag,
            "rows_in": n_in,
            "rows_applied": n_in - dels,
            "rows_deleted": dels,
            "min_lsn": delta["min_lsn"],
            "max_lsn": delta["max_lsn"],
            "touched_buckets": len(delta["files"]),
            "version": v,
            **(extra_audit or {}),
        },
        "lineage": delta["lineage"],
        "stats": {**_inherit_stats(mp), **delta["stats"]},
        "file_rows": {**mp.get("file_rows", {}), **delta.get("file_rows", {})},
        "summary": {"operation": "merge", "mode": "mor", "rows_written": n_in,
                    **flag},
        "committed_at": _utc_now_iso(),
    }


def _mor_result(batch_id: int, version: int, fenced: bool,
                delta: dict[str, Any], dt: int) -> MergeResult:
    """The ``MergeResult`` of a merge-on-read commit of ``delta``."""
    n_in, dels = delta["rows_in"], delta["rows_deleted"]
    return MergeResult(batch_id, version, fenced, n_in, n_in - dels, dels,
                       delta["min_lsn"], delta["max_lsn"], len(delta["files"]), dt)


class MergeMixin:
    """Append / CDC merge / WAP / bucketed writer (mixed into LakeTable)."""

    # ------------------------------------------------------------------
    # write paths
    # ------------------------------------------------------------------
    def append(self, spark: SparkSession, df: DataFrame, batch_id: int | None = None,
               sort_within: list[str] | None = None) -> int:
        """Bulk snapshot path (initial seed): plain bucketed append, no
        merge -- the analogue of the reference's staged-COPY fast path
        (/root/reference/src/YADAMU/common/yadamu.js:872-884: choose
        bulk load over row pipeline when possible).

        ``sort_within`` clusters rows inside each bucket file (e.g. by
        an event-time column) so the parquet row-group stats inside a
        file stay tight -- the zone maps skip whole files; the sort
        lets the pushed-down residual range predicate skip ROW GROUPS
        inside the files that survive (Iceberg's write-order story).
        A sortWithinPartitions, not a shuffle."""
        m = self.manifest()
        if batch_id is not None and str(batch_id) in m["applied_batches"]:
            return -1
        schema = T.StructType.fromJson(m["schema"])
        df = _align(df, schema)
        cons = m.get("constraints", {})
        vobs = None
        if cons:
            # violation counts ride the bulk write's own materialization
            # (second named Observation on the same plan): zero extra
            # jobs; checked before the manifest commit so a bad load
            # aborts whole with no trace
            from pyspark.sql import Observation

            vobs = Observation(f"append_checks_{m['version'] + 1}")
            df = df.observe(vobs, *[
                F.count(F.when(~F.coalesce(
                    F.expr(c).cast("boolean"), F.lit(True)), 1)).alias(n)
                for n, c in sorted(cons.items())
            ])
        new_files, n_rows, out_dir = self._write_bucketed(
            spark, df, m, sort_within=sort_within)
        if vobs is not None:
            viol = {n: int(c) for n, c in vobs.get.items() if c}
            if viol:
                self.fs.rmtree(out_dir)  # unreferenced speculative files
                raise ConstraintViolation(
                    f"append aborted: constraint violations {viol} "
                    f"(checks: { {n: cons[n] for n in viol} })")
        _, zone, frows = _footer_stats(self.fs, self.root, new_files, schema=schema)

        def build(mp: dict[str, Any]) -> dict[str, Any]:
            # rebase: appending base files composes with any intervening
            # commit of the same schema (file lists only ever gain ours)
            if mp is not m and mp["schema"] != m["schema"]:
                raise RebaseError(
                    "concurrent schema change during append; retry the batch"
                )
            v = mp["version"] + 1
            buckets = {k: list(fl) for k, fl in mp["buckets"].items()}
            for b, files in new_files.items():
                buckets[b] = buckets.get(b, []) + files
            applied = dict(mp["applied_batches"])
            if batch_id is not None:
                applied[str(batch_id)] = {"version": v, "op": "append"}
            return {
                **mp,
                "version": v,
                "parent": mp["version"],
                "buckets": buckets,
                "applied_batches": _cap(applied),
                "audit": {
                    "batch_id": batch_id,
                    "operation": "append",
                    "rows_in": n_rows,
                    "rows_applied": n_rows,
                    "rows_deleted": 0,
                    "version": v,
                },
                "lineage": [],
                "stats": {**_inherit_stats(mp), **zone},
                "file_rows": {**mp.get("file_rows", {}), **frows},
                "summary": {"operation": "append", "rows_written": n_rows},
                "committed_at": _utc_now_iso(),
            }

        try:
            committed = self._commit_with_rebase(m, build, batch_id=batch_id)
        except (CommitConflict, RebaseError):
            self.fs.rmtree(out_dir)  # nothing references the files yet
            raise
        if committed is None:  # another writer fenced this batch first
            self.fs.rmtree(out_dir)
            return -1
        return committed["version"]

    def merge(
        self,
        spark: SparkSession,
        batch_df: DataFrame | pa.Table,
        batch_id: int,
        op_col: str = "op",
        lsn_col: str = "lsn",
        collect_lineage: bool = True,
        extra_audit: dict[str, Any] | None = None,
        pre_commit_hook: Any = None,
        mode: str | None = None,
    ) -> MergeResult:
        """CDC MERGE -- the engine's core operator (W5 in SURVEY.md
        §2.a; absent from the reference, which is insert-only).

        ``batch_df`` should be pre-reduced to one winning lsn per key
        (last LSN wins -- see operators.apply); byte-identical
        redelivered duplicates of the winner may remain (resolution
        collapses them via a benign max_by tie). It carries ``op``
        ('I'/'U'/'D') and ``lsn``. Semantics == Iceberg::

            MERGE INTO t USING s ON t.url = s.url AND s.lsn > t._lsn
            WHEN MATCHED AND s.op = 'D' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED AND s.op != 'D' THEN INSERT *

        LSN-monotonicity (only the max-``_lsn`` row per key survives
        resolution) makes replay of a duplicated batch a no-op row-wise,
        and the batch-id fence in the same manifest commit makes it a
        no-op commit-wise: exactly-once from at-least-once delivery.

        ``mode`` overrides the table's ``merge_mode`` property for this
        commit (tests/benchmarks); normally leave None.

        ``batch_df`` may also be a ``pyarrow.Table`` already in driver
        memory (``operators.apply`` hands small batches over this way):
        merge-on-read only, written by ``_merge_mor_arrow`` without a
        Spark job.

        ``pre_commit_hook`` (if given) is a zero-arg callable invoked
        after the batch has been materialized (so any Observation the
        caller attached upstream has fired) and BEFORE the manifest
        commit. If it raises, the merge aborts cleanly: any files this
        merge wrote are removed, no manifest, no fence -- the
        error-policy seam used by operators.apply (side effects the
        hook itself performed, e.g. an idempotent quarantine write,
        stand).
        """
        m = self.manifest()
        # ---- fence: already-applied batch => exact no-op -------------
        if str(batch_id) in m["applied_batches"]:
            return MergeResult(batch_id, None, True, 0, 0, 0, None, None, 0, 0)
        mode = mode or m.get("merge_mode", "cow")
        if isinstance(batch_df, pa.Table):
            if mode != "mor":
                raise ValueError("an in-memory (pyarrow) batch merges "
                                 "only into a merge-on-read table")
            return self._merge_mor_arrow(
                spark, m, batch_df, batch_id, op_col, lsn_col,
                collect_lineage, extra_audit, pre_commit_hook,
            )
        if mode == "mor":
            return self._merge_mor(
                spark, m, batch_df, batch_id, op_col, lsn_col,
                collect_lineage, extra_audit, pre_commit_hook,
            )
        return self._merge_cow(
            spark, m, batch_df, batch_id, op_col, lsn_col,
            collect_lineage, extra_audit, pre_commit_hook,
        )

    # ------------------------------------------------------------------
    def _merge_mor(
        self, spark, m, batch_df, batch_id, op_col, lsn_col,
        collect_lineage, extra_audit, pre_commit_hook,
    ) -> MergeResult:
        """Merge-on-read: ONE Spark job (``_write_mor_delta``) writes the
        batch as per-bucket delta files (upsert rows + ``_deleted``
        tombstones); readers /
        ``compact()`` resolve. Cost is O(batch) regardless of table
        size -- no target read, no bucket rewrite; the only shuffle is
        the O(batch) hash write-distribution (``_distribute_delta``),
        which bounds the commit's file count at O(buckets).
        Per-bucket lineage comes from the parquet footers of the files
        just written (row counts + ``_lsn`` min/max): driver-side
        O(files), no second job.

        The whole merge runs under ``_aqe_off``: its plan is decided
        statically, so AQE would add only materialization barriers."""
        with _aqe_off(spark):
            t0 = time.monotonic()
            out_dir, rel_dir = self._new_commit_dir(m["version"] + 1)
            table_schema, got = self._write_mor_delta(
                spark, m, batch_df, op_col, lsn_col, out_dir,
                f"merge_mor_{batch_id}")
            return self._commit_mor_delta(
                m, batch_id, out_dir, rel_dir, table_schema, got,
                collect_lineage, extra_audit, pre_commit_hook, t0)

    def _write_mor_delta(
        self, spark, m, batch_df: DataFrame, op_col, lsn_col, out_dir, name,
    ) -> tuple[T.StructType, dict[str, Any]]:
        """ONE Spark job writes ``batch_df`` as per-bucket delta files
        (upsert rows + ``_deleted`` tombstones) under ``out_dir``: the
        table schema evolved by the batch, rows aligned to it, the hash
        write-distribution (``_distribute_delta``), which bounds the
        file count at O(buckets). Returns the evolved schema and the
        delta's row count ``n``, tombstone count ``dels`` and ``_lsn``
        range ``mn``/``mx``, observed on the write itself (no second
        job). ``name`` names the Observation."""
        from pyspark.sql import Observation

        table_schema = _evolved_schema(m, batch_df.schema, op_col, lsn_col)
        src = batch_df.withColumnRenamed(lsn_col, LSN_COL)
        src = _align(src, table_schema, keep=[op_col])
        delta = src.withColumn(DELETED_COL, F.col(op_col) == "D").drop(op_col)
        key, nb = m["key"], m["bucket_count"]
        obs = Observation(name)
        with _ts_micros(spark):
            (
                _distribute_delta(
                    delta.withColumn("_b", _bucket_expr(key, nb)), key, nb, spark)
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col(DELETED_COL).cast("long")).alias("dels"),
                    F.min(LSN_COL).alias("mn"),
                    F.max(LSN_COL).alias("mx"),
                )
                .write.partitionBy("_b")
                .parquet(self.fs.spark_path(out_dir))
            )
        return table_schema, obs.get

    def _merge_mor_arrow(
        self, spark, m, batch: pa.Table, batch_id, op_col, lsn_col,
        collect_lineage, extra_audit, pre_commit_hook,
    ) -> MergeResult:
        """Merge-on-read of a batch already in driver memory: the same
        delta files as ``_merge_mor`` -- the table schema aligned by
        ``_align_arrow``, rows placed by ``_bucket_id`` (bit-identical to
        ``_bucket_expr``), one file per touched bucket under the same
        ``c{v}-{uuid}/_b=N/`` layout -- written by pyarrow through the
        table FS, then committed by the same tail. No Spark job.

        The files match Spark's writer where it shows: the session's
        parquet codec, microsecond timestamps, the ``_deleted`` column
        last, every column nullable. Footer statistics are written only
        for the columns ``_footer_stats`` reads (the zone-map types and
        ``_lsn``); writing them for the payload too would put its
        min/max into every page header and grow the delta files. No
        dictionary encoding: a batch's keys and payloads are nearly all
        distinct, and on 2k-event commits plain pages came out 8%
        smaller than Spark's files and read 8% faster (4-vCPU VM)."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t0 = time.monotonic()
        table_schema = _evolved_schema(
            m, from_arrow_schema(batch.schema, prefer_timestamp_ntz=True),
            op_col, lsn_col)
        target = pa.schema([f.with_nullable(True)
                            for f in to_arrow_schema(table_schema)])
        src = batch.rename_columns(
            [LSN_COL if c == lsn_col else c for c in batch.column_names])
        delta = _align_arrow(src, target).append_column(
            DELETED_COL, pc.equal(batch.column(op_col), "D"))

        ks = _keylist(m["key"])
        buckets = np.asarray(_bucket_ids(
            delta, ks, [table_schema[k].dataType for k in ks],
            m["bucket_count"]), dtype=np.int64)
        order = np.argsort(buckets, kind="stable")
        delta = delta.take(order)
        touched, starts = np.unique(buckets[order], return_index=True)
        codec = spark.conf.get("spark.sql.parquet.compression.codec")
        codec = "none" if codec == "uncompressed" else codec
        stats_cols = [f.name for f in table_schema.fields  # _lsn included
                      if isinstance(f.dataType, _ZONE_TYPES)]
        out_dir, rel_dir = self._new_commit_dir(m["version"] + 1)
        try:
            for b, lo, hi in zip(touched, starts,
                                 np.append(starts[1:], delta.num_rows)):
                name = f"part-00000-{uuid.uuid4()}.c000.parquet"
                with self.fs.open_write(
                        os.path.join(out_dir, f"_b={b}", name)) as f:
                    pq.write_table(
                        delta.slice(lo, hi - lo), f, compression=codec,
                        use_dictionary=False, write_statistics=stats_cols,
                        store_schema=False)
        except BaseException:
            self.fs.rmtree(out_dir)
            raise
        lsn = delta.column(LSN_COL)
        got = {
            "n": delta.num_rows,
            "dels": pc.sum(delta.column(DELETED_COL).cast(pa.int64())).as_py(),
            "mn": pc.min(lsn).as_py(),
            "mx": pc.max(lsn).as_py(),
        }
        return self._commit_mor_delta(
            m, batch_id, out_dir, rel_dir, table_schema, got,
            collect_lineage, extra_audit, pre_commit_hook, t0)

    def _commit_mor_delta(
        self, m, batch_id, out_dir, rel_dir, table_schema, got,
        collect_lineage, extra_audit, pre_commit_hook, t0,
    ) -> MergeResult:
        """The merge-on-read commit tail both delta writers share: run
        the pre-commit hook, record the files under ``out_dir``
        (``_delta_record``), then publish the manifest with the batch's
        fence. ``got`` holds the delta's row count ``n``, tombstone
        count ``dels`` and ``_lsn`` range ``mn``/``mx``. Any failure
        before the publish removes ``out_dir``: nothing references it
        yet."""
        try:
            if pre_commit_hook is not None:
                pre_commit_hook()  # may raise -> clean abort below
        except Exception:
            self.fs.rmtree(out_dir)  # nothing referenced it yet
            raise
        delta = self._delta_record(out_dir, rel_dir, table_schema, got,
                                   batch_id, collect_lineage)

        def build(mp: dict[str, Any]) -> dict[str, Any]:
            # rebase: a mor merge only APPENDS delta files + its fence
            # entry, which composes with any intervening commit (another
            # merge, an append, even a compact -- our files were not part
            # of what it folded). Only a concurrent schema change aborts.
            if mp is not m and mp["schema"] != m["schema"]:
                raise RebaseError(
                    "concurrent schema change during merge; retry the batch"
                )
            return _mor_merge_manifest(mp, batch_id, table_schema.jsonValue(),
                                       delta, extra_audit)

        try:
            committed = self._commit_with_rebase(m, build, batch_id=batch_id)
        except (CommitConflict, RebaseError):
            self.fs.rmtree(out_dir)  # unreferenced; leave the table clean
            raise
        dt = int((time.monotonic() - t0) * 1000)
        if committed is None:  # a concurrent writer fenced this batch first
            self.fs.rmtree(out_dir)
            return MergeResult(batch_id, None, True, 0, 0, 0, None, None, 0, dt)
        return _mor_result(batch_id, committed["version"], False, delta, dt)

    def _delta_record(self, out_dir, rel_dir, table_schema, got, batch_id,
                      collect_lineage) -> dict[str, Any]:
        """What a merge-on-read commit records of the delta files under
        ``out_dir``: the per-bucket file lists, the counts and ``_lsn``
        range of ``got`` (see ``_commit_mor_delta``), and from the
        parquet footers the per-bucket lineage, per-file zone maps and
        per-file row counts. Zone maps are collected UNCONDITIONALLY
        (the footers are open anyway); ``collect_lineage`` gates only
        the lineage rows -- the two features are independent."""
        files = _list_bucket_files(self.fs, out_dir, rel_dir)
        per_bucket, zone, frows = _footer_stats(
            self.fs, self.root, files, schema=table_schema)
        return {
            "files": files,
            "rows_in": got["n"] or 0,
            "rows_deleted": got["dels"] or 0,
            "min_lsn": got["mn"],
            "max_lsn": got["mx"],
            "lineage": [
                {"batch_id": batch_id, "bucket": int(b), **fstats}
                for b, fstats in per_bucket.items()
            ] if collect_lineage else [],
            "stats": zone,
            "file_rows": frows,
        }

    # ------------------------------------------------------------------
    def _merge_cow(
        self, spark, m, batch_df, batch_id, op_col, lsn_col,
        collect_lineage, extra_audit, pre_commit_hook,
    ) -> MergeResult:
        """Copy-on-write: resolve the batch against the touched buckets
        and rewrite them. One shuffle (union + groupBy key) over ONLY
        the touched buckets' data + the batch -- the same I/O shape as
        Iceberg copy-on-write MERGE."""
        t0 = time.monotonic()
        key = m["key"]
        ks = _keylist(key)
        nb = m["bucket_count"]
        if any(m.get("deltas", {}).values()):
            # a cow rewrite of a bucket must fold its deltas too; keep
            # the two paths composable by compacting first
            raise RuntimeError(
                "cow merge on a table with outstanding mor deltas: "
                "compact(spark, all_deltas=True) first"
            )

        table_schema = _evolved_schema(m, batch_df.schema, op_col, lsn_col)
        data_cols = [f.name for f in table_schema.fields if f.name != LSN_COL]

        src = batch_df.withColumnRenamed(lsn_col, LSN_COL)
        src = _align(src, table_schema, keep=[op_col])
        try:
            # ---- ONE job: touched buckets + audit numbers per bucket --
            # (bucket discovery for pruning and the audit stats share a
            # scan; the groupBy on ~nb groups collects a tiny result).
            # The batch is cached and materialized with AQE off (a cache
            # fixes its plan at persist time): AQE's empty-relation
            # propagation would skip an observed subtree whose join
            # partner came out empty, so an Observation the caller
            # attached upstream would never fire. The resolve join
            # below keeps AQE.
            with _aqe_off(spark):
                src = src.persist()
                bstats = (
                    src.groupBy(_bucket_expr(key, nb).alias("_b"))
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.min(LSN_COL).alias("mn"),
                        F.max(LSN_COL).alias("mx"),
                        F.sum(F.when(F.col(op_col) == "D", 1)
                              .otherwise(0)).alias("dels"),
                    )
                    .collect()
                )
            touched = [r["_b"] for r in bstats]
            if pre_commit_hook is not None:
                pre_commit_hook()  # may raise -> clean abort, nothing committed
            # read target files with the EVOLVED schema so new columns
            # surface as typed NULLs on pre-evolution rows
            tgt_files = self._files(m, touched)
            if tgt_files:
                tgt = spark.read.schema(table_schema).parquet(*tgt_files)
            else:
                tgt = spark.createDataFrame([], table_schema)
            tgt = tgt.withColumn(op_col, F.lit("K"))

            # ---- last-writer-wins resolution (one shuffle on key) ----
            # the snapshot read's rule over union(target rows, batch
            # rows): deletes are content-free, target rows (op 'K') rank
            # as live rows. Replayed rows tie on _lsn with identical
            # payloads, so ties are benign; tombstone replays have no
            # target row to tie with.
            all_cols = data_cols + [LSN_COL, op_col]
            unioned = tgt.select(*all_cols).unionByName(src.select(*all_cols))
            resolved = _lww(unioned, ks, [c for c in all_cols if c not in ks],
                            {f.name: f.dataType for f in table_schema.fields},
                            F.col(op_col) == "D")
            result = resolved.filter(F.col(op_col) != "D").drop(op_col)

            # ---- lineage: per-bucket applied-LSN ranges + row counts,
            # from the SAME per-bucket stats job that found the touched
            # buckets (no extra pass; "what this batch applied per
            # partition" is the north-rule lineage semantics)
            lineage: list[dict[str, Any]] = []
            if collect_lineage:
                lineage = [
                    {
                        "batch_id": batch_id,
                        "bucket": r["_b"],
                        "row_count": r["n"],
                        "min_lsn": r["mn"],
                        "max_lsn": r["mx"],
                    }
                    for r in bstats
                ]

            # ---- write touched buckets (the only job over the
            # resolution; no persist needed). _write_bucketed clusters
            # on _b so each rewritten bucket is exactly one file. Each
            # commit REPLACES the touched buckets' file lists in the
            # manifest, so counts never accumulate; compact() exists
            # for pathological cases. ----------------
            new_files, n_out, out_dir = self._write_bucketed(
                spark, result, {**m, "schema": table_schema.jsonValue()}
            )
            _, zone, frows = _footer_stats(
                self.fs, self.root, new_files, schema=table_schema)
        finally:
            src.unpersist()

        # ---- audit numbers (folded from the per-bucket stats job) -----
        agg = {
            "rows_in": sum(r["n"] for r in bstats),
            "min_lsn": min((r["mn"] for r in bstats), default=None),
            "max_lsn": max((r["mx"] for r in bstats), default=None),
            "dels": sum(r["dels"] for r in bstats),
        }
        touched_strs = {str(b) for b in touched}

        def build(mp: dict[str, Any]) -> dict[str, Any]:
            if mp is not m:
                # a cow rewrite REPLACES its buckets' file lists, so it
                # can only rebase onto commits that left those buckets
                # alone (disjoint-bucket writers); anything overlapping
                # -- file-list change or new deltas in our buckets, or a
                # schema change -- aborts cleanly.
                if mp["schema"] != m["schema"]:
                    raise RebaseError(
                        "concurrent schema change during merge; retry the batch"
                    )
                inter = _buckets_changed_between(m, mp)
                if inter & touched_strs:
                    raise RebaseError(
                        "concurrent commit touched the same buckets as this "
                        f"copy-on-write merge ({sorted(inter & touched_strs)}); "
                        "retry the batch"
                    )
                if any(mp.get("deltas", {}).get(b) for b in touched_strs):
                    raise RebaseError(
                        "concurrent mor deltas appeared in this merge's buckets; "
                        "compact and retry the batch"
                    )
            v = mp["version"] + 1
            buckets = dict(mp["buckets"])
            for b in touched:
                buckets[str(b)] = new_files.get(str(b), [])
            applied = dict(mp["applied_batches"])
            applied[str(batch_id)] = {"version": v, "op": "merge"}
            audit = {
                "batch_id": batch_id,
                "operation": "merge",
                "mode": "cow",
                "rows_in": agg["rows_in"],
                "rows_applied": agg["rows_in"] - agg["dels"],
                "rows_deleted": agg["dels"],
                "min_lsn": agg["min_lsn"],
                "max_lsn": agg["max_lsn"],
                "touched_buckets": len(touched),
                "version": v,
                **(extra_audit or {}),
            }
            return {
                **mp,
                "version": v,
                "parent": mp["version"],
                "schema": table_schema.jsonValue(),
                "buckets": buckets,
                "applied_batches": _cap(applied),
                "lsn_high": max(mp.get("lsn_high") or 0, agg["max_lsn"] or 0),
                "audit": audit,
                "lineage": lineage,
                "stats": {**_inherit_stats(mp), **zone},
                "file_rows": {**mp.get("file_rows", {}), **frows},
                "summary": {"operation": "merge", "mode": "cow", "rows_written": n_out},
                "committed_at": _utc_now_iso(),
            }

        try:
            committed = self._commit_with_rebase(m, build, batch_id=batch_id)
        except (CommitConflict, RebaseError):
            self.fs.rmtree(out_dir)
            raise
        dt = int((time.monotonic() - t0) * 1000)
        if committed is None:  # a concurrent writer fenced this batch first
            self.fs.rmtree(out_dir)
            return MergeResult(batch_id, None, True, 0, 0, 0, None, None, 0, dt)
        return MergeResult(
            batch_id, committed["version"], False, agg["rows_in"],
            agg["rows_in"] - agg["dels"], agg["dels"], agg["min_lsn"],
            agg["max_lsn"], len(touched), dt,
        )

    # ------------------------------------------------------------------
    # write-audit-publish (WAP) -- staged merges
    # ------------------------------------------------------------------
    def _staged_fragment_path(self, batch_id: int) -> str:
        return os.path.join(
            self.root, MANIFEST_DIR, f"staged-{int(batch_id)}.json")

    def stage_merge(
        self,
        spark: SparkSession,
        batch_df: DataFrame,
        batch_id: int,
        op_col: str = "op",
        lsn_col: str = "lsn",
        collect_lineage: bool = True,
    ) -> dict[str, Any]:
        """Write-audit-publish, the WRITE half (Iceberg analogue:
        staging a snapshot under ``spark.wap.id`` / committing to a
        branch before fast-forward). The batch's delta files are
        written and summarized exactly as ``merge`` would, but NOTHING
        is linked into the manifest chain: readers, time travel and
        ``read_changes`` cannot see the batch until ``publish_staged``.
        In between, ``read_staged`` exposes the staged rows for
        validation queries -- the AUDIT half lives in user code.

        Protocol (all through the FS seam, cluster-safe):
        1. claim ``manifests/staged-{batch}.json`` with put_if_absent
           (a placeholder, status="writing") -- double-staging a batch
           is a clean conflict, and retention can never race the data
           write because the fragment exists before any file does;
        2. ONE Spark job writes the delta files under
           ``data/staged-{batch}-{uuid}`` (``_write_mor_delta``, the
           same writer and plan as ``merge``);
        3. the fragment is finalized (status="staged") with the file
           list, audit numbers, lineage and zone stats.

        Restricted to merge-on-read tables: a staged copy-on-write
        rewrite would capture base files as of stage time and could
        not be rebased past intervening commits -- the same reason
        Iceberg's WAP cherry-pick only fast-forwards append/delta
        snapshots. Returns the fragment dict."""
        # staging fragments and their shielded data dirs are keyed by
        # batch_id in MAIN's namespace; on a branch, just merge -- the
        # branch IS the staging area (audit with read, publish with
        # fast_forward)
        self._require_main("stage_merge")
        m = self.manifest()
        if m.get("merge_mode", "cow") != "mor":
            raise RuntimeError(
                "stage_merge requires merge_mode='mor' (a staged cow "
                "rewrite cannot be rebased past intervening commits)")
        if str(batch_id) in m["applied_batches"]:
            raise ValueError(f"batch {batch_id} is already applied")
        frag_path = self._staged_fragment_path(batch_id)
        rel_dir = os.path.join(
            DATA_DIR, f"staged-{int(batch_id)}-{uuid.uuid4().hex[:8]}")
        out_dir = os.path.join(self.root, rel_dir)
        # claim FIRST: the fragment's existence shields the directory
        # from retention's orphan sweep while the Spark job runs
        self.fs.put_if_absent(frag_path, json.dumps({
            "status": "writing", "batch_id": batch_id, "dir": rel_dir,
            "staged_at": _utc_now_iso(),
        }))
        try:
            with _aqe_off(spark):
                table_schema, got = self._write_mor_delta(
                    spark, m, batch_df, op_col, lsn_col, out_dir,
                    f"stage_{batch_id}")
            delta = self._delta_record(out_dir, rel_dir, table_schema, got,
                                       batch_id, collect_lineage)
        except Exception:
            if self.fs.exists(out_dir):
                self.fs.rmtree(out_dir)
            self.fs.remove(frag_path)
            raise
        frag = {
            "status": "staged",
            "batch_id": batch_id,
            "dir": rel_dir,
            "base_version": m["version"],
            "base_schema": m["schema"],
            "schema": table_schema.jsonValue(),
            **delta,
            "staged_at": _utc_now_iso(),
        }
        self.fs.put_atomic(frag_path, json.dumps(frag))
        return frag

    def list_staged(self) -> list[dict[str, Any]]:
        """All staged fragments (status 'writing' means a stage is in
        flight or crashed mid-write -- ``abort_staged`` clears it)."""
        mdir = os.path.join(self.root, MANIFEST_DIR)
        out = []
        for name in sorted(self.fs.listdir(mdir)):
            if name.startswith("staged-") and name.endswith(".json"):
                out.append(json.loads(
                    self.fs.read_text(os.path.join(mdir, name))))
        return out

    def _staged_fragment(self, batch_id: int) -> dict[str, Any]:
        p = self._staged_fragment_path(batch_id)
        if not self.fs.exists(p):
            raise FileNotFoundError(
                f"no staged batch {batch_id} (already published or "
                f"aborted?)")
        frag = json.loads(self.fs.read_text(p))
        if frag.get("status") != "staged":
            raise RuntimeError(
                f"staged batch {batch_id} is incomplete (crashed "
                f"mid-stage); abort_staged({batch_id}) and re-stage")
        return frag

    def read_staged(self, spark: SparkSession, batch_id: int) -> DataFrame:
        """The staged batch's raw delta rows (payload + ``_lsn`` +
        ``_deleted``) -- the surface audit queries run against before
        ``publish_staged``. Reads only the staged files; no manifest
        resolution (the batch is not part of any snapshot yet)."""
        frag = self._staged_fragment(batch_id)
        schema = T.StructType.fromJson(frag["schema"]).add(
            DELETED_COL, T.BooleanType())
        files = [
            self.fs.spark_path(os.path.join(self.root, f))
            for fl in frag["files"].values() for f in fl
        ]
        if not files:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*files)

    def abort_staged(self, batch_id: int) -> None:
        """Drop a staged batch: delete its data directory, then the
        fragment. Idempotent and crash-safe in both orders -- a dir
        that loses its fragment becomes sweepable by retention; a
        fragment whose dir is gone is detected here and by publish."""
        p = self._staged_fragment_path(batch_id)
        if not self.fs.exists(p):
            return
        frag = json.loads(self.fs.read_text(p))
        d = os.path.join(self.root, frag["dir"])
        if self.fs.exists(d):
            self.fs.rmtree(d)
        self.fs.remove(p)

    def publish_staged(
        self, batch_id: int,
        extra_audit: dict[str, Any] | None = None,
    ) -> MergeResult | None:
        """Write-audit-publish, the PUBLISH half: link the staged delta
        files into the manifest chain as a fenced mor merge commit.
        Composes with any commit that landed since the stage (another
        merge, an append, a compact -- the staged files were not part
        of what it folded) via the same optimistic rebase as live
        merges; only a schema change since stage time aborts
        (RebaseError). Exactly-once holds: if the batch was fenced by
        another path meanwhile, returns None and cleans the staged
        artifacts (keeping them only if that commit references these
        very files -- the crashed-republish case).

        The staged directory becomes a permanent data dir on publish
        (the files are referenced in place; no rename/copy -- the
        S3-safe property)."""
        t0 = time.monotonic()
        frag = self._staged_fragment(batch_id)
        new_files: dict[str, list[str]] = frag["files"]
        m = self.manifest()
        already = str(batch_id) in m["applied_batches"]

        def build(mp: dict[str, Any]) -> dict[str, Any]:
            # the staged schema applies on top of the schema it was
            # staged against (additive evolution) or of itself
            if mp["schema"] not in (frag["schema"], frag["base_schema"]):
                raise RebaseError(
                    "schema changed since the batch was staged; abort "
                    "and re-stage")
            return _mor_merge_manifest(mp, batch_id, frag["schema"], frag,
                                       extra_audit, staged=True)

        committed = None if already else self._commit_with_rebase(
            m, build, batch_id=batch_id)
        dt = int((time.monotonic() - t0) * 1000)
        if committed is None:
            # fenced elsewhere. If that commit references OUR files
            # (a publish that crashed between commit and fragment
            # cleanup, then re-ran), the dir is live data -- drop only
            # the fragment; otherwise drop both.
            head = self.manifest()
            ours = {f for fl in new_files.values() for f in fl}
            referenced = ours & {
                f for fl in head.get("deltas", {}).values() for f in fl}
            if not referenced:
                d = os.path.join(self.root, frag["dir"])
                if self.fs.exists(d):
                    self.fs.rmtree(d)
            self.fs.remove(self._staged_fragment_path(batch_id))
            return None if not referenced else _mor_result(
                batch_id, head["applied_batches"][str(batch_id)]["version"],
                True, frag, dt)
        self.fs.remove(self._staged_fragment_path(batch_id))
        return _mor_result(batch_id, committed["version"], False, frag, dt)

    def record_skip(
        self, batch_id: int, extra_audit: dict[str, Any] | None = None
    ) -> int | None:
        """Fence a batch WITHOUT applying it (ON_ERROR=SKIP policy,
        reference: /root/reference/src/YADAMU/common/yadamuWriter.js
        :678-708 'skip remaining rows'). The skip is its own audited
        snapshot commit, so a replay of the poisoned batch fences as a
        no-op exactly like an applied batch."""
        m = self.manifest()
        if str(batch_id) in m["applied_batches"]:
            return None

        def build(mp: dict[str, Any]) -> dict[str, Any]:
            # a skip writes no data and inherits everything from the
            # parent it lands on, so it rebases onto any commit
            v = mp["version"] + 1
            applied = dict(mp["applied_batches"])
            applied[str(batch_id)] = {"version": v, "op": "skip"}
            return {
                **mp,
                "version": v,
                "parent": mp["version"],
                "applied_batches": _cap(applied),
                "audit": {
                    "batch_id": batch_id,
                    "operation": "skip",
                    "rows_in": 0,
                    "rows_applied": 0,
                    "rows_deleted": 0,
                    "version": v,
                    **(extra_audit or {}),
                },
                "lineage": [],
                "summary": {"operation": "skip"},
                "committed_at": _utc_now_iso(),
            }

        committed = self._commit_with_rebase(m, build, batch_id=batch_id)
        return None if committed is None else committed["version"]

    # ------------------------------------------------------------------
    # ------------------------------------------------------------------
    def _new_commit_dir(self, version_hint: int) -> tuple[str, str]:
        """A UNIQUE prospective commit directory ``c{v}-{uuid}``. The
        version prefix orders it for retention (expire_snapshots sweeps
        strictly-older-than-retained dirs); the uuid suffix guarantees
        no two write attempts -- concurrent writers racing on the same
        version, or a crashed batch's replay -- ever collide on a path.
        That uniqueness is what makes crash recovery hands-off: a dir
        orphaned between data write and manifest publish is simply
        never referenced, and the replay writes a fresh one."""
        rel = os.path.join(DATA_DIR, f"c{version_hint:012d}-{uuid.uuid4().hex[:8]}")
        return os.path.join(self.root, rel), rel

    def _write_bucketed(
        self, spark: SparkSession, df: DataFrame, m: dict[str, Any],
        sort_within: list | None = None,  # column names or Columns
        distribute: bool = True,
    ) -> tuple[dict[str, list[str]], int, str]:
        """Write df partitioned by bucket under a fresh commit dir;
        return ({bucket: [relative file paths]}, row count (via
        observe, no extra job), absolute out_dir for abort cleanup).

        ``distribute``: hash-cluster on ``_b`` first (one partition per
        bucket, task count capped at 2x cores) so every rewritten
        bucket lands in exactly ONE file instead of one per upstream
        task -- base files stay compacted by construction. Callers
        that already shaped the input (compact, rebucket) opt out.

        ``sort_within``: per-partition sort by (_b, *sort_within) --
        the _b prefix satisfies the partitioned writer's required
        ordering, so Spark skips its own partition-column sort and the
        within-bucket clustering survives into the files."""
        key, nb = m["key"], m["bucket_count"]
        from pyspark.sql import Observation

        out_dir, rel = self._new_commit_dir(m["version"] + 1)
        obs = Observation(f"write_{os.path.basename(rel)}")
        out = df.withColumn("_b", _bucket_expr(key, nb))
        if distribute:
            dp = spark.sparkContext.defaultParallelism
            out = out.repartition(min(nb, 2 * dp), "_b")
        if sort_within:
            out = out.sortWithinPartitions("_b", *sort_within)
        with _ts_micros(spark):
            (
                out.observe(obs, F.count(F.lit(1)).alias("rows"))
                .write.partitionBy("_b")
                .parquet(self.fs.spark_path(out_dir))
            )
        n_rows = obs.get["rows"]
        return _list_bucket_files(self.fs, out_dir, rel), n_rows, out_dir



