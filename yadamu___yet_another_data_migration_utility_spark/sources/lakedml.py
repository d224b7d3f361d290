"""LakeTable DML surface: predicate DELETE/UPDATE, REPLACE WHERE
backfill, the general three-clause MERGE INTO and snapshot
sync_from, plus their shared zone-map-pruned rewrite engine.
Mechanically split from laketable.py (round 4); see the laketable
module docstring."""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fsio import CommitConflict
from .lakebase import (
    ConstraintViolation, LSN_COL, DELETED_COL, _keylist, _bucket_expr,
    _where_cond, _resolve, _evolved_schema, _list_bucket_files, _ts_micros,
    _inherit_stats, _footer_stats, _align, _cap, _utc_now_iso,
)


class DmlMixin:
    """delete/update/overwrite_where + MERGE INTO (mixed into LakeTable)."""

    def delete_where(
        self,
        spark: SparkSession,
        predicate: str | None = None,
        ranges: dict[str, tuple] | None = None,
    ) -> tuple[int | None, int]:
        """Predicate DELETE (``DELETE FROM t WHERE ...``) as a
        file-pruned copy-on-write rewrite -- the GDPR/right-to-erasure
        day-2 operation (Iceberg: copy-on-write row-level delete; the
        reference has no analogue, it is insert-only per job). Returns
        ``(new_version | None, rows_deleted)``; no commit when nothing
        matches.

        The deletion condition is the AND of ``ranges`` (same inclusive
        ``{col: (lo, hi)}`` dict ``read`` takes) and ``predicate`` (a
        SQL boolean expression over the table's columns). NULL
        evaluates to not-deleted, SQL DELETE semantics.

        Scale: ``ranges`` drives the manifest zone maps through the one
        shared ``_plan_scan`` planner, so only FILES that can contain a
        match are read and rewritten -- every provably-disjoint file
        carries over by reference, untouched. A delta-touched bucket
        that may match is resolved whole (LWW must see the bucket
        entire) and folded to a fresh base, deltas cleared -- an
        implicit per-bucket compact. With only ``predicate`` given
        there is nothing to prune on and the whole table rewrites:
        pass the range bounds you know. Like compact, the rewrite
        folds a pinned snapshot and cannot rebase: a concurrent commit
        aborts it cleanly (re-run).

        Downstream: the commit is neither a merge nor a skip, so a
        ``read_changes`` window crossing it takes the snapshot-diff
        path and emits the removed rows as ``delete`` changes --
        ``mirror`` replicas converge without special handling. A later
        CDC update for a deleted key re-inserts it (NOT MATCHED ->
        INSERT), standard MERGE semantics."""
        return self._rewrite_where(
            spark, "delete_where", predicate, ranges, assignments=None)

    def update_where(
        self,
        spark: SparkSession,
        assignments: dict[str, str],
        predicate: str | None = None,
        ranges: dict[str, tuple] | None = None,
    ) -> tuple[int | None, int]:
        """Predicate UPDATE (``UPDATE t SET col = expr WHERE ...``) as
        the same file-pruned copy-on-write rewrite ``delete_where``
        performs (Iceberg: copy-on-write row-level update) -- the
        out-of-band correction operation (backfill a mis-parsed field,
        redact a value in place). ``assignments`` maps columns to SQL
        expressions over the row (``{"lang": "'en'"``,
        ``"value": "value * 2"}``); each result is cast back to the
        column's type so the table schema never drifts. Returns
        ``(new_version | None, rows_updated)``.

        The merge KEY and engine columns cannot be assigned: rewriting
        a key in place would move the row across buckets and could
        collide with an existing key outside the rewrite's file set --
        delete + re-ingest is the safe spelling of a key change.

        CDC contract: updated rows are stamped with a fresh ``_lsn``
        strictly above every LSN in the audit chain. Without that, a
        downstream ``mirror`` would see the changed row under its OLD
        lsn on the snapshot-diff path and the LSN-monotonic apply
        could tie-lose it -- the same divergence ``follow_changes``
        guards against for folded tombstones. A later CDC event for
        the key (higher lsn still) overrides the manual update,
        which is the right precedence for an out-of-band fix."""
        if not assignments:
            raise ValueError("update_where needs at least one assignment")
        return self._rewrite_where(
            spark, "update_where", predicate, ranges, assignments=assignments)

    def overwrite_where(
        self,
        spark: SparkSession,
        df: DataFrame,
        predicate: str | None = None,
        ranges: dict[str, tuple] | None = None,
        batch_id: int | None = None,
    ) -> tuple[int | None, int, int]:
        """REPLACE WHERE -- the atomic backfill primitive ("re-ingest
        day X"): delete every current row matching the predicate/ranges
        AND insert ``df``'s rows, in ONE commit (Delta: INSERT ...
        REPLACE WHERE; Iceberg: overwrite). Returns
        ``(new_version | None, rows_deleted, rows_inserted)`` --
        ``None`` when nothing matched and ``df`` is empty.

        Contract (Delta REPLACE WHERE parity): every inserted row must
        satisfy the predicate, validated in the same Spark pass --
        otherwise the commit aborts cleanly. That makes the result
        declarative: new state = old rows where NOT matched + ``df``.

        Key safety: replacement rows carry a fresh ``_lsn`` above the
        audit-chain watermark, so a key that also lives OUTSIDE the
        slice (possible whenever the predicate is not a pure function
        of the key) converges by the engine's normal LWW resolution --
        the replacement wins -- instead of silently duplicating.
        On a mor table the replacements land as DELTA rows (O(df), no
        bucket fold); on a cow table -- which must stay delta-free for
        its next merge -- every bucket the replacements touch joins
        the rewrite whole and the result is LWW-resolved into plain
        base files. Matching old rows are physically removed by the
        same zone-map-pruned copy-on-write rewrite delete_where uses
        (candidate files rewritten, disjoint files carried by
        reference, delta-touched candidate buckets folded whole).

        ``batch_id`` (optional) rides the fence ledger, making a
        replayed backfill exactly-once like any merge batch.

        Scale: cost is O(matching files) + O(df) -- the rewrite reads
        only files the zone maps cannot prove disjoint, and the insert
        is one partitionBy-bucket delta write; untouched data moves by
        manifest reference. Downstream ``read_changes`` windows
        crossing this commit take the exact snapshot-diff path (an
        overwrite is not an append-only mor merge)."""
        if predicate is None and not ranges:
            raise ValueError(
                "overwrite_where needs a predicate and/or ranges (an "
                "unconditional replace of the whole table should be "
                "explicit: pass predicate='true')")
        from pyspark.sql import Observation

        m = self.manifest()
        if batch_id is not None and str(batch_id) in m["applied_batches"]:
            return None, 0, 0
        schema = T.StructType.fromJson(m["schema"])
        tz = spark.conf.get("spark.sql.session.timeZone")
        plain_rel, delta_buckets = self._plan_scan(m, None, ranges, tz=tz)

        def _cond() -> F.Column:
            return _where_cond(predicate, ranges)

        key, nb = m["key"], m["bucket_count"]
        stamp = self.lsn_high_watermark() + 1
        mode = m.get("merge_mode", "cow")

        ins = _align(df, schema)
        ins = ins.withColumn(LSN_COL, F.lit(stamp).cast("long"))
        ins = ins.withColumn(DELETED_COL, F.lit(False))
        cons = m.get("constraints", {})

        def _ck_aggs() -> list:
            # one violation counter per declared CHECK, riding whatever
            # pass already scans the replacement rows (probe / insert
            # write) -- enforcement costs no extra job
            return [
                F.sum((~F.coalesce(F.expr(c).cast("boolean"),
                                   F.lit(True))).cast("long")).alias(f"ck_{n}")
                for n, c in sorted(cons.items())
            ]

        out_dirs: list[str] = []
        new_base: dict[str, list[str]] = {}
        new_delta: dict[str, list[str]] = {}
        n_hit = n_ins = 0
        zone: dict[str, Any] = {}
        rows_map: dict[str, int] = {}
        fold = sorted(delta_buckets)

        if mode == "cow":
            # a cow table must stay delta-free (the next cow merge
            # refuses outstanding deltas), so replacement rows integrate
            # through the base rewrite instead: every bucket they touch
            # is rewritten WHOLE -- LWW resolution must see any existing
            # row of an inserted key even when the slice predicate does
            # not cover it. One tiny probe job (<= bucket_count rows)
            # also validates the REPLACE WHERE contract BEFORE any write.
            probe = (
                ins.groupBy(_bucket_expr(key, nb).alias("b"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum((~_cond()).cast("long")).alias("bad"),
                     *_ck_aggs())
                .collect()
            )
            n_ins = sum(int(r["n"]) for r in probe)
            n_bad = sum(int(r["bad"] or 0) for r in probe)
            if n_bad:
                raise ValueError(
                    f"{n_bad} replacement row(s) do not satisfy the "
                    "overwrite predicate (REPLACE WHERE contract: df must "
                    "be a subset of the slice being replaced)")
            viol = {n: s for n in sorted(cons)
                    if (s := sum(int(r[f"ck_{n}"] or 0) for r in probe))}
            if viol:
                raise ConstraintViolation(
                    f"overwrite_where aborted: constraint violations "
                    f"{viol} (checks: { {n: cons[n] for n in viol} })")
            fold = sorted(set(delta_buckets)
                          | {int(r["b"]) for r in probe})
            fold_files = {f for b in fold
                          for f in m["buckets"].get(str(b), [])}
            plain_rel = [f for f in plain_rel if f not in fold_files]

        # ---- old rows: candidate files minus matched rows -------------
        survivors = None
        obs = None
        if plain_rel or fold:
            parts: list[DataFrame] = []
            if plain_rel:
                files = [self.fs.spark_path(os.path.join(self.root, f))
                         for f in plain_rel]
                parts.append(spark.read.schema(schema).parquet(*files))
            if fold:
                rs = T.StructType(list(schema.fields)
                                  + [T.StructField(DELETED_COL, T.BooleanType())])
                files = (self._files(m, fold)
                         + self._files(m, fold, "deltas"))
                if files:
                    raw = spark.read.schema(rs).parquet(*files)
                    parts.append(_resolve(raw, key, schema))
            if parts:
                cand = (parts[0] if len(parts) == 1
                        else parts[0].unionByName(parts[1]))
                obs = Observation(f"overwrite_{m['version'] + 1}")
                survivors = cand.observe(
                    obs, F.sum(_cond().cast("long")).alias("hits")
                ).filter(~_cond())

        if mode == "cow":
            # rewrite = survivors + replacements, LWW-resolved (the
            # fresh stamp wins any key collision), written as base files
            branches = []
            if survivors is not None:
                branches.append(
                    survivors.withColumn(DELETED_COL, F.lit(False)))
            branches.append(ins)
            combined = branches[0]
            for b2 in branches[1:]:
                combined = combined.unionByName(b2)
            out = _resolve(combined, key, schema)
            new_base, _, base_dir = self._write_bucketed(spark, out, m)
            out_dirs.append(base_dir)
            n_hit = int(obs.get["hits"] or 0) if obs is not None else 0
            if n_hit == 0 and n_ins == 0:
                self.fs.rmtree(base_dir)
                return None, 0, 0
            _, zz, fr = _footer_stats(self.fs, self.root, new_base, schema=schema)
            zone.update(zz)
            rows_map.update(fr)
        else:
            # mor: survivors rewrite as base; replacements land as delta
            # rows (O(df), no bucket fold needed -- readers resolve)
            if survivors is not None:
                new_base, _, base_dir = self._write_bucketed(
                    spark, survivors, m)
                n_hit = int(obs.get["hits"] or 0)
                if n_hit == 0:
                    # zone maps over-approximate: the candidates held no
                    # real match, so the speculative rewrite is identical
                    # data -- drop it, carry every old file by reference
                    self.fs.rmtree(base_dir)
                    new_base, plain_rel, fold = {}, [], []
                else:
                    out_dirs.append(base_dir)
                    _, zz, fr = _footer_stats(
                        self.fs, self.root, new_base, schema=schema)
                    zone.update(zz)
                    rows_map.update(fr)
            iobs = Observation(f"overwrite_ins_{m['version'] + 1}")
            ins_dir, ins_rel = self._new_commit_dir(m["version"] + 1)
            with _ts_micros(spark):
                (
                    ins.withColumn("_b", _bucket_expr(key, nb))
                    .observe(
                        iobs,
                        F.count(F.lit(1)).alias("n"),
                        F.sum((~_cond()).cast("long")).alias("bad"),
                        *_ck_aggs(),
                    )
                    .write.partitionBy("_b")
                    .parquet(self.fs.spark_path(ins_dir))
                )
            out_dirs.append(ins_dir)
            got = iobs.get
            n_ins, n_bad = int(got["n"] or 0), int(got["bad"] or 0)
            if n_bad:
                for d in out_dirs:
                    self.fs.rmtree(d)
                raise ValueError(
                    f"{n_bad} replacement row(s) do not satisfy the "
                    "overwrite predicate (REPLACE WHERE contract: df must "
                    "be a subset of the slice being replaced)")
            viol = {n: int(got[f"ck_{n}"] or 0) for n in sorted(cons)
                    if got.get(f"ck_{n}")}
            if viol:
                for d in out_dirs:
                    self.fs.rmtree(d)
                raise ConstraintViolation(
                    f"overwrite_where aborted: constraint violations "
                    f"{viol} (checks: { {n: cons[n] for n in viol} })")
            if n_hit == 0 and n_ins == 0:
                for d in out_dirs:
                    self.fs.rmtree(d)
                return None, 0, 0
            new_delta = _list_bucket_files(self.fs, ins_dir, ins_rel)
            _, zz, fr = _footer_stats(self.fs, self.root, new_delta, schema=schema)
            zone.update(zz)
            rows_map.update(fr)

        plain_set = set(plain_rel)
        buckets: dict[str, list[str]] = {}
        for b, fl in m["buckets"].items():
            carry = [] if int(b) in fold else \
                [f for f in fl if f not in plain_set]
            buckets[b] = carry + new_base.get(b, [])
        for b, fl in new_base.items():
            buckets.setdefault(b, fl)
        deltas = {k: list(fl) for k, fl in m.get("deltas", {}).items()}
        for b in fold:
            deltas[str(b)] = []
        for b, fl in new_delta.items():
            deltas[b] = deltas.get(b, []) + fl
        applied = dict(m["applied_batches"])
        v = m["version"] + 1
        if batch_id is not None:
            applied[str(batch_id)] = {"version": v, "op": "overwrite"}
        manifest = {
            **m,
            "version": v,
            "parent": m["version"],
            "buckets": buckets,
            "deltas": deltas,
            "applied_batches": _cap(applied),
            "lsn_high": max(m.get("lsn_high") or 0, stamp),
            "audit": {
                "batch_id": batch_id,
                "operation": "overwrite",
                "rows_in": n_ins,
                "rows_applied": n_ins,
                "rows_deleted": n_hit,
                "min_lsn": stamp,
                "max_lsn": stamp,
                "version": v,
            },
            "lineage": [],
            "stats": {**_inherit_stats(m), **zone},
            "file_rows": {**m.get("file_rows", {}), **rows_map},
            "summary": {
                "operation": "overwrite",
                "mode": mode,
                "rows_deleted": n_hit,
                "rows_inserted": n_ins,
                "predicate": predicate,
                "ranges": {c: [None if b is None else str(b) for b in bb]
                           for c, bb in (ranges or {}).items()},
                "files_rewritten": len(plain_rel),
                "buckets_folded": len(fold),
            },
            "committed_at": _utc_now_iso(),
        }
        try:
            # like compact/delete_where: rewrites a snapshot, no rebase
            self._write_manifest(manifest, expected_parent=m["version"])
        except CommitConflict:
            for d in out_dirs:
                self.fs.rmtree(d)
            raise
        return v, n_hit, n_ins

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        source_key: str | None = None,
        update_set: dict[str, str] | str | None = None,
        update_condition: str | None = None,
        delete: bool = False,
        delete_condition: str | None = None,
        insert_values: dict[str, str] | str | None = "all",
        insert_condition: str | None = None,
        by_source_delete: bool = False,
        by_source_delete_condition: str | None = None,
        by_source_update: dict[str, str] | None = None,
        by_source_update_condition: str | None = None,
        evolve: bool = False,
        batch_id: int | None = None,
    ) -> tuple[int | None, dict[str, int]]:
        """General ``MERGE INTO`` -- the user-facing upsert surface
        (Delta ``MERGE INTO`` / Iceberg ``MERGE``), distinct from the
        CDC hot path ``merge()``: arbitrary SET/condition clauses instead of
        fixed op/lsn semantics. The reference engine is insert-only per
        job (no MERGE analogue); this is its natural extension once a
        keyed table exists. Semantics, in fixed clause order::

            MERGE INTO t USING s ON t.<key> = s.<source_key>
            WHEN MATCHED [AND delete_condition] THEN DELETE      (delete=True)
            WHEN MATCHED [AND update_condition] THEN UPDATE SET  (update_set)
            WHEN NOT MATCHED [AND insert_condition] THEN INSERT  (insert_values)
            WHEN NOT MATCHED BY SOURCE [AND ...] THEN DELETE     (by_source_delete)
            WHEN NOT MATCHED BY SOURCE [AND ...] THEN UPDATE SET (by_source_update)

        - ``update_set``: ``"all"`` (every source column by name) or
          ``{column: sql_expr}`` with expressions over ``t.*`` / ``s.*``
          (qualify names; each result is cast to the column's type).
          The merge key and engine columns cannot be assigned.
        - ``insert_values``: ``"all"`` or a dict; missing columns become
          typed NULLs. The inserted key is ALWAYS ``s.<source_key>`` --
          a computed key could route to a bucket this commit did not
          rewrite and silently collide with an existing row there.
        - Conditions are SQL booleans over ``t.*``/``s.*``; NULL means
          the clause does not fire (SQL semantics).
        - ``by_source_*`` (Delta 2.3's WHEN NOT MATCHED BY SOURCE):
          fires for TARGET rows whose key has no source row; conditions
          and SET expressions see ``t.*`` only. Delete wins over update
          when both are given. SCALE CAVEAT: any by-source clause must
          examine every target row, so the rewrite touches ALL
          non-empty buckets -- O(table), the inherent cost of
          snapshot-sync semantics -- where the source-only clause set
          stays O(touched buckets). ``sync_from`` composes these into
          the one-call "make the table equal this snapshot".
        - ``evolve=True`` (Delta ``schema.autoMerge``): EVERY source
          column absent from the table appends as a nullable column,
          and legally-wider source types widen the table column --
          same ``_evolved_schema`` rules as the CDC ``merge``. Old
          files read the new columns as typed NULLs. Off by default:
          with it on, helper columns in the source (action flags etc.)
          would silently become table columns -- drop them first.

        Keyed-table contract (Hudi record-key MERGE, not bag-semantics
        ANSI): MATCHED means "a target row with this key exists", so an
        insert can never duplicate a key, and duplicate SOURCE keys are
        rejected up front (``ValueError``) -- pre-reduce the source
        (``operators.apply.last_lsn_dedup``) exactly as Hudi requires a
        precombine. NULL source keys are rejected the same way (a keyed
        table cannot hold them; the CDC path quarantines such rows
        instead).

        CDC interop: updated and inserted rows are stamped with a fresh
        ``_lsn`` above the table's high watermark (same rationale as
        ``update_where``: the out-of-band edit must WIN downstream
        LSN-monotonic appliers), and the commit is visible to
        ``read_changes`` via the snapshot-diff path. ``batch_id``
        (optional) rides the fence ledger -- a replayed merge_into is
        an exact no-op, same exactly-once contract as ``merge``.

        Scale shape: one tiny agg over the source finds the touched
        buckets (and rejects dup/NULL keys in the same pass); only
        those buckets' files are read (base + deltas, LWW-resolved --
        an implicit per-bucket compact), the merge itself is ONE
        key-equality full-outer join co-partitioned with the rewrite,
        and every untouched bucket carries by manifest reference.
        Cost is O(touched buckets + source), not O(table). Like
        compact/delete_where it rewrites a pinned snapshot and cannot
        rebase: a concurrent commit aborts it cleanly (re-run).

        Returns ``(new_version | None, counts)`` -- ``None`` when the
        source is empty, no clause fired, or the fence says applied.
        ``counts`` holds rows_source / rows_updated / rows_deleted /
        rows_inserted (all 0 plus ``fenced: 1`` on a fenced replay)."""
        from pyspark.sql import Observation

        zero = {"rows_source": 0, "rows_updated": 0,
                "rows_deleted": 0, "rows_inserted": 0}
        m = self.manifest()
        if batch_id is not None and str(batch_id) in m["applied_batches"]:
            return None, {**zero, "fenced": 1}
        by_source = by_source_delete or by_source_update is not None
        if (update_set is None and not delete and insert_values is None
                and not by_source):
            raise ValueError(
                "merge_into needs at least one clause (update_set, "
                "delete=True, insert_values, or a by_source_* clause)")
        key, nb = m["key"], m["bucket_count"]
        ks = _keylist(key)
        # source_key mirrors the table key's shape: one name, or a list
        # matching the composite key column-for-column in order
        sk = _keylist(source_key) if source_key is not None else ks
        if len(sk) != len(ks):
            raise ValueError(
                f"source_key must name {len(ks)} column(s) matching the "
                f"table key {ks}; got {sk}")
        missing_sk = [c for c in sk if c not in source.columns]
        if missing_sk:
            raise ValueError(f"source has no key column(s) {missing_sk}")
        if evolve:
            # RENAMED source key columns map onto the table key --
            # exclude them from evolution; engine (_-prefix) columns
            # never evolve in
            drop_evo = [c for c in source.columns if c.startswith("_")]
            drop_evo += [s for s, k in zip(sk, ks) if s != k]
            src_for_evo = source.drop(*drop_evo)
            schema = _evolved_schema(
                m, src_for_evo.schema, op_col="\x00none", lsn_col="\x00none2")
        else:
            schema = T.StructType.fromJson(m["schema"])
        fields = {f.name: f.dataType for f in schema.fields}
        if by_source_update is not None and not isinstance(
                by_source_update, dict):
            raise ValueError(
                'by_source_update must be a dict (no "all": there is no '
                "source row to copy from)")
        for what, clause in (("update_set", update_set),
                             ("insert_values", insert_values),
                             ("by_source_update", by_source_update)):
            if isinstance(clause, dict):
                bad = [c for c in clause if c not in fields
                       or c == LSN_COL or c.startswith("_")]
                if bad:
                    raise ValueError(
                        f"unknown/engine columns in {what}: {bad}")
                assigned_keys = [c for c in clause if c in ks]
                if assigned_keys:
                    raise ValueError(
                        f"cannot assign merge key column(s) "
                        f"{assigned_keys} in {what}: the key comes from "
                        "the ON equality (update) or the source key "
                        "columns (insert); delete + re-merge is the "
                        "safe spelling of a key change")
            elif clause is not None and clause != "all":
                raise ValueError(f'{what} must be "all" or a dict')

        # bucket placement hashes the key AS ITS TABLE TYPE (see
        # _evolved_schema's key note): cast the source key up front so
        # bucket discovery, the join, and the bucketed write all hash
        # the same value -- a raw int source key against a long table
        # key would otherwise compute the WRONG touched set and the
        # rewrite would silently drop the real bucket's new file. A
        # key that casts to NULL ('abc' -> int) is caught by the
        # NULL-key check below (try_cast: ANSI mode would otherwise
        # throw mid-job instead of reaching that clear error).
        for s_c, k_c in zip(sk, ks):
            source = source.withColumn(s_c,
                                       F.col(s_c).try_cast(fields[k_c]))

        # ---- ONE job over the source: touched buckets + dup/NULL-key
        # rejection (count vs count_distinct per bucket) --------------
        any_null = F.lit(False)
        for s_c in sk:
            any_null = any_null | F.col(s_c).isNull()
        bstats = (
            source.groupBy(
                F.when(any_null, F.lit(-1))
                .otherwise(_bucket_expr(sk, nb)).alias("_b"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count_distinct(*[F.col(c) for c in sk]).alias("d"))
            .collect()
        )
        if any(r["_b"] == -1 for r in bstats):
            raise ValueError(
                "merge_into source contains NULL keys (or keys that "
                "cast to NULL as the table's key type); a keyed table "
                "cannot hold them (the CDC path quarantines such rows)")
        dups = sum(r["n"] - r["d"] for r in bstats)
        if dups:
            raise ValueError(
                f"merge_into source has {dups} duplicate key row(s); "
                "pre-reduce to one row per key "
                "(operators.apply.last_lsn_dedup)")
        touched = sorted(r["_b"] for r in bstats)
        n_src = sum(r["n"] for r in bstats)
        if by_source:
            # a by-source clause examines EVERY target row, so every
            # non-empty bucket joins the rewrite (inherent to
            # snapshot-sync semantics); source-key buckets still join
            # for the inserts
            data_buckets = {int(b) for b, fl in m["buckets"].items() if fl}
            data_buckets |= {int(b) for b, fl
                             in m.get("deltas", {}).items() if fl}
            touched = sorted(set(touched) | data_buckets)
        if not touched:
            return None, zero

        # ---- target rows of the touched buckets, pinned to THIS
        # manifest, LWW-resolved (base + deltas -> one row per key) ----
        rs = T.StructType(list(schema.fields)
                          + [T.StructField(DELETED_COL, T.BooleanType())])
        tgt_files = (self._files(m, touched)
                     + self._files(m, touched, "deltas"))
        if tgt_files:
            tgt = _resolve(spark.read.schema(rs).parquet(*tgt_files),
                           key, schema)
        else:
            tgt = spark.createDataFrame([], schema)

        t = tgt.withColumn("_t_ex", F.lit(True)).alias("t")
        s = source.withColumn("_s_ex", F.lit(True)).alias("s")
        on = F.col(f"t.`{ks[0]}`") == F.col(f"s.`{sk[0]}`")
        for k_c, s_c in zip(ks[1:], sk[1:]):
            on = on & (F.col(f"t.`{k_c}`") == F.col(f"s.`{s_c}`"))
        j = t.join(s, on, "full_outer")

        def _cond(expr: str | None):
            if expr is None:
                return F.lit(True)
            return F.coalesce(F.expr(expr).cast("boolean"), F.lit(False))

        t_ex = F.coalesce(F.col("_t_ex"), F.lit(False))
        s_ex = F.coalesce(F.col("_s_ex"), F.lit(False))
        del_fire = (t_ex & s_ex & _cond(delete_condition)) if delete \
            else F.lit(False)
        upd_fire = (t_ex & s_ex & ~del_fire & _cond(update_condition)) \
            if update_set is not None else F.lit(False)
        ins_fire = (~t_ex & s_ex & _cond(insert_condition)) \
            if insert_values is not None else F.lit(False)
        bs_del_fire = (t_ex & ~s_ex & _cond(by_source_delete_condition)) \
            if by_source_delete else F.lit(False)
        bs_upd_fire = (t_ex & ~s_ex & ~bs_del_fire
                       & _cond(by_source_update_condition)) \
            if by_source_update is not None else F.lit(False)

        stamp = self.lsn_high_watermark() + 1

        def _clause_val(clause, f: T.StructField, default):
            if clause == "all":
                if f.name in source.columns:
                    return F.col(f"s.`{f.name}`").cast(f.dataType)
                return default
            if isinstance(clause, dict) and f.name in clause:
                return F.expr(clause[f.name]).cast(f.dataType)
            return default

        cols = []
        for f in schema.fields:
            if f.name == LSN_COL:
                val = F.when(upd_fire | ins_fire | bs_upd_fire,
                             F.lit(stamp).cast("long")) \
                    .otherwise(F.col(f"t.`{LSN_COL}`"))
            elif f.name in ks:
                s_c = sk[ks.index(f.name)]
                val = F.when(ins_fire,
                             F.col(f"s.`{s_c}`").cast(f.dataType)) \
                    .otherwise(F.col(f"t.`{f.name}`"))
            else:
                keep = F.col(f"t.`{f.name}`")
                val = (
                    F.when(ins_fire, _clause_val(
                        insert_values, f, F.lit(None).cast(f.dataType)))
                    .when(upd_fire, _clause_val(update_set, f, keep))
                    .when(bs_upd_fire,
                          _clause_val(by_source_update, f, keep))
                    .otherwise(keep)
                )
            cols.append(val.alias(f.name))

        obs = Observation(f"merge_into_{m['version'] + 1}")
        changed = upd_fire | ins_fire | bs_upd_fire
        cons = m.get("constraints", {})
        flagged = j.select(
            *cols,
            (del_fire | bs_del_fire).alias("_del"),
            (upd_fire | bs_upd_fire).alias("_upd"),
            ins_fire.alias("_ins"),
            ((t_ex & ~del_fire & ~bs_del_fire) | ins_fire).alias("_keep"),
            changed.alias("_chg"),
        ).observe(
            obs,
            F.sum(F.col("_del").cast("long")).alias("dels"),
            F.sum(F.col("_upd").cast("long")).alias("upds"),
            F.sum(F.col("_ins").cast("long")).alias("inss"),
            # constraint checks ride the same pass: only CHANGED rows
            # can introduce a violation (kept rows already passed).
            # ck_ prefix keeps user constraint names out of the count
            # aliases' namespace
            *[F.count(F.when(F.col("_chg") & ~F.coalesce(
                F.expr(c).cast("boolean"), F.lit(True)), 1)).alias(f"ck_{n}")
              for n, c in sorted(cons.items())],
        )
        out = flagged.filter(F.col("_keep")).select(
            *[f.name for f in schema.fields])

        new_files, _, out_dir = self._write_bucketed(spark, out, m)
        got = obs.get
        viol = {n: int(got[f"ck_{n}"]) for n in cons if got.get(f"ck_{n}")}
        if viol:
            self.fs.rmtree(out_dir)
            raise ConstraintViolation(
                f"merge_into aborted: constraint violations {viol} "
                f"(checks: { {n: cons[n] for n in viol} })")
        counts = {"rows_source": n_src,
                  "rows_updated": int(got["upds"] or 0),
                  "rows_deleted": int(got["dels"] or 0),
                  "rows_inserted": int(got["inss"] or 0)}
        if not (counts["rows_updated"] or counts["rows_deleted"]
                or counts["rows_inserted"]):
            # no clause fired anywhere: drop the rewrite, commit nothing
            self.fs.rmtree(out_dir)
            return None, counts

        # a delete-only merge stamps no surviving row: like
        # delete_where, it must NOT advance the watermark or claim an
        # applied-LSN range no data carries
        stamped = bool(counts["rows_updated"] or counts["rows_inserted"])
        _, zone, frows = _footer_stats(self.fs, self.root, new_files,
                                schema=schema)
        touched_set = set(touched)
        buckets = {b: (new_files.get(b, []) if int(b) in touched_set
                       else list(fl))
                   for b, fl in m["buckets"].items()}
        for b, fl in new_files.items():
            buckets.setdefault(b, fl)
        deltas = {k: list(fl) for k, fl in m.get("deltas", {}).items()}
        for b in touched:
            deltas[str(b)] = []
        v = m["version"] + 1
        applied = dict(m["applied_batches"])
        if batch_id is not None:
            applied[str(batch_id)] = {"version": v, "op": "merge_into"}
        manifest = {
            **m,
            "version": v,
            "parent": m["version"],
            "schema": schema.jsonValue(),
            "buckets": buckets,
            "deltas": deltas,
            "applied_batches": _cap(applied),
            "lsn_high": max(m.get("lsn_high") or 0,
                            stamp if stamped else 0),
            "audit": {
                "batch_id": batch_id,
                "operation": "merge_into",
                "rows_in": n_src,
                "rows_applied": counts["rows_updated"]
                + counts["rows_inserted"],
                "rows_deleted": counts["rows_deleted"],
                "min_lsn": stamp if stamped else None,
                "max_lsn": stamp if stamped else None,
                "touched_buckets": len(touched),
                "version": v,
            },
            "lineage": [],
            "stats": {**_inherit_stats(m), **zone},
            "file_rows": {**m.get("file_rows", {}), **frows},
            "summary": {
                "operation": "merge_into",
                **counts,
                "clauses": {
                    "update": bool(update_set), "delete": bool(delete),
                    "insert": insert_values is not None,
                    "by_source": by_source,
                },
                "buckets_rewritten": len(touched),
            },
            "committed_at": _utc_now_iso(),
        }
        try:
            # like compact/delete_where: rewrites a snapshot, no rebase
            self._write_manifest(manifest, expected_parent=m["version"])
        except CommitConflict:
            self.fs.rmtree(out_dir)
            raise
        return v, counts

    def sync_from(
        self,
        spark: SparkSession,
        snapshot: DataFrame,
        source_key: str | None = None,
        evolve: bool = False,
        allow_empty: bool = False,
        batch_id: int | None = None,
    ) -> tuple[int | None, dict[str, int]]:
        """Make the table EQUAL the given snapshot in one commit -- the
        recrawl-replaces-state operation (a webtext pipeline receives a
        full new crawl snapshot and the serving table must converge to
        it): update keys whose row differs, insert new keys, delete
        keys absent from the snapshot. Composed entirely from
        ``merge_into``'s clause algebra::

            WHEN MATCHED AND <any shared column differs> THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE THEN DELETE

        The auto-generated update condition compares every shared
        non-key column null-safely (``NOT (t.c <=> s.c AND ...)``), so
        UNCHANGED rows keep their ``_lsn`` -- downstream
        ``read_changes``/``mirror`` consumers see only the true diff,
        not a full-table re-stamp. Rows that did change (and inserts)
        carry the fresh watermark stamp and win downstream, the same
        contract as ``update_where``.

        Scale: the by-source delete makes this O(table) by necessity
        (every key must be checked for absence); the join is one
        key-equality shuffle co-partitioned with the bucket rewrite.
        For CDC-shaped inputs (you know what changed) use ``merge``
        or ``merge_into`` directly -- they stay O(touched).

        ``batch_id`` fences the sync exactly-once like any merge.
        Returns ``merge_into``'s ``(version, counts)``.

        An EMPTY snapshot is refused unless ``allow_empty=True``: with
        the by-source delete armed, syncing to 0 rows truncates the
        whole table, and the classic failure mode here is a broken
        upstream export producing a valid-but-empty file -- make the
        intent explicit."""
        if not allow_empty and snapshot.isEmpty():
            raise ValueError(
                "sync_from got an EMPTY snapshot, which would delete "
                "every row; pass allow_empty=True if the table really "
                "should converge to empty")
        ks = _keylist(self.manifest()["key"])
        sk = _keylist(source_key) if source_key is not None else ks
        known = {f.name for f in self.schema().fields}
        shared = [c for c in snapshot.columns
                  if (c in known or evolve)
                  and c not in set(ks) | set(sk) and not c.startswith("_")]
        # with evolve=True a brand-new snapshot column participates in
        # the differs check too: old rows read it as NULL, so any
        # non-NULL value marks the row changed and the backfill lands
        differs = " OR ".join(
            f"NOT (t.`{c}` <=> s.`{c}`)" for c in shared) or "false"
        return self.merge_into(
            spark, snapshot,
            source_key=sk,
            update_set="all",
            update_condition=differs,
            insert_values="all",
            by_source_delete=True,
            evolve=evolve,
            batch_id=batch_id,
        )

    def _rewrite_where(
        self, spark, op, predicate, ranges, assignments,
    ) -> tuple[int | None, int]:
        """Shared engine of delete_where / update_where: plan candidate
        files through the zone maps, rewrite them with matching rows
        dropped (delete) or reassigned (update), carry every other file
        by reference, fold delta-touched candidate buckets whole."""
        if predicate is None and not ranges:
            raise ValueError(
                f"{op} needs a predicate and/or ranges (an unconditional "
                "rewrite of the whole table should be explicit: pass "
                "predicate='true')")
        from pyspark.sql import Observation

        m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        if assignments:
            fields = {f.name: f.dataType for f in schema.fields}
            bad = [c for c in assignments if c not in fields]
            if bad:
                raise ValueError(f"unknown columns in assignments: {bad}")
            locked = [c for c in assignments
                      if c in _keylist(m["key"]) or c == LSN_COL
                      or c.startswith("_")]
            if locked:
                raise ValueError(
                    f"cannot assign merge key / engine columns: {locked}")
        tz = spark.conf.get("spark.sql.session.timeZone")
        plain_rel, delta_buckets = self._plan_scan(m, None, ranges, tz=tz)
        if not plain_rel and not delta_buckets:
            return None, 0

        matched = _where_cond(predicate, ranges)

        parts: list[DataFrame] = []
        if plain_rel:
            files = [self.fs.spark_path(os.path.join(self.root, f))
                     for f in plain_rel]
            parts.append(spark.read.schema(schema).parquet(*files))
        if delta_buckets:
            # pinned to THIS manifest (self.read would re-plan the head)
            rs = T.StructType(list(schema.fields)
                              + [T.StructField(DELETED_COL, T.BooleanType())])
            files = (self._files(m, delta_buckets)
                     + self._files(m, delta_buckets, "deltas"))
            raw = spark.read.schema(rs).parquet(*files)
            parts.append(_resolve(raw, m["key"], schema))
        cand = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

        obs = Observation(f"{op}_{m['version'] + 1}")
        out = cand.observe(obs, F.sum(matched.cast("long")).alias("hits"))
        stamp = None
        if assignments is None:
            out = out.filter(~matched)
        else:
            # fresh LSN above the whole audit chain: the snapshot-diff
            # change this rewrite produces must WIN the downstream
            # monotonic apply (see update_where docstring). The stamp is
            # recorded in THIS commit's audit row so the next rewrite
            # (or follow_changes' synthetic delete stamp) computes a
            # strictly higher one -- without that, two consecutive
            # updates of the same key would tie downstream and the
            # second would silently lose; the manifest lsn_high carries
            # it past expire_snapshots' audit truncation.
            stamp = self.lsn_high_watermark() + 1
            # ONE select so every expression sees the OLD row (SQL
            # UPDATE semantics) -- chained withColumn would leak one
            # assignment's result into the next expression
            cols = []
            for f in schema.fields:
                if f.name in assignments:
                    cols.append(
                        F.when(matched,
                               F.expr(assignments[f.name]).cast(f.dataType))
                        .otherwise(F.col(f.name)).alias(f.name))
                elif f.name == LSN_COL:
                    cols.append(
                        F.when(matched, F.lit(stamp))
                        .otherwise(F.col(LSN_COL)).alias(LSN_COL))
                else:
                    cols.append(F.col(f.name))
            out = out.select(*cols)
        cons = m.get("constraints", {}) if assignments is not None else {}
        vobs = None
        if cons:
            # assigned values must satisfy the declared CHECKs; the
            # counts ride the rewrite's own materialization (deletes
            # can't violate -- they remove rows)
            vobs = Observation(f"{op}_checks_{m['version'] + 1}")
            out = out.observe(vobs, *[
                F.count(F.when(~F.coalesce(
                    F.expr(c).cast("boolean"), F.lit(True)), 1)).alias(n)
                for n, c in sorted(cons.items())
            ])
        new_files, n_kept, out_dir = self._write_bucketed(spark, out, m)
        if vobs is not None:
            viol = {n: int(c) for n, c in vobs.get.items() if c}
            if viol:
                self.fs.rmtree(out_dir)
                raise ConstraintViolation(
                    f"{op} aborted: constraint violations {viol} "
                    f"(checks: { {n: cons[n] for n in viol} })")
        n_hit = int(obs.get["hits"] or 0)
        if n_hit == 0:
            # zone maps over-approximate: candidates held no real match.
            # Drop the rewrite -- a no-op commit would pollute history.
            self.fs.rmtree(out_dir)
            return None, 0

        _, zone, frows = _footer_stats(self.fs, self.root, new_files, schema=schema)
        plain_set = set(plain_rel)
        buckets: dict[str, list[str]] = {}
        for b, fl in m["buckets"].items():
            carry = [] if int(b) in delta_buckets else \
                [f for f in fl if f not in plain_set]
            buckets[b] = carry + new_files.get(b, [])
        for b, fl in new_files.items():  # delta-only buckets w/o a base
            buckets.setdefault(b, fl)
        deltas = {k: list(fl) for k, fl in m.get("deltas", {}).items()}
        for b in delta_buckets:
            deltas[str(b)] = []
        v = m["version"] + 1
        manifest = {
            **m,
            "version": v,
            "parent": m["version"],
            "buckets": buckets,
            "deltas": deltas,
            "lsn_high": max(m.get("lsn_high") or 0, stamp or 0),
            # the audit row makes the rewrite visible in the metrics
            # table AND (update path) carries the lsn stamp the next
            # stamp computation must exceed; batch_id None = unfenced
            # maintenance, exempt from the ledger check by design
            "audit": {
                "batch_id": None,
                "operation": op,
                "rows_in": n_hit,
                "rows_applied": n_hit if assignments is not None else 0,
                "rows_deleted": n_hit if assignments is None else 0,
                "min_lsn": stamp,
                "max_lsn": stamp,
                "version": v,
            },
            "lineage": [],
            "stats": {**_inherit_stats(m), **zone},
            "file_rows": {**m.get("file_rows", {}), **frows},
            "summary": {
                "operation": op,
                ("rows_deleted" if assignments is None
                 else "rows_updated"): n_hit,
                "predicate": predicate,
                "ranges": {c: [None if b is None else str(b) for b in bb]
                           for c, bb in (ranges or {}).items()},
                **({} if assignments is None
                   else {"assignments": dict(assignments)}),
                "files_rewritten": len(plain_rel),
                "buckets_folded": len(delta_buckets),
            },
            "committed_at": _utc_now_iso(),
        }
        try:
            # like compact: rewrites a snapshot, cannot rebase
            self._write_manifest(manifest, expected_parent=m["version"])
        except CommitConflict:
            self.fs.rmtree(out_dir)
            raise
        return v, n_hit

