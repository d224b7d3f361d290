"""LakeTable maintenance: compaction (sort/z-order), rebucketing,
retention, the maintenance advisor, ANALYZE statistics, the
merge-key Bloom index harvest, table fsck, and column DDL
(drop/rename). Mechanically split from laketable.py (round 4);
see the laketable module docstring."""

from __future__ import annotations

import os
import uuid
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import bloomindex as _bloom
from .fsio import CommitConflict
from .lakebase import (
    FORMAT_VERSION, MANIFEST_DIR, DATA_DIR, LSN_COL, DELETED_COL, _keylist,
    _bucket_expr, _bloom_hash_exprs, _driver_hashable, _zorder_key,
    _inherit_stats, _footer_stats, _utc_now_iso,
)


class MaintenanceMixin:
    """compact/rebucket/expire/analyze/blooms/fsck/DDL (mixed into LakeTable)."""

    def compact(
        self,
        spark: SparkSession,
        max_files_per_bucket: int = 4,
        all_deltas: bool = False,
        sort_within_buckets: list[str] | None = None,
        buckets: list[int] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int | None:
        """Fold delta files into the base and rewrite buckets holding
        too many files (Iceberg: rewrite_data_files; reference analogue:
        Vertica mergeout every N inserts,
        /root/reference/src/YADAMU/vertica/node/verticaWriter.js:467-484).

        A bucket is rewritten when base+delta file count exceeds
        ``max_files_per_bucket`` -- the streaming auto-compaction
        cadence -- or, with ``all_deltas=True``, when it has ANY delta:
        the full fold a cow merge on a mor table requires. Deltas are
        always folded when a bucket is selected. Compaction materializes
        the resolved state, so winning tombstones physically disappear.

        ``sort_within_buckets``: cluster each rewritten bucket's rows by
        these columns (Iceberg: rewrite_data_files sort strategy) --
        tight parquet row-group min/max on the sort key turns point/range
        lookups into row-group prunes instead of full-bucket scans. A
        per-partition sort, no extra shuffle.

        ``buckets``: explicit target list (e.g. from plan_maintenance)
        -- overrides the count/delta heuristics; buckets with no live
        files are ignored.

        ``zorder_by``: cluster each rewritten bucket by a MORTON
        (bit-interleaved) key over these columns instead of a
        lexicographic sort (Delta OPTIMIZE ZORDER / Iceberg z-order
        rewrite strategy). A lexicographic sort gives tight row-group
        bounds only on its LEADING column; the z-key bounds every
        listed dimension at once, so pushed-down range predicates on
        ANY of them skip row groups. Costs one extra column-pruned agg
        pass (per-axis min/max) over the selected buckets -- reading
        2-4 thin columns, negligible next to the full-payload rewrite.
        Mutually exclusive with ``sort_within_buckets``."""
        if zorder_by and sort_within_buckets:
            raise ValueError(
                "pass either sort_within_buckets or zorder_by, not both")
        m = self.manifest()
        deltas = m.get("deltas", {})
        all_buckets = set(m["buckets"]) | {b for b, fl in deltas.items() if fl}
        if buckets is not None:
            want = {int(b) for b in buckets}
            fat = [
                int(b) for b in all_buckets
                if int(b) in want
                and (m["buckets"].get(b) or deltas.get(b))
            ]
        else:
            fat = [
                int(b) for b in all_buckets
                if len(m["buckets"].get(b, [])) + len(deltas.get(b, [])) > max_files_per_bucket
                or (all_deltas and deltas.get(b))
            ]
        if not fat:
            return None
        # read() resolves deltas for the selected buckets already
        sort_within = sort_within_buckets
        if zorder_by:
            sort_within = [_zorder_key(
                self.read(spark, buckets=fat), list(zorder_by),
                T.StructType.fromJson(m["schema"]))]
        df = self.read(spark, buckets=fat).repartition(
            len(fat), _bucket_expr(m["key"], m["bucket_count"])
        )
        new_files, _, out_dir = self._write_bucketed(
            spark, df, m, sort_within=sort_within, distribute=False
        )
        _, zone, frows = _footer_stats(
            self.fs, self.root, new_files,
            schema=T.StructType.fromJson(m["schema"]))
        v = m["version"] + 1
        buckets = dict(m["buckets"])
        new_deltas = {k: list(fl) for k, fl in deltas.items()}
        for b in fat:
            buckets[str(b)] = new_files.get(str(b), [])
            new_deltas[str(b)] = []
        manifest = {
            **m,
            "version": v,
            "parent": m["version"],
            "buckets": buckets,
            "deltas": new_deltas,
            "audit": None,
            "lineage": [],
            "stats": {**_inherit_stats(m), **zone},
            "file_rows": {**m.get("file_rows", {}), **frows},
            "summary": {"operation": "compact", "buckets_rewritten": len(fat)},
            "committed_at": _utc_now_iso(),
        }
        try:
            # maintenance folds a SNAPSHOT of the buckets it read, so it
            # cannot rebase (an intervening commit may have changed that
            # state) -- a conflict aborts cleanly and compaction re-runs
            self._write_manifest(manifest, expected_parent=m["version"])
        except CommitConflict:
            self.fs.rmtree(out_dir)
            raise
        return v

    def rebucket(self, spark: SparkSession, new_bucket_count: int) -> int | None:
        """Change the hash-bucket layout (Iceberg: REPLACE PARTITION
        FIELD + rewrite_data_files). ``bucket_count`` is the unit of
        merge parallelism, fixed at create -- when a table outgrows it
        (or was over-provisioned), this is the maintenance op: ONE job
        reads the resolved current snapshot and rewrites every row under
        the new layout; the commit carries the new ``bucket_count`` with
        empty deltas. Older snapshots stay readable under THEIR layout
        (each manifest is self-describing), and a ``read_changes``
        window crossing the rebucket automatically takes the snapshot-
        diff path (the commit is neither a mor merge nor a skip).

        Scale: a full-table rewrite -- O(table), run it like any
        rewrite_data_files maintenance. The shuffle is one
        repartition on the new bucket expression; fencing, audit
        history, schema and time travel are untouched."""
        m = self.manifest()
        nb = int(new_bucket_count)
        if nb < 1:
            raise ValueError(f"bucket_count must be >= 1, got {nb}")
        if nb == m["bucket_count"]:
            return None
        df = self.read(spark).repartition(
            min(nb, 2 * spark.sparkContext.defaultParallelism),
            _bucket_expr(m["key"], nb),
        )
        m_new = {**m, "bucket_count": nb}
        new_files, n_rows, out_dir = self._write_bucketed(
            spark, df, m_new, distribute=False)
        _, zone, frows = _footer_stats(
            self.fs, self.root, new_files,
            schema=T.StructType.fromJson(m["schema"]))
        v = m["version"] + 1
        manifest = {
            **m,
            "version": v,
            "parent": m["version"],
            "bucket_count": nb,
            "buckets": new_files,
            "deltas": {},
            "audit": None,
            "lineage": [],
            "stats": zone,
            "file_rows": frows,
            "summary": {
                "operation": "rebucket",
                "from_bucket_count": m["bucket_count"],
                "to_bucket_count": nb,
                "rows_written": n_rows,
            },
            "committed_at": _utc_now_iso(),
        }
        try:
            # like compact: rewrites a snapshot, cannot rebase
            self._write_manifest(manifest, expected_parent=m["version"])
        except CommitConflict:
            self.fs.rmtree(out_dir)
            raise
        return v

    def validate(self, spark: SparkSession | None = None,
                 deep: bool = False) -> dict[str, Any]:
        """Table fsck -- the day-2 health check after crashes, manual
        surgery or a suspected engine bug (Iceberg analogue: the
        various metadata validation procedures). Returns
        ``{"ok": bool, "issues": [str, ...], "checked": {...}}``;
        never raises for findings, only for an unreadable head.

        Metadata plane (always, driver-side, no Spark):
        - the manifest parent chain walks back intact over the
          retained history with strictly decreasing versions;
        - every referenced base/delta file exists, and no file is
          claimed twice within one manifest;
        - every audit batch_id appears in the head fence ledger
          (a fenced-but-unaudited batch is fine -- skips -- but an
          audited apply missing its fence would break exactly-once);
        - zone-map hygiene: every head ``stats`` entry points at a
          referenced file, names a schema column, and has min <= max.

        Data plane (``deep=True``, needs ``spark``; O(table) scan):
        - bucket placement: every row in bucket b satisfies
          ``_bucket_expr(key, bucket_count) == b`` -- the invariant
          merges prune by (a misplaced row silently escapes updates
          and deletes: exactly the blast radius of a key-type change);
        - per-bucket lineage row counts match the files;
        - zone-map soundness: each stored per-file min/max CONTAINS the
          file's actual footer min/max (a narrower zone would let
          ``read(ranges=...)`` wrongly prune matching rows -- the one
          corruption mode where pruning becomes a correctness bug)."""
        issues: list[str] = []
        head = self.manifest()
        chain: list[dict[str, Any]] = []
        v: int | None = head["version"]
        while v is not None:
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                break  # expired horizon
            if m["version"] != v:
                issues.append(f"manifest v{v} claims version {m['version']}")
            if m.get("format_version") != FORMAT_VERSION:
                issues.append(f"manifest v{v}: format_version "
                              f"{m.get('format_version')} != {FORMAT_VERSION}")
            chain.append(m)
            parent = m["parent"]
            if parent is not None and parent >= v:
                issues.append(f"manifest v{v}: parent {parent} not older")
                break
            v = parent
        n_files = 0
        for m in chain:
            seen: set[str] = set()
            for which in ("buckets", "deltas"):
                for b, fl in m.get(which, {}).items():
                    for f in fl:
                        n_files += 1
                        if f in seen:
                            issues.append(
                                f"v{m['version']}: file {f} referenced twice")
                        seen.add(f)
                        if not self.fs.exists(os.path.join(self.root, f)):
                            issues.append(f"v{m['version']}: missing file {f}")
        # the ledger is CAPPED at 1000 recent ids (_cap) and appends may
        # run unfenced (batch_id=None) -- only audited applies at or
        # after the oldest version still in the ledger must have fences
        fences = head["applied_batches"]
        horizon = min((e["version"] for e in fences.values()), default=0)
        # a rollback reverts the ledger with the state: audits inside a
        # reverted range (target < version <= reverted_from) are
        # LEGITIMATELY unfenced -- their batches were undone and may be
        # replayed
        reverted_ranges = [
            (s["target"], s["reverted_from"])
            for s in (m.get("summary") or {} for m in chain)
            if s.get("operation") == "rollback"
        ]
        for a in self.audit_entries():
            if (a.get("operation") in ("merge", "append")
                    and a.get("batch_id") is not None
                    and a["version"] >= horizon
                    and str(a["batch_id"]) not in fences
                    and not any(lo < a["version"] <= hi
                                for lo, hi in reverted_ranges)):
                issues.append(f"audited batch {a['batch_id']} missing from "
                              "the head fence ledger")
        zstats = head.get("stats", {})
        head_files = {
            f for which in ("buckets", "deltas")
            for fl in head.get(which, {}).values() for f in fl
        }
        schema_cols = {
            f.name for f in T.StructType.fromJson(head["schema"]).fields
        }
        for rel, fz in zstats.items():
            if rel not in head_files:
                issues.append(f"stats: entry for unreferenced file {rel}")
                continue
            for col, z in fz.items():
                if col not in schema_cols and col != LSN_COL:
                    issues.append(f"stats {rel}: unknown column {col!r}")
                elif not (isinstance(z, list) and len(z) == 2):
                    issues.append(f"stats {rel}.{col}: malformed zone {z!r}")
                else:
                    try:
                        if z[0] > z[1]:
                            issues.append(f"stats {rel}.{col}: min > max")
                    except TypeError:
                        issues.append(
                            f"stats {rel}.{col}: incomparable bounds")
        checked = {"manifests": len(chain), "files": n_files,
                   "stats_files": len(zstats), "deep": bool(deep)}
        if deep:
            if spark is None:
                raise ValueError("deep validation needs a SparkSession")
            key, nb = head["key"], head["bucket_count"]
            schema = T.StructType.fromJson(head["schema"])
            for which in ("buckets", "deltas"):
                for b, fl in head.get(which, {}).items():
                    if not fl:
                        continue
                    paths = [self.fs.spark_path(os.path.join(self.root, f))
                             for f in fl]
                    rs = schema
                    if which == "deltas":
                        rs = T.StructType(list(schema.fields) +
                                          [T.StructField(DELETED_COL, T.BooleanType())])
                    df = spark.read.schema(rs).parquet(*paths)
                    misplaced = df.filter(
                        _bucket_expr(key, nb) != F.lit(int(b))).count()
                    if misplaced:
                        issues.append(
                            f"head {which} bucket {b}: {misplaced} row(s) "
                            f"hash to a different bucket")
            checked["deep_buckets"] = (
                len(head["buckets"]) + sum(1 for fl in head.get("deltas", {}).values() if fl))
            # zone-map soundness: recompute each covered file's footer
            # min/max and require the stored zone to CONTAIN it (wider
            # is harmless slack; narrower silently drops matching rows
            # from every range-pruned read). Driver-side O(files).
            covered = [f for f in zstats if f in head_files]
            if covered:
                _, actual, _fr = _footer_stats(
                    self.fs, self.root, {"_fsck": covered},
                    schema=T.StructType.fromJson(head["schema"]),
                )
                for rel in covered:
                    got = actual.get(rel, {})
                    for col, z in zstats[rel].items():
                        if not (isinstance(z, list) and len(z) == 2):
                            continue  # already reported above
                        a = got.get(col)
                        if a is None:
                            issues.append(
                                f"stats {rel}.{col}: file footer carries no "
                                "min/max for this column")
                        else:
                            try:
                                if z[0] > a[0] or z[1] < a[1]:
                                    issues.append(
                                        f"stats {rel}.{col}: stored zone "
                                        f"{z} narrower than footer {a} -- "
                                        "range reads may wrongly prune")
                            except TypeError:
                                issues.append(
                                    f"stats {rel}.{col}: stored zone type "
                                    "mismatches footer stat")
                checked["stats_verified"] = len(covered)
            # file_rows exactness: a wrong per-file record count makes
            # row_count() lie silently (the one place the fast path is
            # a correctness dependency, unlike zone maps which only
            # over-approximate). Recompute each covered file's footer
            # count; the fsck's own _footer_stats pass above cannot be
            # reused (it only scanned zone-covered files).
            frmap = {f: n for f, n in (head.get("file_rows") or {}).items()
                     if f in head_files}
            if frmap:
                _, _, actual_rows = _footer_stats(
                    self.fs, self.root, {"_fsck_rows": sorted(frmap)})
                for rel, n in sorted(frmap.items()):
                    real = actual_rows.get(rel)
                    if real is not None and int(n) != int(real):
                        issues.append(
                            f"file_rows {rel}: recorded {n} != footer "
                            f"{real} -- metadata count(*) would be wrong")
                checked["file_rows_verified"] = len(frmap)
        return {"ok": not issues, "issues": issues, "checked": checked}

    def drop_column(self, spark: SparkSession, name: str) -> int:
        """Drop a payload column (Iceberg: ALTER TABLE DROP COLUMN) as a
        FULL-REWRITE commit. This format carries no Iceberg field IDs,
        so a metadata-only drop would RESURRECT old physical values if
        the name were ever re-added; the rewrite physically purges the
        column from the current snapshot instead -- which is also the
        column-erasure (GDPR) story. Older snapshots retain the column
        (time travel unaffected; the data lives in THEIR files);
        ``expire_snapshots`` completes the purge. A later batch
        re-introducing the name is a fresh additive column -- exactly
        Iceberg's drop-then-add semantics, with no ghost values because
        the purge already ran. ``read_changes`` windows crossing the
        drop take the snapshot-diff path (the commit is neither a mor
        merge nor a skip).

        The merge key and the ``_lsn`` ordering token cannot be
        dropped. Scale: O(table) rewrite like rebucket/compact -- run
        as maintenance."""
        m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        if name not in schema.fieldNames():
            raise ValueError(f"no column {name!r} in table schema")
        if name in _keylist(m["key"]):
            raise ValueError(f"cannot drop the merge key column {name!r}")
        if name == LSN_COL:
            raise ValueError(f"cannot drop the ordering token {LSN_COL!r}")
        refs = self._constraints_referencing(name)
        if refs:
            raise ValueError(
                f"column {name!r} is referenced by constraint(s) {refs}; "
                "drop them first")
        new_schema = T.StructType([f for f in schema.fields if f.name != name])
        df = self.read(spark).drop(name)
        new_files, n_rows, out_dir = self._write_bucketed(spark, df, m)
        _, zone, frows = _footer_stats(self.fs, self.root, new_files, schema=new_schema)
        manifest = {
            **m,
            "version": m["version"] + 1,
            "parent": m["version"],
            "schema": new_schema.jsonValue(),
            "buckets": new_files,
            "deltas": {},
            "audit": None,
            "lineage": [],
            "stats": zone,
            "file_rows": frows,
            "summary": {
                "operation": "drop_column",
                "column": name,
                "rows_written": n_rows,
            },
            "committed_at": _utc_now_iso(),
        }
        try:
            # like compact/rebucket: rewrites a snapshot, cannot rebase
            self._write_manifest(manifest, expected_parent=m["version"])
        except CommitConflict:
            self.fs.rmtree(out_dir)
            raise
        return manifest["version"]

    def rename_column(self, spark: SparkSession, old: str, new: str) -> int:
        """Rename a column (Iceberg: ALTER TABLE RENAME COLUMN) as a
        FULL-REWRITE commit. This format carries no Iceberg field IDs,
        so a metadata-only rename would detach the name from the
        physical parquet columns -- every existing file would read NULL
        under the new name; the rewrite re-materializes the snapshot
        instead. Renaming the MERGE KEY is allowed: bucket placement
        hashes the column's VALUES, not its name, so the layout is
        unchanged and the manifest key follows the rename. Older
        snapshots keep the old name (time travel reads THEIR files); a
        later batch still producing the old name becomes a fresh
        additive column -- update producers together with the rename
        (the staged-source mapping layer, operators/mapping.py, is the
        rename-at-the-edge alternative that avoids the rewrite).
        Scale: O(table) rewrite like drop_column -- run as maintenance."""
        m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        if old not in schema.fieldNames():
            raise ValueError(f"no column {old!r} in table schema")
        if new in schema.fieldNames():
            raise ValueError(f"column {new!r} already exists")
        if old == LSN_COL or new.startswith("_"):
            raise ValueError(
                f"cannot rename engine columns or use a _-prefixed name")
        refs = self._constraints_referencing(old)
        if refs:
            raise ValueError(
                f"column {old!r} is referenced by constraint(s) {refs}; "
                "drop them first and re-add against the new name")
        new_schema = T.StructType([
            T.StructField(new if f.name == old else f.name, f.dataType,
                          f.nullable) for f in schema.fields
        ])
        old_ks = _keylist(m["key"])
        new_ks = [new if k == old else k for k in old_ks]
        new_key = new_ks[0] if len(new_ks) == 1 else new_ks
        df = self.read(spark, version=m["version"]).withColumnRenamed(old, new)
        # bucket under the RENAMED key: same values -> same placement
        new_files, n_rows, out_dir = self._write_bucketed(
            spark, df, {**m, "key": new_key})
        _, zone, frows = _footer_stats(self.fs, self.root, new_files,
                                schema=new_schema)
        manifest = {
            **m,
            "version": m["version"] + 1,
            "parent": m["version"],
            "schema": new_schema.jsonValue(),
            "key": new_key,
            "buckets": new_files,
            "deltas": {},
            "audit": None,
            "lineage": [],
            "stats": zone,
            "file_rows": frows,
            "summary": {
                "operation": "rename_column",
                "from": old,
                "to": new,
                "rows_written": n_rows,
            },
            "committed_at": _utc_now_iso(),
        }
        try:
            # like compact/rebucket: rewrites a snapshot, cannot rebase
            self._write_manifest(manifest, expected_parent=m["version"])
        except CommitConflict:
            self.fs.rmtree(out_dir)
            raise
        return manifest["version"]

    def expire_snapshots(self, keep_last: int = 10) -> dict[str, int]:
        """Retention maintenance (Iceberg ``expire_snapshots``): drop
        manifests older than the newest ``keep_last`` versions and
        delete data files no retained version references. Without this,
        time travel accumulates every file ever written -- at 100 TB
        retention is not optional. Named refs PIN history: nothing at
        or newer than the oldest tagged version is expired (untag to
        release it).

        Exactly-once is unaffected: the fence ledger (applied_batches)
        rides the CURRENT manifest, not the expired history. The audit
        chain truncates at the oldest retained version
        (``audit_entries`` tolerates the missing parents); reading an
        expired version raises FileNotFoundError -- same contract as
        Iceberg's expired-snapshot error.

        Crash-safe + idempotent: data files are deleted only AFTER the
        manifests that referenced them, and re-running simply finds
        nothing left to remove. Safe next to in-flight writers: only
        commit directories whose version prefix is STRICTLY OLDER than
        the oldest retained manifest are swept. An in-flight (or
        rebasing) merge writes to a dir named ``c{head+1}-{uuid}``,
        which stays at or above that horizon until ``keep_last``
        further commits land -- so with ``keep_last >= 2`` a writer's
        uncommitted files (and Spark ``_temporary`` dirs) are never
        touched mid-flight. Orphan dirs from a crashed commit age past
        the horizon and are then swept here -- the GC half of the
        crash-recovery story (the replay itself never blocks on them
        because every attempt writes a fresh uuid dir).
        Checksum sidecars and ``_SUCCESS`` markers follow their primary
        file's fate; ``deleted_files`` counts primaries only.
        Driver-side O(retained files + files on disk); no Spark job."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        self._require_main("expire_snapshots")
        # tags pin history: retention never crosses the oldest tagged
        # version (Iceberg: expire_snapshots keeps referenced snapshots).
        # Live BRANCHES pin their fork point the same way: the fork
        # manifest must stay readable (a fresh branch's head IS the fork
        # manifest) and keeping main's horizon at or below every fork
        # also keeps the commit-dir sweep below any branch data dir
        # (branch commits write c{v>fork}-* dirs) -- so branch data and
        # in-flight branch writers are structurally out of sweep range.
        def _retained_protected() -> tuple[list[dict[str, Any]], set[str]]:
            pins = list(self.manifest().get("refs", {}).values())
            pins.extend(b["fork_version"] for b in self.branches().values())
            floor = min(pins, default=None)
            kept: list[dict[str, Any]] = []
            v: int | None = self.current_version()
            while v is not None and (
                len(kept) < keep_last
                or (floor is not None and v >= floor)
            ):
                try:
                    m = self.manifest(v)
                except FileNotFoundError:
                    break  # older history already expired
                kept.append(m)
                v = m["parent"]
            prot: set[str] = set()
            for m in kept:
                for which in ("buckets", "deltas"):
                    for fl in m.get(which, {}).values():
                        prot.update(fl)
            return kept, prot

        retained, protected = _retained_protected()
        oldest_kept = retained[-1]["version"]

        # 1) drop expired manifests (newest-first walk already proved
        #    the retained ones readable)
        mdir = os.path.join(self.root, MANIFEST_DIR)
        n_manifests = 0
        for name in self.fs.listdir(mdir):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            try:
                mv = int(name[1:-5])
            except ValueError:
                continue
            if mv < oldest_kept:
                self.fs.remove(os.path.join(mdir, name))
                n_manifests += 1

        # 1b) bloom sidecars (harvest_blooms): keep any referenced by a
        #     retained manifest; the rest are swept under the same age
        #     gate as commit dirs -- names encode the harvest-time head
        #     version (b{v}-{uuid}), so an in-flight harvest's sidecar
        #     is normally out of sweep range (its head >= oldest_kept).
        #     The residual race (>= keep_last commits land between the
        #     harvest's read and its rebased commit) is self-healed:
        #     harvest_blooms re-puts the sidecar after committing if
        #     the sweep got it, and re-harvest treats dead refs as
        #     uncovered, so the hole is repairable either way
        bdir = os.path.join(mdir, "blooms")
        n_sidecars = 0
        if self.fs.isdir(bdir):
            ref_sc: set[str] = set()
            for mm in retained:
                ref_sc.update(mm.get("bloom_files") or {})
            for name in self.fs.listdir(bdir):
                rel = os.path.join(MANIFEST_DIR, "blooms", name)
                if rel in ref_sc or not name.startswith("b"):
                    continue
                try:
                    bv = int(name[1:].split("-", 1)[0])
                except ValueError:
                    continue
                if bv < oldest_kept:
                    self.fs.remove(os.path.join(bdir, name))
                    n_sidecars += 1

        # 2) delete data files no retained manifest references --
        #    restricted to commit dirs older than every retained
        #    manifest (see docstring for the in-flight-writer argument)
        ddir = os.path.join(self.root, DATA_DIR)
        n_files = 0
        commit_dirs = []
        swept_staged = False
        if self.fs.isdir(ddir):
            for name in sorted(self.fs.listdir(ddir)):
                if name.startswith("staged-"):
                    # WAP dirs: shielded while their fragment exists
                    # (stage in flight or awaiting audit). Once the
                    # fragment is gone the dir is either published
                    # data (files protected below) or abort/crash
                    # debris (swept here).
                    try:
                        bid = int(name.split("-")[1])
                    except (IndexError, ValueError):
                        continue
                    if not self.fs.exists(self._staged_fragment_path(bid)):
                        commit_dirs.append(os.path.join(ddir, name))
                        swept_staged = True
                elif name.startswith("c"):
                    try:
                        dv = int(name[1:].split("-", 1)[0])
                    except ValueError:
                        continue
                    if dv < oldest_kept:
                        commit_dirs.append(os.path.join(ddir, name))
        if swept_staged:
            # TOCTOU shield for a publish racing this expire: a staged
            # dir whose fragment is gone was either aborted (debris) or
            # PUBLISHED -- and publish removes the fragment only AFTER
            # its commit, so if the fragment was already absent at
            # listing time the publishing commit is visible to a head
            # walk taken NOW. Re-derive the protected set so a
            # just-published batch's files (which live in the staged
            # dir, referenced in place) are never swept out from under
            # the new head. c{v} dirs don't need this: their age gate
            # (dv < oldest_kept) keeps concurrent writers out of range.
            protected |= _retained_protected()[1]
        for cdir in commit_dirs:
            for dirpath, _dirs, files in self.fs.walk_bottom_up(cdir):
                primaries = [
                    n for n in files
                    if not (n.startswith(".") and n.endswith(".crc"))
                    and n != "_SUCCESS"
                ]
                for name in primaries:
                    p = os.path.join(dirpath, name)
                    if os.path.relpath(p, self.root) in protected:
                        continue
                    self.fs.remove(p)
                    crc = os.path.join(dirpath, f".{name}.crc")
                    if self.fs.exists(crc):
                        self.fs.remove(crc)
                    n_files += 1
                residue = set(self.fs.listdir(dirpath))
                if residue and residue <= {"_SUCCESS", "._SUCCESS.crc"}:
                    for name in residue:  # only markers left -> dir is dead
                        self.fs.remove(os.path.join(dirpath, name))
                self.fs.rmdir_if_empty(dirpath)
        return {
            "expired_manifests": n_manifests,
            "deleted_files": n_files,
            "deleted_bloom_sidecars": n_sidecars,
            "oldest_kept_version": oldest_kept,
        }

    # ------------------------------------------------------------------
    def plan_maintenance(
        self,
        *,
        max_files_per_bucket: int = 4,
        small_file_bytes: int = 32 << 20,
        keep_last: int = 10,
        delta_bytes_ratio: float = 0.25,
        skew_ratio: float = 4.0,
    ) -> dict[str, Any]:
        """Inspect the current snapshot and recommend maintenance --
        the advisor half of an auto-compaction/retention daemon
        (Iceberg analogue: the metrics feeding rewrite_data_files /
        expire_snapshots scheduling; Delta: OPTIMIZE triggers). Pure
        metadata: manifest + file sizes through the FS seam, no Spark
        job -- cheap enough to run after every commit at any scale.

        Four findings, each an actionable dict in ``actions``:

        - ``compact`` (fragmentation): buckets whose live file count
          exceeds ``max_files_per_bucket`` -- every extra file is an
          extra scan task + LWW resolution input.
        - ``compact`` (delta backlog): buckets whose MoR delta bytes
          exceed ``delta_bytes_ratio`` of their base bytes -- read
          amplification grows with every merge until a fold.
        - ``compact`` (small files): buckets averaging under
          ``small_file_bytes`` per base file with >1 file -- the
          classic small-file problem; row-group-sized files waste
          scan tasks and footer overhead.
        - ``expire``: more than ``keep_last`` manifests on disk --
          time travel is accumulating history (and orphaned commit
          dirs are only swept by retention).

        Plus one advisory (never auto-applied): ``rebucket`` when the
        largest bucket holds more than ``skew_ratio`` x the median
        bucket's bytes -- hash-bucket skew that compaction cannot fix."""
        m = self.manifest()
        entries = self.file_entries()
        per: dict[int, dict[str, int]] = {}
        for ent in entries:
            st = per.setdefault(
                ent["bucket"],
                {"n_data": 0, "n_delta": 0, "bytes_data": 0, "bytes_delta": 0},
            )
            k = "data" if ent["kind"] == "data" else "delta"
            st[f"n_{k}"] += 1
            st[f"bytes_{k}"] += ent["size_bytes"] or 0

        actions: list[dict[str, Any]] = []
        frag = sorted(
            b for b, st in per.items()
            if st["n_data"] + st["n_delta"] > max_files_per_bucket
        )
        if frag:
            actions.append({
                "action": "compact",
                "reason": "fragmentation",
                "buckets": frag,
                "detail": f"live file count > {max_files_per_bucket}",
            })
        backlog = sorted(
            b for b, st in per.items()
            if b not in set(frag) and st["n_delta"] > 0
            and st["bytes_delta"] > delta_bytes_ratio * max(st["bytes_data"], 1)
        )
        if backlog:
            actions.append({
                "action": "compact",
                "reason": "delta_backlog",
                "buckets": backlog,
                "detail": f"delta bytes > {delta_bytes_ratio:g} x base bytes",
            })
        small = sorted(
            b for b, st in per.items()
            if b not in set(frag) and b not in set(backlog)
            and st["n_data"] > 1
            and st["bytes_data"] / st["n_data"] < small_file_bytes
        )
        if small:
            actions.append({
                "action": "compact",
                "reason": "small_files",
                "buckets": small,
                "detail": f"mean base file < {small_file_bytes} bytes",
            })

        mdir = os.path.join(self.root, MANIFEST_DIR)
        manifest_versions = []
        for name in self.fs.listdir(mdir):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    manifest_versions.append(int(name[1:-5]))
                except ValueError:
                    pass
        n_manifests = len(manifest_versions)
        # mirror expire_snapshots' actual horizon: keep_last newest,
        # extended down to the oldest tagged version -- otherwise a
        # pinned tag makes the finding a permanent no-op action and
        # maintain --apply never converges
        horizon = m["version"] - keep_last + 1
        pins = list(m.get("refs", {}).values())
        pins.extend(b["fork_version"] for b in self.branches().values())
        floor = min(pins, default=None)
        if floor is not None:
            horizon = min(horizon, floor)
        n_expirable = sum(1 for v in manifest_versions if v < horizon)
        if n_expirable > 0:
            actions.append({
                "action": "expire",
                "reason": "retention",
                "keep_last": keep_last,
                "detail": (
                    f"{n_expirable} of {n_manifests} snapshots below the "
                    f"retention horizon (keep_last={keep_last}"
                    + (f", tag-pinned floor v{floor}" if floor is not None
                       else "") + ")"
                ),
            })

        sizes = sorted(
            st["bytes_data"] + st["bytes_delta"] for st in per.values()
        )
        # LOWER median: with 2 buckets the upper-middle IS the max, which
        # could never exceed skew_ratio x itself
        if len(sizes) >= 2 and sizes[-1] > skew_ratio * max(
            sizes[(len(sizes) - 1) // 2], 1
        ):
            actions.append({
                "action": "rebucket",
                "reason": "skew",
                "advisory": True,
                "detail": (
                    f"largest bucket {sizes[-1]}B > {skew_ratio:g}x median "
                    f"{sizes[len(sizes) // 2]}B; rebucket()"
                ),
            })

        # bloom-coverage hole: a table that OPTED INTO the bloom index
        # (blooms_format present) loses coverage every time compact/cow
        # rewrites indexed files -- the rewrite's fresh files have no
        # sidecar entry until the next harvest, so point lookups degrade
        # to bucket scans. The re-harvest is the daemon's job, and it is
        # incremental (covered files skip), so the action is cheap to
        # apply whenever the hole is non-empty. An index of an older
        # format is ignored by the planner: re-harvest it whole.
        if m.get("blooms_format") not in (None, _bloom.BLOOM_FORMAT):
            actions.append({
                "action": "harvest_blooms",
                "reason": "bloom_format",
                "uncovered_files": len(entries),
                "detail": (
                    f"bloom index format {m['blooms_format']} is stale "
                    f"(current {_bloom.BLOOM_FORMAT}) and prunes nothing; "
                    "a re-harvest indexes every live file"),
            })
        elif m.get("blooms_format") is not None:
            live_rels = {e["path"] for e in entries}
            covered: set[str] = set()
            for sc_rel, cov in (m.get("bloom_files") or {}).items():
                if self._bloom_sidecar(sc_rel) is not None:
                    covered.update(cov)
            holes = len(live_rels - covered)
            if holes:
                actions.append({
                    "action": "harvest_blooms",
                    "reason": "bloom_coverage",
                    "uncovered_files": holes,
                    "detail": (
                        f"{holes} of {len(live_rels)} live files lack a "
                        "readable bloom entry (rewrites orphan their "
                        "sidecars); incremental re-harvest restores "
                        "point-lookup file skipping"),
                })

        return {
            "table": self.root,
            "version": m["version"],
            "n_buckets_live": len(per),
            "n_files": len(entries),
            "n_manifests": n_manifests,
            "actions": actions,
        }

    def maintain(
        self, spark: SparkSession, apply: bool = False, **thresholds: Any
    ) -> dict[str, Any]:
        """Run ``plan_maintenance`` and (with ``apply=True``) execute
        the non-advisory actions: one targeted ``compact`` over the
        union of flagged buckets, then ``expire_snapshots``. Rebucket
        stays advisory -- it rewrites the whole table and changes its
        layout, a decision for the operator. Each executed action
        records its outcome in the returned plan; maintenance is
        semantics-preserving (compact materializes the resolved state,
        expire only drops unreferenced history), which the tests assert
        by diffing the resolved read across the run."""
        plan = self.plan_maintenance(**thresholds)
        if not apply:
            return plan
        compact_buckets = sorted({
            b for a in plan["actions"]
            if a["action"] == "compact" for b in a["buckets"]
        })
        if compact_buckets:
            v = self.compact(spark, buckets=compact_buckets)
            for a in plan["actions"]:
                if a["action"] == "compact":
                    a["applied_version"] = v
        for a in plan["actions"]:
            if a["action"] == "expire":
                a["result"] = self.expire_snapshots(keep_last=a["keep_last"])
        # AFTER compact: the rewrite just produced fresh uncovered files;
        # the harvest is incremental over the CURRENT head, so one pass
        # here covers both the plan's holes and the compact's output
        for a in plan["actions"]:
            if a["action"] == "harvest_blooms":
                a["result"] = self.harvest_blooms(spark)
        return plan

    # ------------------------------------------------------------------
    def analyze(
        self, spark: SparkSession, columns: list[str] | None = None,
    ) -> dict[str, Any]:
        """ANALYZE TABLE: per-column null counts and an NDV
        (number-of-distinct-values) estimate over the RESOLVED current
        snapshot, recorded in the manifest as a metadata-only commit
        and surfaced by ``describe`` / ``table_stats``. Iceberg
        analogue: ``compute_table_stats`` persisting per-column theta
        sketches in puffin files; the estimator here is a deterministic
        md5 HyperLogLog (m=64 registers per column, ~13% relative
        error) with the standard linear-counting small-range correction
        -- applied driver-side, where using ln() is safe (no DuckDB
        oracle has to reproduce it).

        Cost: ONE Spark job regardless of table width or height. The
        scan stacks the requested columns into (column, value) pairs;
        the register aggregation is algebraic, so partial agg collapses
        every partition to <= 64 small integers per column before the
        shuffle -- O(columns x 64) bytes on the wire for a 10^10-row
        table. The stats commit carries no data files: readers,
        ``read_changes`` and ``mirror`` treat it as a no-op (same
        contract as tag/untag), and it rebases freely onto concurrent
        commits.

        NDV feeds the optimizer-adjacent decisions this engine makes
        by hand at 100 TB: whether a dimension side is broadcastable,
        whether a merge key is skewed enough to salt
        (``plan_maintenance``'s rebucket advisory is bytes-based; NDV
        per key column is the row-based complement), and how many
        buckets a rebucket should target."""
        from ..functions.sketchlib import (
            hll_denom_term, hll_estimate, hll_rho, md5_long,
        )

        m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        engine_cols = {LSN_COL, DELETED_COL}
        names = [f.name for f in schema.fields if f.name not in engine_cols]
        if columns is not None:
            unknown = set(columns) - set(names)
            if unknown:
                raise ValueError(f"unknown columns: {sorted(unknown)}")
            names = [n for n in names if n in set(columns)]
        if not names:
            raise ValueError("no columns to analyze")

        hll_m, rest_bits = 64, 54  # 60-bit md5 hash: 6 bucket bits + 54
        pairs = []
        for n in names:
            dt = schema[n].dataType
            sval = (F.base64(F.col(n)) if isinstance(dt, T.BinaryType)
                    else F.col(n).cast("string"))
            pairs.append(F.struct(F.lit(n).alias("c"), sval.alias("s")))
        ex = (
            # pinned to THIS manifest: self.read(spark) would re-plan the
            # head, and a concurrent commit between manifest() and the
            # scan would make analyzed_version lie about what was counted
            self.read(spark, version=m["version"])
            .select(F.explode(F.array(*pairs)).alias("p"))
            .select("p.c", "p.s")
        )
        hv = md5_long(F.col("s"))
        tagged = ex.select(
            "c", "s", hv.alias("hv")
        ).select(
            "c", "s",
            (F.col("hv") % hll_m).alias("b"),
            F.expr(f"hv DIV {hll_m}").alias("rest"),
        )
        rho = F.when(F.col("s").isNull(), None).otherwise(
            hll_rho(F.col("rest"), rest_bits)
        )
        g1 = tagged.groupBy(
            "c", F.when(F.col("s").isNull(), None).otherwise(F.col("b")).alias("b")
        ).agg(
            F.max(rho).alias("mreg"),
            F.count(F.lit(1)).alias("n"),
        )
        per_col = g1.groupBy("c").agg(
            F.sum("n").alias("n_rows"),
            F.sum(F.when(F.col("b").isNull(), F.col("n")).otherwise(0)).alias(
                "n_nulls"
            ),
            F.count(F.when(F.col("b").isNotNull(), 1)).alias("nonzero"),
            F.sum(
                F.when(F.col("b").isNotNull(),
                       hll_denom_term("mreg", rest_bits))
            ).alias("denom"),
        ).collect()

        n_rows = 0
        colstats: dict[str, dict[str, int]] = {}
        for r in per_col:
            n_rows = max(n_rows, r["n_rows"])
            est = hll_estimate(r["nonzero"], r["denom"], hll_m, rest_bits)
            colstats[r["c"]] = {
                "ndv": int(round(est)),
                "n_nulls": int(r["n_nulls"] or 0),
            }
        table_stats = {
            "analyzed_version": m["version"],
            "n_rows": int(n_rows),
            "columns": colstats,
        }

        def build(mp: dict[str, Any]) -> dict[str, Any]:
            v = mp["version"] + 1
            return {
                **mp,
                "version": v,
                "parent": mp["version"],
                "table_stats": table_stats,
                "audit": None,
                "lineage": [],
                "summary": {"operation": "analyze", "columns": names},
                "committed_at": _utc_now_iso(),
            }

        committed = self._commit_with_rebase(m, build)
        return {"version": committed["version"], **table_stats}

    def harvest_blooms(
        self,
        spark: SparkSession,
        bits_per_key: int = 10,
        k: int = 5,
        max_m_bits: int = 1 << 22,
    ) -> dict[str, Any]:
        """Build the MERGE-KEY Bloom index for every live data/delta
        file not yet covered (INCREMENTAL: re-run after appends/merges
        to extend coverage; already-indexed files are skipped). One
        puffin-style sidecar per harvest (sources/bloomindex.py has the
        format and the soundness argument), referenced by a metadata-
        only commit that versions, time-travels and rebases like
        analyze/tag. Consumed by ``lookup`` / ``read(keys=...)`` /
        ``plan_files(keys=...)`` for file skipping inside hashed
        buckets.

        Cost: O(files) driver-side footer reads (row counts size the
        filter: m = next pow2 of bits_per_key x largest file's rows,
        capped at ``max_m_bits`` -- an over-full filter just skips
        less, never wrongly) + ONE Spark job over just the key column
        of the uncovered files, folding bit positions into 64-bit
        words JVM-side (bit_or partial agg: the driver receives
        O(m/64) longs per file, never rows). Delta files are indexed
        too -- a tombstone's key must keep its bucket visible or
        lookup could resurrect an older row.

        Iceberg analogue: puffin blob files + the manifest's
        referenced-blob list. Reference capability it extends: the
        loader's control-file manifest has no file-skipping metadata
        at all (/root/reference/src/YADAMU/loader/node/loaderDBI.js:321)."""
        from .bloomindex import BLOOM_FORMAT, MAX_K

        if not 1 <= k <= MAX_K:
            raise ValueError(
                f"k must be in [1, {MAX_K}]: the Spark-side position "
                f"expression h1 + i*h2 overflows int64 beyond k={MAX_K} "
                f"(bloomindex.MAX_K), silently diverging from the "
                f"driver-side big-int hash")
        if bits_per_key < 1:
            raise ValueError("bits_per_key must be >= 1")
        m = self.manifest()
        key = m["key"]
        ks = _keylist(key)
        schema = T.StructType.fromJson(m["schema"])
        bad = [kc for kc in ks if not _driver_hashable(schema[kc].dataType)]
        if bad:
            raise ValueError(
                f"bloom index needs a merge key the driver hashes "
                f"(_driver_hashable); {bad[0]} is "
                f"{schema[bad[0]].dataType.simpleString()}")
        live = self._files(m, None, strip=True) + self._files(
            m, None, "deltas", strip=True)
        # a file counts as covered only if its sidecar is actually
        # READABLE: a lost/corrupt sidecar (corruption, or the expire
        # race below) leaves a dead manifest ref -- re-harvesting must
        # repair the coverage hole, not no-op on the dead ref forever
        covered: set[str] = set()
        if m.get("blooms_format") == BLOOM_FORMAT:
            for sc_rel, cov in (m.get("bloom_files") or {}).items():
                if self._bloom_sidecar(sc_rel) is not None:
                    covered.update(cov)
        todo = sorted(f for f in live if f not in covered)
        if not todo:
            return {"version": m["version"], "files_indexed": 0,
                    "sidecar": None}

        import pyarrow.parquet as pq
        n_max = 1
        for rel in todo:
            with self.fs.open_read(os.path.join(self.root, rel)) as fobj:
                n_max = max(n_max, pq.ParquetFile(fobj).metadata.num_rows)
        m_bits = 1024
        while m_bits < bits_per_key * n_max and m_bits < max_m_bits:
            m_bits *= 2

        # match files back by their last two path components: commit
        # dirs are uuid-unique, so the suffix is globally unique and
        # survives whatever URI prefix input_file_name renders
        suffix_of = {"/".join(rel.split("/")[-2:]): rel for rel in todo}
        paths = [self.fs.spark_path(os.path.join(self.root, rel))
                 for rel in todo]
        kschema = T.StructType(
            [T.StructField(kc, schema[kc].dataType) for kc in ks])
        nn = F.col(ks[0]).isNotNull()
        for kc in ks[1:]:
            nn = nn & F.col(kc).isNotNull()
        h1, h2 = _bloom_hash_exprs(ks)
        pos = F.explode(F.array(
            *[(h1 + F.lit(i) * h2) % F.lit(m_bits) for i in range(k)]
        )).alias("p")
        rows = (
            spark.read.schema(kschema).parquet(*paths)
            .select(F.regexp_extract(F.input_file_name(),
                                     r"([^/]+/[^/]+)$", 1).alias("f"),
                    *[F.col(kc) for kc in ks])
            .where(nn)
            .select("f", pos)
            .select(
                "f",
                F.expr("p DIV 64").alias("w"),
                F.expr("shiftleft(CAST(1 AS BIGINT), "
                       "CAST(p % 64 AS INT))").alias("mask"),
            )
            .groupBy("f", "w")
            .agg(F.expr("bit_or(mask)").alias("word"))
            .collect()
        )
        words: dict[str, dict[int, int]] = {}
        for r in rows:
            rel = suffix_of.get(r["f"])
            if rel is not None:
                words.setdefault(rel, {})[int(r["w"])] = int(r["word"])
        # files absent from `words` held only NULL keys: an all-zero
        # bloom is exactly right (no probe can match a NULL key)
        payload = {
            rel: _bloom.encode_bitset(words.get(rel, {}), m_bits)
            for rel in todo
        }
        sc_rel = os.path.join(
            MANIFEST_DIR, "blooms",
            f"b{m['version']:012d}-{uuid.uuid4().hex[:8]}.json")
        sc_path = os.path.join(self.root, sc_rel)
        sc_text = _bloom.encode_sidecar(key, m_bits, k, payload)
        self.fs.makedirs(os.path.dirname(sc_path))
        self.fs.put_atomic(sc_path, sc_text)

        def build(mp: dict[str, Any]) -> dict[str, Any]:
            v = mp["version"] + 1
            bf = (dict(mp.get("bloom_files") or {})
                  if mp.get("blooms_format") == BLOOM_FORMAT else {})
            bf[sc_rel] = todo
            return {
                **mp,
                "version": v,
                "parent": mp["version"],
                "bloom_files": bf,
                "blooms_format": BLOOM_FORMAT,
                "audit": None,
                "lineage": [],
                "summary": {"operation": "harvest_blooms",
                            "files": len(todo), "m_bits": m_bits, "k": k},
                "committed_at": _utc_now_iso(),
            }

        committed = self._commit_with_rebase(m, build)
        if not self.fs.exists(sc_path):
            # expire race: if >= keep_last commits landed between our
            # manifest read (the sidecar's b{v} name) and the rebased
            # commit, a concurrent expire_snapshots may have swept the
            # then-unreferenced sidecar. Now that the commit references
            # it, re-put the identical content (idempotent) -- readers
            # in the gap degraded to scans, which is always sound.
            self.fs.put_atomic(sc_path, sc_text)
        return {"version": committed["version"], "files_indexed": len(todo),
                "m_bits": m_bits, "k": k, "sidecar": sc_rel}

