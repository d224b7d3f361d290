"""LakeTable refs surface: named tags, CHECK constraints, writable
branches with fast-forward, snapshot rollback and timestamp time
travel. Mechanically split from laketable.py (round 4); see the
laketable module docstring for the design."""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fsio import CommitConflict
from .lakebase import (
    RebaseError, MANIFEST_DIR, CURRENT, BRANCHES_SUBDIR, BRANCH_META,
    MAIN_BRANCH, STATS_FORMAT, _utc_now_iso,
)


class RefsMixin:
    """Tags / constraints / branches / rollback (mixed into LakeTable)."""

    # ------------------------------------------------------------------
    # named refs (Iceberg tags) + timestamp time travel
    # ------------------------------------------------------------------
    def refs(self) -> dict[str, int]:
        """Current named refs: ``{tag_name: version}``."""
        return dict(self.manifest().get("refs", {}))

    def resolve_ref(self, name: str) -> int:
        r = self.manifest().get("refs", {})
        if name not in r:
            raise ValueError(
                f"unknown ref {name!r} (have: {sorted(r) or 'none'})")
        return int(r[name])

    def tag(self, name: str, version: int | None = None) -> int:
        """Create or move a named ref to ``version`` (default: head) --
        Iceberg's ``CREATE TAG``: a durable, human-named snapshot
        pointer for audits and reproducible reads. The ref rides the
        manifest, so setting it is a metadata-only commit (no Spark
        job, no data files) that rebases onto any concurrent commit,
        and ``expire_snapshots`` will NOT expire at or past a tagged
        version -- a tag pins its snapshot's history until untagged.
        Returns the new table version."""
        if not name or name.isdigit() or not all(
                c.isalnum() or c in "._-" for c in name):
            raise ValueError(
                f"bad tag name {name!r}: need [A-Za-z0-9._-]+, not all digits")
        m = self.manifest()
        target = m["version"] if version is None else int(version)
        self.manifest(target)  # must exist (raises if expired/unknown)

        def build(mp: dict[str, Any]) -> dict[str, Any]:
            v = mp["version"] + 1
            return {
                **mp,
                "version": v,
                "parent": mp["version"],
                "refs": {**mp.get("refs", {}), name: target},
                "audit": None,
                "lineage": [],
                "summary": {"operation": "tag", "name": name,
                            "target": target},
                "committed_at": _utc_now_iso(),
            }

        return self._commit_with_rebase(m, build)["version"]

    def untag(self, name: str) -> int:
        """Drop a named ref (its snapshot becomes expirable again)."""
        m = self.manifest()
        if name not in m.get("refs", {}):
            raise ValueError(f"unknown ref {name!r}")

        def build(mp: dict[str, Any]) -> dict[str, Any]:
            refs = {k: v for k, v in mp.get("refs", {}).items() if k != name}
            v = mp["version"] + 1
            return {
                **mp,
                "version": v,
                "parent": mp["version"],
                "refs": refs,
                "audit": None,
                "lineage": [],
                "summary": {"operation": "untag", "name": name},
                "committed_at": _utc_now_iso(),
            }

        return self._commit_with_rebase(m, build)["version"]

    # ------------------------------------------------------------------
    # CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT; NOT NULL is
    # the special case ``col IS NOT NULL``)
    # ------------------------------------------------------------------
    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints: ``{name: sql_boolean_expr}``."""
        return dict(self.manifest().get("constraints", {}))

    def add_constraint(self, spark: SparkSession, name: str, check: str,
                       validate: bool = True) -> int:
        """Declare a CHECK constraint: a SQL boolean expression over the
        public columns that every NON-DELETE row must satisfy (SQL
        semantics: only FALSE violates; NULL passes -- add an explicit
        ``IS NOT NULL`` to forbid it). Rides the manifest as a
        metadata-only commit, so it versions, time-travels, rebases and
        mirrors like any other table property.

        Enforcement points: ``operators.apply.apply_batch`` quarantines
        violating events (reason ``check:<name>``, composing with the
        ON_ERROR policy exactly like structural errors -- the
        reference's per-row error funnel, yadamuOutputManager
        rejection-file contract); ``append``, ``overwrite_where``
        replacement rows and ``update_where`` assigned values abort the
        commit whole -- each violation count rides a pass the write
        already makes (bulk-write Observation / REPLACE-WHERE probe),
        so enforcement costs no extra job and a failed commit leaves
        no trace (speculative dirs removed, manifest untouched).
        The low-level ``merge`` primitive sits BELOW the constraint
        layer (like Iceberg's format-vs-engine split); every public
        ingest surface routes through an enforcing path.

        ``validate=True`` (one count job) proves the CURRENT snapshot
        satisfies the check first, so a scan can trust the constraint
        over all data, old and new."""
        if not name or name.isdigit() or not all(
                c.isalnum() or c in "._-" for c in name):
            raise ValueError(
                f"bad constraint name {name!r}: need [A-Za-z0-9._-]+, "
                "not all digits")
        m = self.manifest()
        if name in m.get("constraints", {}):
            raise ValueError(f"constraint {name!r} already exists")
        schema = T.StructType.fromJson(m["schema"])
        # resolve the expression against the PUBLIC schema now (empty
        # local relation: analysis only, no job) -- a typo'd column
        # must fail here, not inside some future batch's quarantine
        probe = spark.createDataFrame([], schema)
        try:
            probe.select(F.expr(check).cast("boolean"))
        except Exception as exc:
            raise ValueError(
                f"constraint {name!r} does not resolve against the "
                f"table schema: {exc}") from exc
        if validate:
            bad = self.read(spark).filter(
                ~F.coalesce(F.expr(check).cast("boolean"), F.lit(True))
            ).count()
            if bad:
                raise ValueError(
                    f"constraint {name!r} rejected: {bad} existing rows "
                    "violate it (fix the data or pass validate=False "
                    "to enforce on new writes only)")

        def build(mp: dict[str, Any]) -> dict[str, Any]:
            if name in mp.get("constraints", {}):
                raise RebaseError(
                    f"constraint {name!r} added concurrently")
            v = mp["version"] + 1
            return {
                **mp,
                "version": v,
                "parent": mp["version"],
                "constraints": {**mp.get("constraints", {}), name: check},
                "audit": None,
                "lineage": [],
                "summary": {"operation": "add_constraint", "name": name,
                            "check": check},
                "committed_at": _utc_now_iso(),
            }

        return self._commit_with_rebase(m, build)["version"]

    def drop_constraint(self, name: str) -> int:
        """Remove a CHECK constraint (metadata-only commit)."""
        m = self.manifest()
        if name not in m.get("constraints", {}):
            raise ValueError(
                f"unknown constraint {name!r} "
                f"(have: {sorted(m.get('constraints', {})) or 'none'})")

        def build(mp: dict[str, Any]) -> dict[str, Any]:
            cons = {k: v for k, v in mp.get("constraints", {}).items()
                    if k != name}
            v = mp["version"] + 1
            return {
                **mp,
                "version": v,
                "parent": mp["version"],
                "constraints": cons,
                "audit": None,
                "lineage": [],
                "summary": {"operation": "drop_constraint", "name": name},
                "committed_at": _utc_now_iso(),
            }

        return self._commit_with_rebase(m, build)["version"]

    def _constraints_referencing(self, column: str) -> list[str]:
        """Constraint names whose check text mentions ``column`` (word-
        boundary match -- conservative: a false positive merely asks the
        user to drop/re-add the constraint around a column change)."""
        import re

        pat = re.compile(rf"(?<![A-Za-z0-9_`]){re.escape(column)}(?![A-Za-z0-9_])")
        return sorted(
            n for n, c in self.manifest().get("constraints", {}).items()
            if pat.search(c)
        )

    # ------------------------------------------------------------------
    # branches (Iceberg writable refs): an isolated line of commits that
    # fast-forwards back onto main
    # ------------------------------------------------------------------
    def _require_main(self, op: str) -> None:
        if self.branch != MAIN_BRANCH:
            raise ValueError(
                f"{op} must run on the main view, not branch {self.branch!r}")

    def for_branch(self, name: str) -> "LakeTable":
        """A view of this table bound to branch ``name`` -- every read
        (read/lookup/plan_files/read_changes/time travel) and every
        commit (merge/append/compact/delete_where/...) on the returned
        handle targets the branch's line of history; main is untouched
        until ``fast_forward``. ``for_branch("main")`` returns the main
        view."""
        if name == MAIN_BRANCH:
            return type(self)(self.root, fs=self.fs)
        t = type(self)(self.root, fs=self.fs, branch=name)
        t.fork_version()  # raises ValueError when the branch is unknown
        return t

    def create_branch(self, name: str,
                      version: int | str | None = None) -> "LakeTable":
        """Create branch ``name`` at ``version`` (default: main head) --
        Iceberg's ``CREATE BRANCH``: a WRITABLE named ref. Commits on
        the branch land in the branch's own manifest namespace under
        the SAME monotonic version numbering (first branch commit =
        fork+1), write their data into the shared data root, and run
        the full commit protocol (name-CAS, rebase, fencing)
        per-branch. Existence is itself a name-CAS (put-if-absent of
        the branch metadata), so two concurrent creates race safely.
        A live branch PINS main's retention at its fork point (like a
        tag) -- drop stale branches or they block expiry. Returns the
        branch view."""
        self._require_main("create_branch")
        if not name or name.isdigit() or name == MAIN_BRANCH or not all(
                c.isalnum() or c in "._-" for c in name):
            raise ValueError(
                f"bad branch name {name!r}: need [A-Za-z0-9._-]+, "
                "not all digits, not 'main'")
        m = self.manifest()
        if isinstance(version, str):
            version = self.resolve_ref(version)
        fork = m["version"] if version is None else int(version)
        self.manifest(fork)  # must exist (raises if expired/unknown)
        bdir = self._branch_dir(name)
        self.fs.makedirs(bdir)
        meta = {"fork_version": fork, "created_at": _utc_now_iso()}
        try:
            self.fs.put_if_absent(
                os.path.join(bdir, BRANCH_META), json.dumps(meta))
        except CommitConflict:
            raise FileExistsError(
                f"branch {name!r} already exists at {self.root}") from None
        return self.for_branch(name)

    def branches(self) -> dict[str, dict[str, int]]:
        """Live branches: ``{name: {fork_version, head}}``. Driver-side
        listing; half-created branches (crash between mkdir and the
        metadata put) are skipped -- a retried create completes them."""
        broot = os.path.join(self.root, MANIFEST_DIR, BRANCHES_SUBDIR)
        out: dict[str, dict[str, int]] = {}
        if not self.fs.isdir(broot):
            return out
        for name in sorted(self.fs.listdir(broot)):
            if not self.fs.exists(os.path.join(self._branch_dir(name),
                                               BRANCH_META)):
                continue
            b = type(self)(self.root, fs=self.fs, branch=name)
            out[name] = {"fork_version": b.fork_version(),
                         "head": b.current_version()}
        return out

    def drop_branch(self, name: str) -> None:
        """Delete branch ``name`` (metadata + branch manifests). Data
        files written by branch-only commits become orphans under
        version-prefixed commit dirs at or above the fork; they age out
        of ``expire_snapshots`` the same way crashed-commit debris
        does, once main's retained horizon passes them."""
        self._require_main("drop_branch")
        bdir = self._branch_dir(name)
        if not self.fs.exists(os.path.join(bdir, BRANCH_META)):
            raise ValueError(f"unknown branch {name!r}")
        self.fs.rmtree(bdir)

    def fast_forward(self, name: str) -> int:
        """Publish branch ``name`` onto main (Iceberg
        ``fast_forward``): adopt the branch's commits fork+1..head as
        main's own, PRESERVING every manifest byte-for-byte -- version
        numbers, parent chain, audit rows, fence ledger and lineage all
        carry over, so downstream ``read_changes``/``follow_changes``
        cursors continue across the publish without a seam.

        Atomicity rides the same name-CAS as every commit: each branch
        manifest is put-if-absent at main's path for that version. If
        main committed anything after the fork, the FIRST put conflicts
        with different content and the whole fast-forward aborts with
        ``RebaseError`` (branch diverged; main is left exactly as it
        was -- a byte-identical prefix from a crashed earlier attempt
        is recognized and skipped, making the operation resumable and
        idempotent). On success the branch is dropped. Returns main's
        new head version."""
        self._require_main("fast_forward")
        br = self.for_branch(name)
        fork, bhead = br.fork_version(), br.current_version()
        for v in range(fork + 1, bhead + 1):
            txt = self.fs.read_text(br._manifest_path(v))
            path = os.path.join(self.root, MANIFEST_DIR, f"v{v:012d}.json")
            try:
                self.fs.put_if_absent(path, txt)
            except CommitConflict:
                if self.fs.read_text(path) != txt:
                    raise RebaseError(
                        f"cannot fast-forward {name!r}: main diverged at "
                        f"v{v} (rebase by re-branching from the new head)"
                    ) from None
        if bhead > fork:
            self.fs.put_atomic(
                os.path.join(self.root, MANIFEST_DIR, CURRENT), str(bhead))
        self.drop_branch(name)
        return bhead

    def rollback_to(self, version: int | str) -> int:
        """Revert the table to an earlier RETAINED snapshot (Iceberg
        ``rollback_to_snapshot``): a metadata-only commit -- no Spark
        job, no data files -- whose state (schema, layout, file refs,
        zone stats) is the target's. History is preserved: the bad
        commits stay in the chain (auditable, still time-travelable
        until expired); the rollback is a NEW version on top.

        CDC semantics (the reason this engine needs rollback at all --
        a bad batch landed, revert and re-replay):

        - the fence ledger reverts WITH the state, so re-replaying the
          reverted batches from the WAL applies them again instead of
          no-opping against a stale fence -- revert + replay is the
          recovery story, and it stays exactly-once per replay;
        - ``lsn_high`` does NOT revert -- it takes a +1 bump instead,
          so post-rollback synthetic stamps (update_where, the change
          tail's revert/delete stamps) stay above everything any
          downstream consumer has already applied, and successive
          rollbacks get distinct stamp bands;
        - a change window crossing the rollback takes ``read_changes``'
          snapshot-diff path automatically (a rollback changes data
          without adding delta files) and emits the WHOLE window with
          NULL ``_lsn`` for the tail to stamp (physical LSNs receded,
          and resurrected keys may face a higher-LSN tombstone
          downstream) -- a mirror follows the revert instead of
          diverging.

        Composes with branches (it is an ordinary build-commit) and
        with concurrent writers via the usual rebase -- though
        rebasing a rollback past an intervening data commit would
        silently drop that commit, so any intervening commit aborts
        the rollback with ``RebaseError`` (re-issue against the new
        head if the revert is still right). Returns the new version."""
        m = self.manifest()
        if isinstance(version, str):
            version = self.resolve_ref(version)
        target = int(version)
        if target >= m["version"]:
            raise ValueError(
                f"rollback target v{target} is not older than the head "
                f"v{m['version']}")
        try:
            tgt = self.manifest(target)
        except FileNotFoundError:
            raise ValueError(
                f"rollback target v{target} has been expired by "
                "expire_snapshots (or never existed)") from None
        base_version = m["version"]

        def build(mp: dict[str, Any]) -> dict[str, Any]:
            if mp["version"] != base_version:
                raise RebaseError(
                    f"rollback aborted: v{mp['version']} landed after the "
                    f"rollback was planned against v{base_version} -- "
                    "re-issue against the new head")
            v = mp["version"] + 1
            # never launder stats stamped by an older harvester
            stats = (dict(tgt.get("stats", {}))
                     if tgt.get("stats_format") == STATS_FORMAT else {})
            return {
                **mp,
                "version": v,
                "parent": mp["version"],
                "key": tgt["key"],
                "bucket_count": tgt["bucket_count"],
                "merge_mode": tgt.get("merge_mode", "cow"),
                "schema": tgt["schema"],
                "buckets": tgt["buckets"],
                "deltas": tgt.get("deltas", {}),
                "applied_batches": tgt["applied_batches"],
                "lsn_high": max(mp.get("lsn_high") or 0,
                                tgt.get("lsn_high") or 0) + 1,
                "stats": stats,
                "file_rows": tgt.get("file_rows", {}),
                "audit": None,
                "lineage": [],
                "summary": {"operation": "rollback", "target": target,
                            "reverted_from": base_version},
                "committed_at": _utc_now_iso(),
            }

        return self._commit_with_rebase(m, build)["version"]

    def version_as_of(self, ts) -> int:
        """``TIMESTAMP AS OF``: the newest version whose commit landed
        at or before ``ts`` (datetime; naive = UTC, matching the
        manifests' UTC ``committed_at`` stamps -- second resolution).
        Raises when every retained commit is newer (or that history has
        been expired): Iceberg's contract for a pre-history timestamp.
        Driver-side parent walk, O(versions back), no Spark job."""
        import datetime as _dt

        if ts.tzinfo is not None:
            ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        v: int | None = self.current_version()
        while v is not None:
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                break  # expired history
            committed = _dt.datetime.strptime(
                m["committed_at"], "%Y-%m-%dT%H:%M:%SZ")
            if committed <= ts:
                return m["version"]
            v = m["parent"]
        raise ValueError(
            f"no retained snapshot at or before {ts.isoformat()}Z")

