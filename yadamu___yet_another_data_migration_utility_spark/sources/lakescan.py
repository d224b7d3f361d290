"""LakeTable read path: the shared scan planner (bucket pruning, zone
maps, Bloom file skipping), snapshot reads with MoR resolution,
point lookup, the incremental change stream, and the metadata
tables (snapshots/files/history/lineage). Mechanically split from
laketable.py (round 4); see the laketable module docstring."""

from __future__ import annotations

import json
import os
import time
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import bloomindex as _bloom
from .lakebase import (
    LSN_COL, DELETED_COL, STATS_FORMAT,
    _keylist, _keys_residual, _lww, _resolve, _inherit_stats,
    _zone_kind, _enc_bound, _disjoint, _driver_hashable, _bucket_id,
    _bloom_hashes, _probe_tuples, _key_envelope, _arrow_key_filter,
    _align_arrow, _match_probes, _top_rank, _check_probe_arity,
)


def _lookup_winners(rows: pa.Table, ks: list[str]) -> pa.Table | None:
    """``lookup``'s policy over ``_top_rank``: per key of an
    in-process (base ∪ delta) row set, the row ranked highest by
    ``(coalesce(_lsn, -1), live over tombstone)`` wins, a key whose
    winner is a tombstone is dropped, and the winner's own ``_lsn``
    (NULL included) is kept. Returns None when a key's top rank ties
    between live rows whose content differs (NaN never equals itself):
    only ``_lsn_rank``'s content hash orders those, and it is not
    reimplemented here -- the caller answers through Spark."""
    import pyarrow.compute as pc

    live = pc.invert(pc.fill_null(rows.column(DELETED_COL), False))
    ranked = rows.select(ks).append_column(
        "_l", pc.fill_null(rows.column(LSN_COL), -1)).append_column("_live", live)
    top, first = _top_rank(ranked, ks, ["_l", "_live"])
    is_live = live.to_numpy(zero_copy_only=False)
    win, tied = top[first], top[~first]
    head = win[np.cumsum(first)[~first] - 1]  # the winner each tie ties with
    live_tie = is_live[tied]  # a top rank is all live or all tombstones
    tied, head = tied[live_tie], head[live_tie]
    if tied.size:
        content = rows.drop_columns(ks + [LSN_COL, DELETED_COL])
        if content.take(tied).to_pylist() != content.take(head).to_pylist():
            return None
    return rows.take(win[is_live[win]]).drop_columns([DELETED_COL])


class ScanMixin:
    """Read path + metadata tables (mixed into LakeTable)."""

    # ------------------------------------------------------------------
    # read path
    # ------------------------------------------------------------------
    def schema(self, version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(self.manifest(version)["schema"])

    def _files(self, manifest: dict[str, Any], buckets: list[int] | None = None,
               which: str = "buckets", strip: bool = False) -> list[str]:
        out: list[str] = []
        for b, files in manifest.get(which, {}).items():
            if buckets is None or int(b) in buckets:
                out.extend(
                    f if strip
                    else self.fs.spark_path(os.path.join(self.root, f))
                    for f in files
                )
        return out

    def _plan_scan(
        self,
        m: dict[str, Any],
        buckets: list[int] | None,
        ranges: dict[str, tuple] | None,
        tz: str | None = None,
        keys: list | None = None,
    ) -> tuple[list[str], list[int]]:
        """ONE planner for ``read``, ``lookup`` and ``plan_files`` (they
        must never drift: plan_files IS the explanation of what read
        and lookup scan): returns ``(plain_rel_paths,
        delta_bucket_ids)`` after bucket pruning, zone-map file
        skipping, and (with ``keys``) key pruning. A delta-touched
        bucket is dropped only when EVERY file in it is provably
        disjoint / provably key-free. ``tz`` names the timezone naive
        timestamp bounds are expressed in -- ``read`` passes ITS
        session's setting so the prune and the residual filter can
        never disagree; None falls back to the active session (or
        UTC).

        ``keys`` are probe values of the MERGE KEY, pruned three ways:
        to the buckets the probes hash to (``_bucket_id``, the driver-
        side twin of the write path's ``_bucket_expr``); through the
        key zone maps with each key column's ``[min, max]`` probe
        envelope (key-clustered files -- append sort_within / compact
        sort -- then skip inside a bucket); and through the bloom
        sidecars (sources/bloomindex.py), which reject files for
        uniformly scattered keys. None of the three has false
        negatives, so every skip is exact; files without stats or a
        bloom entry always scan. Bucket and bloom pruning need the key
        hash: they apply only to ``_driver_hashable`` key types, and a
        probe that is not a value of its key column's type disables
        both (the read's residual filter then decides how it
        compares)."""
        schema = T.StructType.fromJson(m["schema"])
        enc: dict[str, tuple] = {}
        kenc: dict[str, tuple] = {}
        kinds = {f.name: _zone_kind(f.dataType) for f in schema.fields}
        if ranges:
            bad = [c for c in ranges if c not in kinds]
            if bad:
                raise ValueError(f"ranges on unknown columns: {bad}")
            # encode each bound ONCE, type-checked against the column
            # (a bound whose type doesn't match the column never prunes
            # -- the residual filter still applies it exactly)
            for col, (lo, hi) in ranges.items():
                k = kinds[col]
                enc[col] = (_enc_bound(lo, k, tz), _enc_bound(hi, k, tz), k,
                            hi is not None)
        rejects = None
        if keys is not None:
            ks = _keylist(m["key"])
            probes = _probe_tuples(ks, keys)
            ktypes = [schema[k].dataType for k in ks]
            if all(_driver_hashable(t) for t in ktypes):
                try:
                    hashed = {_bucket_id(t, ktypes, m["bucket_count"])
                              for t in probes}
                except TypeError:
                    hashed = None
                if hashed is not None:
                    buckets = sorted(hashed if buckets is None
                                     else hashed.intersection(buckets))
                    rejects = self._bloom_rejector(m, probes, ktypes)
            for col, (lo, hi) in _key_envelope(ks, probes).items():
                k = kinds[col]
                kenc[col] = (_enc_bound(lo, k, tz), _enc_bound(hi, k, tz), k,
                             True)
        # pre-fix manifests may carry zones written by an unsound
        # harvester (NaN-narrowed floats, unpadded years): prune only on
        # stats stamped with the CURRENT format
        stats = (
            m.get("stats", {})
            if (enc or kenc) and m.get("stats_format") == STATS_FORMAT
            else {}
        )

        def _skip(f: str) -> bool:
            return bool(
                (enc and _disjoint(stats.get(f), enc))
                or (kenc and _disjoint(stats.get(f), kenc))
                or (rejects is not None and rejects(f)))

        deltas = m.get("deltas", {})
        delta_buckets = [
            int(b) for b, fl in deltas.items()
            if fl and (buckets is None or int(b) in buckets)
        ]
        if enc or kenc or rejects is not None:
            delta_buckets = [
                b for b in delta_buckets
                if not all(
                    _skip(f)
                    for f in (m["buckets"].get(str(b), [])
                              + deltas.get(str(b), []))
                )
            ]
        plain = [
            f
            for b, fl in m["buckets"].items()
            if int(b) not in delta_buckets and (buckets is None or int(b) in buckets)
            for f in fl
        ]
        if enc or kenc or rejects is not None:
            plain = [f for f in plain if not _skip(f)]
        return plain, delta_buckets

    def _bloom_rejector(self, m: dict[str, Any], probes: list[tuple],
                        ktypes: list[T.DataType]):
        """A ``rel -> bool`` predicate ("this file provably holds NONE
        of the probe keys") from the manifest's bloom sidecars, or None
        when no consultable index exists. ``probes`` are the non-NULL
        key tuples (SQL equality never matches a NULL key), each a
        value of its ``_driver_hashable`` key type; none at all means no
        pruning. Unreadable / stale-format sidecars are ignored --
        coverage loss is always sound."""
        if m.get("blooms_format") != _bloom.BLOOM_FORMAT:
            return None
        bloom_files = m.get("bloom_files") or {}
        if not bloom_files or not probes:
            return None
        hashes = [_bloom_hashes(t, ktypes) for t in probes]
        tables: list[tuple[set, dict, int, list[list[int]]]] = []
        for sc_rel, cov in bloom_files.items():
            doc = self._bloom_sidecar(sc_rel)
            if doc is None:
                continue
            mb, kk = doc["m"], doc["k"]
            pos = [_bloom.positions(h1, h2, mb, kk) for h1, h2 in hashes]
            tables.append((set(cov), doc["blooms"], mb, pos))
        if not tables:
            return None
        decoded: dict[tuple[str, str], bytes | None] = {}

        def rejects(rel: str) -> bool:
            for cov, entries, mb, pos in tables:
                if rel not in cov:
                    continue
                b64 = entries.get(rel)
                if b64 is None:
                    return False
                ck = (id(entries), rel)
                bits = decoded.get(ck)
                if bits is None and ck not in decoded:
                    try:
                        bits = _bloom.decode_bitset(b64)
                    except Exception:
                        bits = None
                    decoded[ck] = bits
                if bits is None or len(bits) * 8 != mb:
                    return False  # corrupt entry: scan the file
                return not any(_bloom.might_contain(bits, pl) for pl in pos)
            return False

        return rejects

    def _bloom_sidecar(self, sc_rel: str) -> dict | None:
        """Load-and-cache one immutable bloom sidecar (None = absent or
        undecodable; cached either way -- uuid names never mutate)."""
        if sc_rel in self._bloom_cache:
            return self._bloom_cache[sc_rel]
        try:
            doc = _bloom.decode_sidecar(
                self.fs.read_text(os.path.join(self.root, sc_rel)))
        except Exception:
            doc = None
        self._bloom_cache[sc_rel] = doc
        return doc

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        buckets: list[int] | None = None,
        public: bool = False,
        ranges: dict[str, tuple] | None = None,
        keys: list | None = None,
    ) -> DataFrame:
        """Snapshot read (optionally time-traveled / bucket-pruned /
        zone-map-pruned).

        Reading with the *current* schema makes additive evolution work:
        parquet files written before a column existed yield NULL for it
        (Spark fills missing columns when an explicit schema is given).

        mor resolution: buckets that have delta files are read
        (base ∪ deltas) and reduced last-writer-wins per key (max-_lsn
        row survives; a surviving tombstone removes the key). Buckets
        with no deltas scan plain -- the resolve shuffle only covers
        delta-touched data, which ``compact()`` keeps bounded.

        ``ranges={"col": (lo, hi)}`` (inclusive; None = open end) both
        FILTERS the result and PRUNES the scan with the manifest's
        file-level zone maps (Iceberg's min/max file skipping): plain
        buckets skip individual disjoint files; a delta bucket is
        skipped only when EVERY file in it (base and delta alike) is
        provably disjoint -- LWW resolution must see a touched bucket
        whole, or a pruned-away delta/tombstone could resurrect or
        leak an older row. NULL column values never satisfy a range
        (SQL semantics), so files pruned on non-null stats cannot hide
        matching rows. Files without stats are always read; the
        residual predicate makes the result exact either way. Bounds
        prune only when their Python type matches the column (datetime
        for timestamp, date for date, int/float for numerics) --
        anything else is applied by the residual filter alone.
        Timestamp pruning interprets naive datetime bounds in the
        session timezone (engine sessions pin UTC).

        ``keys=[...]`` restricts the result to rows whose MERGE KEY is
        in the list (exact ``isin`` residual, which Catalyst pushes
        through the union and the LWW aggregation into both parquet
        scans), for every key type. It PRUNES the scan to the buckets
        the keys hash to and with the key zone maps and the Bloom
        sidecars (harvest_blooms), under the same whole-bucket rule as
        ranges; bucket and bloom pruning apply to the key types the
        driver hashes (``_driver_hashable``). A None probe matches
        nothing, like SQL equality. On a COMPOSITE-key table each probe
        is a tuple in key-column order; the residual becomes an OR of
        per-tuple conjunctions."""
        m = self.manifest(version)
        schema = T.StructType.fromJson(m["schema"])
        ks = _keylist(m["key"])
        if keys is not None:
            _check_probe_arity(ks, keys)
        plain_rel, delta_buckets = self._plan_scan(
            m, buckets, ranges,
            tz=spark.conf.get("spark.sql.session.timeZone"),
            keys=keys)
        plain_files = [
            self.fs.spark_path(os.path.join(self.root, f)) for f in plain_rel
        ]
        parts: list[DataFrame] = []
        if plain_files:
            parts.append(spark.read.schema(schema).parquet(*plain_files))
        if delta_buckets:
            rs = T.StructType(list(schema.fields) + [T.StructField(DELETED_COL, T.BooleanType())])
            files = self._files(m, delta_buckets) + self._files(m, delta_buckets, "deltas")
            raw = spark.read.schema(rs).parquet(*files)
            parts.append(_resolve(raw, m["key"], schema))
        if not parts:
            df = spark.createDataFrame([], schema)
        elif len(parts) == 1:
            df = parts[0]
        else:
            df = parts[0].unionByName(parts[1])
        if ranges:
            for col, (lo, hi) in ranges.items():
                if lo is not None:
                    df = df.filter(F.col(col) >= F.lit(lo))
                if hi is not None:
                    df = df.filter(F.col(col) <= F.lit(hi))
        if keys is not None:
            df = df.filter(_keys_residual(ks, keys))
        if public:
            df = df.drop(LSN_COL)
        return df

    def plan_files(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        ranges: dict[str, tuple] | None = None,
        tz: str | None = None,
        keys: list | None = None,
    ) -> dict[str, list[str]]:
        """The scan plan ``read`` would execute, WITHOUT Spark: relative
        paths under ``{"plain": [...], "delta_resolved": [...]}``.
        Exists so zone-map pruning is observable/testable and scans are
        explainable (`EXPLAIN`-for-files) -- it shares ``_plan_scan``
        with ``read``, so it cannot drift from what read scans (same
        validation too: unknown range columns raise). Pass ``tz`` to
        name the timezone of naive timestamp bounds when explaining a
        session whose timeZone differs from the active one; ``keys`` to
        explain Bloom-index file skipping the way ``read(keys=...)``
        executes it (with the same probe validation)."""
        m = self.manifest(version)
        if keys is not None:
            _check_probe_arity(_keylist(m["key"]), keys)
        plain, delta_buckets = self._plan_scan(m, buckets, ranges, tz=tz,
                                               keys=keys)
        dfiles = self._files(m, delta_buckets, strip=True) + self._files(
            m, delta_buckets, "deltas", strip=True)
        return {"plain": plain, "delta_resolved": dfiles}

    def lookup(
        self,
        spark: SparkSession,
        keys: list,
        version: int | None = None,
        public: bool = False,
    ) -> DataFrame:
        """POINT LOOKUP: the current row for each given merge-key value
        -- the "what is the state of url X" question a CDC operator
        asks constantly, answered exactly like ``read(keys=keys)`` (mor
        resolution applied). Deleted / never-written keys and None
        probes yield no row. On a COMPOSITE-key table each probe is a
        tuple in key-column order.

        Keys of a ``_driver_hashable`` type (string, integral, boolean,
        date, timestamp_ntz, binary, decimal(p <= 18)) are answered
        WITHOUT a Spark job. The scan is ``plan_files(keys=keys)``: the
        buckets the keys hash to (driver-side ``_bucket_id``), minus
        files the key zone maps or bloom sidecars rule out. Those files
        are read in-process with pyarrow through the table's FS (key
        filter pushed down), aligned to the snapshot schema like
        ``read``, and delta buckets are resolved last-writer-wins by
        ``_lookup_winners``: one Arrow sort (``_top_rank``) that picks
        the row ``_resolve`` picks. The answer comes back as a local
        relation, which ``collect()`` serves without a job. Two cases answer through Spark instead,
        each recorded in the operation trace (operators/trace.py) with
        its reason:

        - ``lsn_tie``: a key's top ``_lsn`` ties between live rows of
          differing content. Only ``_lsn_rank``'s content hash orders
          those, and it is never reimplemented driver-side;
        - ``key_type``: other key types (float, double, wider decimals,
          timestamp, ...).

        Either way the lookup is ``read(keys=keys)``."""
        from ..operators import trace

        m = self.manifest(version)
        ks = _keylist(m["key"])
        schema = T.StructType.fromJson(m["schema"])
        out_schema = T.StructType([f for f in schema.fields
                                   if not (public and f.name == LSN_COL)])
        if not keys:
            return spark.createDataFrame([], out_schema)
        _check_probe_arity(ks, keys)
        ktypes = [schema[k].dataType for k in ks]
        if not all(_driver_hashable(t) for t in ktypes):
            trace.trace_event("lookup", table=self.root, path="spark",
                              reason="key_type", version=m["version"])
            return self.read(spark, version=m["version"], keys=keys,
                             public=public)

        t0 = time.monotonic()
        probes = _probe_tuples(ks, keys)
        for t in probes:
            _bucket_id(t, ktypes, 1)  # TypeError for a mistyped probe
        plain, delta_buckets = self._plan_scan(m, None, None, keys=keys)
        dfiles = self._files(m, delta_buckets, strip=True) + self._files(
            m, delta_buckets, "deltas", strip=True)
        target = to_arrow_schema(schema)
        kfilter = _arrow_key_filter(ks, probes, target)
        tables = []
        if plain:
            tables.append(_match_probes(pa.concat_tables(
                [self._read_arrow(rel, target, kfilter) for rel in plain]),
                ks, probes))
        if dfiles:
            dtarget = target.append(pa.field(DELETED_COL, pa.bool_()))
            rows = _match_probes(pa.concat_tables(
                [self._read_arrow(rel, dtarget, kfilter) for rel in dfiles]),
                ks, probes)
            resolved = _lookup_winners(rows, ks)
            if resolved is None:
                trace.trace_event("lookup", table=self.root, path="spark",
                                  reason="lsn_tie", version=m["version"])
                return self.read(spark, version=m["version"], keys=keys,
                                 public=public)
            tables.append(resolved)
        out = pa.concat_tables(tables) if tables else target.empty_table()
        if public:
            out = out.drop_columns([LSN_COL])
        trace.trace_event("lookup", table=self.root, rows=out.num_rows,
                          elapsed_sec=time.monotonic() - t0, path="arrow",
                          files=len(plain) + len(dfiles),
                          version=m["version"])
        return spark.createDataFrame(out, out_schema)

    def _read_arrow(self, rel: str, target: "pa.Schema", kfilter) -> "pa.Table":
        """One data file read in-process, key filter pushed down, and
        aligned to ``target`` the way ``read`` aligns files to the
        snapshot schema: a column the file predates is NULL, a column
        written narrower is cast up."""
        import pyarrow.dataset as pads

        with self.fs.open_read(os.path.join(self.root, rel)) as f:
            frag = pads.ParquetFileFormat().make_fragment(f)
            have = set(frag.physical_schema.names)
            t = frag.to_table(columns=[n for n in target.names if n in have],
                              filter=kfilter)
        return _align_arrow(t, target)

    CHANGE_COL = "_change_type"

    def read_changes(
        self,
        spark: SparkSession,
        since_version: int,
        until_version: int | None = None,
        public: bool = False,
    ) -> DataFrame:
        """Incremental CDC-OUT read: the NET per-key changes committed in
        ``(since_version, until_version]`` -- current-schema rows plus a
        ``_change_type`` column (``'upsert'`` | ``'delete'``; delete rows
        carry the key, NULL payload). This is what a downstream consumer
        tails instead of re-scanning snapshots (Iceberg: incremental /
        changelog scan), closing the CDC loop: the engine both ingests a
        changelog and emits one.

        Exactness contract (tested): merging the returned changes into a
        copy of snapshot ``since_version`` through the engine's
        LSN-monotonic merge reproduces snapshot ``until_version``.
        Consumers MUST apply LSN-monotonically: the delta fast path
        reports the window's per-key winner even when a higher-LSN
        pre-window row still wins at read time (a stale late event),
        exactly like Iceberg's changelog scan -- the monotonic apply
        makes such rows no-ops. Delete rows carry the key, the
        tombstone ``_lsn`` (NULL on the diff path -- the tombstone was
        already compacted away) and NULL payload. A window crossing a
        ``rollback_to`` commit emits EVERY change with NULL ``_lsn``:
        reverted keys' physical LSNs went backwards and resurrected
        keys may face a higher-LSN tombstone downstream, so neither
        can be applied under its physical LSN -- ``follow_changes``
        stamps NULL-LSN rows above the table's LSN watermark.

        ``public=True`` drops the ``_lsn`` column: that projection is
        for INSPECTION/analytics only (what changed, human-readable) --
        it cannot be applied downstream under the LSN-monotonic
        contract above. Appliers must consume the default
        (``public=False``) output, whose ``_lsn`` is the ordering token
        the monotonic merge keys on.

        Window bounds are validated against RETAINED history:
        ``until_version`` beyond the head, or a window that crosses an
        ``expire_snapshots`` horizon, raises ``ValueError`` (Iceberg's
        expired-snapshot contract, surfaced as a clean error instead of
        a mid-walk FileNotFoundError).

        Scale: when every commit in the window is a MOR merge (the
        steady state), the read touches ONLY the delta files those
        commits added -- O(changes), no table scan -- resolved
        last-writer-wins per key with tombstones kept. Any other commit
        in the window (compact rewrites files; a cow or mode-override
        merge resolves eagerly; append adds base files) falls back to a
        snapshot DIFF: two time-travel reads full-outer-joined on the
        key -- O(table), but always correct, and the per-key ``_lsn``
        makes the diff a column compare, not a payload hash."""
        current = self.current_version()
        until = current if until_version is None else until_version
        if until > current:
            raise ValueError(
                f"until_version {until} > current version {current} (unknown snapshot)"
            )
        if since_version > until:
            raise ValueError(f"since_version {since_version} > until_version {until}")

        def _mf(v: int) -> dict[str, Any]:
            try:
                return self.manifest(v)
            except FileNotFoundError:
                raise ValueError(
                    f"snapshot v{v} has been expired by expire_snapshots (or never "
                    f"existed): the change window ({since_version}, {until}] is not "
                    "fully retained -- re-seed the consumer from a snapshot read"
                ) from None

        m_until = _mf(until)
        schema = T.StructType.fromJson(m_until["schema"])
        key = m_until["key"]
        ks = _keylist(key)
        out_cols = [f.name for f in schema.fields] + [self.CHANGE_COL]
        if since_version == until:
            df = spark.createDataFrame([], schema).withColumn(
                self.CHANGE_COL, F.lit("upsert")
            )
            return df.drop(LSN_COL) if public else df

        m_since = _mf(since_version)  # window start must be retained too

        # window ops: mor merges and data no-ops (skip, tag/untag) keep
        # the fast path; anything else (compact, append, cow or
        # mode-override merge) diffs. Each commit's ACTUAL mode is
        # checked from its audit row -- the table-level merge_mode
        # property can be overridden per merge.
        fast_ok = True
        has_rollback = False
        v: int | None = until
        while v is not None and v > since_version:
            m = _mf(v)
            audit = m.get("audit") or {}
            op = audit.get("operation") or m.get("summary", {}).get("operation")
            if not (op in ("skip", "tag", "untag", "analyze",
                           "add_constraint", "drop_constraint")
                    or (op == "merge" and audit.get("mode") == "mor")):
                fast_ok = False
            if op == "rollback":
                has_rollback = True
            v = m["parent"]

        if fast_ok:
            old = {f for fl in m_since.get("deltas", {}).values() for f in fl}
            new_files = [
                self.fs.spark_path(os.path.join(self.root, f))
                for fl in m_until.get("deltas", {}).values()
                for f in fl
                if f not in old
            ]
            if not new_files:
                df = spark.createDataFrame([], schema).withColumn(
                    self.CHANGE_COL, F.lit("upsert")
                )
                return df.drop(LSN_COL) if public else df
            rs = T.StructType(
                list(schema.fields) + [T.StructField(DELETED_COL, T.BooleanType())]
            )
            raw = spark.read.schema(rs).parquet(*new_files)
            payload = [c for c in raw.columns if c not in ks]
            # the snapshot read's LWW rule: ties pick the same winner
            is_del = F.coalesce(F.col(DELETED_COL), F.lit(False))
            net = _lww(raw, ks, payload,
                       {f.name: f.dataType for f in schema.fields}, is_del)
            net = net.select(
                *ks,
                *[
                    F.when(is_del & F.lit(c != LSN_COL), F.lit(None)).otherwise(
                        F.col(c)
                    ).alias(c)
                    for c in payload
                    if c != DELETED_COL
                ],
                is_del.alias("_is_del"),
            )
            df = net.withColumn(
                self.CHANGE_COL,
                F.when(F.col("_is_del"), "delete").otherwise("upsert"),
            ).select(*out_cols)
        else:
            cur = self.read(spark, version=until)
            prev = self.read(spark, version=since_version).select(
                *[F.col(k).alias(f"_pk{i}") for i, k in enumerate(ks)],
                F.col(LSN_COL).alias("_prev_lsn"),
            )
            jcond = cur[ks[0]] == prev["_pk0"]
            for i, k in enumerate(ks[1:], 1):
                jcond = jcond & (cur[k] == prev[f"_pk{i}"])
            j = cur.join(prev, jcond, "full_outer")
            upserts = (
                j.filter(
                    F.col(ks[0]).isNotNull()
                    & (
                        # new key (absent at since: join found no _pk) OR
                        # changed LSN (advanced: a normal write; receded:
                        # only a rollback revert can recede); seed rows
                        # rank -1 on both sides, so unchanged seeds are
                        # NOT re-emitted
                        F.col("_pk0").isNull()
                        | (
                            F.coalesce(F.col(LSN_COL), F.lit(-1))
                            != F.coalesce(F.col("_prev_lsn"), F.lit(-1))
                        )
                    )
                )
                .select(*[f.name for f in schema.fields])
                .withColumn(self.CHANGE_COL, F.lit("upsert"))
            )
            if has_rollback:
                # a rollback in the window makes physical LSNs unsafe
                # downstream in BOTH directions: a reverted key's LSN
                # went backwards, and a key the rollback RESURRECTED
                # (deleted in (since..rollback), restored by it) looks
                # brand-new here while the consumer may hold its
                # higher-LSN tombstone from an earlier window. Emit the
                # whole window with NULL _lsn (the diff-path delete
                # contract) -- follow_changes stamps every row above
                # the table's LSN watermark, which the rollback commit
                # bumped, so the revert wins the monotonic apply and
                # re-emitting the window stays idempotent (same stamp,
                # same content).
                ftype = next(f.dataType for f in schema.fields
                             if f.name == LSN_COL)
                upserts = upserts.withColumn(
                    LSN_COL, F.lit(None).cast(ftype))
            gone = j.filter(F.col(ks[0]).isNull()).select(
                *[F.col(f"_pk{i}").alias(k) for i, k in enumerate(ks)])
            for f in schema.fields:
                if f.name not in ks:
                    gone = gone.withColumn(f.name, F.lit(None).cast(f.dataType))
            df = upserts.unionByName(
                gone.select(*[f.name for f in schema.fields]).withColumn(
                    self.CHANGE_COL, F.lit("delete")
                )
            )
        return df.drop(LSN_COL) if public else df

    # ------------------------------------------------------------------
    # audit / lineage as DataFrames (engine metrics tables)
    # ------------------------------------------------------------------
    def lsn_high_watermark(self) -> int:
        """Highest LSN this table has applied (merges) or stamped
        (update_where) -- the value synthetic-LSN producers must exceed.
        Carried in the manifest (``lsn_high``) so it SURVIVES
        ``expire_snapshots`` truncating the audit chain; the retained
        chain is folded in as a fallback for tables whose history
        predates the field. Appended rows' ``_lsn`` values (if any) are
        not tracked -- appends are the bulk-seed path, not the CDC
        path."""
        m = self.manifest()
        if "lsn_high" in m:
            # maintained since create: the head value is exact, no walk
            return m["lsn_high"] or 0
        # table created before the field existed: fold the retained
        # audit chain (O(retained versions), the old behavior)
        return max((a["max_lsn"] for a in self.audit_entries()
                    if a.get("max_lsn") is not None), default=0)

    def audit_entries(self) -> list[dict[str, Any]]:
        """All audit rows across the RETAINED snapshot chain (newest
        last; truncates where expire_snapshots dropped history)."""
        out = []
        v: int | None = self.current_version()
        chain = []
        while v is not None:
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                break  # expired history
            chain.append(m)
            v = m["parent"]
        for m in reversed(chain):
            if m.get("audit"):
                out.append(m["audit"])
        return out

    def lineage_entries(self) -> list[dict[str, Any]]:
        out = []
        v: int | None = self.current_version()
        while v is not None:
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                break  # expired history
            for row in m.get("lineage", []):
                out.append({"version": m["version"], **row})
            v = m["parent"]
        return out

    def is_applied(self, batch_id: int) -> bool:
        return str(batch_id) in self.manifest()["applied_batches"]

    def audit_df(self, spark: SparkSession) -> DataFrame:
        """The engine's metrics table as a DataFrame: one row per commit
        (batch_id, operation, rows_in/applied/deleted, lsn range,
        touched buckets, version). North-rule 'metrics tables';
        reference analogue: reportPerformance rows
        (/root/reference/src/YADAMU/common/yadamuWriter.js:749-841).

        Counting contract: ``rows_in``/``rows_applied`` count the rows
        the merge PERSISTED (mor: delta rows written; cow: resolved
        source rows) -- under at-least-once delivery a redelivered
        exact-duplicate winner is counted each time it is written; the
        reader's resolution collapses it. Distinct-key counts are what
        ``lineage_df`` + the final table state give you."""
        rows = self.audit_entries()
        schema = ("batch_id long, operation string, rows_in long, rows_applied long, "
                  "rows_deleted long, min_lsn long, max_lsn long, touched_buckets long, "
                  "version long, rows_batch_in long, rows_quarantined long")
        return spark.createDataFrame(
            [{k: r.get(k) for k in
              ("batch_id", "operation", "rows_in", "rows_applied", "rows_deleted",
               "min_lsn", "max_lsn", "touched_buckets", "version",
               "rows_batch_in", "rows_quarantined")} for r in rows],
            schema,
        )

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        """Per-partition lineage as a DataFrame: applied LSN ranges +
        row counts per (version, batch, bucket) -- the north rule's
        per-partition lineage table."""
        return spark.createDataFrame(
            self.lineage_entries() or [],
            "version long, batch_id long, bucket int, row_count long, min_lsn long, max_lsn long",
        )

    def snapshot_entries(self) -> list[dict[str, Any]]:
        """One row per RETAINED manifest, oldest first (truncates where
        expire_snapshots dropped history). ``summary`` is the commit's
        operation summary as a JSON string; ``data_files``/
        ``delta_files`` count the snapshot's live file inventory."""
        rows = []
        v: int | None = self.current_version()
        while v is not None:
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                break  # expired history
            rows.append({
                "version": m["version"],
                "parent": m["parent"],
                "committed_at": m.get("committed_at"),
                "operation": (m.get("summary") or {}).get("operation"),
                "merge_mode": m.get("merge_mode"),
                "data_files": sum(len(fl) for fl in m["buckets"].values()),
                "delta_files": sum(len(fl)
                                   for fl in m.get("deltas", {}).values()),
                "summary": json.dumps(m.get("summary") or {}, sort_keys=True),
            })
            v = m["parent"]
        return list(reversed(rows))

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """Iceberg-style ``snapshots`` metadata table as a DataFrame,
        like ``SELECT * FROM tbl.snapshots`` in Iceberg. Reference
        analogue: the per-operation metrics rows YADAMU logs
        (/root/reference/src/YADAMU/common/yadamuLogger.js) -- here
        queryable. Driver cost: O(retained versions), the manifests
        the audit walk already reads."""
        return spark.createDataFrame(
            self.snapshot_entries() or [],
            "version long, parent long, committed_at string, operation string, "
            "merge_mode string, data_files long, delta_files long, summary string",
        )

    def row_count(self, version: int | str | None = None) -> int | None:
        """Exact ``count(*)`` from metadata alone -- Iceberg's count
        pushdown analogue. For a snapshot with NO delta files the base
        files hold exactly the live rows (compaction/cow materialize
        resolution; winning tombstones physically disappear -- see
        ``compact``), so the count is the sum of parquet footer row
        counts over the referenced files: O(files) driver-side footer
        reads through the FS seam, no Spark job. Returns ``None`` when
        any bucket still carries deltas (read-side resolution could
        drop or overwrite rows; fall back to ``read().count()``).

        Scale: the manifest's ``file_rows`` map (per-file exact row
        counts recorded at commit time from the footers every write
        already reads -- Iceberg's per-file ``record_count``) answers
        this WITHOUT touching data files: O(referenced files) dict
        lookups, zero I/O. Files a pre-``file_rows`` commit wrote fall
        back to one footer read each; any commit that rewrites them
        (compact, cow) stamps them."""
        import pyarrow.parquet as pq

        m = self.manifest(version)
        if any(fl for fl in m.get("deltas", {}).values()):
            return None
        fr = m.get("file_rows", {})
        n = 0
        for files in m.get("buckets", {}).values():
            for rel in files:
                if rel in fr:
                    n += int(fr[rel])
                    continue
                with self.fs.open_read(
                        os.path.join(self.root, rel)) as fobj:
                    n += pq.ParquetFile(fobj).metadata.num_rows
        return n

    def file_entries(self, version: int | str | None = None) -> list[dict[str, Any]]:
        """One row per live file in a snapshot: bucket, kind (``data``
        base file vs ``delta`` MoR change file), byte size, and the
        file's zone-map bounds as a JSON string (empty object when the
        harvest withheld stats, e.g. NaN-bearing float chunks).
        Driver cost: O(files) stat calls through the FS seam -- the
        same order as planning the scan."""
        m = self.manifest(version)
        stats = _inherit_stats(m)

        def _size(rel: str) -> int | None:
            try:
                with self.fs.open_read(os.path.join(self.root, rel)) as f:
                    return f.seek(0, 2)
            except (OSError, FileNotFoundError):
                return None  # vanished under a concurrent expire

        return [
            {"version": m["version"], "bucket": int(b), "kind": kind,
             "path": rel, "size_bytes": _size(rel),
             "stats": json.dumps(stats.get(rel, {}), sort_keys=True)}
            for kind, which in (("data", "buckets"), ("delta", "deltas"))
            for b, fl in m.get(which, {}).items()
            for rel in fl
        ]

    def files_df(self, spark: SparkSession,
                 version: int | str | None = None) -> DataFrame:
        """Iceberg-style ``files`` metadata table for one snapshot --
        the operational input to compaction targeting ('which buckets
        are fragmented / skewed') and to explaining why a prune did or
        did not skip a file."""
        return spark.createDataFrame(
            self.file_entries(version) or [],
            "version long, bucket int, kind string, path string, "
            "size_bytes long, stats string",
        )

    def register(self, spark: SparkSession, name: str,
                 version: int | str | None = None) -> None:
        """Expose the resolved snapshot to Spark SQL as a temp view:
        ``t.register(spark, "pages"); spark.sql("SELECT ... FROM
        pages")``. The view captures THIS snapshot's plan (mor
        resolution included) -- re-register after new commits to see
        them, or register a pinned ``version=``/tag for reproducible
        SQL sessions."""
        self.read(spark, version=version, public=True) \
            .createOrReplaceTempView(name)

    def register_meta(self, spark: SparkSession, name: str) -> list[str]:
        """Expose the table's METADATA as SQL temp views -- Iceberg's
        metadata tables (``db.table.snapshots`` / ``.files`` /
        ``.history`` / ``.refs``) re-expressed for this engine:

        - ``{name}_snapshots``: one row per retained manifest (version,
          parent, committed_at, operation, file counts, summary JSON);
        - ``{name}_files``: one row per live file in the head snapshot
          (bucket, data-vs-delta kind, byte size, zone-map bounds JSON);
        - ``{name}_history``: the audit/metrics table -- one row per
          commit with batch_id, rows in/applied/deleted, LSN range;
        - ``{name}_lineage``: per-(version, batch, bucket) applied LSN
          ranges + row counts (the north rule's per-partition lineage);
        - ``{name}_refs``: named tags -> pinned versions.

        All five are snapshots of the metadata AT REGISTRATION -- they
        are built from the driver-held manifests (plus O(files) stat
        calls for sizes), exactly the inputs scan planning already
        reads, so the views stay proportional to metadata, not data.
        Re-register after new commits to refresh. Returns the view
        names."""
        views = {
            f"{name}_snapshots": self.snapshots_df(spark),
            f"{name}_files": self.files_df(spark),
            f"{name}_history": self.audit_df(spark),
            f"{name}_lineage": self.lineage_df(spark),
            f"{name}_refs": spark.createDataFrame(
                [{"name": k, "version": v} for k, v in self.refs().items()],
                "name string, version long",
            ),
        }
        for vname, df in views.items():
            df.createOrReplaceTempView(vname)
        return sorted(views)

