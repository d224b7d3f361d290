"""Incremental materialized rollup: a continuous aggregate maintained
from a LakeTable's change stream instead of recomputed per refresh --
the downstream CDC consumer pattern (TimescaleDB continuous aggregates,
Materialize, Flink dynamic tables) built on this engine's own
primitives: ``read_changes`` names what changed, time travel supplies
exact pre/post images, and the fenced MERGE makes every refresh
exactly-once and replay-safe.

Reference parity: YADAMU's QA harness re-aggregates replicated tables
to validate a migration (/root/reference/src/YADAMU/qa/utilities/
yadamuQA.js:327-470); this module turns that one-shot validation
aggregate into a LIVE one that stays equal to the base table as CDC
batches land -- the acceptance test asserts rollup == full recompute
after every window.

Maintenance identity (exact, no float drift -- counts are LONG, sums
are DECIMAL, both associative)::

    rollup(until) = rollup(cursor)
                    - agg(base@cursor restricted to changed keys)
                    + agg(base@until  restricted to changed keys)

``read_changes`` is used ONLY to name candidate changed keys. The
contributions themselves come from two bucket-pruned time-travel reads,
so every change path is handled uniformly: a stale late event the
monotonic merge no-opped has identical pre/post images and cancels to a
zero delta; diff-path windows (compact/cow/append in the window) and
NULL-lsn folded deletes need no special casing. Untouched groups are
never rewritten (the current rollup is pruned to touched groups before
the outer join).

Scale: each refresh costs O(window changes) for the key set, two
O(touched buckets) pruned snapshot reads (NOT O(table) -- keys hash to
buckets, and only those buckets' files are scanned), one small groupBy
per image, and one fenced merge into the rollup table whose batch is
O(touched groups). The rollup table itself is bucketed on the group
key, so hot groups spread by the same salting/bucket machinery as any
LakeTable. Crash anywhere: the next refresh recomputes the window and
the merge fence (batch_id = base until-version) makes redelivery a
no-op -- the cursor IS the fence history, no side state file.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.laketable import LakeTable, _bucket_expr

#: Measures are COUNT and SUM only -- the self-maintainable aggregates:
#: both are invertible under deletes (subtract the pre-image), so a
#: refresh never re-reads a whole group. MIN/MAX are deliberately NOT
#: offered: deleting the current extremum requires rescanning the
#: ENTIRE group to find the runner-up -- O(group), not O(changes) --
#: which silently breaks the cost model; AVG is sum/count at read time.
#: exact, associative accumulator type for measure sums -- incremental
#: and recomputed paths must agree bit-for-bit, so never float here.
_SUM_IN = "decimal(18,6)"
_SUM_ACC = "decimal(28,6)"
_KEY_COL = "dim_key"
_CNT_COL = "n_rows"


def _sum_col(c: str) -> str:
    return f"sum_{c}"


def _dim_key(dims: Sequence[str]) -> F.Column:
    # to_json(struct(...)) is a deterministic, NULL-safe, type-tagged
    # encoding of the group tuple -- distinct groups get distinct keys
    # (concat_ws would collide NULL with '').
    return F.to_json(F.struct(*[F.col(d) for d in dims]))


def _contrib(df: DataFrame, dims: Sequence[str], sums: Sequence[str],
             sign: int) -> DataFrame:
    """Per-group (count, sums) contribution of ``df``, multiplied by
    ``sign`` (-1 for pre-images, +1 for post-images)."""
    aggs = [(F.count(F.lit(1)) * sign).cast("long").alias(_CNT_COL)]
    for c in sums:
        aggs.append(
            (F.sum(F.col(c).cast(_SUM_IN)) * sign)
            .cast(_SUM_ACC).alias(_sum_col(c))
        )
    return df.groupBy(*dims).agg(*aggs)


class IncrementalRollup:
    """A LakeTable-backed continuous aggregate over ``base``:
    ``GROUP BY dims -> (n_rows, sum_<c> for c in sums)``.

    Construct with :meth:`create` (new) or the plain constructor
    (resume an existing rollup -- the cursor is recovered from the
    rollup table's own audit chain, so resume needs no side state).
    """

    def __init__(self, base: LakeTable, rollup: LakeTable,
                 dims: Sequence[str], sums: Sequence[str]) -> None:
        self.base = base
        self.table = rollup
        self.dims = list(dims)
        self.sums = list(sums)

    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        base: LakeTable,
        dims: Sequence[str],
        sums: Sequence[str],
        bucket_count: int = 8,
        overwrite: bool = False,
    ) -> "IncrementalRollup":
        """Create the rollup table and SEED it with a full aggregate of
        the base's current snapshot (the one O(table) pass; every later
        refresh is O(changes)). The seed merge is fenced at the base's
        current version, which becomes the initial cursor -- history
        before it need not be retained."""
        base_fields = {f.name: f for f in
                       T.StructType.fromJson(base.manifest()["schema"]).fields}
        missing = [c for c in list(dims) + list(sums) if c not in base_fields]
        if missing:
            raise ValueError(f"columns not in base schema: {missing}")
        clash = [d for d in dims
                 if d in (_KEY_COL, _CNT_COL) or d.startswith("sum_")]
        if clash:
            # reserved names would make the schema-derived spec in
            # open() ambiguous
            raise ValueError(f"dim names reserved/ambiguous: {clash}")
        fields = [T.StructField(_KEY_COL, T.StringType())]
        fields += [T.StructField(d, base_fields[d].dataType) for d in dims]
        fields.append(T.StructField(_CNT_COL, T.LongType()))
        fields += [T.StructField(_sum_col(c), T.DecimalType(28, 6))
                   for c in sums]
        table = LakeTable.create(
            root, T.StructType(fields), key=_KEY_COL,
            bucket_count=bucket_count, overwrite=overwrite,
        )
        self = cls(base, table, dims, sums)
        m0 = base.manifest()
        v0 = m0["version"]
        base_empty = not any(m0["buckets"].values()) and not any(
            (m0.get("deltas") or {}).values())
        if base_empty:
            # nothing to aggregate: fence the initial cursor without a
            # Spark job (the common create-both-then-stream order)
            seed_src = spark.createDataFrame(
                [], T.StructType.fromJson(base.manifest()["schema"]))
        else:
            seed_src = base.read(spark, version=v0)
        seed = (
            _contrib(seed_src, dims, sums, +1)
            .withColumn(_KEY_COL, _dim_key(dims))
            .select(
                "*",
                F.lit("U").alias("op"),
                F.lit(v0).cast("long").alias("lsn"),
            )
        )
        table.merge(
            spark, seed, batch_id=v0,
            extra_audit={"base_since": 0, "base_until": v0,
                         "rollup_dims": list(dims)},
        )
        return self

    # ------------------------------------------------------------------
    @classmethod
    def open(cls, base: LakeTable, root: str) -> "IncrementalRollup":
        """Reopen an existing rollup. The group spec is recovered from
        the rollup table's own schema -- dims are the fields between
        ``dim_key`` and ``n_rows``, sums are the ``sum_<c>`` fields --
        so resume needs no side state and no re-declared spec."""
        table = LakeTable(root)
        names = [f.name for f in
                 T.StructType.fromJson(table.manifest()["schema"]).fields]
        if names[0] != _KEY_COL or _CNT_COL not in names:
            raise ValueError(f"{root} is not an IncrementalRollup table")
        cnt_at = names.index(_CNT_COL)
        dims = names[1:cnt_at]
        sums = [n[len("sum_"):] for n in names[cnt_at + 1:]
                if n.startswith("sum_")]
        return cls(base, table, dims, sums)

    # ------------------------------------------------------------------
    def _pinned(self) -> tuple[int, int]:
        """(cursor, rollup_version) derived from ONE manifest walk, so
        the two are consistent: ``rollup state @ version == aggregate
        of base @ cursor`` (the maintenance invariant). refresh() must
        read the current groups AT this pinned version, not the live
        head -- a concurrent refresh committing between the cursor read
        and the group read would otherwise be double-counted (its
        window's delta applied on top of a state that already contains
        it). With the pin, concurrent refreshes each compute totals
        that are correct for their own window end, and last-writer-wins
        resolution (lsn = window end) converges to the newest one."""
        v = self.table.current_version()
        ends: list[int] = []
        vv: int | None = v
        while vv is not None:
            try:
                m = self.table.manifest(vv)
            except FileNotFoundError:
                break  # expired history
            a = m.get("audit") or {}
            if a.get("base_until") is not None:
                ends.append(a["base_until"])
            vv = m["parent"]
        return max(ends, default=0), v

    def cursor(self) -> int:
        """Base version up to which this rollup is current: the max
        fenced window end in the rollup's own audit chain (0 = nothing
        applied yet). Crash-safe by construction -- the fence and the
        data commit are the same manifest write."""
        return self._pinned()[0]

    # ------------------------------------------------------------------
    def refresh(self, spark: SparkSession, until_version: int | None = None,
                ) -> int:
        """Advance the rollup to base snapshot ``until_version``
        (default: the base head). Returns the new cursor. No-op when
        already current; replaying a window is a fenced no-op."""
        until = (self.base.current_version()
                 if until_version is None else until_version)
        cur, v_pin = self._pinned()
        if until <= cur:
            return cur

        m = self.base.manifest()
        kcols = [m["key"]] if isinstance(m["key"], str) else list(m["key"])
        ch = self.base.read_changes(spark, cur, until)
        # materialize the changed-key set ONCE: it feeds the touched-
        # bucket probe plus BOTH image reads' semi-joins -- without the
        # cache the window's change scan recomputes three times per
        # refresh. O(changed keys) rows, the quantity incremental
        # maintenance is already bounded by. Released once the window's
        # merge has committed (or failed).
        keys = ch.select(*kcols).distinct().persist()
        try:
            keys.count()
            return self._apply_window(spark, cur, until, v_pin, m, keys)
        finally:
            keys.unpersist()

    def _apply_window(self, spark: SparkSession, cur: int, until: int,
                      v_pin: int, m: dict, keys: DataFrame) -> int:
        """Fold the base changes of window ``(cur, until]`` -- whose
        changed keys are ``keys`` -- into the rollup, fenced on
        ``until``; ``m`` is the base manifest the keys were read under.
        Returns ``until``."""
        key, nb = m["key"], m["bucket_count"]
        kcols = [key] if isinstance(key, str) else list(key)
        touched = [
            r["_b"]
            for r in keys.select(_bucket_expr(key, nb).alias("_b"))
            .distinct().collect()
        ]

        if touched:
            pre = (
                self.base.read(spark, version=cur, buckets=touched)
                .join(keys, kcols, "left_semi")
            )
            post = (
                self.base.read(spark, version=until, buckets=touched)
                .join(keys, kcols, "left_semi")
            )
            delta = (
                _contrib(pre, self.dims, self.sums, -1)
                .unionByName(_contrib(post, self.dims, self.sums, +1))
                .groupBy(*self.dims)
                .agg(
                    F.sum(_CNT_COL).cast("long").alias(_CNT_COL),
                    *[F.sum(_sum_col(c)).cast(_SUM_ACC).alias(_sum_col(c))
                      for c in self.sums],
                )
                .withColumn(_KEY_COL, _dim_key(self.dims))
            )
            # prune the current rollup to touched groups, then combine;
            # read AT the pinned version (see _pinned: a live-head read
            # races with concurrent refreshes)
            cur_groups = self.table.read(
                spark, version=v_pin, public=True
            ).join(
                F.broadcast(delta.select(_KEY_COL)), _KEY_COL, "left_semi"
            )
            d = delta.select(
                F.col(_KEY_COL),
                *[F.col(c).alias(f"_d_{c}") for c in self.dims],
                F.col(_CNT_COL).alias("_dn"),
                *[F.col(_sum_col(c)).alias(f"_ds_{c}") for c in self.sums],
            )
            merged = cur_groups.join(d, _KEY_COL, "full_outer").select(
                F.col(_KEY_COL),
                *[F.coalesce(F.col(f"_d_{c}"), F.col(c)).alias(c)
                  for c in self.dims],
                (F.coalesce(F.col(_CNT_COL), F.lit(0))
                 + F.coalesce(F.col("_dn"), F.lit(0)))
                .cast("long").alias(_CNT_COL),
                *[
                    (F.coalesce(F.col(_sum_col(c)),
                                F.lit(0).cast(_SUM_ACC))
                     + F.coalesce(F.col(f"_ds_{c}"),
                                  F.lit(0).cast(_SUM_ACC)))
                    .cast(_SUM_ACC).alias(_sum_col(c))
                    for c in self.sums
                ],
            )
            batch = merged.select(
                "*",
                F.when(F.col(_CNT_COL) == 0, "D").otherwise("U").alias("op"),
                F.lit(until).cast("long").alias("lsn"),
            )
        else:
            # nothing changed in the window (skip/no-op commits): merge
            # an empty batch purely to fence the window and advance the
            # cursor -- otherwise every later refresh re-walks it.
            schema = T.StructType.fromJson(self.table.manifest()["schema"])
            batch = (
                spark.createDataFrame([], schema)
                .drop("_lsn")
                .withColumn("op", F.lit("U"))
                .withColumn("lsn", F.lit(until).cast("long"))
            )

        self.table.merge(
            spark, batch, batch_id=until,
            extra_audit={"base_since": cur, "base_until": until,
                         "rollup_dims": self.dims},
        )
        return until

    # ------------------------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        """Current rollup contents (groups with n_rows > 0)."""
        return (
            self.table.read(spark, public=True)
            .filter(F.col(_CNT_COL) > 0)
            .drop(_KEY_COL)
        )

    def recompute(self, spark: SparkSession,
                  version: int | None = None) -> DataFrame:
        """The declarative equivalent (full aggregate of a base
        snapshot) -- the acceptance oracle for :meth:`refresh`."""
        return _contrib(
            self.base.read(spark, version=version), self.dims, self.sums, +1
        )

    def verify(self, spark: SparkSession) -> dict:
        """Fsck for the maintained state: compare the incremental
        rollup against a full recompute of the base snapshot at the
        CURSOR (not the live head -- a writer may have committed past
        the last refresh; that is lag, not corruption). O(table) by
        design; run it the way you run any fsck. Returns
        ``{"ok", "cursor", "groups", "extra", "missing"}`` where
        extra/missing count symmetric-difference rows."""
        cur = self.cursor()
        cols = [*self.dims, _CNT_COL, *[_sum_col(c) for c in self.sums]]
        got = self.read(spark).select(*cols)
        exp = self.recompute(spark, version=cur).select(*cols)
        extra = got.exceptAll(exp).count()
        missing = exp.exceptAll(got).count()
        return {
            "ok": extra == 0 and missing == 0,
            "cursor": cur,
            "groups": got.count(),
            "extra": extra,
            "missing": missing,
        }
