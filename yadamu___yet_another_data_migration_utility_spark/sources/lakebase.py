"""Shared foundation of the LakeTable modules: exceptions, format
constants, and every pure module-level helper (bucket hashing,
LWW resolution, schema evolution, zone-map encoding, footer
stats). Split out of laketable.py in round 4 -- a mechanical
move, zero behavior change; laketable re-exports everything, so
the import surface is unchanged."""

from __future__ import annotations

import contextlib
import gzip  # noqa: F401
import json
import os
import struct
import time
import uuid  # noqa: F401
from dataclasses import dataclass
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import bloomindex as _bloom  # noqa: F401
from .fsio import CommitConflict, LocalFS  # noqa: F401


class RebaseError(RuntimeError):
    """A concurrent commit landed that this commit cannot be rebased
    onto (schema drift, or overlapping copy-on-write buckets). The
    batch was NOT applied and NOT fenced -- retry it whole."""


class ConstraintViolation(ValueError):
    """A bulk write carried rows that violate a CHECK constraint. The
    commit was aborted whole (speculative files removed, manifest and
    fences untouched); fix the data or drop the constraint. CDC applies
    never raise this -- their violating rows quarantine per-row under
    the ON_ERROR policy instead (operators.apply)."""


FORMAT_VERSION = 2
MANIFEST_DIR = "manifests"
DATA_DIR = "data"
CURRENT = "_current"
BRANCHES_SUBDIR = "branches"  # manifests/branches/<name>/v*.json
BRANCH_META = "_branch.json"  # per-branch metadata: {"fork_version": N}
MAIN_BRANCH = "main"
# Internal engine columns stored in the table alongside user columns.
LSN_COL = "_lsn"  # last applied LSN per key -> LSN-monotonic idempotent merge
DELETED_COL = "_deleted"  # mor tombstone marker (delta files only)

#: zone-map stats encoding version. Bump whenever the harvester's
#: soundness rules change (v2: row-group completeness requirement +
#: zero-padded year encoding). The planner prunes ONLY on stats stamped
#: with the current value, so zones written by an older, less careful
#: harvester are ignored (never trusted) instead of silently pruning
#: rows they shouldn't; commits re-stamp after re-harvest.
STATS_FORMAT = 2

MERGE_MODES = ("mor", "cow")


def _keylist(key) -> list[str]:
    """Normalize the manifest's merge key: a plain string is a single
    key (the wire format every pre-composite manifest uses, kept for
    compatibility); a list is a COMPOSITE key. All internal machinery
    operates on the list form; manifests store the str form for single
    keys so existing tables read byte-identically."""
    return [key] if isinstance(key, str) else list(key)


def _bucket_expr(key, n: int):
    """Deterministic bucket id for a (possibly composite) key.
    xxhash64 is a variadic Catalyst builtin (JVM-side, codegen) -- the
    composite hash is the same one-pass xxhash over all key columns in
    declaration order, so single-key tables hash exactly as before;
    pmod keeps it non-negative."""
    return F.pmod(
        F.xxhash64(*[F.col(k) for k in _keylist(key)]), F.lit(n)
    ).cast("int")


# Spark's XXH64 (catalyst expressions.XXH64) is the reference xxhash64
# over little-endian words; these are its primes, and 42 its seed.
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1
_XXH_SEED = 42
#: integral key types and their value range; Spark hashes byte/short/int
#: as a 4-byte int and long as an 8-byte long
_INT_RANGES = {"byte": 8, "short": 16, "integer": 32, "long": 64}


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """xxhash64 of ``data`` with an unsigned 64-bit ``seed``."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i <= n - 32:
            v = [_xxh_round(a, b)
                 for a, b in zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _xxh_round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _xxh_round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= struct.unpack_from("<I", data, i)[0] * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    return h ^ (h >> 32)


def _driver_hashable(dt: T.DataType) -> bool:
    """Key types ``_bucket_id`` hashes exactly as Spark does: strings
    of the default (binary) collation and the integral types."""
    if isinstance(dt, T.StringType):
        return getattr(dt, "collation", "UTF8_BINARY") == "UTF8_BINARY"
    return dt.typeName() in _INT_RANGES


def _key_bytes(v: Any, dt: T.DataType) -> bytes | None:
    """The bytes Spark's xxhash64 reads for value ``v`` of key type
    ``dt``, or None when ``v`` cannot be a value of that type."""
    if isinstance(dt, T.StringType):
        return v.encode("utf-8") if isinstance(v, str) else None
    bits = _INT_RANGES[dt.typeName()]
    if (isinstance(v, bool) or not isinstance(v, int)
            or not -(1 << (bits - 1)) <= v < 1 << (bits - 1)):
        return None
    return v.to_bytes(8 if bits == 64 else 4, "little", signed=True)


def _bucket_id(values, types, n: int) -> int:
    """Driver-side ``pmod(xxhash64(key cols), n)``, bit-identical to
    ``_bucket_expr`` for ``_driver_hashable`` key types: components
    hash left to right, each hash seeding the next, and NULL components
    are skipped (Spark's variadic xxhash64). Raises TypeError for a
    value that is not of its column's type."""
    h = _XXH_SEED
    for v, dt in zip(values, types):
        if v is None:
            continue
        b = _key_bytes(v, dt)
        if b is None:
            raise TypeError(f"{v!r} is not a {dt.simpleString()} key value")
        h = _xxh64(b, h)
    return (h - (1 << 64) if h >> 63 else h) % n


def _distribute_delta(df: DataFrame, key, nb: int, spark) -> DataFrame:
    """Cluster a merge batch to ~one write task per touched bucket
    before the ``partitionBy("_b")`` delta write (Iceberg:
    ``write.distribution-mode=hash``, the default for MERGE). Without
    it every task writes a file into every bucket it sees -- O(tasks x
    buckets) files per commit, which on a 1000-executor cluster is
    tens of thousands of tiny objects per batch (manifest bloat, read
    amplification, one S3 PUT each); with it the count is O(buckets).
    Locally it halves the isolated partitioned-write cost (fewer
    files through the Hadoop commit protocol -- 0.54s -> 0.27s for a
    cached 20k-row batch at 8 cores; end-to-end merges are dominated
    by computing the batch, so the local wall-clock is a wash).

    When the cluster has more slots than buckets, a key-derived salt
    splits each bucket across ``ceil(cores/nb)`` tasks so a hot domain
    (skewed bucket) cannot serialize the write -- the north-star's
    explicit repartition-by-url-hash + skew salting. The salt seed
    differs from the bucket hash so the split is independent of
    bucket placement."""
    dp = spark.sparkContext.defaultParallelism
    if dp > nb and not os.environ.get("SPARK_GRAFT_DISABLE_WRITE_SALT"):
        # SPARK_GRAFT_DISABLE_WRITE_SALT is an ABLATION knob for
        # bench.py --skew only: it measures what a hot bucket costs
        # without the salt split. Never set it in production.
        k = -(-dp // nb)  # ceil
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in _keylist(key)], F.lit(-7)),
            F.lit(k))
        return df.repartition(dp, F.col("_b"), salt)
    # hashing on _b alone sends each bucket wholly to one task: file
    # count == touched buckets, task count capped at 2x cores
    return df.repartition(min(nb, 2 * dp), "_b")


def _znorm_expr(name: str, dt: T.DataType) -> "F.Column":
    """Map a column to a DOUBLE axis for z-order ranking. Numeric /
    boolean cast directly; timestamps become epoch seconds; dates
    become epoch days. Strings/complex are rejected -- interleaving
    hashed strings would destroy the locality z-order exists for."""
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return F.col(name).cast("double")
    if isinstance(dt, T.DateType):
        return F.datediff(F.col(name), F.to_date(F.lit("1970-01-01"))
                          ).cast("double")
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.FloatType, T.DoubleType, T.DecimalType,
                       T.BooleanType)):
        return F.col(name).cast("double")
    raise ValueError(
        f"zorder_by column {name!r}: unsupported type {dt.simpleString()} "
        f"(numeric, timestamp or date only)")


def _zorder_expr(ranked: list["F.Column"], bits: int) -> "F.Column":
    """Interleave k ``bits``-wide integer ranks into one Morton key
    (bit j of column i lands at position j*k + i). Pure Catalyst bit
    algebra -- k*bits shift/mask/or nodes, all whole-stage codegen; no
    UDF. k*bits must fit a signed long (<= 63)."""
    k = len(ranked)
    if k * bits > 63:
        raise ValueError(f"zorder: {k} columns x {bits} bits exceeds 63")
    z = F.lit(0).cast("long")
    for i, c in enumerate(ranked):
        cl = c.cast("long")
        for b in range(bits):
            z = z.bitwiseOR(F.shiftleft(
                F.shiftright(cl, b).bitwiseAND(F.lit(1)), b * k + i))
    return z


def _zorder_key(df: DataFrame, cols: list[str],
                schema: T.StructType) -> "F.Column":
    """Z-order sort key over ``cols`` (Delta OPTIMIZE ZORDER / Iceberg
    z-order rewrite strategy). Each column is normalized to a double
    axis, linearly binned into 2^bits cells over its [min, max] (ONE
    column-pruned agg job -- reads only these columns, negligible next
    to the full-payload rewrite it serves), and the cell ids are
    bit-interleaved. Sorting a rewrite by this key gives every parquet
    row group a tight bounding box in ALL the dimensions at once, so
    pushed-down range predicates on ANY of them skip row groups --
    where a lexicographic sort serves only its leading column. NULLs
    rank as cell 0 (co-located, never scattered)."""
    types = {f.name: f.dataType for f in schema.fields}
    for c in cols:
        if c not in types:
            raise ValueError(f"zorder_by: no column {c!r} in table schema")
    bits = max(1, 63 // max(1, len(cols)))
    bits = min(bits, 16)
    norm = {c: _znorm_expr(c, types[c]) for c in cols}
    row = df.select(*[
        e for c in cols
        for e in (F.min(norm[c]).alias(f"lo_{c}"),
                  F.max(norm[c]).alias(f"hi_{c}"))
    ]).collect()[0]
    n_cells = 1 << bits
    ranked = []
    for c in cols:
        lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
        if lo is None or hi is None or not (hi > lo):
            ranked.append(F.lit(0))  # empty / constant / all-NULL axis
            continue
        # linear bin into [0, n_cells): floor((v - lo) / cell_width),
        # clamped (the max value would otherwise land in cell n_cells)
        cell = (float(hi) - float(lo)) / n_cells
        ranked.append(
            F.when(norm[c].isNull(), F.lit(0)).otherwise(
                F.least(
                    F.greatest(
                        F.floor((norm[c] - F.lit(float(lo))) / F.lit(cell))
                        .cast("long"),
                        F.lit(0),
                    ),
                    F.lit(n_cells - 1),
                )
            )
        )
    return _zorder_expr(ranked, bits).alias("_z")


@dataclass
class MergeResult:
    """Outcome of one merge/append commit (audit row)."""

    batch_id: int
    version: int | None  # None if fenced (already applied)
    fenced: bool
    rows_in: int
    rows_applied: int
    rows_deleted: int
    min_lsn: int | None
    max_lsn: int | None
    touched_buckets: int
    duration_ms: int

    def as_dict(self) -> dict[str, Any]:
        return dict(self.__dict__)



def _where_cond(predicate: str | None,
                ranges: dict[str, tuple] | None) -> "F.Column":
    """SQL-semantics match condition shared by delete_where /
    update_where / overwrite_where: inclusive range bounds AND the
    predicate, with NULL evaluations coalesced to no-match."""
    cond = F.lit(True)
    for col, (lo, hi) in (ranges or {}).items():
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
    if predicate is not None:
        cond = cond & F.expr(predicate)
    return F.coalesce(cond, F.lit(False))



def _keys_residual(ks: list[str], keys: list) -> "F.Column":
    """Exact membership predicate for ``read(keys=...)``. Single key:
    one ``isin`` (Catalyst pushes it into the parquet scans). Composite
    key: an OR of per-tuple conjunctions -- probe lists are point-
    lookup sized, so the predicate stays small; NULL-bearing probes
    match nothing (SQL equality)."""
    tuples = _probe_tuples(ks, keys)
    if len(ks) == 1:
        kvals = [t[0] for t in tuples]
        return F.col(ks[0]).isin(kvals) if kvals else F.lit(False)
    cond = F.lit(False)
    for t in tuples:
        c = F.lit(True)
        for k, v in zip(ks, t):
            c = c & (F.col(k) == F.lit(v))
        cond = cond | c
    return cond


def _check_key_types(ks: list[str], schema: T.StructType, what: str) -> None:
    """``keys=`` probing (bloom and bucket-hash contracts) supports
    string/integral merge keys only."""
    bad = [k for k in ks if not _bloom.bloom_supported(schema[k].dataType)]
    if bad:
        raise TypeError(
            f"{what}(keys=...) supports string/integral merge keys; "
            f"{bad[0]} is {schema[bad[0]].dataType.simpleString()}")


def _check_probe_arity(ks: list[str], keys: list) -> None:
    """On a COMPOSITE-key table every non-None probe is a tuple (or
    list) in key-column order."""
    bad = [v for v in keys if len(ks) > 1 and v is not None and (
        not isinstance(v, (tuple, list)) or len(v) != len(ks))]
    if bad:
        raise ValueError(
            f"composite-key probes must be {len(ks)}-tuples in key order "
            f"{ks}; got {bad[0]!r}")


def _probe_tuples(ks: list[str], keys: list) -> list[tuple]:
    """Key probes as key-order tuples, minus those that can match no
    row: a NULL probe or a NULL component (SQL equality)."""
    tuples = [(v,) for v in keys] if len(ks) == 1 else [
        tuple(t) for t in keys if t is not None]
    return [t for t in tuples if not any(v is None for v in t)]


def _key_envelope(ks: list[str], probes: list[tuple]) -> dict[str, tuple]:
    """Per key column, the ``(min, max)`` of the probe values: a range
    every requested row satisfies, so key zone maps can skip files.
    Columns whose probes are unorderable or hold NaN get no envelope
    (python min/max are position-dependent with NaN, and Spark orders
    NaN above every double, so a finite bound would drop the NaN row)."""
    out: dict[str, tuple] = {}
    for i, k in enumerate(ks):
        vals = [t[i] for t in probes]
        try:
            if vals and all(v == v for v in vals):  # v != v is NaN
                out[k] = (min(vals), max(vals))
        except TypeError:
            pass
    return out


def _hashable(dt: T.DataType) -> bool:
    """xxhash64 rejects MapType (and anything containing one); such
    columns are left out of the tie rank -- ties then fall back to
    arbitrary only when rows differ SOLELY in an unhashable column."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return True


# ----------------------------------------------------------------------
def _lsn_rank(content_cols: list[str], is_del) -> "F.Column":
    """Total last-writer-wins order: (coalesced ``_lsn``, content
    rank). The secondary rank makes LSN TIES resolve deterministically
    and IDENTICALLY in every resolver -- the source read, the cow
    merge, the change-stream fast path, and any mirror replica -- so a
    collision between a synthetic stamp (update_where / a folded
    tombstone's follow_changes stamp) and an upstream WAL lsn yields
    the SAME winner everywhere: arbitrary, but convergent. Deletes rank
    as a constant (their logical content is "no row" -- a mor tombstone
    still carries its arrival payload while a replica's applied delete
    has NULL payload, and those must compare equal); live rows rank by
    a hash of the sorted data columns, so byte-identical redeliveries
    tie benignly exactly as before."""
    # the live flag puts deletes in their own stratum BELOW every live
    # row's hash domain (a constant sharing the hash range would make a
    # 2^-64 live-row hash collision nondeterministic again); xxhash64
    # needs >= 1 argument, and a constant keeps the rank total when a
    # key+lsn-only table has no content columns (such live ties are
    # genuinely identical rows anyway)
    ordered = [F.col(c) for c in sorted(content_cols)] or [F.lit(0)]
    return F.struct(
        F.coalesce(F.col(LSN_COL), F.lit(-1)).alias("l"),
        (~is_del).cast("int").alias("live"),
        F.when(is_del, F.lit(0)).otherwise(F.xxhash64(*ordered)).alias("h"),
    )


def _resolve(df: DataFrame, key, schema: T.StructType) -> DataFrame:
    """Last-writer-wins resolution over (base ∪ delta) rows: keep the
    max-``_lsn`` row per key (seed rows with NULL ``_lsn`` rank lowest,
    ties broken by ``_lsn_rank``'s deterministic content rank), drop
    keys whose winner is a tombstone. One hash-aggregate shuffle on
    the key (the full column tuple for composite keys) -- max_by has a
    partial aggregate, so hot keys map-side combine (the skew defense
    for this reduction)."""
    ks = _keylist(key)
    payload = [c for c in df.columns if c not in ks]
    types = {f.name: f.dataType for f in schema.fields}
    content = [c for c in payload
               if c not in (LSN_COL, DELETED_COL)
               and _hashable(types.get(c, T.StringType()))]
    winner = F.max_by(
        F.struct(*payload),
        _lsn_rank(content, F.coalesce(F.col(DELETED_COL), F.lit(False))),
    )
    out = df.groupBy(*ks).agg(winner.alias("_w")).select(*ks, "_w.*")
    return out.filter(
        ~F.coalesce(F.col(DELETED_COL), F.lit(False))
    ).select(*[f.name for f in schema.fields])


# ----------------------------------------------------------------------
# in-process (pyarrow) twins of the read path, used by point lookups
# ----------------------------------------------------------------------
def _arrow_key_filter(ks: list[str], probes: list[tuple],
                      target: pa.Schema) -> "pads.Expression":
    """Pushdown filter for key probes: one ``isin`` per key column,
    typed as the column. Exact for a single key; for a composite key a
    superset that ``_match_probes`` narrows to the probed tuples."""
    import pyarrow.dataset as pads  # imports pandas: only when used

    expr = None
    for i, k in enumerate(ks):
        vals = pa.array(list(dict.fromkeys(t[i] for t in probes)),
                        type=target.field(k).type)
        e = pads.field(k).isin(vals)
        expr = e if expr is None else expr & e
    return expr


def _match_probes(tbl: pa.Table, ks: list[str], probes: list[tuple]) -> pa.Table:
    """Rows of ``tbl`` whose key tuple is one of ``probes``."""
    if len(ks) == 1 or not tbl.num_rows:
        return tbl
    want = set(probes)
    keys = zip(*[tbl.column(k).to_pylist() for k in ks])
    return tbl.filter(pa.array([t in want for t in keys], pa.bool_()))


def _resolve_arrow(tbl: pa.Table, ks: list[str]) -> pa.Table | None:
    """``_resolve`` over an in-process (base ∪ delta) row set: per key
    the row with the highest ``(coalesce(_lsn, -1), live over
    tombstone)`` wins, a key whose winner is a tombstone is dropped,
    and the winner's own ``_lsn`` (NULL included) is kept. Returns
    None when a key's top rank ties between live rows whose content
    differs: only ``_lsn_rank``'s content hash orders those, and it is
    not reimplemented here -- the caller answers through Spark."""
    best: dict[tuple, tuple] = {}
    lsns = tbl.column(LSN_COL).to_pylist()
    dels = tbl.column(DELETED_COL).to_pylist()
    keys = zip(*[tbl.column(k).to_pylist() for k in ks])
    for i, (kv, lsn, dele) in enumerate(zip(keys, lsns, dels)):
        rank = (-1 if lsn is None else lsn, not dele)
        top = best.get(kv)
        if top is None or rank > top[0]:
            best[kv] = (rank, [i])
        elif rank == top[0]:
            top[1].append(i)
    content = tbl.select([c for c in tbl.column_names
                          if c not in ks and c not in (LSN_COL, DELETED_COL)])
    winners = []
    for (_, live), rows in best.values():
        if not live:
            continue
        if len(rows) > 1:
            vals = content.take(rows).to_pylist()
            if any(v != vals[0] for v in vals[1:]):
                return None
        winners.append(rows[0])
    return tbl.take(pa.array(winners, pa.int64())).drop_columns([DELETED_COL])


#: integral promotion ladder for type widening (Iceberg UpdateSchema)
_WIDEN_RANK = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _widens(old: T.DataType, new: T.DataType) -> bool:
    """True iff ``new`` is a legal type WIDENING of ``old`` -- Iceberg's
    promotion set: the integral ladder up to long, float -> double, and
    decimal precision growth at fixed scale. Safe because every old
    value is exactly representable in the new type, and Spark's parquet
    readers (vectorized included) upcast old narrow files to the wider
    read schema natively -- no data rewrite."""
    if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
        return new.scale == old.scale and new.precision > old.precision
    ro = _WIDEN_RANK.get(old.typeName())
    rn = _WIDEN_RANK.get(new.typeName())
    if ro is not None and rn is not None:
        return rn > ro
    return old.typeName() == "float" and new.typeName() == "double"


def _evolved_schema(m: dict[str, Any], batch_df: DataFrame, op_col: str,
                    lsn_col: str) -> T.StructType:
    """Schema evolution (Iceberg: UpdateSchema): new payload columns in
    the batch are appended (nullable) to the table schema, and an
    existing column arriving with a legally WIDER type (``_widens``)
    widens the table column -- old data files are read upcast, new
    files are written wide. Any other type drift keeps the table type
    (the batch column is cast by ``_align``, the pre-evolution
    behavior)."""
    table_schema = T.StructType.fromJson(m["schema"])
    payload_cols = [c for c in batch_df.columns if c not in (op_col, lsn_col)]
    batch_fields = {f.name: f for f in batch_df.schema.fields
                    if f.name in payload_cols}
    fields = [
        # the MERGE KEY never widens: bucket placement is
        # xxhash64(key-as-its-type), so changing the key's type would
        # re-bucket new rows away from their old versions and resurrect
        # duplicates (a wider batch key is cast down by _align instead)
        T.StructField(f.name, batch_fields[f.name].dataType, f.nullable,
                      f.metadata)
        if f.name not in _keylist(m["key"]) and f.name in batch_fields
        and _widens(f.dataType, batch_fields[f.name].dataType)
        else f
        for f in table_schema.fields
    ]
    known = set(table_schema.fieldNames())
    fields += [
        T.StructField(f.name, f.dataType, True)
        for f in batch_df.schema.fields
        if f.name in payload_cols and f.name not in known
    ]
    return T.StructType(fields)


def _buckets_changed_between(old: dict[str, Any], new: dict[str, Any]) -> set[str]:
    """Bucket ids whose base or delta file lists differ between two
    manifests -- the exact footprint of the commits between them (used
    by the copy-on-write rebase disjointness check)."""
    out: set[str] = set()
    for which in ("buckets", "deltas"):
        o, n = old.get(which, {}), new.get(which, {})
        out |= {b for b in set(o) | set(n) if o.get(b, []) != n.get(b, [])}
    return out


def _list_bucket_files(fs: LocalFS, out_dir: str, rel: str) -> dict[str, list[str]]:
    files: dict[str, list[str]] = {}
    if fs.exists(out_dir):
        for d in fs.listdir(out_dir):
            if d.startswith("_b="):
                b = d.split("=", 1)[1]
                files[b] = [
                    os.path.join(rel, d, f)
                    for f in fs.listdir(os.path.join(out_dir, d))
                    if f.endswith(".parquet")
                ]
    return files


#: Spark types whose parquet footer min/max are collected as file-level
#: ZONE MAPS (manifest "stats"). Strings are included: the parquet spec
#: REQUIRES stored min_value/max_value to be valid envelopes (a writer
#: that truncates must round the max up), python/Java/parquet all
#: compare UTF-8 strings in the same order (UTF-8 byte order ==
#: codepoint order), and this engine only harvests footers of files its
#: own pinned session wrote (Spark 4 writes string stats untruncated --
#: verified empirically with >64-byte values). Oversized string bounds
#: (> _ZONE_STR_CAP chars) are dropped per file to keep manifests
#: small. Decimals/binary/complex are out of scope. Missing stats
#: always mean "keep the file" -- pruning is an optimization, never a
#: correctness dependency.
_ZONE_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.BooleanType,
    T.TimestampType, T.TimestampNTZType, T.DateType,
    T.StringType,
)

#: longest string bound kept in a zone map (urls/keys are well under
#: this; a document-body column would bloat every manifest)
_ZONE_STR_CAP = 256


_TS_KEY = "spark.sql.parquet.outputTimestampType"
_TSW_LOCK = __import__("threading").Lock()
_TSW_STATE: dict[tuple, list] = {}  # (id(spark), key) -> [depth, saved]


@contextlib.contextmanager
def _ts_micros(spark: SparkSession):
    """Spark's legacy INT96 parquet timestamps carry NO footer min/max
    stats, which would blind the zone maps; write TIMESTAMP_MICROS (the
    modern int64 encoding Iceberg/Delta require) for the duration of a
    synchronous table write. The conf is SESSION-global and Spark has
    no per-write override (verified: the DataFrameWriter option is
    ignored), so the guard is REFCOUNTED per session: concurrent
    LakeTable writers in one SparkSession nest safely -- the saved
    value is restored only when the last writer exits."""
    with _conf_guard(spark, _TS_KEY, "TIMESTAMP_MICROS", _TSW_STATE):
        yield


_AQE_KEY = "spark.sql.adaptive.enabled"
_AQE_STATE: dict[tuple, list] = {}


@contextlib.contextmanager
def _aqe_off(spark: SparkSession):
    """Disable adaptive query execution for the duration of a MoR
    delta-write action. Every decision AQE could make in that plan is
    already made statically -- the winner semi-join is explicitly
    broadcast-hinted, the write distribution is an explicit
    ``repartition(n, ...)`` AQE may not coalesce, and skew is handled
    by the key-derived salt split -- so AQE contributes only its
    per-exchange materialization barriers (the broadcast build becomes
    its own scheduled job, each shuffle a staged checkpoint), measured
    ~0.1-0.2 s of pure scheduling per commit at suite batch sizes and
    nothing at 3M-event batches. CoW merges and compactions keep AQE:
    their resolve joins are where runtime re-planning (skew-join
    splitting) genuinely pays. Refcounted like ``_ts_micros``; the
    saved value is restored when the last writer exits."""
    with _conf_guard(spark, _AQE_KEY, "false", _AQE_STATE):
        yield


@contextlib.contextmanager
def _conf_guard(spark: SparkSession, key: str, value: str,
                state: dict, lock=_TSW_LOCK):
    """Set a SESSION-global SQL conf for the duration of a synchronous
    write, refcounted per (session, key): concurrent LakeTable writers
    in one SparkSession nest safely -- the saved value is restored only
    when the last writer exits. (Spark has no per-write override for
    these confs; the refcount is what makes the global mutation safe.)"""
    sid = (id(spark), key)
    with lock:
        st = state.get(sid)
        if st is None:
            st = state[sid] = [0, spark.conf.get(key)]
            spark.conf.set(key, value)
        st[0] += 1
    try:
        yield
    finally:
        with lock:
            st = state[sid]
            st[0] -= 1
            if st[0] == 0:
                spark.conf.set(key, st[1])
                del state[sid]


def _enc_stat(v: Any) -> Any:
    """JSON-safe, ORDER-PRESERVING encoding of a footer stat: datetimes
    as fixed-width zero-padded 'YYYY-MM-DDTHH:MM:SS.ffffff' strings
    (lexicographic == chronological -- strftime's %Y would NOT pad a
    year-999 mistyped date, which would sort after 2024 and poison the
    zone), dates as ISO (isoformat pads), numbers/bools as themselves.
    Timestamp stats arrive from pyarrow as UTC wall-clock."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return (f"{v.year:04d}-{v.month:02d}-{v.day:02d}"
                f"T{v.hour:02d}:{v.minute:02d}:{v.second:02d}"
                f".{v.microsecond:06d}")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def _inherit_stats(mp: dict[str, Any]) -> dict[str, Any]:
    """Parent zone maps survive into a child commit only when their
    stamped format is current (STATS_FORMAT) -- stale-format entries
    must not be laundered into a freshly stamped manifest, or an
    unsound pre-fix zone would regain the planner's trust."""
    return mp.get("stats", {}) if mp.get("stats_format") == STATS_FORMAT else {}


def _zone_kind(dt: T.DataType) -> str | None:
    """Coarse type class a range bound must match for PRUNING to be
    allowed on the column (the residual filter handles everything else
    exactly): 'num', 'float' (num that can hold NaN), 'ts' (session-tz
    timestamps), 'ntz', 'date', 'bool', 'str'."""
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "num"
    if isinstance(dt, T.TimestampType):
        return "ts"
    if isinstance(dt, T.TimestampNTZType):
        return "ntz"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "str"
    return None


def _session_tz() -> str:
    try:
        s = SparkSession.getActiveSession()
        if s is not None:
            return s.conf.get("spark.sql.session.timeZone")
    except Exception:
        pass
    return "UTC"


def _enc_bound(v: Any, kind: str | None, tz: str | None = None) -> Any:
    """Encode a predicate bound for comparison against stored zone
    strings/numbers -- or None when the bound is absent OR its Python
    type does not match the column's ``kind`` (then the file is never
    pruned on it; the residual filter still applies the bound exactly).
    Type matching is strict because cross-type string comparison is
    ordered but WRONG (a datetime bound vs a date zone prunes boundary
    days; Spark's own cast semantics differ from lexicographic).
    Naive 'ts' bounds are interpreted in ``tz`` -- the READING session's
    timeZone, passed down by ``read`` so prune and residual filter
    always agree -- and converted to UTC, the clock the footer stats
    are stored in."""
    import datetime as _dt

    if v is None or kind is None:
        return None
    if kind == "ts":
        if not isinstance(v, _dt.datetime):
            return None
        if v.tzinfo is None:
            try:
                from zoneinfo import ZoneInfo

                v = v.replace(tzinfo=ZoneInfo(tz or _session_tz()))
            except Exception:
                # Spark accepts offset-style timeZone values ('+08:00',
                # 'GMT+8') that ZoneInfo does not: never let pruning
                # crash a read -- just don't prune on this bound
                return None
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return _enc_stat(v)
    if kind == "ntz":
        if not isinstance(v, _dt.datetime) or v.tzinfo is not None:
            return None
        return _enc_stat(v)
    if kind == "date":
        if isinstance(v, _dt.datetime) or not isinstance(v, _dt.date):
            return None
        return v.isoformat()
    if kind in ("num", "float"):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return None
        return v
    if kind == "bool":
        return v if isinstance(v, bool) else None
    if kind == "str":
        # python str comparison (codepoint order) == Spark UTF8String /
        # parquet unsigned-byte order: UTF-8 preserves codepoint order
        return v if isinstance(v, str) else None
    return None


def _disjoint(fz: dict | None, enc: dict[str, tuple]) -> bool:
    """True iff a file with zone maps ``fz`` PROVABLY contains no row
    satisfying the pre-encoded range conjunction. Missing stats /
    missing column / type-mismatched bound => False (keep the file) --
    pruning is never a correctness dependency.

    NaN guard: parquet min/max EXCLUDE NaN, and Spark orders NaN above
    every double, so a float file pruned by ``max < lo`` could still
    hold NaN rows that satisfy ``col >= lo``. That prune is therefore
    allowed only when an upper bound also exists (NaN fails
    ``col <= hi`` for every real hi); the ``min > hi`` prune is always
    sound for the same reason."""
    if not fz:
        return False
    for col, (lo, hi, kind, has_hi) in enc.items():
        z = fz.get(col)
        if z is None:
            continue
        zlo, zhi = z
        try:
            if lo is not None and zhi < lo and (kind != "float" or has_hi):
                return True
            if hi is not None and zlo > hi:
                return True
        except TypeError:  # stored stat shape unexpected: never prune
            continue
    return False


def _footer_stats(
    fs: LocalFS, root: str, new_files: dict[str, list[str]],
    schema: T.StructType | None = None,
) -> tuple[dict[str, dict[str, Any]], dict[str, dict[str, list]],
           dict[str, int]]:
    """Per-bucket (row_count, min_lsn, max_lsn) lineage, per-file
    column zone maps, AND per-file exact row counts (the manifest
    ``file_rows`` map -- Iceberg's per-file ``record_count``, letting
    ``row_count()`` answer count(*) from the manifest alone, no footer
    round-trips) from parquet footers of just-written files --
    WITHOUT a Spark job. Footers carry per-row-group column statistics;
    driver-side cost is O(files), and the files are page-cache hot.
    Zone maps cover ``schema``'s :data:`_ZONE_TYPES` columns (pass None
    to skip); a column with no usable stats (e.g. all-NULL tombstone
    payloads) is simply absent from that file's entry."""
    import pyarrow.parquet as pq

    zone_cols = {
        f.name for f in (schema.fields if schema is not None else [])
        if isinstance(f.dataType, _ZONE_TYPES)
    }
    out: dict[str, dict[str, Any]] = {}
    zones: dict[str, dict[str, list]] = {}
    file_rows: dict[str, int] = {}
    for b, files in new_files.items():
        n = 0
        mn: int | None = None
        mx: int | None = None
        for rel in files:
            with fs.open_read(os.path.join(root, rel)) as fobj:
                md = pq.ParquetFile(fobj).metadata
            n += md.num_rows
            file_rows[rel] = md.num_rows
            fz: dict[str, list] = {}
            for i in range(md.num_columns):
                name = md.schema.column(i).name
                if name != LSN_COL and name not in zone_cols:
                    continue
                lo = hi = None
                complete = True
                for rg in range(md.num_row_groups):
                    cc = md.row_group(rg).column(i)
                    st = cc.statistics
                    if st is not None and st.has_min_max:
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    elif not (st is not None and st.has_null_count
                              and st.null_count == cc.num_values):
                        # this row group holds (or may hold) non-null
                        # values the writer left un-summarized -- e.g.
                        # parquet suppresses float min/max when a chunk
                        # contains NaN. A zone built from the OTHER row
                        # groups would be narrower than the data and
                        # pruning would silently drop rows: withhold
                        # the column's zone for this file entirely.
                        complete = False
                if name == LSN_COL:
                    mn = lo if mn is None else (lo if lo is not None and lo < mn else mn)
                    mx = hi if mx is None else (hi if hi is not None and hi > mx else mx)
                if name in zone_cols and lo is not None and complete:
                    if isinstance(lo, str) and (
                            len(lo) > _ZONE_STR_CAP or len(hi) > _ZONE_STR_CAP):
                        continue  # bound too big for the manifest: no zone
                    fz[name] = [_enc_stat(lo), _enc_stat(hi)]
            if fz:
                zones[rel] = fz
        out[b] = {"row_count": n, "min_lsn": mn, "max_lsn": mx}
    return out, zones, file_rows


def _align(df: DataFrame, schema: T.StructType, keep: list[str] | None = None) -> DataFrame:
    """Project df onto schema column order, adding missing columns as
    typed NULLs and casting to the table types (the engine's analogue of
    the reference's canonical type conversion layer,
    /root/reference/src/YADAMU/common/yadamuLibrary.js:10-67)."""
    cols = []
    for f in schema.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    for k in keep or []:
        if k in df.columns:
            cols.append(F.col(k))
    return df.select(*cols)


def _cap(applied: dict[str, Any], keep: int = 1000) -> dict[str, Any]:
    """Bound the fencing ledger. Streaming batch ids are monotonic, so
    only recent ids can ever be replayed; 1000 is far beyond any
    realistic replay window."""
    if len(applied) <= keep:
        return applied
    items = sorted(applied.items(), key=lambda kv: kv[1]["version"])
    return dict(items[-keep:])


def _utc_now_iso() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())

