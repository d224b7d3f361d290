"""Command-line interface -- the reference's primary user surface.

The reference is driven by CLI verbs (yadamuCLI.js:29-96: EXPORT,
IMPORT, UPLOAD, UNLOAD, LOAD, COPY, ENCRYPT, DECRYPT, TEST). A user of
the reference runs jobs from the shell; this module maps each verb onto
the engine's library surfaces so that workflow carries over::

    python -m yadamu___yet_another_data_migration_utility_spark <verb> ...

    export   parquet tables -> ONE monolithic JSON export document
             (--compression gzip, --passphrase for the AES envelope;
             EXPORT requires the file NOT to exist unless --overwrite,
             yadamuCLI.js:48,70)
    import   monolithic export document -> parquet tables
             (IMPORT requires the file to exist, yadamuCLI.js:47,65)
    upload   alias of import (the reference's server-side-parse verb;
             Spark IS the server -- SURVEY §2 D2)
    unload   parquet tables -> staged dataset (parquet/csv/json + control
             file), the reference's loader-format UNLOAD
    load     staged dataset -> parquet tables
    copy     parquet tables -> a LakeTable seed (the bulk COPY path)
    encrypt  wrap any file in the [IV][AES-256-CBC] envelope
    decrypt  strip the envelope
    compare  QA acceptance between two parquet tables (row counts +
             symmetric exceptAll, all six normalization rule families);
             exit code 0 iff equal -- the reference's TEST role

    replay   the engine's core pipeline as a verb: stream a parquet
             WAL changelog through quarantine -> extract -> fenced
             LSN-monotonic MERGE into a lake table, exactly-once,
             resumable from its checkpoint

Table-maintenance verbs (no reference analogue -- the reference is
stateless per-job; a lake table needs day-2 operations):

    compact  fold MoR delta files into bucket bases (optionally
             clustering rows by a sort key)
    expire   snapshot retention: drop manifests/data older than the
             last N versions
    maintain advisor: inspect the manifest for fragmentation / delta
             backlog / small files / retention pressure (+ an advisory
             skew flag) and, with --apply, run the targeted compact +
             expire it recommends (pure metadata to plan; converges)
    analyze  per-column NDV (one-job HyperLogLog) + exact null counts
             over the resolved snapshot, persisted as a metadata-only
             commit and shown by describe -- the broadcastability /
             skew / bucket-sizing input
    bloom    harvest the merge-key Bloom file index (puffin-style
             sidecars; incremental) so point lookups skip files inside
             their hashed buckets, not just buckets
    rebucket rewrite the table under a new bucket count (layout
             evolution as the table grows)
    drop-column  drop a payload column as a full-rewrite purge (no
             field IDs -> a metadata-only drop could resurrect values;
             old snapshots keep the column, expire completes the purge)
    rename-column  rename a column (the merge key included -- buckets
             hash values, so placement survives) as a full rewrite
    history  the commit audit trail as JSON lines (one per commit)
    lineage  per-(version, batch, bucket) applied LSN ranges as JSON
             lines (no Spark session)
    describe table status from the manifest: schema, layout, delta
             pressure, applied batches (no Spark session)
    validate table fsck: manifest chain, file existence, fence ledger;
             --deep adds the O(table) bucket-placement scan; exit code
             0 iff healthy
    changes  incremental CDC-out: net per-key changes in a version
             window, written as parquet for a downstream consumer
    rollup   continuous aggregate maintained from the table's change
             stream: first run seeds (needs --dims/--sums), every later
             run advances it incrementally to the base head (spec
             recovered from the rollup's own schema); exactly-once per
             window via the merge fence
    tag      named snapshot refs (Iceberg tags): pin a version by name
             for reproducible reads (--version accepts the name
             wherever a number is accepted); a tagged version is
             protected from expire until untagged
    delete-where  predicate DELETE (GDPR erasure): copy-on-write rewrite
             of matching rows, zone-map-pruned to the files that can
             contain a match; disjoint files carry over untouched
    update-where  predicate UPDATE (out-of-band correction): the same
             pruned rewrite assigning columns from SQL expressions over
             the old row; updated rows get a fresh LSN so the change
             wins downstream (mirror converges)
    overwrite-where  REPLACE WHERE backfill: atomically delete the
             matching slice and insert a parquet replacement in ONE
             commit (replacement rows must satisfy the predicate;
             --batch-id makes a replayed backfill exactly-once)
    mirror   incremental table replication: first run seeds a replica
             from a source snapshot, every later run catches it up
             through the CDC tail (cursor = the replica's own fence
             ledger); the reference's whole-database COPY made
             incremental and exactly-once
    dedup-ingest  streaming near-dup-filtered document ingest against a
             persisted MinHash signature index (survivors + signatures
             commit under one fence)
    plan     EXPLAIN-for-files: which files a --range scan or a --key
             lookup would read after bucket, zone-map and bloom pruning
             (no Spark session)
    lookup   point read(s) by key: reads exactly the files `plan --key`
             lists, in-process for keys the driver hashes (no Spark job);
             --version/tag composes
    requeue  drain the dead-letter quarantine back through the engine
             with optional --set COL=EXPR repair (exactly-once fenced)
    merge-into  general MERGE INTO from a source file: matched
             update/delete + not-matched insert + not-matched-by-
             source delete/update, SQL clauses over t.*/s.* (the
             ad-hoc upsert next to the replay stream)
    sync     make the table equal a snapshot file in one fenced
             commit (update changed / insert new / delete absent;
             unchanged rows keep their lsn)
    snapshots / files  Iceberg-style metadata tables as JSON lines
    sql      one SQL query over the registered snapshot view (--meta
             adds the metadata views); JSON lines out, --max-rows cap

Every Spark verb builds the standard engine session (session.get_spark)
and reads/writes plain paths, so s3a:// URIs work where Hadoop is
configured. Passphrases arrive via --passphrase or $YADAMU_PASSPHRASE
(the reference prompts interactively; non-interactive here).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(cpus: int | None):
    from .session import get_spark

    # --cpus shapes the LOCAL master only; under spark-submit the
    # cluster manager owns the master and forcing local[N] here would
    # silently collapse the job into the client JVM
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if cpus and under_submit:
        print("warning: --cpus ignored under spark-submit "
              "(the submitted --master wins)", file=sys.stderr)
    master = f"local[{cpus}]" if cpus and not under_submit else None
    return get_spark("yadamu_cli", master=master)


def _tables_arg(s: str) -> list[str]:
    return [t.strip() for t in s.split(",") if t.strip()]


def _load_tables(spark, src_dir: str, tables: list[str]):
    out = {}
    for t in tables:
        out[t] = spark.read.parquet(os.path.join(src_dir, f"{t}.parquet"))
    return out


def _key(args) -> bytes | None:
    pw = args.passphrase or os.environ.get("YADAMU_PASSPHRASE")
    if pw is None:
        return None
    from .sources.filecrypto import derive_key

    return derive_key(pw, salt=args.salt)


def cmd_export(args) -> int:
    if os.path.exists(args.file) and not args.overwrite:
        print(f"error: {args.file} exists (EXPORT refuses to overwrite "
              "without --overwrite)", file=sys.stderr)
        return 2
    from .sources.exportfile import export_json

    spark = _spark(args.cpus)
    tables = _load_tables(spark, args.dir, _tables_arg(args.tables))
    meta = export_json(tables, args.file, compression=args.compression,
                       encryption_key=_key(args))
    print(json.dumps({"exported": list(meta), "file": args.file}))
    return 0


def cmd_import(args) -> int:
    if not os.path.exists(args.file):
        print(f"error: {args.file} does not exist", file=sys.stderr)
        return 2
    from .sources.exportfile import import_json

    spark = _spark(args.cpus)
    dfs = import_json(spark, args.file, encryption_key=_key(args))
    os.makedirs(args.out_dir, exist_ok=True)
    rows = {}
    for name, df in dfs.items():
        dest = os.path.join(args.out_dir, f"{name}.parquet")
        df.write.mode("overwrite" if args.overwrite else "errorifexists").parquet(dest)
        rows[name] = spark.read.parquet(dest).count()
    print(json.dumps({"imported": rows, "out_dir": args.out_dir}))
    return 0


def cmd_unload(args) -> int:
    from .sources.staged import unload

    spark = _spark(args.cpus)
    tables = _load_tables(spark, args.dir, _tables_arg(args.tables))
    manifest = unload(tables, args.out_dir, fmt=args.format,
                      compression=args.compression)
    print(json.dumps({"unloaded": list(manifest["tables"]),
                      "format": args.format, "out_dir": args.out_dir}))
    return 0


def cmd_load(args) -> int:
    from .sources.staged import load_staged

    spark = _spark(args.cpus)
    dfs = load_staged(spark, args.dataset_dir)
    os.makedirs(args.out_dir, exist_ok=True)
    rows = {}
    for name, df in dfs.items():
        dest = os.path.join(args.out_dir, f"{name}.parquet")
        df.write.mode("overwrite" if args.overwrite else "errorifexists").parquet(dest)
        rows[name] = spark.read.parquet(dest).count()
    print(json.dumps({"loaded": rows, "out_dir": args.out_dir}))
    return 0


def _key_arg(key: str) -> "str | list[str]":
    """--key accepts a comma-separated list for composite merge keys
    (e.g. --key url,warc_ts is a two-column key)."""
    parts = [p.strip() for p in key.split(",") if p.strip()]
    if not parts:
        raise SystemExit(f"error: bad --key {key!r}")
    return parts[0] if len(parts) == 1 else parts


def cmd_copy(args) -> int:
    from .sources.laketable import LakeTable

    spark = _spark(args.cpus)
    df = spark.read.parquet(args.source)
    table = LakeTable.create(args.table_root, df.schema, key=_key_arg(args.key),
                             bucket_count=args.buckets,
                             overwrite=args.overwrite,
                             merge_mode=args.merge_mode)
    v = table.append(spark, df, batch_id=0)
    print(json.dumps({"copied_rows": table.read(spark).count(),
                      "table": args.table_root, "version": v}))
    return 0


def cmd_replay(args) -> int:
    from .sources.laketable import LakeTable
    from .streaming.stream import start_replay

    spark = _spark(args.cpus)
    if LakeTable.exists(args.table_root):
        table = LakeTable.load(args.table_root)
    elif args.schema_from:
        # wire replication: seed the replica with the SOURCE table's
        # public schema + merge key, so a `changes --format debezium`
        # feed applies cleanly (the payload decode below derives its
        # struct from this schema)
        from pyspark.sql import types as T

        src = LakeTable.load(args.schema_from)
        pub = T.StructType(
            [f for f in src.schema().fields if not f.name.startswith("_")]
        )
        table = LakeTable.create(
            args.table_root, pub, key=src.manifest()["key"],
            bucket_count=args.buckets, merge_mode=args.merge_mode)
    elif args.create:
        from .fixtures.changelog import PAGE_SCHEMA

        table = LakeTable.create(args.table_root, PAGE_SCHEMA, key=_key_arg(args.key),
                                 bucket_count=args.buckets,
                                 merge_mode=args.merge_mode)
    else:
        print(f"error: no table at {args.table_root} (pass --create to "
              "create the standard pages table)", file=sys.stderr)
        return 2
    ru = None
    if args.rollup_root:
        from .streaming.rollup import IncrementalRollup

        if not LakeTable.exists(args.rollup_root):
            print(f"error: no rollup at {args.rollup_root} (seed it first "
                  "with the rollup verb)", file=sys.stderr)
            return 2
        ru = IncrementalRollup.open(table, args.rollup_root)
    source_format, decoder = "parquet", None
    if args.format == "debezium":
        from pyspark.sql import types as T

        from .sources.envelope import decode_debezium

        # row image = the table's public columns (engine-internal
        # _-prefixed columns such as _lsn never ride the wire)
        payload = T.StructType(
            [f for f in table.schema().fields if not f.name.startswith("_")]
        )
        source_format = "jsonl"
        decoder = lambda df: decode_debezium(  # noqa: E731
            df, payload, wrapped=args.wrapped)
    metrics: list = []
    q = start_replay(
        spark, table, args.log_path, args.checkpoint_dir,
        max_files_per_trigger=args.max_files_per_trigger,
        max_errors=args.max_errors, on_error=args.on_error,
        compact_every=args.compact_every,
        on_metrics=metrics.append,
        rollup=ru, rollup_every=args.rollup_every,
        source_format=source_format, decoder=decoder,
    )
    q.awaitTermination()
    if ru is not None:
        ru.refresh(spark)  # drain-tail window
    applied = sum(m.rows_merged_in for m in metrics)
    quarantined = sum(m.rows_quarantined for m in metrics)
    fenced = sum(1 for m in metrics if m.fenced)
    print(json.dumps({
        "batches": len(metrics), "rows_merged_in": applied,
        "rows_quarantined": quarantined, "fenced_batches": fenced,
        "table_rows": table.read(spark).count(),
        "version": table.current_version(),
    }))
    return 0


def cmd_replay_multi(args) -> int:
    """Schema-level replay: one WAL stream interleaving several tables,
    routed per event by its leading _table column; each table fences
    independently so a crash between per-table commits resumes cleanly."""
    from .sources.laketable import LakeTable
    from .streaming.stream import start_replay_multi

    spark = _spark(args.cpus)
    tables = {}
    for spec in args.table_specs:
        name, sep, root = spec.partition("=")
        if not sep or not name or not root:
            print(f"error: --table needs NAME=ROOT, got {spec!r}",
                  file=sys.stderr)
            return 2
        if name in tables:
            # a silent last-wins overwrite would misroute every event
            # for this name (and --create would still materialize the
            # orphaned first root as a forever-empty table)
            print(f"error: duplicate --table name {name!r}",
                  file=sys.stderr)
            return 2
        if LakeTable.exists(root):
            tables[name] = LakeTable.load(root)
        elif args.create:
            from .fixtures.changelog import PAGE_SCHEMA

            tables[name] = LakeTable.create(
                root, PAGE_SCHEMA, key=_key_arg(args.key), bucket_count=args.buckets,
                merge_mode=args.merge_mode)
        else:
            print(f"error: no table at {root} (pass --create)",
                  file=sys.stderr)
            return 2
    per_table: dict[str, dict[str, int]] = {
        n: {"batches": 0, "rows_merged_in": 0, "fenced_batches": 0}
        for n in tables
    }

    def on_metrics(ms):
        for n, m in ms.items():
            per_table[n]["batches"] += 1
            per_table[n]["rows_merged_in"] += m.rows_merged_in
            per_table[n]["fenced_batches"] += int(m.fenced)

    source_format, decoder = "parquet", None
    if args.format == "debezium":
        from pyspark.sql import types as T

        from .sources.envelope import decode_debezium

        # one from_json pass must parse every table's events, so the
        # payload struct is the UNION of the public fields; the
        # per-table apply re-projects each slice down to its own
        # columns. Same-name fields must agree on type across tables
        # (one JSON wire field cannot carry two parses).
        merged: dict[str, T.StructField] = {}
        for n, t in tables.items():
            for f in t.schema().fields:
                if f.name.startswith("_"):
                    continue
                prev = merged.get(f.name)
                if prev is not None and prev.dataType != f.dataType:
                    print(f"error: payload field {f.name!r} is "
                          f"{prev.dataType.simpleString()} in one table "
                          f"and {f.dataType.simpleString()} in {n!r}; a "
                          "multi-table debezium feed needs consistent "
                          "types per field name", file=sys.stderr)
                    return 2
                merged.setdefault(f.name, f)
        payload = T.StructType(list(merged.values()))
        source_format = "jsonl"
        decoder = lambda df: decode_debezium(  # noqa: E731
            df, payload, wrapped=args.wrapped, table_col="_table")
    q = start_replay_multi(
        spark, tables, args.log_path, args.checkpoint_dir,
        max_files_per_trigger=args.max_files_per_trigger,
        max_errors=args.max_errors, on_error=args.on_error,
        on_metrics=on_metrics,
        source_format=source_format, decoder=decoder,
        project_to_table=(decoder is not None),
    )
    q.awaitTermination()
    print(json.dumps({
        n: {**s, "table_rows": tables[n].read(spark).count(),
            "version": tables[n].current_version()}
        for n, s in per_table.items()
    }, sort_keys=True))
    return 0


def cmd_dedup_ingest(args) -> int:
    from .sources.laketable import LakeTable
    from .streaming.stream import DOC_SCHEMA, SIG_INDEX_SCHEMA, start_dedup_ingest

    spark = _spark(args.cpus)

    def _load_or_create(root, schema, key):
        if LakeTable.exists(root):
            return LakeTable.load(root)
        if args.create:
            return LakeTable.create(root, schema, key=key,
                                    bucket_count=args.buckets)
        print(f"error: no table at {root} (pass --create)", file=sys.stderr)
        return None

    docs = _load_or_create(args.table_root, DOC_SCHEMA, "doc_id")
    index = _load_or_create(args.index_root, SIG_INDEX_SCHEMA, "sig_key")
    if docs is None or index is None:
        return 2
    metrics: list[dict] = []
    q = start_dedup_ingest(
        spark, docs, index, args.source_path, args.checkpoint_dir,
        min_band_matches=args.min_band_matches,
        max_files_per_trigger=args.max_files_per_trigger,
        on_metrics=metrics.append,
    )
    q.awaitTermination()
    print(json.dumps({
        "batches": len(metrics),
        "docs_in": sum(m["n_in"] for m in metrics),
        "docs_kept": sum(m["n_kept"] for m in metrics),
        "dups_dropped": sum(m["n_dups"] for m in metrics),
        "table_rows": docs.read(spark).count(),
        "index_rows": index.read(spark).count(),
    }))
    return 0


def _table(args):
    from .sources.laketable import LakeTable

    t = LakeTable.load(args.table_root)
    if getattr(args, "branch", None):
        # ValueError on unknown branch -> main()'s usage-error handler
        t = t.for_branch(args.branch)
    return t


def cmd_compact(args) -> int:
    table = _table(args)
    spark = _spark(args.cpus)
    sort_by = _tables_arg(args.sort_by) if args.sort_by else None
    zorder = _tables_arg(args.zorder_by) if args.zorder_by else None
    v = table.compact(spark, max_files_per_bucket=args.max_files_per_bucket,
                      all_deltas=args.all_deltas, sort_within_buckets=sort_by,
                      zorder_by=zorder)
    print(json.dumps({"compacted": v is not None, "version": v}))
    return 0


def cmd_expire(args) -> int:
    swept = _table(args).expire_snapshots(keep_last=args.keep_last)
    print(json.dumps({"expired": swept}))
    return 0


def cmd_stage(args) -> int:
    """Write-audit-publish: stage a changelog batch without exposing
    it. Audit with `lookup`/SQL over `publish --dry-run`-style reads
    (read_staged), then `publish` or `abort-staged`."""
    table = _table(args)
    spark = _spark(args.cpus)
    df = spark.read.parquet(args.log_path)
    frag = table.stage_merge(spark, df, batch_id=args.batch_id)
    print(json.dumps({
        "staged": True, "batch_id": frag["batch_id"],
        "rows_in": frag["rows_in"], "rows_deleted": frag["rows_deleted"],
        "min_lsn": frag["min_lsn"], "max_lsn": frag["max_lsn"],
        "buckets": len(frag["files"]),
    }))
    return 0


def cmd_publish(args) -> int:
    table = _table(args)
    res = table.publish_staged(args.batch_id)
    if res is None:
        print(json.dumps({"published": False,
                          "reason": "batch already applied elsewhere"}))
        return 0
    print(json.dumps({"published": True, **res.as_dict()}))
    return 0


def cmd_abort_staged(args) -> int:
    table = _table(args)
    had = any(s["batch_id"] == args.batch_id for s in table.list_staged())
    table.abort_staged(args.batch_id)
    print(json.dumps({"aborted": had, "batch_id": args.batch_id}))
    return 0


def cmd_maintain(args) -> int:
    table = _table(args)
    # planning is pure metadata; only --apply needs a SparkSession
    spark = _spark(args.cpus) if args.apply else None
    plan = table.maintain(
        spark, apply=args.apply,
        max_files_per_bucket=args.max_files_per_bucket,
        small_file_bytes=args.small_file_mb << 20,
        keep_last=args.keep_last,
    )
    print(json.dumps(plan))
    return 0


def cmd_rebucket(args) -> int:
    table = _table(args)
    spark = _spark(args.cpus)
    v = table.rebucket(spark, args.buckets)
    print(json.dumps({"rebucketed": v is not None, "version": v,
                      "buckets": args.buckets}))
    return 0


def cmd_drop_column(args) -> int:
    table = _table(args)
    spark = _spark(args.cpus)
    v = table.drop_column(spark, args.column)
    print(json.dumps({"dropped": args.column, "version": v}))
    return 0


def cmd_rename_column(args) -> int:
    table = _table(args)
    spark = _spark(args.cpus)
    try:
        v = table.rename_column(spark, args.column, args.to)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    print(json.dumps({"renamed": args.column, "to": args.to, "version": v}))
    return 0


def cmd_history(args) -> int:
    # audit entries live in the manifests -- no Spark session needed
    for row in _table(args).audit_entries():
        print(json.dumps(row, sort_keys=True))
    return 0


def cmd_lineage(args) -> int:
    # per-(version, batch, bucket) applied LSN ranges -- manifests only
    for row in _table(args).lineage_entries():
        print(json.dumps(row, sort_keys=True))
    return 0


def cmd_snapshots(args) -> int:
    # Iceberg-style snapshots metadata table -- manifests only
    for row in _table(args).snapshot_entries():
        print(json.dumps(row, sort_keys=True))
    return 0


def cmd_files(args) -> int:
    # Iceberg-style files metadata table -- manifests + FS stat calls
    for row in _table(args).file_entries(args.version):
        print(json.dumps(row, sort_keys=True))
    return 0


def cmd_validate(args) -> int:
    t = _table(args)
    spark = _spark(args.cpus) if args.deep else None
    report = t.validate(spark, deep=args.deep)
    print(json.dumps(report, sort_keys=True))
    return 0 if report["ok"] else 1


def _parse_typed(ty: str | None, s: str):
    """Parse a CLI value to the manifest-schema type ``ty`` -- one
    definition shared by the plan, lookup and delete-where verbs.
    Decimals parse exactly at the column's scale, binary values from
    hex. Raises ValueError on malformed input or a decimal that would
    need rounding (callers turn it into a clean exit 2). Other types
    (string, complex) pass through as the text itself."""
    import datetime as dt
    import decimal
    import re

    if ty in ("timestamp", "timestamp_ntz"):
        return dt.datetime.fromisoformat(s)
    if ty == "date":
        return dt.date.fromisoformat(s)
    if ty == "boolean":
        low = s.lower()
        if low in ("1", "true", "t", "yes"):
            return True
        if low in ("0", "false", "f", "no"):
            return False
        raise ValueError(f"not a boolean: {s!r}")
    if ty in ("double", "float"):
        return float(s)
    if ty in ("byte", "short", "integer", "long"):
        return int(s)
    if ty == "binary":
        return bytes.fromhex(s)
    if ty and (m := re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", ty)):
        prec, scale = int(m[1]), int(m[2])
        try:
            d = decimal.Decimal(s)
            if not d.is_finite():
                raise decimal.InvalidOperation
            q = d.quantize(decimal.Decimal(1).scaleb(-scale),
                           context=decimal.Context(prec=prec))
        except decimal.InvalidOperation:
            raise ValueError(f"not a {ty}: {s!r}") from None
        if q != d:
            raise ValueError(f"{s!r} needs rounding to fit {ty}")
        return q
    return s


def _parse_range_args(specs, types) -> tuple[dict | None, str | None]:
    """Parse repeated ``--range COL:LO..HI`` specs against the schema's
    column types ('..' delimits bounds because ISO timestamps contain
    ':'; an empty LO/HI is an open end). Returns (ranges, None) or
    (None, error message) -- shared by the plan and delete-where verbs
    so the CLI's typed-bound rule cannot drift between them."""
    ranges = {}
    for spec in specs:
        col, sep, rest = spec.partition(":")
        lo, sep2, hi = rest.partition("..")
        if not sep or not sep2:
            return None, (f"error: bad --range {spec!r} (want COL:LO..HI; "
                          "leave LO or HI empty for an open end)")
        if col not in types:
            return None, f"error: unknown column {col!r}"
        try:
            ranges[col] = (
                None if lo == "" else _parse_typed(types[col], lo),
                None if hi == "" else _parse_typed(types[col], hi),
            )
        except ValueError as e:
            return None, (f"error: bad bound in --range {spec!r} for "
                          f"{types[col]} column {col!r}: {e}")
    return ranges, None


def cmd_plan(args) -> int:
    """EXPLAIN-for-files: print the exact file set a ``read`` would
    scan under the given ranges -- or, with ``--key``, the files a
    ``lookup`` of those keys opens (hashed buckets, then key zone maps
    and blooms) -- next to the unpruned plan: the operator's answer to
    "why didn't my scan prune". Bounds and keys are parsed to the
    COLUMN's type from the manifest schema (ISO timestamps/dates,
    numerics, exact decimals, booleans, hex binary), matching the
    typed-bound rule the planner itself enforces. Manifest-only: no Spark session."""
    t = _table(args)
    m = t.manifest(args.version)
    types = {f["name"]: f["type"] for f in m["schema"]["fields"]}
    ranges, err = _parse_range_args(args.range, types)
    if err:
        print(err, file=sys.stderr)
        return 2
    try:
        keys = _parse_keys(args.key, m) if args.key else None
        pruned = t.plan_files(version=args.version, ranges=ranges or None,
                              keys=keys)
    except (TypeError, ValueError) as e:  # ranges were validated above
        print(f"error: bad key for merge key {m['key']!r}: {e}",
              file=sys.stderr)
        return 2
    full = t.plan_files(version=args.version)
    n = lambda p: len(p["plain"]) + len(p["delta_resolved"])  # noqa: E731
    print(json.dumps({
        "version": m["version"],
        "files_total": n(full),
        "files_scanned": n(pruned),
        "files_pruned": n(full) - n(pruned),
        "plain": pruned["plain"],
        "delta_resolved": pruned["delta_resolved"],
    }, sort_keys=True))
    return 0


def _parse_keys(args_key: list[str], m: dict) -> list:
    """Parse repeated ``--key`` values to the merge-key column types of
    manifest ``m``; on a COMPOSITE-key table each is a comma-separated
    tuple in key-column order. Raises ValueError on malformed input."""
    kcols = m["key"] if isinstance(m["key"], list) else [m["key"]]
    types = {f["name"]: f["type"] for f in m["schema"]["fields"]}
    if len(kcols) == 1:
        return [_parse_typed(types[kcols[0]], k) for k in args_key]
    keys = []
    for karg in args_key:
        comps = karg.split(",")
        if len(comps) != len(kcols):
            raise ValueError(
                f"{karg!r}: need {len(kcols)} comma-separated "
                f"components for composite key {kcols}")
        keys.append(tuple(
            _parse_typed(types[c], v) for c, v in zip(kcols, comps)))
    return keys


def cmd_lookup(args) -> int:
    """Point lookup: current row per key (LakeTable.lookup), reading
    exactly the files ``plan --key`` lists -- in-process, without a
    Spark job, for the key types the driver hashes. Keys are parsed to the
    merge-key column's type; on a COMPOSITE-key table each --key is a
    comma-separated tuple in key-column order."""
    t = _table(args)
    m = t.manifest(args.version)
    try:
        keys = _parse_keys(args.key, m)
    except ValueError as e:
        print(f"error: bad key for merge key {m['key']!r}: {e}",
              file=sys.stderr)
        return 2
    spark = _spark(args.cpus)  # only after the keys validated
    rows = t.lookup(spark, keys, version=args.version, public=True).collect()
    print(json.dumps({
        "key_column": m["key"], "requested": len(keys), "found": len(rows),
        "rows": [r.asDict() for r in rows],
    }, sort_keys=True, default=str))
    return 0


def _pairs(items: list[str], flag: str) -> dict[str, str] | None:
    """Parse repeated COL=SQL_EXPR flags; SystemExit on malformed input
    (callers print it and return usage error 2)."""
    out: dict[str, str] = {}
    for item in items:
        col, _, expr = item.partition("=")
        if not col or not expr:
            raise SystemExit(
                f"error: {flag} expects COL=SQL_EXPR, got {item!r}")
        out[col] = expr
    return out or None


def cmd_requeue(args) -> int:
    """Drain the dead-letter quarantine back through the engine
    (operators.apply.requeue_quarantine): optional per-column repair,
    re-validation, exactly-once fencing. Rows the repair does not fix
    land back in quarantine under the drain's own batch id."""
    from .operators.apply import pending_quarantine_ids, requeue_quarantine

    t = _table(args)
    try:
        repair = _pairs(args.set or [], "--set")
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    spark = _spark(args.cpus)
    m = requeue_quarantine(
        t, spark,
        batch_ids=args.batch_id or None,
        repair=repair,
        requeue_id=args.requeue_id,
    )
    print(json.dumps({
        "drained": m is not None,
        "metrics": m.as_dict() if m else None,
        "pending_after": pending_quarantine_ids(t),
    }, sort_keys=True, default=str))
    return 0


def cmd_merge_into(args) -> int:
    """General MERGE INTO from a staged source file: WHEN MATCHED
    UPDATE/DELETE + WHEN NOT MATCHED INSERT with SQL expressions over
    ``t.*``/``s.*`` (LakeTable.merge_into). The CDC stream path is
    ``replay``; this is the ad-hoc upsert/correction surface."""
    t = _table(args)
    if args.set and args.set_all:
        print("error: --set and --set-all are mutually exclusive",
              file=sys.stderr)
        return 2
    if args.insert and args.insert_all:
        print("error: --insert and --insert-all are mutually exclusive",
              file=sys.stderr)
        return 2
    try:
        update_set = "all" if args.set_all else _pairs(args.set, "--set")
        insert_values = "all" if args.insert_all else _pairs(
            args.insert, "--insert")
        by_source_update = _pairs(args.by_source_set, "--by-source-set")
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    spark = _spark(args.cpus)
    src = _read_source(spark, args.source, args.format)
    v, counts = t.merge_into(
        spark, src,
        source_key=(_key_arg(args.source_key)
                    if args.source_key else None),
        update_set=update_set,
        update_condition=args.update_condition,
        delete=args.delete,
        delete_condition=args.delete_condition,
        insert_values=insert_values,
        insert_condition=args.insert_condition,
        by_source_delete=args.by_source_delete,
        by_source_delete_condition=args.by_source_delete_condition,
        by_source_update=by_source_update,
        by_source_update_condition=args.by_source_update_condition,
        evolve=args.evolve,
        batch_id=args.batch_id,
    )
    print(json.dumps({"version": v, "counts": counts}, sort_keys=True))
    return 0


def _read_source(spark, path: str, fmt: str):
    if fmt == "csv":
        return spark.read.option("header", "true") \
            .option("inferSchema", "true").csv(path)
    if fmt == "json":
        return spark.read.json(path)
    return spark.read.parquet(path)


def cmd_sync(args) -> int:
    """Make the table equal a snapshot file in one fenced commit
    (LakeTable.sync_from): update keys whose row differs, insert new
    keys, delete keys absent from the snapshot. The full-migration
    verb -- the reference's whole-table COPY re-expressed as
    incremental convergence."""
    t = _table(args)
    spark = _spark(args.cpus)
    snap = _read_source(spark, args.source, args.format)
    v, counts = t.sync_from(spark, snap,
                             source_key=(_key_arg(args.source_key)
                                         if args.source_key else None),
                            evolve=args.evolve,
                            allow_empty=args.allow_empty,
                            batch_id=args.batch_id)
    print(json.dumps({"version": v, "counts": counts}, sort_keys=True))
    return 0


def cmd_describe(args) -> int:
    # manifest-only: no Spark session needed
    from .sources.bloomindex import BLOOM_FORMAT

    t = _table(args)
    m = t.manifest()
    deltas = m.get("deltas", {})
    blooms = ((m.get("bloom_files") or {})
              if m.get("blooms_format") == BLOOM_FORMAT else {})
    print(json.dumps({
        "version": m["version"],
        "key": m["key"],
        "bucket_count": m["bucket_count"],
        "merge_mode": m.get("merge_mode", "cow"),
        "schema": {f["name"]: f["type"] for f in m["schema"]["fields"]},
        "base_files": sum(len(v) for v in m["buckets"].values()),
        "delta_files": sum(len(v) for v in deltas.values()),
        "buckets_with_deltas": sum(1 for v in deltas.values() if v),
        "applied_batches": len(m["applied_batches"]),
        # --counts: exact metadata-only count(*) (O(files) footer
        # reads, still no Spark job) -- null while deltas are pending
        # (read-side resolution could drop rows; compact to refresh)
        **({"row_count": t.row_count()} if args.counts else {}),
        # zone-map coverage: how many referenced files carry min/max
        # stats (files without them are never range-pruned)
        "stats_files": len(m.get("stats", {})),
        # bloom-index coverage: files whose key bloom can skip them on
        # point lookups (bloom verb / harvest_blooms to extend); an
        # index of a stale format prunes nothing, so it counts as none
        "bloom_files": sum(len(v) for v in blooms.values()),
        "bloom_sidecars": len(blooms),
        "last_operation": (m.get("summary") or {}).get("operation")
        or (m.get("audit") or {}).get("operation"),
        "committed_at": m.get("committed_at"),
        "refs": m.get("refs", {}),
        "constraints": m.get("constraints", {}),
        "table_stats": m.get("table_stats"),
        "staged": [
            {"batch_id": s["batch_id"], "status": s["status"],
             "rows_in": s.get("rows_in"), "staged_at": s["staged_at"]}
            for s in t.list_staged()
        ],
    }, sort_keys=True))
    return 0


def cmd_analyze(args) -> int:
    table = _table(args)
    spark = _spark(args.cpus)
    cols = _tables_arg(args.columns) if args.columns else None
    stats = table.analyze(spark, columns=cols)
    print(json.dumps(stats, sort_keys=True))
    return 0


def cmd_sql(args) -> int:
    """Ad-hoc SQL over the lake table: register the resolved snapshot as
    a temp view named --name (plus the five metadata views with --meta)
    and run ONE query, printing JSON lines. The reference's UPLOAD role
    (ship data into the server, query it with SQL -- SURVEY §2 D2)
    turned interactive: Spark IS the server. A pinned --version/tag
    gives a reproducible session; the view captures that snapshot's
    plan (mor resolution included). Output is capped at --max-rows on
    the driver -- an accidentally unbounded SELECT prints a truncation
    note instead of collecting the table. NULL columns print as
    explicit JSON nulls (``toJSON`` would drop them per-row, giving a
    line-to-line varying shape), matching the other JSON-lines verbs."""
    from pyspark.errors import PySparkException

    t = _table(args)
    spark = _spark(args.cpus)
    try:
        # register inside the clean-error block: building the snapshot
        # view / metadata DataFrames can itself fail Spark-side (corrupt
        # parquet footer, schema mismatch) and must share the contract
        t.register(spark, args.name, version=args.version)
        if args.meta:
            t.register_meta(spark, args.name)
        df = spark.sql(args.query)
        if args.out:
            # distributed write: the full result goes executor-side to
            # parquet, nothing is collected -- the ETL shape of the verb
            df.write.mode("errorifexists").parquet(args.out)
            print(json.dumps({"written": args.out}))
            return 0
        # take(max+1): bounded driver transfer and an exact truncation
        # signal without a second job
        rows = df.take(args.max_rows + 1)
    except PySparkException as e:
        # the WHOLE family, not just AnalysisException: the engine
        # session runs ANSI mode, so hand-typed SQL also fails at
        # runtime (1/0, bad casts -> ArithmeticException/CastException
        # out of take()/write) and the verb's clean-error contract must
        # hold there too, not dump a Py4J stack
        print(f"error: {e.getMessage() if hasattr(e, 'getMessage') else e}",
              file=sys.stderr)
        return 2

    def _conv(v):  # non-JSON-native scalars, nested depths included
        if isinstance(v, (bytes, bytearray)):
            return bytes(v).hex()
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return str(v)  # Decimal and anything else exotic

    for r in rows[:args.max_rows]:
        print(json.dumps(r.asDict(recursive=True), default=_conv))
    if len(rows) > args.max_rows:
        print(f"note: output truncated at --max-rows {args.max_rows}",
              file=sys.stderr)
    return 0


def cmd_bloom(args) -> int:
    table = _table(args)
    spark = _spark(args.cpus)
    out = table.harvest_blooms(spark, bits_per_key=args.bits_per_key,
                               k=args.hashes)
    print(json.dumps(out, sort_keys=True))
    return 0


def cmd_changes(args) -> int:
    table = _table(args)
    spark = _spark(args.cpus)
    # resolve the window bound ONCE and pass it explicitly: the printed
    # `until` is the consumer's next --since, so it must name exactly
    # the snapshot the parquet covers even if a concurrent writer
    # commits between the read and the print
    until = table.current_version() if args.until is None else args.until
    if args.format == "debezium":
        from .streaming.stream import publish_changes

        if args.public:
            print("error: --public drops the _lsn ordering token; a "
                  "published wire feed must stay applyable", file=sys.stderr)
            return 2
        summ = publish_changes(spark, table, args.out_dir, args.since,
                               until_version=until, wrapped=args.wrapped,
                               mode="overwrite" if args.overwrite
                               else "append")
        print(json.dumps(summ))
        return 0
    df = table.read_changes(spark, args.since, until_version=until,
                            public=args.public)
    df.write.mode("overwrite" if args.overwrite else "errorifexists").parquet(args.out_dir)
    n = spark.read.parquet(args.out_dir).count()
    print(json.dumps({"changes": n, "since": args.since, "until": until,
                      "out_dir": args.out_dir}))
    return 0


def cmd_rollup(args) -> int:
    from .sources.laketable import LakeTable
    from .streaming.rollup import IncrementalRollup

    base = _table(args)
    spark = _spark(args.cpus)
    created = not LakeTable.exists(args.rollup_root)
    if created:
        if not args.dims:
            print("error: first run needs --dims to seed "
                  "(--sums optional: count-only rollup)", file=sys.stderr)
            return 2
        ru = IncrementalRollup.create(
            spark, args.rollup_root, base,
            dims=_tables_arg(args.dims),
            sums=_tables_arg(args.sums or ""),
            bucket_count=args.buckets,
        )
    else:
        ru = IncrementalRollup.open(base, args.rollup_root)
    cursor = ru.refresh(spark)
    out = {
        "created": created, "cursor": cursor,
        "dims": ru.dims, "sums": ru.sums,
        "groups": ru.read(spark).count(),
    }
    if args.verify:
        report = ru.verify(spark)
        out["verify"] = report
        print(json.dumps(out, sort_keys=True))
        return 0 if report["ok"] else 1
    print(json.dumps(out, sort_keys=True))
    return 0


def _version_arg(s: str):
    """A ``--version`` value: a version number or a tag name."""
    return int(s) if s.isdigit() else s


def cmd_tag(args) -> int:
    """Named refs (Iceberg tags): --set pins a snapshot by name (and
    protects it from expire), --delete releases it, default lists.
    Manifest-only except the tag/untag commit itself (no Spark job)."""
    t = _table(args)
    try:
        if args.set:
            v = t.tag(args.set, version=args.version)
            print(json.dumps({"tagged": args.set,
                              "target": t.resolve_ref(args.set),
                              "version": v}, sort_keys=True))
        elif args.delete:
            v = t.untag(args.delete)
            print(json.dumps({"untagged": args.delete, "version": v},
                             sort_keys=True))
        else:
            print(json.dumps({"refs": t.refs()}, sort_keys=True))
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    return 0


def cmd_constraint(args) -> int:
    """CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT): --add
    NAME --check EXPR declares one (validating existing rows unless
    --no-validate), --drop removes one, default lists. Violating CDC
    events quarantine as check:<name>; bulk appends abort whole."""
    t = _table(args)
    try:
        if args.add:
            if not args.check:
                print("error: --add needs --check EXPR", file=sys.stderr)
                return 2
            spark = _spark(args.cpus)
            v = t.add_constraint(spark, args.add, args.check,
                                 validate=not args.no_validate)
            print(json.dumps({"added": args.add, "check": args.check,
                              "version": v}, sort_keys=True))
        elif args.drop:
            v = t.drop_constraint(args.drop)
            print(json.dumps({"dropped": args.drop, "version": v},
                             sort_keys=True))
        else:
            print(json.dumps({"constraints": t.constraints()},
                             sort_keys=True))
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    return 0


def cmd_rollback(args) -> int:
    """Revert to a retained snapshot (metadata-only commit): state,
    schema and fence ledger go back so the reverted batches can
    re-replay; history stays auditable; downstream change windows
    crossing the revert are NULL-stamped for the tail."""
    from .sources.laketable import RebaseError

    t = _table(args)
    try:
        v = t.rollback_to(args.to)
    except (ValueError, RebaseError) as e:
        # RebaseError: a commit landed after the rollback was planned --
        # a clean retry-able condition, not a traceback
        print(f"error: {e}", file=sys.stderr)
        return 2
    summ = t.manifest()["summary"]
    print(json.dumps({"rolled_back_to": summ["target"],
                      "reverted_from": summ["reverted_from"],
                      "version": v}, sort_keys=True))
    return 0


def cmd_branch(args) -> int:
    """Writable refs (Iceberg branches): --create forks an isolated
    line of commits, --fast-forward publishes it back onto main (and
    drops it), --drop abandons it, default lists. Other verbs take a
    ``--branch NAME`` to read or commit against a branch. All
    manifest-only (no Spark job)."""
    from .sources.laketable import RebaseError

    t = _table(args)
    try:
        if args.create:
            b = t.create_branch(args.create, version=args.version)
            print(json.dumps({"created": args.create,
                              "fork_version": b.fork_version()},
                             sort_keys=True))
        elif args.fast_forward:
            v = t.fast_forward(args.fast_forward)
            print(json.dumps({"fast_forwarded": args.fast_forward,
                              "version": v}, sort_keys=True))
        elif args.drop:
            t.drop_branch(args.drop)
            print(json.dumps({"dropped": args.drop}, sort_keys=True))
        else:
            print(json.dumps({"branches": t.branches()}, sort_keys=True))
    except (ValueError, FileExistsError, RebaseError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    return 0


def _cmd_rewrite_where(args, assignments: dict | None) -> int:
    """Shared body of the delete-where / update-where verbs (one
    condition-and-output frame; the engine call differs)."""
    t = _table(args)
    m = t.manifest()
    types = {f["name"]: f["type"] for f in m["schema"]["fields"]}
    ranges, err = _parse_range_args(args.range, types)
    if err:
        print(err, file=sys.stderr)
        return 2
    if not args.predicate and not ranges:
        print("error: need --predicate and/or --range", file=sys.stderr)
        return 2
    spark = _spark(args.cpus)
    if assignments is None:
        v, n = t.delete_where(spark, predicate=args.predicate,
                              ranges=ranges or None)
        out = {"rows_deleted": n, "version": v}
    else:
        v, n = t.update_where(spark, assignments, predicate=args.predicate,
                              ranges=ranges or None)
        out = {"rows_updated": n, "version": v}
    if v is not None:
        summ = t.manifest()["summary"]
        out.update(files_rewritten=summ["files_rewritten"],
                   buckets_folded=summ["buckets_folded"])
    print(json.dumps(out, sort_keys=True))
    return 0


def cmd_delete_where(args) -> int:
    return _cmd_rewrite_where(args, None)


def cmd_overwrite_where(args) -> int:
    t = _table(args)
    m = t.manifest()
    types = {f["name"]: f["type"] for f in m["schema"]["fields"]}
    ranges, err = _parse_range_args(args.range, types)
    if err:
        print(err, file=sys.stderr)
        return 2
    if not args.predicate and not ranges:
        print("error: need --predicate and/or --range", file=sys.stderr)
        return 2
    if not os.path.exists(args.source):
        print(f"error: source not found: {args.source}", file=sys.stderr)
        return 2
    spark = _spark(args.cpus)
    df = spark.read.parquet(args.source)
    try:
        v, n_del, n_ins = t.overwrite_where(
            spark, df, predicate=args.predicate, ranges=ranges or None,
            batch_id=args.batch_id)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    print(json.dumps({"version": v, "rows_deleted": n_del,
                      "rows_inserted": n_ins}, sort_keys=True))
    return 0


def cmd_update_where(args) -> int:
    assignments = {}
    for spec in args.set:
        col, sep, expr = spec.partition("=")
        if not sep or not col.strip() or not expr.strip():
            print(f"error: bad --set {spec!r} (want COL=EXPR)",
                  file=sys.stderr)
            return 2
        assignments[col.strip()] = expr.strip()
    return _cmd_rewrite_where(args, assignments)


def cmd_mirror(args) -> int:
    from .sources.laketable import LakeTable
    from .streaming.stream import mirror, mirror_cursor

    source = _table(args)
    spark = _spark(args.cpus)
    existed = LakeTable.exists(args.replica_root)
    before = mirror_cursor(LakeTable.load(args.replica_root)) if existed else 0
    rep, cursor = mirror(
        spark, source, args.replica_root,
        stop_at_version=args.until, poll_seconds=0.1,
    )
    out = {
        "seeded": before == 0, "cursor": cursor,
        "source_version": source.current_version(),
    }
    if args.count:
        # O(replica) scan + mor resolve -- opt-in, so the steady-state
        # cron'd catch-up stays O(window changes)
        out["replica_rows"] = rep.read(spark, public=True).count()
    print(json.dumps(out, sort_keys=True))
    return 0


def cmd_encrypt(args) -> int:
    from .sources.filecrypto import encrypt_file

    key = _key(args)
    if key is None:
        print("error: --passphrase or $YADAMU_PASSPHRASE required", file=sys.stderr)
        return 2
    encrypt_file(args.file, args.out_file, key)
    print(json.dumps({"encrypted": args.out_file}))
    return 0


def cmd_decrypt(args) -> int:
    from .sources.filecrypto import decrypt_file

    key = _key(args)
    if key is None:
        print("error: --passphrase or $YADAMU_PASSPHRASE required", file=sys.stderr)
        return 2
    decrypt_file(args.file, args.out_file, key)
    print(json.dumps({"decrypted": args.out_file}))
    return 0


def cmd_compare(args) -> int:
    from .operators.compare import compare

    spark = _spark(args.cpus)
    rules = dict(
        timestamp_precision=args.timestamp_precision,
        double_precision=args.double_precision,
        empty_string_is_null=args.empty_string_is_null,
        infinity_is_null=args.infinity_is_null,
        ordered_json=args.ordered_json,
        canonical_xml=args.canonical_xml,
    )
    if args.tables:
        # schema mode (the reference's per-schema TEST run): compare
        # <dir>/<table>.parquet pairs; exit 0 iff EVERY table matches
        all_ok = True
        for t in _tables_arg(args.tables):
            res = compare(
                spark.read.parquet(os.path.join(args.source, f"{t}.parquet")),
                spark.read.parquet(os.path.join(args.target, f"{t}.parquet")),
                **rules,
            )
            all_ok &= res.ok
            print(json.dumps({
                "table": t, "source_rows": res.source_rows,
                "target_rows": res.target_rows,
                "missing_rows": res.missing_rows, "extra_rows": res.extra_rows,
                "ok": res.ok,
            }))
        return 0 if all_ok else 1
    res = compare(
        spark.read.parquet(args.source),
        spark.read.parquet(args.target),
        **rules,
    )
    print(json.dumps({
        "source_rows": res.source_rows, "target_rows": res.target_rows,
        "missing_rows": res.missing_rows, "extra_rows": res.extra_rows,
        "ok": res.ok,
    }))
    return 0 if res.ok else 1


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="yadamu-spark", description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    sub = p.add_subparsers(dest="verb", required=True)

    def common(sp, crypto=False):
        sp.add_argument("--cpus", type=int, default=None,
                        help="local[N] cores (default: engine session default)")
        if crypto:
            sp.add_argument("--passphrase", default=None)
            sp.add_argument("--salt", default=None)

    def branch_opt(sp):
        sp.add_argument("--branch", default=None, metavar="NAME",
                        help="run against this branch instead of main")

    sp = sub.add_parser("export", help="parquet tables -> monolithic JSON document")
    sp.add_argument("--dir", required=True, help="directory of <table>.parquet")
    sp.add_argument("--tables", required=True, help="comma-separated table names")
    sp.add_argument("--file", required=True, help="output document path")
    sp.add_argument("--compression", choices=["gzip"], default=None)
    sp.add_argument("--overwrite", action="store_true")
    common(sp, crypto=True)
    sp.set_defaults(fn=cmd_export)

    for verb, fn in (("import", cmd_import), ("upload", cmd_import)):
        sp = sub.add_parser(verb, help="monolithic JSON document -> parquet tables")
        sp.add_argument("--file", required=True)
        sp.add_argument("--out-dir", required=True)
        sp.add_argument("--overwrite", action="store_true")
        common(sp, crypto=True)
        sp.set_defaults(fn=fn)

    sp = sub.add_parser("unload", help="parquet tables -> staged dataset")
    sp.add_argument("--dir", required=True)
    sp.add_argument("--tables", required=True)
    sp.add_argument("--out-dir", required=True)
    sp.add_argument("--format", choices=["parquet", "csv", "json"], default="parquet")
    sp.add_argument("--compression", default=None)
    common(sp)
    sp.set_defaults(fn=cmd_unload)

    sp = sub.add_parser("load", help="staged dataset -> parquet tables")
    sp.add_argument("--dataset-dir", required=True)
    sp.add_argument("--out-dir", required=True)
    sp.add_argument("--overwrite", action="store_true")
    common(sp)
    sp.set_defaults(fn=cmd_load)

    sp = sub.add_parser("copy", help="parquet -> LakeTable bulk seed")
    sp.add_argument("--source", required=True, help="parquet path")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--key", required=True, help="merge key column (comma-separate for a composite key)")
    sp.add_argument("--buckets", type=int, default=32)
    sp.add_argument("--merge-mode", choices=["mor", "cow"], default="mor")
    sp.add_argument("--overwrite", action="store_true")
    common(sp)
    sp.set_defaults(fn=cmd_copy)

    sp = sub.add_parser("replay", help="stream a parquet WAL changelog into a lake "
                                       "table (exactly-once CDC apply)")
    sp.add_argument("--log-path", required=True, help="parquet changelog dir")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--checkpoint-dir", required=True,
                    help="streaming checkpoint (resume point across restarts)")
    sp.add_argument("--create", action="store_true",
                    help="create the standard pages table if absent")
    sp.add_argument("--schema-from", default=None, metavar="TABLE_ROOT",
                    help="create the table (if absent) with the public "
                         "schema + merge key of an existing lake table -- "
                         "the replica side of table->wire->table "
                         "replication via `changes --format debezium`")
    sp.add_argument("--key", default="url")
    sp.add_argument("--buckets", type=int, default=32)
    sp.add_argument("--merge-mode", choices=["mor", "cow"], default="mor")
    sp.add_argument("--max-files-per-trigger", type=int, default=1)
    sp.add_argument("--max-errors", type=int, default=None,
                    help="bad-row threshold; omit for the FLUSH behavior "
                         "(quarantine + continue, no limit)")
    sp.add_argument("--on-error", choices=["abort", "skip"], default="abort")
    sp.add_argument("--compact-every", type=int, default=None)
    sp.add_argument("--rollup-root", default=None,
                    help="co-maintain a seeded continuous aggregate "
                         "(see the rollup verb) inside the pipeline")
    sp.add_argument("--rollup-every", type=int, default=1,
                    help="refresh the rollup every k applied batches "
                         "(windows coalesce; the drain-tail always refreshes)")
    sp.add_argument("--format", choices=["parquet", "debezium"],
                    default="parquet",
                    help="changelog wire format: pre-normalized parquet "
                         "segments, or JSON-lines Debezium envelopes "
                         "(the Kafka-connector feed shape)")
    sp.add_argument("--wrapped", action="store_true",
                    help="debezium only: records carry the Kafka Connect "
                         "{schema, payload} wrapper")
    common(sp)
    sp.set_defaults(fn=cmd_replay)

    sp = sub.add_parser(
        "replay-multi",
        help="stream ONE WAL interleaving several tables "
             "(parquet _table column or Debezium source.table routes "
             "each event); per-table exactly-once fences",
    )
    sp.add_argument("--log-path", required=True,
                    help="parquet changelog dir with a _table column, "
                         "or a Debezium JSONL topic dir with --format")
    sp.add_argument("--format", choices=["parquet", "debezium"],
                    default="parquet",
                    help="debezium = JSON-lines envelopes routed by "
                         "source.table (one union-of-fields parse; "
                         "each table's slice is projected back to its "
                         "own columns)")
    sp.add_argument("--wrapped", action="store_true",
                    help="debezium only: records carry the Kafka "
                         "Connect {schema, payload} wrapper")
    sp.add_argument("--table", action="append", required=True,
                    metavar="NAME=ROOT", dest="table_specs",
                    help="route NAME to the lake table at ROOT "
                         "(repeat per table)")
    sp.add_argument("--checkpoint-dir", required=True)
    sp.add_argument("--create", action="store_true",
                    help="create absent tables with the standard pages "
                         "schema")
    sp.add_argument("--key", default="url")
    sp.add_argument("--buckets", type=int, default=32)
    sp.add_argument("--merge-mode", choices=["mor", "cow"], default="mor")
    sp.add_argument("--max-files-per-trigger", type=int, default=1)
    sp.add_argument("--max-errors", type=int, default=None)
    sp.add_argument("--on-error", choices=["abort", "skip"], default="abort")
    common(sp)
    sp.set_defaults(fn=cmd_replay_multi)

    sp = sub.add_parser(
        "dedup-ingest",
        help="stream documents into a lake table with inline near-dup "
             "filtering against a persisted MinHash signature index",
    )
    sp.add_argument("--source-path", required=True, help="parquet docs dir "
                    "(doc_id, url, warc_ts, text)")
    sp.add_argument("--table-root", required=True, help="docs lake table")
    sp.add_argument("--index-root", required=True, help="signature index lake table")
    sp.add_argument("--checkpoint-dir", required=True)
    sp.add_argument("--create", action="store_true",
                    help="create docs + index tables if absent")
    sp.add_argument("--buckets", type=int, default=32)
    sp.add_argument("--min-band-matches", type=int, default=2,
                    help="bands (of 3) that must collide with one prior doc")
    sp.add_argument("--max-files-per-trigger", type=int, default=1)
    common(sp)
    sp.set_defaults(fn=cmd_dedup_ingest)

    sp = sub.add_parser("compact", help="fold MoR deltas / rewrite fragmented buckets")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--max-files-per-bucket", type=int, default=4)
    sp.add_argument("--all-deltas", action="store_true",
                    help="fold every bucket holding ANY delta (full fold)")
    sp.add_argument("--sort-by", default=None,
                    help="comma-separated columns to cluster rewritten buckets by")
    sp.add_argument("--zorder-by", default=None,
                    help="comma-separated columns for Morton (z-order) "
                         "clustering of rewritten buckets (multi-column "
                         "row-group pruning); excludes --sort-by")
    common(sp)
    branch_opt(sp)
    sp.set_defaults(fn=cmd_compact)

    sp = sub.add_parser("expire", help="snapshot retention: drop old versions")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--keep-last", type=int, default=10)
    common(sp)
    sp.set_defaults(fn=cmd_expire)

    sp = sub.add_parser("stage", help="write-audit-publish: stage a parquet "
                                      "changelog batch (op/lsn columns) "
                                      "invisibly; publish or abort later")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--log-path", required=True,
                    help="parquet changelog batch to stage")
    sp.add_argument("--batch-id", type=int, required=True)
    common(sp)
    sp.set_defaults(fn=cmd_stage)

    sp = sub.add_parser("publish", help="link a staged batch into the table "
                                        "(fenced merge commit; rebases past "
                                        "intervening commits)")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--batch-id", type=int, required=True)
    common(sp)
    sp.set_defaults(fn=cmd_publish)

    sp = sub.add_parser("abort-staged", help="drop a staged batch and its files")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--batch-id", type=int, required=True)
    common(sp)
    sp.set_defaults(fn=cmd_abort_staged)

    sp = sub.add_parser("analyze", help="per-column NDV + null-count statistics "
                                        "(HyperLogLog) stored as a metadata commit")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--columns", default=None,
                    help="comma-separated subset (default: every payload column)")
    common(sp)
    sp.set_defaults(fn=cmd_analyze)

    sp = sub.add_parser("sql", help="run one SQL query over the table "
                                    "registered as a temp view (--meta adds "
                                    "the metadata views); JSON lines out")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--query", required=True, help="SQL text; the table is "
                    "visible under --name (default: pages)")
    sp.add_argument("--name", default="pages",
                    help="view name for the snapshot (default: pages)")
    sp.add_argument("--version", type=_version_arg, default=None,
                    help="snapshot version or tag name (default: current)")
    sp.add_argument("--meta", action="store_true",
                    help="also register <name>_snapshots/_files/_history/"
                         "_lineage/_refs metadata views")
    sp.add_argument("--max-rows", type=int, default=1000,
                    help="driver-side output cap (default: 1000)")
    sp.add_argument("--out", default=None, metavar="DIR",
                    help="write the FULL result as parquet (distributed, "
                         "no driver collect, no --max-rows cap) instead "
                         "of printing; refuses to overwrite")
    branch_opt(sp)
    common(sp)
    sp.set_defaults(fn=cmd_sql)

    sp = sub.add_parser("bloom", help="harvest the merge-key Bloom index for "
                                      "uncovered files (puffin-style sidecar; "
                                      "lookup/read(keys=) file skipping)")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--bits-per-key", type=int, default=10)
    sp.add_argument("--hashes", type=int, default=5)
    common(sp)
    sp.set_defaults(fn=cmd_bloom)

    sp = sub.add_parser("maintain", help="advise (default) or apply table maintenance: "
                                         "targeted compact + retention from manifest stats")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--apply", action="store_true",
                    help="execute the recommended compact/expire (rebucket stays advisory)")
    sp.add_argument("--max-files-per-bucket", type=int, default=4)
    sp.add_argument("--small-file-mb", type=int, default=32,
                    help="mean base-file size below this flags a bucket for rewrite")
    sp.add_argument("--keep-last", type=int, default=10)
    common(sp)
    sp.set_defaults(fn=cmd_maintain)

    sp = sub.add_parser("rebucket", help="rewrite the table under a new bucket count")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--buckets", type=int, required=True)
    common(sp)
    sp.set_defaults(fn=cmd_rebucket)

    sp = sub.add_parser("drop-column", help="drop a payload column "
                                            "(full-rewrite purge; old snapshots keep it)")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--column", required=True)
    common(sp)
    sp.set_defaults(fn=cmd_drop_column)

    sp = sub.add_parser("rename-column", help="rename a column, the merge key "
                                              "included (full rewrite; no field IDs)")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--column", required=True)
    sp.add_argument("--to", required=True)
    common(sp)
    sp.set_defaults(fn=cmd_rename_column)

    sp = sub.add_parser("history", help="commit audit trail as JSON lines")
    sp.add_argument("--table-root", required=True)
    branch_opt(sp)
    sp.set_defaults(fn=cmd_history, cpus=None)

    sp = sub.add_parser("lineage", help="per-(version, batch, bucket) applied "
                                        "LSN ranges as JSON lines")
    sp.add_argument("--table-root", required=True)
    sp.set_defaults(fn=cmd_lineage, cpus=None)

    sp = sub.add_parser("describe", help="table status from the manifest "
                                         "(schema, layout, delta pressure)")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--counts", action="store_true",
                    help="add the exact metadata-only row_count (O(files) "
                         "footer reads; null while deltas are pending)")
    branch_opt(sp)
    sp.set_defaults(fn=cmd_describe, cpus=None)

    sp = sub.add_parser("snapshots", help="Iceberg-style snapshots metadata "
                                          "table as JSON lines")
    sp.add_argument("--table-root", required=True)
    branch_opt(sp)
    sp.set_defaults(fn=cmd_snapshots, cpus=None)

    sp = sub.add_parser("files", help="Iceberg-style files metadata table "
                                      "(bucket, kind, size, zone bounds) "
                                      "as JSON lines")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--version", type=_version_arg, default=None,
                    help="snapshot version or tag name (default: current)")
    branch_opt(sp)
    sp.set_defaults(fn=cmd_files, cpus=None)

    sp = sub.add_parser("tag", help="named snapshot refs: --set pins a "
                                    "version by name (protected from "
                                    "expire), --delete releases, "
                                    "default lists")
    sp.add_argument("--table-root", required=True)
    g = sp.add_mutually_exclusive_group()
    g.add_argument("--set", default=None, metavar="NAME")
    g.add_argument("--delete", default=None, metavar="NAME")
    sp.add_argument("--version", type=int, default=None,
                    help="target version for --set (default: head)")
    branch_opt(sp)
    sp.set_defaults(fn=cmd_tag, cpus=None)

    sp = sub.add_parser("constraint",
                        help="CHECK constraints: --add NAME --check EXPR "
                             "(validates existing rows), --drop NAME, "
                             "default lists; violating CDC events "
                             "quarantine as check:<name>, bulk appends "
                             "abort whole")
    sp.add_argument("--table-root", required=True)
    g = sp.add_mutually_exclusive_group()
    g.add_argument("--add", default=None, metavar="NAME")
    g.add_argument("--drop", default=None, metavar="NAME")
    sp.add_argument("--check", default=None, metavar="SQL_EXPR",
                    help="boolean expression over public columns "
                         "(SQL semantics: only FALSE violates)")
    sp.add_argument("--no-validate", action="store_true",
                    help="skip the existing-rows validation scan "
                         "(enforce on new writes only)")
    common(sp)
    branch_opt(sp)
    sp.set_defaults(fn=cmd_constraint)

    sp = sub.add_parser("rollback", help="revert the table to a retained "
                                         "snapshot (metadata-only; fences "
                                         "revert so bad batches re-replay)")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--to", type=_version_arg, required=True,
                    help="target version number or tag name")
    branch_opt(sp)
    sp.set_defaults(fn=cmd_rollback, cpus=None)

    sp = sub.add_parser("branch", help="writable refs: --create forks an "
                                       "isolated line of commits, "
                                       "--fast-forward publishes it onto "
                                       "main, --drop abandons it, default "
                                       "lists")
    sp.add_argument("--table-root", required=True)
    g = sp.add_mutually_exclusive_group()
    g.add_argument("--create", default=None, metavar="NAME")
    g.add_argument("--fast-forward", default=None, metavar="NAME")
    g.add_argument("--drop", default=None, metavar="NAME")
    sp.add_argument("--version", type=int, default=None,
                    help="fork point for --create (default: head)")
    sp.set_defaults(fn=cmd_branch, cpus=None, branch=None)

    sp = sub.add_parser(
        "lookup",
        help="point lookup: current row per merge-key value, reading "
             "only the files `plan --key` lists (in-process, no Spark "
             "job, for the key types the driver hashes)",
    )
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--key", action="append", required=True,
                    help="merge-key value (repeatable; binary keys in hex)")
    sp.add_argument("--version", type=_version_arg, default=None,
                    help="version number or tag name")
    common(sp)
    branch_opt(sp)
    sp.set_defaults(fn=cmd_lookup)

    sp = sub.add_parser(
        "requeue",
        help="drain the dead-letter quarantine back through the engine "
             "with optional --set COL=EXPR repair (exactly-once fenced)",
    )
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--batch-id", action="append", type=int, default=None,
                    help="quarantine batch id to drain (repeatable; "
                         "default: all pending)")
    sp.add_argument("--set", action="append", default=[],
                    metavar="COL=SQL_EXPR",
                    help="repair expression applied before re-validation "
                         "(repeatable)")
    sp.add_argument("--requeue-id", type=int, default=None,
                    help="explicit fence id for the drain commit "
                         "(default: REQUEUE_BASE + max drained id)")
    common(sp)
    sp.set_defaults(fn=cmd_requeue)

    sp = sub.add_parser(
        "merge-into",
        help="general MERGE INTO from a source file: matched "
             "update/delete + not-matched insert with SQL clauses "
             "over t.*/s.*",
    )
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--source", required=True,
                    help="source file/dir (parquet by default)")
    sp.add_argument("--format", choices=["parquet", "csv", "json"],
                    default="parquet")
    sp.add_argument("--source-key", default=None,  # comma list = composite
                    help="source column equal to the table key "
                         "(default: the key's own name)")
    sp.add_argument("--set", action="append", default=[],
                    metavar="COL=SQL_EXPR",
                    help="WHEN MATCHED THEN UPDATE SET (repeatable)")
    sp.add_argument("--set-all", action="store_true",
                    help="UPDATE SET * (every source column by name)")
    sp.add_argument("--update-condition", default=None, metavar="SQL")
    sp.add_argument("--delete", action="store_true",
                    help="WHEN MATCHED THEN DELETE (before update)")
    sp.add_argument("--delete-condition", default=None, metavar="SQL")
    sp.add_argument("--insert", action="append", default=[],
                    metavar="COL=SQL_EXPR",
                    help="WHEN NOT MATCHED THEN INSERT (repeatable; "
                         "no --insert*/--insert-all = no insert clause)")
    sp.add_argument("--insert-all", action="store_true",
                    help="INSERT * (missing columns become NULL)")
    sp.add_argument("--insert-condition", default=None, metavar="SQL")
    sp.add_argument("--by-source-delete", action="store_true",
                    help="WHEN NOT MATCHED BY SOURCE THEN DELETE "
                         "(O(table): every bucket joins the rewrite)")
    sp.add_argument("--by-source-delete-condition", default=None,
                    metavar="SQL", help="condition over t.* only")
    sp.add_argument("--by-source-set", action="append", default=[],
                    metavar="COL=SQL_EXPR",
                    help="WHEN NOT MATCHED BY SOURCE THEN UPDATE SET "
                         "(repeatable; expressions over t.* only)")
    sp.add_argument("--by-source-update-condition", default=None,
                    metavar="SQL")
    sp.add_argument("--evolve", action="store_true",
                    help="append new source columns to the schema "
                         "(Delta autoMerge rules; wider types widen)")
    sp.add_argument("--batch-id", type=int, default=None,
                    help="fence id: a replayed merge-into is a no-op")
    common(sp)
    branch_opt(sp)
    sp.set_defaults(fn=cmd_merge_into)

    sp = sub.add_parser(
        "sync",
        help="make the table equal a snapshot file in one fenced "
             "commit: update changed keys, insert new, delete absent "
             "(sync_from; unchanged rows keep their lsn)",
    )
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--source", required=True,
                    help="snapshot file/dir (parquet by default)")
    sp.add_argument("--format", choices=["parquet", "csv", "json"],
                    default="parquet")
    sp.add_argument("--source-key", default=None)
    sp.add_argument("--evolve", action="store_true",
                    help="new snapshot columns evolve in and backfill "
                         "every row (they count as differences)")
    sp.add_argument("--allow-empty", action="store_true",
                    help="permit a 0-row snapshot (deletes EVERY row; "
                         "refused otherwise)")
    sp.add_argument("--batch-id", type=int, default=None)
    common(sp)
    branch_opt(sp)
    sp.set_defaults(fn=cmd_sync)

    sp = sub.add_parser(
        "plan",
        help="EXPLAIN-for-files: the exact file set a read would scan, "
             "with zone-map range pruning, or a lookup would open "
             "(--key) -- manifest-only, no Spark",
    )
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--version", type=_version_arg, default=None,
                    help="version number or tag name")
    sp.add_argument(
        "--range", action="append", default=[], metavar="COL:LO..HI",
        help="inclusive range on a column (repeatable); leave LO or HI "
             "empty for an open end; timestamps/dates in ISO format "
             "(e.g. ts:2020-03-01T12:30:00..2020-04-01)",
    )
    sp.add_argument("--key", action="append", default=[],
                    help="merge-key value (repeatable; binary keys in "
                         "hex): plan the lookup of these keys")
    branch_opt(sp)
    sp.set_defaults(fn=cmd_plan, cpus=None)

    sp = sub.add_parser("validate", help="table fsck: manifest chain, file "
                                         "existence, fence ledger; --deep adds "
                                         "the bucket-placement scan")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--deep", action="store_true")
    common(sp)
    branch_opt(sp)
    sp.set_defaults(fn=cmd_validate)

    sp = sub.add_parser("changes", help="incremental CDC-out window -> parquet "
                                        "(or Debezium JSONL with --format)")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--since", type=int, required=True)
    sp.add_argument("--until", type=int, default=None)
    sp.add_argument("--out-dir", required=True)
    sp.add_argument("--public", action="store_true",
                    help="drop engine columns (inspection only -- not safely applyable)")
    sp.add_argument("--overwrite", action="store_true")
    sp.add_argument("--format", choices=["parquet", "debezium"],
                    default="parquet",
                    help="debezium = publish the window as JSON-lines "
                         "envelopes (what `replay --format debezium` "
                         "consumes: table->wire->table replication)")
    sp.add_argument("--wrapped", action="store_true",
                    help="debezium only: add the Kafka Connect "
                         "{schema, payload} wrapper")
    common(sp)
    branch_opt(sp)
    sp.set_defaults(fn=cmd_changes)

    sp = sub.add_parser("rollup", help="continuous aggregate: seed on first "
                                       "run, incremental refresh after")
    sp.add_argument("--table-root", required=True, help="the followed base table")
    sp.add_argument("--rollup-root", required=True)
    sp.add_argument("--dims", default=None,
                    help="comma-separated group-by columns (first run only)")
    sp.add_argument("--sums", default=None,
                    help="comma-separated columns to sum (first run only)")
    sp.add_argument("--buckets", type=int, default=8)
    sp.add_argument("--verify", action="store_true",
                    help="after refreshing, fsck the maintained state "
                         "against a full recompute at the cursor; exit 1 "
                         "on divergence")
    common(sp)
    sp.set_defaults(fn=cmd_rollup)

    sp = sub.add_parser("delete-where",
                        help="predicate DELETE: file-pruned copy-on-write "
                             "rewrite of matching rows")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--predicate", default=None,
                    help="SQL boolean expression over the table's columns")
    sp.add_argument("--range", action="append", default=[],
                    metavar="COL:LO..HI",
                    help="inclusive bound; also prunes the rewrite to "
                         "files that can match (repeatable)")
    common(sp)
    branch_opt(sp)
    sp.set_defaults(fn=cmd_delete_where)

    sp = sub.add_parser("overwrite-where",
                        help="REPLACE WHERE backfill: atomically delete the "
                             "matching slice and insert a parquet replacement")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--source", required=True,
                    help="parquet path with the replacement rows (must all "
                         "satisfy the predicate)")
    sp.add_argument("--predicate", default=None,
                    help="SQL boolean expression over the table's columns")
    sp.add_argument("--range", action="append", default=[],
                    metavar="COL:LO..HI",
                    help="inclusive bound; also prunes the rewrite to "
                         "files that can match (repeatable)")
    sp.add_argument("--batch-id", type=int, default=None,
                    help="optional fence id: a replayed backfill is a no-op")
    common(sp)
    sp.set_defaults(fn=cmd_overwrite_where)

    sp = sub.add_parser("update-where",
                        help="predicate UPDATE: file-pruned copy-on-write "
                             "rewrite assigning columns on matching rows")
    sp.add_argument("--table-root", required=True)
    sp.add_argument("--set", action="append", required=True,
                    metavar="COL=EXPR",
                    help="SQL expression over the OLD row (repeatable)")
    sp.add_argument("--predicate", default=None,
                    help="SQL boolean expression over the table's columns")
    sp.add_argument("--range", action="append", default=[],
                    metavar="COL:LO..HI",
                    help="inclusive bound; also prunes the rewrite to "
                         "files that can match (repeatable)")
    common(sp)
    branch_opt(sp)
    sp.set_defaults(fn=cmd_update_where)

    sp = sub.add_parser("mirror", help="incremental replica: seed on first "
                                       "run, CDC catch-up after")
    sp.add_argument("--table-root", required=True, help="the source table")
    sp.add_argument("--replica-root", required=True)
    sp.add_argument("--until", type=int, default=None,
                    help="stop at this source version (default: current head)")
    sp.add_argument("--count", action="store_true",
                    help="also report replica_rows (full replica scan)")
    common(sp)
    sp.set_defaults(fn=cmd_mirror)

    for verb, fn in (("encrypt", cmd_encrypt), ("decrypt", cmd_decrypt)):
        sp = sub.add_parser(verb, help=f"{verb} a file ([IV][AES-256-CBC] envelope)")
        sp.add_argument("--file", required=True)
        sp.add_argument("--out-file", required=True)
        sp.add_argument("--passphrase", default=None)
        sp.add_argument("--salt", default=None)
        sp.set_defaults(fn=fn, cpus=None)

    sp = sub.add_parser("compare", help="QA acceptance between two parquet tables "
                                        "(or two directories with --tables)")
    sp.add_argument("--source", required=True)
    sp.add_argument("--target", required=True)
    sp.add_argument("--tables", default=None,
                    help="comma-separated names: compare <dir>/<t>.parquet "
                         "pairs; exit 0 iff every table matches")
    sp.add_argument("--timestamp-precision", type=int, default=None)
    sp.add_argument("--double-precision", type=int, default=None)
    sp.add_argument("--empty-string-is-null", action="store_true")
    sp.add_argument("--infinity-is-null", action="store_true")
    sp.add_argument("--ordered-json", action="store_true")
    sp.add_argument("--canonical-xml", action="store_true")
    common(sp)
    sp.set_defaults(fn=cmd_compare)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if getattr(args, "salt", None) is None and hasattr(args, "salt"):
        from .sources.filecrypto import DEFAULT_SALT

        args.salt = DEFAULT_SALT
    try:
        return args.fn(args)
    except (ValueError, FileNotFoundError) as e:
        # engine-surface usage errors (unknown tag/version, expired
        # snapshot, bad bounds) exit like argparse rejections -- a clean
        # message and rc 2, not a traceback. YADAMU_DEBUG=1 re-raises so
        # an internal defect surfacing as ValueError keeps its stack.
        if os.environ.get("YADAMU_DEBUG"):
            raise
        print(f"error: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
