"""Operation trace log: the reference's sqlTrace/YadamuLogger analogue.

The reference writes every database operation to a trace stream with
elapsed time, row counts, and a manager/worker tag
(yadamuDBI.js:243-251 ``traceSQL``/``sqlTrace.write``;
yadamuLogger.js:19). The Spark analogue: engine operations are not SQL
strings but table mutations and scans, so the trace records one
structured JSON line per operation -- op, table, rows, elapsed,
batch_id, tag -- appended to a local JSON-lines file.

Driver-side and O(operations), never O(rows): one line per
append/merge/compact/read, written by the driver process only (the
executors never log here), so at 100 TB the trace is a few KB per
thousand commits. ``trace_df`` reads it back as a DataFrame for
analysis -- the same "the log is a table" move as
``LakeTable.audit_df``; the audit chain stays the *transactional*
record embedded in manifests, while this trace is the *operational*
log across tables and non-transactional ops (reads, failed attempts).

Opt-in: tracing is off unless ``enable(path)`` is called (or
``SPARK_GRAFT_TRACE`` names a path at import), so the hot path pays
one falsy check per operation when disabled.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

_lock = threading.Lock()
_path: str | None = os.environ.get("SPARK_GRAFT_TRACE") or None
_seq = 0
#: the reference's sqlTraceTag -- '/* Manager */' vs '/* Worker [n] */'
_tag = "manager"


def enable(path: str, tag: str = "manager") -> None:
    """Start tracing to ``path`` (JSON lines, appended)."""
    global _path, _tag
    with _lock:
        _path = path
        _tag = tag
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)


def disable() -> None:
    global _path
    with _lock:
        _path = None


def enabled() -> bool:
    return _path is not None


def trace_event(op: str, table: str | None = None, rows: int | None = None,
                elapsed_sec: float | None = None, batch_id: int | None = None,
                **detail: Any) -> None:
    """Append one trace record; no-op (one falsy check) when disabled."""
    if _path is None:
        return
    global _seq
    with _lock:
        path = _path  # re-read under the lock: a concurrent disable()
        if path is None:  # between the fast check and here must not
            return  # turn into open(None)
        _seq += 1
        rec = {
            "seq": _seq,
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "tag": _tag,
            "op": op,
            "table": table,
            "rows": rows,
            "elapsed_sec": round(elapsed_sec, 4) if elapsed_sec is not None else None,
            "batch_id": batch_id,
            "detail": detail or None,
        }
        with open(path, "a") as f:
            f.write(json.dumps(rec) + "\n")


@contextmanager
def span(op: str, table: str | None = None, **detail: Any) -> Iterator[dict]:
    """Time an operation and trace it on exit (also on failure, with
    ``error`` set -- the reference logs failed statements too). The
    yielded dict lets the body attach ``rows``/``batch_id`` post-hoc;
    any other key it sets joins the record's detail."""
    info: dict[str, Any] = {}
    t0 = time.monotonic()
    try:
        yield info
    except BaseException as e:
        if _path is not None:
            trace_event(op, table, info.pop("rows", None),
                        time.monotonic() - t0, info.pop("batch_id", None),
                        error=f"{type(e).__name__}: {e}", **detail, **info)
        raise
    if _path is not None:
        trace_event(op, table, info.pop("rows", None), time.monotonic() - t0,
                    info.pop("batch_id", None), **detail, **info)


def trace_df(spark: SparkSession, path: str | None = None) -> DataFrame:
    """The trace as a DataFrame (schema-stable: detail as JSON text)."""
    p = path or _path
    if p is None:
        raise ValueError("tracing is not enabled and no path given")
    return spark.read.json(
        p, schema=("seq long, ts string, tag string, op string, table string, "
                   "rows long, elapsed_sec double, batch_id long, detail string"),
    )
