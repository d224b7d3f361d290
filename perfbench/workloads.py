"""The three workloads. Each one generates its inputs from the seed, sets
up (table create + untimed warm-up), measures a fixed number of timed
operations in a closed loop with one caller, probes the read side, and
gates the final table against the batch oracle.

Inputs are parquet files written before set-up; the engine sees only them.
"""

from __future__ import annotations

import glob
import os
import random
import time
import traceback
import uuid
from dataclasses import dataclass, field
from typing import Any

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from yadamu___yet_another_data_migration_utility_spark.fixtures import changelog
from yadamu___yet_another_data_migration_utility_spark.functions.extract import extract_text
from yadamu___yet_another_data_migration_utility_spark.operators import apply as apply_mod
from yadamu___yet_another_data_migration_utility_spark.sources.laketable import LakeTable
from yadamu___yet_another_data_migration_utility_spark.streaming import stream as stream_mod

from . import gate
from .tracing import Tracer, median

BUCKETS = 16
LOOKUP_KEYS = 10
FILES_PER_BATCH = 4  # input split count per micro-batch, fixed for every box

#: workload shapes; sizes are events unless named otherwise. hot and serve
#: are sized so one run, set-up and gate included, takes about a minute on
#: a 4-core box; fewer samples per run cost less steadiness than the
#: run-to-run drift of a shared host does. crawl and hot look up once
#: after their window, so their lookup figure is a first-touch lookup.
CRAWL = dict(batch=50_000, warm=2, timed=12, events_per_url=10,
             hot_fraction=0.2, n_hot=5, reads=3)
HOT = dict(segment=5_000, urls=5_000, hot_fraction=0.3, n_hot=20, warm=2,
           timed=8, compact_every=4, compact_max_files=3, reads=3)
SERVE = dict(prefill=5, round_batch=2_000, urls=10_000, rounds=4, compact_every=3,
             hot_fraction=0.1, n_hot=10)


@dataclass
class Run:
    spark: Any
    work: str
    seed: int
    tracer: Tracer
    session_start_s: float
    #: overrides of the workload's shape (the self-test runs smaller ones)
    shape: dict[str, Any] = field(default_factory=dict)
    # filled while running
    setup_s: float = 0.0
    gen_s: float = 0.0
    warmup_s: float = 0.0
    window_start: float = 0.0
    commit_s: list[float] = field(default_factory=list)
    events: int = 0
    window_s: float = 0.0
    reads: list[float] = field(default_factory=list)
    lookups: list[float] = field(default_factory=list)
    changes: list[float] = field(default_factory=list)
    compacts: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layer: dict[str, list[tuple[float, float]]] = field(default_factory=dict)
    gate: dict[str, Any] = field(default_factory=dict)
    detail: dict[str, Any] = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def count(self, name: str, value: float) -> None:
        """Record a per-layer value, stamped so warm-up values drop out."""
        self.layer.setdefault(name, []).append((time.perf_counter(), value))

    def counted(self, name: str) -> list[float]:
        return [v for t, v in self.layer.get(name, []) if t >= self.window_start]

    def op(self, fn, *args, **kwargs):
        """Run one client operation; an exception counts as a failed op."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 -- recorded and gated, run continues
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=4))
            return None


def force(df) -> None:
    """Evaluate every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------- inputs
def write_batches(spark, path: str, n_batches: int, batch: int, seed: int,
                  n_urls: int, hot_fraction: float, n_hot: int) -> list[str]:
    """One changelog of ``n_batches * batch`` events, written as one
    directory of ``FILES_PER_BATCH`` parquet files per micro-batch."""
    df = changelog.changelog_df(spark, n_batches * batch, n_urls, seed=seed,
                                hot_fraction=hot_fraction, n_hot=n_hot)
    df = df.withColumn("b", ((F.col("lsn") - 1) / batch).cast("long"))
    # the generator's range partitions are contiguous in lsn, so capping
    # records per file splits each batch with no shuffle
    (df.write.option("maxRecordsPerFile", batch // FILES_PER_BATCH)
       .partitionBy("b").parquet(path))
    return [os.path.join(path, f"b={i}") for i in range(n_batches)]


def read_events(path: str, urls: list[str] | None = None) -> pd.DataFrame:
    """The change events in one input file or batch directory, read by
    pyarrow (the benchmark's bookkeeping runs no Spark job). Timestamps come
    back naive in UTC, as Spark collects them under a UTC session."""
    filters = [("url", "in", urls)] if urls is not None else None
    pdf = pq.read_table(path, columns=gate.EVENT_COLUMNS, filters=filters).to_pandas()
    if pdf["warc_ts"].dt.tz is not None:
        pdf["warc_ts"] = pdf["warc_ts"].dt.tz_convert("UTC").dt.tz_localize(None)
    return pdf


def pick_keys(paths: list[str], seed: int) -> list[list[str]]:
    """Per input path, ``LOOKUP_KEYS`` of the urls it wrote, picked by the
    seed: the urls a client just wrote."""
    rng = random.Random(seed)
    return [rng.sample(sorted(set(pq.read_table(p, columns=["url"]).column("url").to_pylist())),
                       LOOKUP_KEYS)
            for p in paths]


def write_wal(spark, path: str, n_segments: int, segment: int, seed: int,
              n_urls: int, hot_fraction: float, n_hot: int) -> list[str]:
    """One changelog written by ``fixtures.changelog.write_wal_segments``
    as ``n_segments`` single-file WAL segments in one flat directory;
    returns the segment files oldest first, the order the stream's file
    source takes them in. The log is one partition, so each segment's
    sort is a single small task."""
    changelog.write_wal_segments(
        changelog.changelog_df(spark, n_segments * segment, n_urls, seed=seed,
                               hot_fraction=hot_fraction, n_hot=n_hot).coalesce(1),
        path, n_segments)
    segments = sorted(glob.glob(os.path.join(path, "*.parquet")), key=os.path.getmtime)
    if len(segments) != n_segments:
        raise RuntimeError(f"expected {n_segments} WAL segments, found {len(segments)}")
    return segments


def new_table(run: Run, name: str) -> LakeTable:
    return LakeTable.create(run.path("tables", name), changelog.PAGE_SCHEMA, "url",
                            bucket_count=BUCKETS, overwrite=True)


# ------------------------------------------------------------ client actions
def commit(run: Run, tbl: LakeTable, batch_dirs: list[str], bid: int, dedup: str) -> Any:
    """One direct ``apply_batch`` call; returns its BatchMetrics."""
    batch = run.spark.read.parquet(*batch_dirs)
    if not run.tracer.enabled:
        return apply_mod.apply_batch(tbl, batch, bid, dedup=dedup)
    sc = run.spark.sparkContext
    # unique per call: the status tracker keeps earlier runs' groups
    group = f"perfbench-commit-{bid}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        with run.tracer.span("commit", run=group):
            return apply_mod.apply_batch(tbl, batch, bid, dedup=dedup)
    finally:
        run.count("operators.spark_jobs_per_commit",
                  len(sc.statusTracker().getJobIdsForGroup(group)))
        sc.setLocalProperty("spark.jobGroup.id", None)


def timed_read(run: Run, tbl: LakeTable) -> None:
    if run.tracer.enabled:
        with run.tracer.quiet():
            plan = tbl.plan_files()
            m = tbl.manifest()
        run.count("sources.read_files_planned", len(plan["plain"]) + len(plan["delta_resolved"]))
        run.count("sources.delta_files_live", sum(len(v) for v in m.get("deltas", {}).values()))
    t = time.perf_counter()
    with run.tracer.span("sources.read", run=f"read-{len(run.reads)}"):
        force(tbl.read(run.spark))
    run.reads.append(time.perf_counter() - t)


def timed_lookup(run: Run, tbl: LakeTable, keys: list[str]) -> list:
    if run.tracer.enabled:
        with run.tracer.quiet():
            plan = tbl.plan_files(keys=keys)
        run.count("sources.lookup_files_planned", len(plan["plain"]) + len(plan["delta_resolved"]))
    t = time.perf_counter()
    with run.tracer.span("sources.lookup", run=f"lookup-{len(run.lookups)}"):
        rows = tbl.lookup(run.spark, keys).collect()
    run.lookups.append(time.perf_counter() - t)
    return rows


def timed_changes(run: Run, tbl: LakeTable, since: int) -> None:
    t = time.perf_counter()
    with run.tracer.span("sources.read_changes", run=f"changes-{len(run.changes)}"):
        df = tbl.read_changes(run.spark, since_version=since)
        force(df)
    run.changes.append(time.perf_counter() - t)
    if run.tracer.enabled:
        with run.tracer.quiet():
            run.count("sources.changes_rows", df.count())


def timed_compact(run: Run, tbl: LakeTable, **kwargs) -> None:
    # traced runs span compact() through its wrapper, which also covers
    # the compactions the stream runs itself
    t = time.perf_counter()
    tbl.compact(run.spark, **kwargs)
    run.compacts.append(time.perf_counter() - t)


def read_probe(run: Run, tbl: LakeTable, keys: list[str], since: int, reads: int) -> Any:
    """After an ingest window: snapshot reads and one first-touch point
    lookup of the table the window left behind; traced runs also read the
    window's changes and compact it, so every layer is measured on every
    workload. Returns the lookup's answer."""
    for _ in range(reads):
        run.op(timed_read, run, tbl)
    answer = run.op(timed_lookup, run, tbl, keys)
    if run.tracer.enabled:
        run.op(timed_changes, run, tbl, since)
        run.op(timed_compact, run, tbl, all_deltas=True)
    return answer


def extract_probe(run: Run, batch_dirs: list[str]) -> None:
    """Traced runs only: the html -> text UDF alone over applied batches."""
    if not run.tracer.enabled:
        return
    for d in batch_dirs[:2]:
        df = run.spark.read.parquet(d)
        n = df.count()
        t = time.perf_counter()
        with run.tracer.span("functions.extract", run=f"extract-{d}"):
            force(df.select(extract_text(F.col("html")).alias("text")))
        dt = time.perf_counter() - t
        run.count("functions.extract_s", dt)
        run.count("functions.extract_rows_per_s", n / dt)


def lookups_ok(event_paths: list[str], checks: list[tuple[int, list[str], Any]]) -> bool:
    """Each check is (number of ``event_paths`` applied when the lookup ran,
    keys, collected answer); every answer must equal the oracle over the
    events applied by then."""
    urls = sorted({k for _, keys, _ in checks for k in keys})
    pdf = pd.concat([read_events(p, urls).assign(_i=i) for i, p in enumerate(event_paths)],
                    ignore_index=True)
    return all(ans is not None
               and gate.lookup_rows(ans) == gate.expected_lookups(pdf[pdf["_i"] < n], keys)
               for n, keys, ans in checks)


def finish(run: Run, tbl: LakeTable, event_dirs: list[str]) -> None:
    """Gate the final table; size it on disk."""
    t = time.perf_counter()
    events = run.spark.read.parquet(*event_dirs)
    run.gate.update(gate.check_table(gate.oracle(events), tbl.read(run.spark)))
    run.detail["gate_s"] = time.perf_counter() - t
    size = sum(os.path.getsize(p) for p in glob.glob(os.path.join(tbl.root, "**"), recursive=True)
               if os.path.isfile(p))
    run.detail["table_bytes"] = size
    run.detail["live_rows"] = run.gate["actual_rows"]
    with open(os.path.join(tbl.root, "manifests", f"v{tbl.current_version():012d}.json"), "rb") as f:
        run.count("sources.manifest_bytes", len(f.read()))


# ------------------------------------------------------------------ workloads
def crawl_ingest(run: Run) -> None:
    """Near-unique web-crawl log: large micro-batches through direct
    ``apply_batch(..., dedup="none")`` calls into a merge-on-read table."""
    c = {**CRAWL, **run.shape}
    n = c["warm"] + c["timed"]
    t = time.perf_counter()
    with run.tracer.span("fixtures.gen"):
        dirs = write_batches(run.spark, run.path("input", "crawl"), n, c["batch"], run.seed,
                             n * c["batch"] // c["events_per_url"], c["hot_fraction"], c["n_hot"])
    run.gen_s = time.perf_counter() - t

    t = time.perf_counter()
    tbl = new_table(run, "crawl")
    with run.tracer.span("warmup"):
        for i in range(c["warm"]):
            run.op(commit, run, tbl, [dirs[i]], i, "none")
    run.warmup_s = time.perf_counter() - t
    run.setup_s = run.session_start_s + run.warmup_s
    v0 = tbl.current_version()

    metrics = []
    start = run.window_start = time.perf_counter()
    for i in range(c["warm"], n):
        t = time.perf_counter()
        m = run.op(commit, run, tbl, [dirs[i]], i, "none")
        run.commit_s.append(time.perf_counter() - t)
        if m is not None:
            metrics.append(m)
            run.events += m.rows_in
    run.window_s = time.perf_counter() - start
    keep_ratio(run, metrics)

    (last,) = pick_keys([dirs[-1]], run.seed)
    answer = read_probe(run, tbl, last, v0, c["reads"])
    extract_probe(run, dirs[c["warm"]:])
    run.gate["lookups_ok"] = lookups_ok(dirs, [(n, last, answer)])
    finish(run, tbl, dirs)


def hot_update_stream(run: Run) -> None:
    """Update-heavy WAL tailed by ``start_replay`` one ~5k-event segment per
    trigger, default broadcast dedup, in-stream compaction."""
    c = {**HOT, **run.shape}
    n = c["warm"] + c["timed"]
    t = time.perf_counter()
    with run.tracer.span("fixtures.gen"):
        segments = write_wal(run.spark, run.path("input", "wal"), n, c["segment"], run.seed,
                             c["urls"], c["hot_fraction"], c["n_hot"])
    run.gen_s = time.perf_counter() - t

    sc = run.spark.sparkContext
    stamps: list[float] = []
    jobs: list[int] = []
    metrics = []
    query: dict[str, Any] = {}

    def on_metrics(m) -> None:
        stamps.append(time.perf_counter())
        metrics.append(m)
        if run.tracer.enabled and "q" in query:
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(str(query["q"].runId))))

    t = time.perf_counter()
    tbl = new_table(run, "stream")
    q = stream_mod.start_replay(
        run.spark, tbl, run.path("input", "wal"), run.path("checkpoint"),
        max_files_per_trigger=1, compact_every=c["compact_every"],
        compact_max_files=c["compact_max_files"], on_metrics=on_metrics)
    query["q"] = q
    try:
        q.awaitTermination()
    except Exception as e:  # noqa: BLE001 -- the failed batch was attempted, not committed
        run.attempted += 1
        run.failed += 1
        run.errors.append(str(e)[:2000])
    run.attempted += len(metrics)
    if len(stamps) != n:
        raise RuntimeError(f"stream committed {len(stamps)} of {n} segments")
    # the first ``warm`` batches (and the query's start) are the warm-up
    run.warmup_s = stamps[c["warm"] - 1] - t
    run.setup_s = run.session_start_s + run.warmup_s
    run.window_start = stamps[c["warm"] - 1]

    timed = metrics[c["warm"]:]
    intervals = list(zip(stamps[c["warm"] - 1:], stamps[c["warm"]:]))
    run.commit_s = [b - a for a, b in intervals]
    run.window_s = stamps[-1] - stamps[c["warm"] - 1]
    run.events = sum(m.rows_in for m in timed)
    keep_ratio(run, timed)
    if run.tracer.enabled:
        run.count("operators.spark_jobs_per_commit",
                  median([b - a for a, b in zip(jobs[c["warm"] - 1:], jobs[c["warm"]:])]))
        inner = run.tracer.named("operators.apply_batch") + run.tracer.named("sources.compact")
        for i, (a, b) in enumerate(intervals):
            run.tracer.record("streaming.batch", a, b, run=f"stream-batch-{i}")
            run.count("streaming.batch_interval_s", b - a)
            run.count("streaming.control_s",
                      (b - a) - sum(s.duration for s in inner if a <= s.start < b))

    v0 = tbl.manifest()["applied_batches"][str(c["warm"] - 1)]["version"]
    (last,) = pick_keys([segments[-1]], run.seed)
    answer = read_probe(run, tbl, last, v0, c["reads"])
    extract_probe(run, segments[c["warm"]:])
    run.gate["lookups_ok"] = lookups_ok(segments, [(n, last, answer)])
    finish(run, tbl, segments)


def serve_mixed(run: Run) -> None:
    """One client alternating on a merge-on-read table: a small
    ``apply_batch``, a snapshot read, a K-key lookup of urls it just wrote,
    a ``read_changes`` since the previous round; ``compact`` every M rounds."""
    c = {**SERVE, **run.shape}
    t = time.perf_counter()
    with run.tracer.span("fixtures.gen"):
        dirs = write_batches(run.spark, run.path("input", "serve"),
                             c["prefill"] + c["rounds"] + 1, c["round_batch"], run.seed,
                             c["urls"], c["hot_fraction"], c["n_hot"])
        keys = pick_keys(dirs, run.seed)
    run.gen_s = time.perf_counter() - t
    pre, rounds = dirs[:c["prefill"]], dirs[c["prefill"]:]
    applied: list[str] = []
    answers: list[tuple[int, list[str], Any]] = []
    metrics: list = []

    def one_round(i: int) -> None:
        since = tbl.current_version()
        t = time.perf_counter()
        m = run.op(commit, run, tbl, [rounds[i]], 1 + i, "broadcast")
        run.commit_s.append(time.perf_counter() - t)
        applied.append(rounds[i])
        if m is not None:
            run.events += m.rows_in
            metrics.append(m)
        run.op(timed_read, run, tbl)
        k = keys[c["prefill"] + i]
        answers.append((len(applied), k, run.op(timed_lookup, run, tbl, k)))
        run.op(timed_changes, run, tbl, since)
        if (i + 1) % c["compact_every"] == 0:
            run.op(timed_compact, run, tbl, all_deltas=True)

    t = time.perf_counter()
    tbl = new_table(run, "serve")
    with run.tracer.span("warmup"):
        # prefill as one commit, folded into the base, then one full round
        run.op(commit, run, tbl, pre, 0, "broadcast")
        applied.extend(pre)
        run.op(timed_compact, run, tbl, all_deltas=True)
        one_round(0)
    run.warmup_s = time.perf_counter() - t
    run.setup_s = run.session_start_s + run.warmup_s
    # warm-up samples are excluded from every percentile
    for xs in (run.commit_s, run.reads, run.lookups, run.changes, run.compacts, metrics):
        xs.clear()
    run.events = 0

    start = run.window_start = time.perf_counter()
    for i in range(1, c["rounds"] + 1):
        one_round(i)
    run.window_s = time.perf_counter() - start
    keep_ratio(run, metrics)
    extract_probe(run, rounds[1:])

    run.gate["lookups_ok"] = lookups_ok(applied, answers)
    finish(run, tbl, applied)


def keep_ratio(run: Run, metrics: list) -> None:
    valid = sum(m.rows_in - m.rows_quarantined for m in metrics)
    if valid:
        run.count("operators.dedup_keep_ratio", sum(m.rows_merged_in for m in metrics) / valid)


WORKLOADS = {
    "crawl_ingest": crawl_ingest,
    "hot_update_stream": hot_update_stream,
    "serve_mixed": serve_mixed,
}
