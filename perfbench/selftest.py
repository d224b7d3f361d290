"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

1. Exact counts repeat: each workload runs twice, traced, on one fixed seed
   with a fixed amount of work (small inputs, no time limit), and every
   count-valued per-layer metric must be identical across the two runs.
2. The gate catches a wrong answer: a table read with one row dropped, and
   a lookup answer with one row dropped, must both fail their checks while
   the unmodified ones pass.

Prints one line per check and exits non-zero if any check fails.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host  # noqa: E402

SEED = 7
#: fixed, small amounts of work per workload; no time limit applies
SHAPES = {
    "crawl_ingest": dict(batch=8_000, warm=1, timed=2),
    "hot_update_stream": dict(segment=2_000, urls=2_000, warm=2, timed=4),
    "serve_mixed": dict(prefill=2, round_batch=1_000, urls=3_000, rounds=4),
}
#: per-layer metrics that are counts of work, not times
COUNTS = [
    "operators.spark_jobs_per_commit", "operators.dedup_keep_ratio",
    "sources.merge_files_written", "sources.manifest_calls_per_commit",
    "sources.manifest_bytes", "sources.read_files_planned", "sources.delta_files_live",
    "sources.lookup_files_planned", "sources.changes_rows",
    "sources.compact_buckets_rewritten",
]


def run_once(spark, work: str, name: str):
    """One traced, fixed-work run in its own directory under ``work``."""
    from perfbench import run as bench
    from perfbench import workloads
    from perfbench.tracing import Tracer

    host.clean(work)
    tracer = Tracer(True)
    r = workloads.Run(spark, work, SEED, tracer, 0.0, shape=SHAPES[name])
    bench.install_probes(tracer, r)
    try:
        workloads.WORKLOADS[name](r)
    finally:
        tracer.unwrap()
    return r, bench.per_layer(r)


def gate_catches_corruption(spark, work: str) -> list[tuple[str, bool]]:
    """Build a small table through the engine, then corrupt what is read."""
    from pyspark.sql import functions as F

    from perfbench import gate, workloads
    from perfbench.tracing import Tracer
    from yadamu___yet_another_data_migration_utility_spark.operators.apply import apply_batch

    host.clean(work)
    r = workloads.Run(spark, work, SEED, Tracer(False), 0.0)
    dirs = workloads.write_batches(spark, r.path("input"), 2, 2_000, SEED, 1_500, 0.2, 5)
    keys = workloads.pick_keys(dirs, SEED)
    tbl = workloads.new_table(r, "t")
    for i, d in enumerate(dirs):
        apply_batch(tbl, spark.read.parquet(d), i)
    expected = gate.oracle(spark.read.parquet(*dirs))
    actual = tbl.read(spark)
    dropped_url = actual.orderBy("url").first()["url"]
    rows = tbl.lookup(spark, keys[1]).collect()
    clean_lookup = workloads.lookups_ok(dirs, [(2, keys[1], rows)])
    bad_lookup = workloads.lookups_ok(dirs, [(2, keys[1], rows[1:])])
    return [
        ("gate passes the engine's table", gate.check_table(expected, actual)["ok"]),
        ("gate fails a read with one row dropped",
         not gate.check_table(expected, actual.filter(F.col("url") != dropped_url))["ok"]),
        ("lookup check passes the engine's answer", clean_lookup),
        ("lookup check fails an answer with one row dropped", len(rows) > 1 and not bad_lookup),
    ]


def main() -> int:
    others = host.running_spark_jvms()
    if others:
        print(f"selftest: another Spark JVM is running (pids {others})", file=sys.stderr)
        return 3
    work = host.work_dir()
    host.clean(work)
    host.prepare_env(work)
    os.environ["TZ"] = "UTC"
    time.tzset()
    spark = host.start_session(host.box_cpus(), host.heap_gb(), work)
    monitor = host.RssMonitor(host.jvm_pid()).start()
    results: list[tuple[str, bool]] = []
    try:
        for name in SHAPES:
            (r1, a), (r2, b) = (run_once(spark, os.path.join(work, "runs", f"{name}-{i}"), name)
                                for i in (1, 2))
            same = {k: (a[k], b[k]) for k in COUNTS}
            ok = (all(x == y for x, y in same.values())
                  and all(r.gate["ok"] and r.gate["lookups_ok"] for r in (r1, r2)))
            results.append((f"{name}: counts repeat exactly {same}", ok))
        results.extend(gate_catches_corruption(spark, os.path.join(work, "runs", "gate")))
    finally:
        monitor.stop()
        host.stop_session(spark, monitor.seen)
        host.clean(work)
    for label, ok in results:
        print(f"{'PASS' if ok else 'FAIL'} {label}")
    return 0 if all(ok for _, ok in results) else 1


if __name__ == "__main__":
    sys.exit(main())
