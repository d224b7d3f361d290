"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload hot_update_stream --seed 1 --seconds 20 --trace 0

Each workload runs a fixed amount of work: a fixed number of timed commits
or rounds, fifteen to twenty seconds of measurement on a 4-core box. Sample
counts therefore never depend on how fast the machine is; ``--seconds`` is
part of the runner's interface and is only recorded.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
layers' public functions with spans and prints the per-layer metrics.
The line before the result is a JSON ``detail`` object: box sizing, sample
counts and samples, the gate's numbers and every metric that applies to
this workload only.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host  # noqa: E402

#: end-to-end metrics, reported by every workload with tracing off
END_TO_END = {
    "setup_s": "s",
    "ingest_events_per_s": "events/s",
    "commit_p50_s": "s",
    "read_snapshot_p50_s": "s",
    "lookup_p50_s": "s",
    "stored_bytes_per_live_row": "B/row",
    "peak_rss_mb": "MB",
}

#: per-layer metrics, reported by every workload with tracing on:
#: name -> (unit, the end-to-end metric @ workload it should move)
PER_LAYER = {
    "session.start_s": ("s", "setup_s @ all"),
    "fixtures.gen_s": ("s", "setup_s @ all (inputs are generated outside setup_s)"),
    "warmup_s": ("s", "setup_s @ all"),
    "operators.apply_batch.self_s": ("s", "commit_p50_s @ hot_update_stream"),
    "operators.spark_jobs_per_commit": ("count", "commit_p50_s @ hot_update_stream"),
    "operators.dedup_keep_ratio": ("ratio", "ingest_events_per_s @ hot_update_stream"),
    "functions.extract_s": ("s", "ingest_events_per_s @ crawl_ingest"),
    "functions.extract_rows_per_s": ("rows/s", "ingest_events_per_s @ crawl_ingest"),
    "sources.merge_s": ("s", "ingest_events_per_s @ crawl_ingest; "
                             "commit_p50_s @ hot_update_stream"),
    "sources.merge_files_written": ("count", "stored_bytes_per_live_row @ all"),
    "sources.merge_bytes_written": ("B", "stored_bytes_per_live_row @ all"),
    "sources.manifest_s": ("s", "commit_p50_s @ hot_update_stream"),
    "sources.manifest_calls_per_commit": ("count", "commit_p50_s @ hot_update_stream"),
    "sources.manifest_bytes": ("B", "commit_p50_s @ hot_update_stream"),
    "sources.read_s": ("s", "read_snapshot_p50_s @ serve_mixed"),
    "sources.read_files_planned": ("count", "read_snapshot_p50_s @ serve_mixed"),
    "sources.delta_files_live": ("count", "read_snapshot_p50_s @ serve_mixed"),
    "sources.lookup_s": ("s", "lookup_p50_s @ serve_mixed"),
    "sources.lookup_files_planned": ("count", "lookup_p50_s @ serve_mixed"),
    "sources.read_changes_s": ("s", "changes_read_p50_s @ serve_mixed"),
    "sources.changes_rows": ("count", "changes_read_p50_s @ serve_mixed"),
    "sources.compact_s": ("s", "ingest_events_per_s @ hot_update_stream; "
                               "compact_p50_s @ serve_mixed"),
    "sources.compact_buckets_rewritten": ("count", "compact_p50_s @ serve_mixed"),
    "sources.compact_bytes_rewritten": ("B", "compact_p50_s @ serve_mixed"),
}

#: the streaming layer exists on hot_update_stream only, so its metrics go
#: to that workload's detail line: name -> (unit, what it should move)
STREAMING = {
    "streaming.batch_interval_s": ("s", "commit_p50_s @ hot_update_stream"),
    "streaming.control_s": ("s", "commit_p50_s @ hot_update_stream"),
}


def tail(xs: list[float]) -> tuple[float, dict]:
    """The highest whole percentile (nearest rank) with at least ten
    samples beyond it, or NaN when there are fewer than 20 samples and no
    such percentile lies above the median. Returns (value, description)."""
    n = len(xs)
    if n < 20:
        return float("nan"), {"pct": None, "n": n}
    pct = math.floor(100 * (1 - 10 / n))
    rank = max(1, math.ceil(pct / 100 * n))
    return sorted(xs)[rank - 1], {"pct": pct, "n": n, "beyond": n - rank}


def end_to_end(run, peak_rss_mb: float) -> dict[str, float]:
    from perfbench.tracing import median

    commit_tail, commit_tail_info = tail(run.commit_s)
    lookup_tail, lookup_tail_info = tail(run.lookups)
    run.detail.update(session_start_s=run.session_start_s, gen_s=run.gen_s,
                      warmup_s=run.warmup_s)
    run.detail.update(commit_tail=commit_tail_info, lookup_tail=lookup_tail_info,
                      window_s=run.window_s, commits=len(run.commit_s), events=run.events,
                      reads=len(run.reads), lookups=len(run.lookups),
                      changes_reads=len(run.changes), compactions=len(run.compacts))
    run.detail["samples_s"] = {k: [round(x, 4) for x in xs] for k, xs in (
        ("commit", run.commit_s), ("read", run.reads), ("lookup", run.lookups),
        ("changes", run.changes), ("compact", run.compacts))}
    live = run.gate.get("actual_rows") or 0
    return {
        "setup_s": run.setup_s,
        "ingest_events_per_s": run.events / run.window_s if run.window_s else 0.0,
        "commit_p50_s": median(run.commit_s),
        "commit_tail_s": commit_tail,
        "read_snapshot_p50_s": median(run.reads),
        "lookup_p50_s": median(run.lookups),
        "lookup_tail_s": lookup_tail,
        "changes_read_p50_s": median(run.changes),
        "compact_p50_s": median(run.compacts),
        "stored_bytes_per_live_row": run.detail["table_bytes"] / live if live else 0.0,
        "peak_rss_mb": peak_rss_mb,
        "op_error_rate": run.failed / run.attempted if run.attempted else 1.0,
    }


def per_layer(run) -> dict[str, float]:
    from perfbench.tracing import median

    tr = run.tracer
    win = [s for s in tr.named("operators.apply_batch") if s.start >= run.window_start]
    out = {
        "session.start_s": run.session_start_s,
        "fixtures.gen_s": run.gen_s,
        "warmup_s": run.warmup_s,
        "operators.apply_batch.self_s": median([tr.self_time(s) for s in win]),
        "sources.manifest_s": median([sum(c.duration for c in tr.descendants(s, "sources.manifest"))
                                      for s in win]),
        "sources.manifest_calls_per_commit": median([len(tr.descendants(s, "sources.manifest"))
                                                     for s in win]),
    }
    for name, span in (("sources.merge_s", "sources.merge"), ("sources.read_s", "sources.read"),
                       ("sources.lookup_s", "sources.lookup"),
                       ("sources.read_changes_s", "sources.read_changes"),
                       ("sources.compact_s", "sources.compact")):
        out[name] = median([tr.self_time(s) for s in tr.named(span)
                            if s.start >= run.window_start])
    for name in PER_LAYER.keys() - out.keys():
        out[name] = median(run.counted(name))
    for name in STREAMING:
        if run.layer.get(name):
            run.detail[name] = median(run.counted(name))
    return out


def install_probes(tracer, run) -> None:
    """Traced runs: span the engine's eager public calls and take counts
    at their boundaries (counts are read with spans off)."""
    from yadamu___yet_another_data_migration_utility_spark.operators import apply as apply_mod
    from yadamu___yet_another_data_migration_utility_spark.sources.laketable import LakeTable
    from yadamu___yet_another_data_migration_utility_spark.streaming import stream as stream_mod

    def files(m: dict, which: str) -> set[str]:
        return {f for fl in m.get(which, {}).values() for f in fl}

    def written(tbl, version: int, which: str) -> tuple[set[str], dict, dict]:
        with tracer.quiet():
            new, old = tbl.manifest(version), tbl.manifest(version - 1)
        return files(new, which) - files(old, which), new, old

    def size(tbl, rels) -> int:
        return sum(os.path.getsize(os.path.join(tbl.root, r)) for r in rels)

    def after_merge(res, tbl, *args, **kwargs) -> None:
        if res.version is not None:
            new, _, _ = written(tbl, res.version, "deltas")
            run.count("sources.merge_files_written", len(new))
            run.count("sources.merge_bytes_written", size(tbl, new))

    def after_compact(version, tbl, *args, **kwargs) -> None:
        if version is not None:
            new, m_new, m_old = written(tbl, version, "buckets")
            run.count("sources.compact_buckets_rewritten",
                      sum(m_new["buckets"].get(b) != m_old["buckets"].get(b)
                          for b in m_new["buckets"]))
            run.count("sources.compact_bytes_rewritten", size(tbl, new))

    def batch_run(tbl, batch_df, batch_id, *args, **kwargs) -> str:
        return f"batch-{batch_id}"

    tracer.wrap(apply_mod, "apply_batch", "operators.apply_batch", run_of=batch_run)
    tracer.wrap(stream_mod, "apply_batch", "operators.apply_batch", run_of=batch_run)
    tracer.wrap(LakeTable, "merge", "sources.merge", after=after_merge)
    tracer.wrap(LakeTable, "compact", "sources.compact", after=after_compact)
    tracer.wrap(LakeTable, "manifest", "sources.manifest")


def with_units(metrics: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": metrics[k], "unit": u} for k, u in units.items()}


def units_of(layer_map: dict[str, tuple[str, str]]) -> dict[str, str]:
    return {k: unit for k, (unit, _) in layer_map.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(host.repo_root(), host.PACKAGE, "__init__.py")):
        print(f"perfbench: package {host.PACKAGE} not found next to perfbench/", file=sys.stderr)
        return 2
    others = host.running_spark_jvms()
    if others:
        print(f"perfbench: another Spark JVM is running (pids {others}); refusing to "
              "measure beside it", file=sys.stderr)
        return 3

    os.environ["TZ"] = "UTC"
    time.tzset()
    work = host.work_dir()
    host.clean(work)
    host.prepare_env(work)

    from perfbench import workloads
    from perfbench.tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cpus, heap = host.box_cpus(), host.heap_gb()
    tracer = Tracer(bool(args.trace))
    t0 = time.perf_counter()
    spark = host.start_session(cpus, heap, work)
    session_start_s = time.perf_counter() - t0
    monitor = host.RssMonitor(host.jvm_pid()).start()
    run = workloads.Run(spark, work, args.seed, tracer, session_start_s)
    run.detail.update(workload=args.workload, seed=args.seed, trace=args.trace,
                      seconds=args.seconds, cpus=cpus,
                      heap_gb=heap, scratch=work, shuffle_partitions=cpus)
    install_probes(tracer, run)
    failed_run = False
    try:
        workloads.WORKLOADS[args.workload](run)
    except Exception as e:  # noqa: BLE001 -- reported as a failed, incorrect run
        run.attempted += 1
        run.failed += 1
        run.errors.append(f"{type(e).__name__}: {e}"[:2000])
        failed_run = True
    finally:
        tracer.unwrap()
        peak = monitor.stop()
        t_stop = time.perf_counter()
        host.stop_session(spark, monitor.seen)
        host.clean(work)
        run.detail["stop_s"] = time.perf_counter() - t_stop
        run.detail["wall_s"] = time.perf_counter() - t0

    correct = (not failed_run and run.failed == 0 and run.gate.get("ok", False)
               and run.gate.get("lookups_ok", False))
    run.detail["gate"] = run.gate
    if run.errors:
        print("\n".join(run.errors), file=sys.stderr)
    if failed_run:
        print(json.dumps({"detail": run.detail}, default=str))
        print(json.dumps({"correct": False, "attempted": run.attempted,
                          "failed": run.failed, "metrics": {}}))
        return 1
    e2e = end_to_end(run, peak)
    if args.trace:
        run.detail["end_to_end"] = e2e
        metrics = with_units(per_layer(run), units_of(PER_LAYER))
    else:
        # workload-only metrics without samples here are left out, not NaN
        run.detail.update({k: v for k, v in e2e.items()
                           if k not in END_TO_END and math.isfinite(v)})
        metrics = with_units(e2e, END_TO_END)
    empty = sorted(k for k, m in metrics.items() if not math.isfinite(m["value"]))
    if empty:
        # a metric without samples fails the run rather than printing NaN
        print(f"perfbench: no samples for {', '.join(empty)}", file=sys.stderr)
        correct = False
    print(json.dumps({"detail": run.detail}, default=str))
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
