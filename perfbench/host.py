"""Process-level plumbing: box sizing, the Spark session, memory sampling.

Everything the benchmark writes goes under ``<repo>/.perfbench_work``:
tables, inputs, checkpoints, Spark's shuffle dirs and the JVM's tmpdir.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time

PACKAGE = "yadamu___yet_another_data_migration_utility_spark"
MAX_CPUS = 4
_SPARK_MARKERS = (b"org.apache.spark.deploy.SparkSubmit", b"pyspark-shell")


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def work_dir() -> str:
    return os.path.join(repo_root(), ".perfbench_work")


def box_cpus() -> int:
    return min(len(os.sched_getaffinity(0)), MAX_CPUS)


def heap_gb() -> int:
    """JVM heap: a seventh of physical memory, clamped to 1..4 GB. The
    heap is pre-touched, so it is resident for the whole run; the rest of
    the box stays free for the Python workers, the page cache and other
    tenants."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1, min(4, total_kb // (7 * 1024 * 1024)))


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def running_spark_jvms() -> list[int]:
    """Pids of Spark JVMs already running on this machine."""
    return [p for p in _pids()
            if (cmd := _cmdline(p)).startswith(b"java") or b"/java\0" in cmd
            if any(m in cmd for m in _SPARK_MARKERS)]


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (the forked Python workers
    share most of theirs) count once across the processes sharing them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for p in _pids():
        pp = _ppid(p)
        if pp is not None:
            children.setdefault(pp, []).append(p)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class RssMonitor:
    """Samples the summed PSS of the Spark JVM and its descendants (the
    PySpark worker daemon and its Python workers) every ``period`` s."""

    def __init__(self, jvm_pid: int, period: float = 0.25):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak_kb = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        tree = process_tree(self.jvm_pid)
        self.seen.update(tree)
        self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in tree))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def start(self) -> "RssMonitor":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_kb / 1024.0


def prepare_env(work: str) -> None:
    """Point every temp/shuffle location into ``work`` and make the package
    importable in Python workers (a pandas UDF unpickles there)."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    root = repo_root()
    path = os.environ.get("PYTHONPATH", "")
    if root not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(cpus: int, heap: int, work: str):
    """The engine's own session factory, sized to the box."""
    from yadamu___yet_another_data_migration_utility_spark.session import get_spark

    mem = f"{heap}g"
    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": mem,
            # same pre-touched fixed heap as session.py, plus: no
            # hsperfdata file and a tmpdir inside the work dir
            "spark.driver.extraJavaOptions":
                f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseParallelGC "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        })


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid  # type: ignore[union-attr]


def stop_session(spark, known_pids: set[int], timeout: float = 30.0) -> None:
    """Stop Spark, end the gateway JVM and wait until every process it
    started (JVM, worker daemon, workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            # the gateway JVM exits when its stdin reaches EOF
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except Exception:  # noqa: BLE001 -- last resort: never leave it running
                proc.kill()
                proc.wait(timeout=timeout)
            SparkContext._gateway = None
            SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not any(_live(p) for p in known_pids):
            return
        time.sleep(0.1)


def _live(pid: int) -> bool:
    """True while ``pid`` is a live, non-zombie process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def clean(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
