"""bench.py smoke tests: the ``--replay`` worker that ``--scaling``
spawns runs the full CDC replay end to end, and a mode flag is
required."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "bench.py")


def test_replay_worker_prints_one_json_line(tmp_path):
    # a 1 GB pre-touched heap fits beside the test session's own JVM
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_GRAFT_SCRATCH=str(tmp_path))
    out = subprocess.run(
        [sys.executable, BENCH, "--replay", "2000", "--cpus", "2",
         "--batches", "2"],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert len(lines) == 1, out.stdout
    assert json.loads(lines[0])["value"] > 0


def test_no_mode_flag_is_a_usage_error():
    out = subprocess.run([sys.executable, BENCH], capture_output=True,
                         text=True, cwd=REPO, timeout=120)
    assert out.returncode != 0
    assert "--replay" in out.stderr
