"""``tools/check_oracle.py`` runs: a registry entry on Spark against its
DuckDB oracle, from a fresh process as its usage line gives it."""

from __future__ import annotations

import os
import subprocess
import sys

from conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_check_oracle_passes_one_entry():
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "tools/check_oracle.py", SF_SMOKE, "q2_knn_l2_top5"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, (proc.stdout + proc.stderr)[-3000:]
    assert any(line.startswith("pass q2_knn_l2_top5:") for line in proc.stdout.splitlines()), proc.stdout
