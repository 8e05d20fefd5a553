"""Smoke mode: every workload once at tiny size, with every output check.

    python3 -m pytest perfbench/tests -q     # starts Spark; a few minutes
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _processes_naming(text: str) -> list[int]:
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                if text.encode() in fh.read():
                    found.append(int(entry))
        except OSError:
            continue  # ended while being read
    return found


def test_smoke_mode_passes_every_output_check():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--smoke"],
        cwd=REPO, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "smoke: all workloads passed" in proc.stdout
    # the Spark JVM (its app name is on its command line) ended with the run
    assert _processes_naming("spark.app.name=perfbench-smoke") == []
