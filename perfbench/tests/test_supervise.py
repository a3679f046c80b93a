"""The command leaves no process behind: what the benchmark starts, and
what those processes start in turn, has ended when it exits."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parents[1]


def test_orphaned_grandchild_is_stopped_and_reaped(tmp_path):
    pidfile = tmp_path / "pid"
    # the supervised command starts a grandchild in a process group of its
    # own (as PySpark's daemon does) and exits without waiting for it
    leaver = (
        "import os, subprocess, sys; "
        "p = subprocess.Popen(['sleep', '60'], process_group=0, "
        "stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL); "
        f"open({str(pidfile)!r}, 'w').write(str(p.pid)); sys.exit(3)"
    )
    proc = subprocess.run(
        [sys.executable, "-c",
         f"import sys; sys.path.insert(0, {str(HERE)!r}); import run; "
         f"sys.exit(run.supervise([sys.executable, '-c', {leaver!r}]))"],
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 3, proc.stderr
    pid = int(pidfile.read_text())
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return
    raise AssertionError(f"process {pid} outlived the benchmark")
