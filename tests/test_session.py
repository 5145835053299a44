"""Session factory defaults."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_cpus_follow_the_host_when_unset():
    """With SPARK_GRAFT_CPUS unset the session runs on the cores this
    process may use, not on a hard-coded count."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import os; from lakehouse_admin_spark.session import DEFAULT_CPUS; "
            "print(DEFAULT_CPUS, len(os.sched_getaffinity(0)))",
        ],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    got, cores = out.stdout.split()
    assert got == cores
