"""Session factory defaults."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SF_SMOKE

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


def test_bucketed_facts_are_rebuilt_for_a_new_session(tmp_path):
    """revenue_by_nation reads session-catalog bucketed tables: a second
    session in the same process must build its own, not trust the first
    session's (gone) catalog entries."""
    script = (
        "from lakehouse_admin_spark.session import get_spark\n"
        "from lakehouse_admin_spark.operators.relational import revenue_by_nation\n"
        "rows = []\n"
        "for _ in range(2):\n"
        "    spark = get_spark(app_name='second-session', shuffle_partitions=4)\n"
        f"    df = revenue_by_nation(spark, {SF_SMOKE!r})\n"
        "    rows.append(sorted((r.r_name, r.n_name, round(r.revenue, 2)) for r in df.collect()))\n"
        "    spark.stop()\n"
        "assert rows[0] == rows[1] and rows[0], rows\n"
        "print('ok')\n"
    )
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_WAREHOUSE=str(tmp_path / "wh"))
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
    )
    assert out.returncode == 0 and out.stdout.split()[-1:] == ["ok"], out.stderr[-3000:]
