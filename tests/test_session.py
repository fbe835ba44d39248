"""Session defaults that must be safe with no environment set."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_cpus(**overrides) -> int:
    """session.DEFAULT_CPUS as a fresh interpreter reads it at import."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env.update(overrides)
    out = subprocess.run(
        [sys.executable, "-c",
         "from cati_database_feeder_spark import session; print(session.DEFAULT_CPUS)"],
        cwd=REPO, env=env, capture_output=True, text=True, check=True).stdout
    return int(out)


def test_default_cpus_follows_process_affinity():
    """With SPARK_GRAFT_CPUS unset or empty, local[N] gets the CPUs this
    process may run on, not a fixed 32."""
    allowed = len(os.sched_getaffinity(0))
    assert _default_cpus() == allowed
    assert _default_cpus(SPARK_GRAFT_CPUS="") == allowed


def test_default_cpus_env_override():
    assert _default_cpus(SPARK_GRAFT_CPUS="3") == 3
