"""Session defaults that must not assume a host size."""

import os

from img2table_spark.session import default_cores


def test_default_cores_follows_affinity_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == len(os.sched_getaffinity(0))


def test_default_cores_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3


_LIFECYCLE = """
import json

from img2table_spark.session import get_spark, session_artifact, staging_dir

builds = []


@session_artifact
def artifact(spark, x, y=2):
    builds.append((x, y))
    return object()


s1 = get_spark(app_name="cache-lifecycle", cores=1, shuffle_partitions=1)
app1 = s1.sparkContext.applicationId
a = artifact(s1, 1)
assert artifact(s1, 1) is a
assert artifact(s1, 1, y=2) is a and artifact(s1, x=1) is a
assert artifact(s1, 1, 3) is not a
assert builds == [(1, 2), (1, 3)], builds
d1 = staging_dir(s1)
assert d1.is_dir() and staging_dir(s1) == d1

s1.stop()
s2 = get_spark(app_name="cache-lifecycle", cores=1, shuffle_partitions=1)
assert s2.sparkContext.applicationId != app1
b = artifact(s2, 1)
assert b is not a and builds[-1] == (1, 2) and len(builds) == 3, builds
assert not d1.exists()
d2 = staging_dir(s2)
assert d2.is_dir() and d2 != d1
print(json.dumps({"d2": str(d2)}))
"""


def test_session_artifact_lifecycle():
    """One build per session and argument set, a rebuild in a new session,
    and no staging dir left behind by either session. Runs in a subprocess
    so the shared test session is never stopped."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    env = dict(os.environ, PYTHONPATH=str(root))
    proc = subprocess.run(
        [sys.executable, "-c", _LIFECYCLE],
        cwd=root, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    d2 = Path(json.loads(proc.stdout.strip().splitlines()[-1])["d2"])
    assert not d2.exists()
