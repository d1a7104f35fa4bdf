"""Session factory: Python workers find the package from any cwd."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The driver imports the package by path; a Python task then imports it on
# a worker whose cwd is the driver's (outside the repository). The caller's
# own worker PYTHONPATH entry must survive next to the package's.
_SCRIPT = f"""
import sys
sys.path.insert(0, {ROOT!r})
from cassandra_analytics_example_spark.session import get_spark

def where(_):
    import cassandra_analytics_example_spark as pkg
    yield pkg.__file__

key = "spark.executorEnv.PYTHONPATH"
spark = get_spark(app_name="worker-path", extra_conf={{key: sys.argv[1]}})
print(spark.sparkContext.getConf().get(key))
print(spark.sparkContext.parallelize([0], 1).mapPartitions(where).collect()[0])
spark.stop()
"""


def test_python_workers_import_the_package_outside_the_repo(tmp_path):
    extra = str(tmp_path / "extra")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, extra],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    conf, worker_pkg = out.stdout.strip().splitlines()[-2:]
    assert conf == os.pathsep.join([extra, ROOT])
    assert worker_pkg == os.path.join(
        ROOT, "cassandra_analytics_example_spark", "__init__.py"
    )
