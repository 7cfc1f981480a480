"""Python workers import the package from any working directory.

The Pandas-UDF operators run package code in Python workers, which start
in the JVM's working directory. ``build_spark_session`` puts the package's
parent directory on ``spark.executorEnv.PYTHONPATH``, so a driver that
finds the package some other way (an installed path, ``sys.path``) does
not leave its workers without it.
"""

import os
import subprocess
import sys
from pathlib import Path

import pytest

from cypher_for_apache_spark_spark import session
from test_registry_smoke import SF_DIR  # the sf0.001 test tables

REPO = Path(__file__).resolve().parent.parent

# a driver outside the repository that finds the package through sys.path,
# with no PYTHONPATH for its JVM or workers to inherit
_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from cypher_for_apache_spark_spark import build_spark_session
import __spark_entry__ as E
spark = build_spark_session(master="local[2]", extra_confs={{
    "spark.sql.shuffle.partitions": "2", "spark.ui.enabled": "false"}})
spark.sparkContext.setLogLevel("ERROR")
for name in ("media_decode_docs", "phash_dup_docs"):
    print(name, len(E.queries()[name](spark, {sf!r}).collect()))
"""


def test_session_confs_put_the_package_first(monkeypatch):
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/elsewhere", str(REPO)]))
    path = session._session_confs(None)["spark.executorEnv.PYTHONPATH"]
    assert path.split(os.pathsep) == [str(REPO), "/elsewhere"]
    # an explicit value still wins
    explicit = {"spark.executorEnv.PYTHONPATH": "/mine"}
    assert session._session_confs(explicit)["spark.executorEnv.PYTHONPATH"] == "/mine"


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not present")
def test_udf_operators_run_from_another_directory(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _DRIVER.format(repo=str(REPO), sf=SF_DIR)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    counts = dict(line.split() for line in out.stdout.splitlines())
    assert counts.keys() == {"media_decode_docs", "phash_dup_docs"}
    assert int(counts["media_decode_docs"]) > 0
