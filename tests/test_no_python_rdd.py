"""No Python-worker frames in the engine.

``spark.createDataFrame(<list>)`` runs a ``parallelize`` plus an identity
``map`` in Python workers, a job that every later action over the frame
repeats unless a checkpoint truncates it. Driver-side lists go through
``materialize.local_frame`` instead, which builds the frame in the JVM.
Only fixture and external data may still use ``createDataFrame``.
"""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "cypher_for_apache_spark_spark"

# fixture data (the TCK), external sources, and decoded media rows
ALLOWED = ("tck/", "sources/", "operators/multimodal.py")


def _create_dataframe_calls(path: Path):
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            yield node.lineno


def test_no_create_dataframe_outside_allow_list():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel.startswith(ALLOWED):
            continue
        offenders += [f"{rel}:{line}" for line in _create_dataframe_calls(path)]
    assert not offenders, (
        "createDataFrame runs a Python-worker job; use materialize.local_frame: "
        + ", ".join(offenders)
    )


def test_guard_sees_a_call(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("def f(spark):\n    return spark.createDataFrame([(1,)], 'id long')\n")
    assert list(_create_dataframe_calls(src)) == [2]
