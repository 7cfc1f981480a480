"""No Python-worker frames in the engine.

``spark.createDataFrame(<list>)`` runs a ``parallelize`` plus an identity
``map`` in Python workers, a job that every later action over the frame
repeats unless a checkpoint truncates it. Driver-side data goes through
``materialize.local_frame`` instead, the one package function that calls
``createDataFrame``: it passes a ``pyarrow.Table``, which the JVM reads
from a file without a Python worker (its lineage tests are in
``test_loop_shapes.py``). Only fixture and external data may otherwise
use ``createDataFrame``.
"""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "cypher_for_apache_spark_spark"

# fixture data (the TCK), external sources, and decoded media rows
ALLOWED = ("tck/", "sources/", "operators/multimodal.py")
# (file, enclosing function) of the one Arrow call site
ARROW_CALL_SITE = ("materialize.py", "local_frame")


def _create_dataframe_calls(path: Path):
    """(line, dotted name of the enclosing function, or None at module
    level) of every ``.createDataFrame(`` call in ``path``."""
    tree = ast.parse(path.read_text(), filename=str(path))

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            func = node.name if func is None else f"{func}.{node.name}"
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            yield node.lineno, func
        for child in ast.iter_child_nodes(node):
            yield from visit(child, func)

    yield from visit(tree, None)


def _offenders(package: Path):
    out = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        if rel.startswith(ALLOWED):
            continue
        out += [
            f"{rel}:{line}"
            for line, func in _create_dataframe_calls(path)
            if (rel, func) != ARROW_CALL_SITE
        ]
    return out


def test_no_create_dataframe_outside_allow_list():
    offenders = _offenders(PACKAGE)
    assert not offenders, (
        "createDataFrame runs a Python-worker job; use materialize.local_frame: "
        + ", ".join(offenders)
    )


def test_guard_sees_a_call(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("def f(spark):\n    return spark.createDataFrame([(1,)], 'id long')\n")
    assert list(_create_dataframe_calls(src)) == [(2, "f")]


def test_guard_admits_only_the_arrow_call_site(tmp_path):
    call = "    return spark.createDataFrame(rows, schema)\n"
    (tmp_path / "materialize.py").write_text(
        "def local_frame(spark, rows, schema):\n" + call
        + "\n\ndef other(spark, rows, schema):\n" + call
        # a nested function inside local_frame is not local_frame
        + "\n\ndef local_frame_wrapper(spark, rows, schema):\n"
        + "    def local_frame():\n    " + call + "    return local_frame()\n"
    )
    (tmp_path / "ops.py").write_text("def local_frame(spark, rows, schema):\n" + call)
    assert _offenders(tmp_path) == ["materialize.py:6", "materialize.py:11", "ops.py:2"]
