"""Self-tests for the benchmark harness; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import sys

import pytest

from perfbench import run, workloads as W
from perfbench.oracle import canonical_rows, result_hash
from perfbench.trace import GROUP_PREFIX, MATERIALIZE_HELPERS, JvmProbe, Tracer


# -- generator -------------------------------------------------------------------


@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_same_seed_same_stream(workload):
    assert W.stream_json(workload, 7) == W.stream_json(workload, 7)


def test_other_seed_other_parameters_same_shapes():
    a = json.loads(W.stream_json("cypher_interactive", 1, n_passes=2))
    b = json.loads(W.stream_json("cypher_interactive", 2, n_passes=2))
    assert [q["params"] for q in a] != [q["params"] for q in b]
    assert sorted(q["shape"] for q in a) == sorted(q["shape"] for q in b)
    # every pass sends every shape exactly once
    n = len(W.SHAPES)
    assert sorted(q["shape"] for q in a[:n]) == sorted(s.name for s in W.SHAPES)


def test_oracle_sql_carries_the_request_parameters():
    req = next(W.interactive_passes(3))
    for q in req:
        for v in q.params.values():
            assert W.sql_literal(v) in q.sql
        assert "{" not in q.sql


def test_fixed_workloads_are_permuted_not_changed():
    for wl, names in (("graph_iterative", W.GRAPH_ITERATIVE), ("corpus_pipeline", W.CORPUS_PIPELINE)):
        orders = {tuple(W.fixed_order(wl, s)) for s in range(6)}
        assert len(orders) > 1
        assert all(sorted(o) == sorted(names) for o in orders)


def test_sql_literal():
    assert W.sql_literal("O'Neil") == "'O''Neil'"
    assert W.sql_literal(["a", "b"]) == "('a', 'b')"
    assert W.sql_literal(2.5) == "2.5"
    assert W.sql_literal(True) == "TRUE"


# -- reported statistics -------------------------------------------------------------


def test_p95_needs_ten_samples_beyond_it():
    assert run.tail_percentile([float(i) for i in range(199)]) is None
    p = run.tail_percentile([float(i) for i in range(200)])
    assert p == 189.0
    assert sum(1 for i in range(200) if i > p) == 10


def test_tail_percentile_counts_strictly_greater_samples():
    # ties at the percentile do not count as beyond it
    assert run.tail_percentile([1.0] * 150 + [2.0] * 50 + [3.0] * 9) is None
    assert run.tail_percentile([]) is None


def test_highest_tail_has_ten_samples_beyond_it():
    assert run.highest_tail([float(i) for i in range(200)]) == (95, 189.0)
    assert run.highest_tail([float(i) for i in range(40)]) == (75, 29.0)
    assert run.highest_tail([float(i) for i in range(15)]) is None


def test_failed_frac_counts_errors_and_mismatches():
    results = [{"ok": True}, {"ok": False, "error": "oracle mismatch"},
               {"ok": False, "error": "AnalysisException"}, {"ok": True}]
    assert run.failed_frac(results) == 0.5
    assert run.failed_frac([]) == 0.0


def test_units_follow_metric_suffixes():
    assert run.unit_of("setup_s") == "s"
    assert run.unit_of("materialize.s") == "s"
    assert run.unit_of("latency_p50_ms") == "ms"
    assert run.unit_of("cpu_per_query_ms") == "ms"
    assert run.unit_of("jvm.heap_peak_mb") == "MiB"
    assert run.unit_of("exec.jobs") == "count"


# -- oracle normalisation -------------------------------------------------------------


class _Row(tuple):
    """Stands in for pyspark's Row: a tuple with named fields."""


def test_hash_ignores_row_order_and_value_types():
    spark_side = [_Row((2, 1.5, dt.datetime(2024, 1, 1), "x")), _Row((1, 0.1 + 0.2, None, "y"))]
    duck_side = [(1, 0.3, None, "y"), (2, decimal.Decimal("1.50"), dt.datetime(2024, 1, 1), "x")]
    cols = ["a", "b", "c", "d"]
    assert result_hash(cols, spark_side) == result_hash(cols, duck_side)


def test_hash_sorts_columns_and_separates_strings_from_numbers():
    assert canonical_rows(["b", "a"], [(1, 2)]) == [("2", "1")]
    assert result_hash(["a"], [("1",)]) != result_hash(["a"], [(1,)])
    assert result_hash(["a"], [(1,)]) != result_hash(["b"], [(1,)])


# -- tracer -----------------------------------------------------------------------


class _Client:
    def send_command(self, command):
        return "ok:" + command


class _Context:
    def __init__(self):
        self.calls = []
        self._gateway = type("G", (), {})()
        self._gateway._gateway_client = _Client()

    def setJobGroup(self, group, description):
        self.calls.append(("group", group))

    def setLocalProperty(self, key, value):
        self.calls.append(("prop", key, value))


class _Spark:
    def __init__(self):
        self.sparkContext = _Context()


def _package_targets():
    import __spark_entry__  # noqa: F401  (imports every operator module)
    from cypher_for_apache_spark_spark import materialize as M, session as S
    from cypher_for_apache_spark_spark.plans.planner import Planner

    targets = [(S, "parse"), (Planner, "plan")]
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "") or ""
        if name.startswith("cypher_for_apache_spark_spark") or name == "__spark_entry__":
            for h in MATERIALIZE_HELPERS:
                if vars(mod).get(h) is getattr(M, h):
                    targets.append((mod, h))
    return targets


def test_install_wraps_and_uninstall_restores_everything():
    targets = _package_targets()
    assert len(targets) > 2 + len(MATERIALIZE_HELPERS)  # importers besides materialize.py
    before = {(id(o), a): vars(o)[a] for o, a in targets}
    spark = _Spark()
    client = spark.sparkContext._gateway._gateway_client
    tracer = Tracer(spark)
    tracer.install()
    try:
        for o, a in targets:
            assert vars(o)[a] is not before[(id(o), a)]
            assert vars(o)[a].__perfbench_original__ is before[(id(o), a)]
        assert "send_command" in vars(client)
        assert client.send_command("x") == "ok:x"
        with tracer.paused():
            client.send_command("y")
        client.send_command("m\nd\no12\ne\n")  # a reference release
        assert tracer.py4j_calls == 1
    finally:
        tracer.uninstall()
    for o, a in targets:
        assert vars(o)[a] is before[(id(o), a)]
    assert "send_command" not in vars(client)
    client.send_command("z")
    assert tracer.py4j_calls == 1


def test_spans_nest_self_time_and_job_groups():
    spark = _Spark()
    tracer = Tracer(spark)
    with tracer.span("operators", "op"):
        with tracer.span("materialize", "m"):
            pass
        with tracer.span("planner", "p"):
            pass
    op, m, p = tracer.spans
    assert (m.parent, p.parent) == (op.id, op.id)
    g0, g2 = f"{GROUP_PREFIX}-0", f"{GROUP_PREFIX}-2"
    assert m.group is None and op.group == g0 and p.group == g2
    assert op.self_s == pytest.approx(op.duration - m.duration - p.duration)
    # the planner span hands the job group back to its parent, the outer one clears it
    assert spark.sparkContext.calls == [
        ("group", g0), ("group", g2), ("group", g0),
        ("prop", "spark.jobGroup.id", None),
    ]
    totals = tracer.layer_totals()
    assert totals["operators"]["calls"] == 1 and totals["materialize"]["calls"] == 1


class _Jit(JvmProbe):
    """A JvmProbe whose compile-time counter follows a script."""

    def __init__(self, ticks):
        self.ticks = list(ticks)

    def _jit_ms(self):
        return self.ticks.pop(0) if len(self.ticks) > 1 else self.ticks[0]


def test_jit_settle_returns_at_once_when_idle():
    assert _Jit([100]).jit_settle() < 0.1


def test_jit_settle_waits_until_the_counter_stops():
    probe = _Jit([100, 140, 180, 200, 200])
    waited = probe.jit_settle()
    assert probe.ticks == [200]
    assert waited >= 2 * 0.1
