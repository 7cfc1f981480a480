"""Graph memos are keyed on the Spark application, not the session object.

``id(spark)`` can be reused by a new SparkSession once the old one is
collected, and a restarted session must never be handed frames bound to
a stopped SparkContext. Both memos (the driver contract's TPC-H graph
cache and the TCK runner's fixture-graph memo) key on
``spark.sparkContext.applicationId``; a different application id misses.
"""

from types import SimpleNamespace

import pytest
from pyspark import SparkContext

import __spark_entry__ as E
from cypher_for_apache_spark_spark.sources import tpch
from cypher_for_apache_spark_spark.tck import runner
from cypher_for_apache_spark_spark.tck.runner import Scenario


@pytest.fixture()
def app_id(monkeypatch):
    """Set the application id ``spark.sparkContext`` reports."""

    def use(value: str):
        monkeypatch.setattr(SparkContext, "applicationId", property(lambda self: value))

    return use


def test_entry_graph_cache_misses_for_another_application(spark, monkeypatch, app_id):
    monkeypatch.setattr(E, "_GRAPH_CACHE", {})
    loads = []

    def load(spark_, sf_dir, with_triplets=()):
        loads.append(sf_dir)
        return SimpleNamespace()

    monkeypatch.setattr(tpch, "load_tpch_graph", load)
    app_id("app-1")
    first = E._graph(spark, "sf")
    assert E._graph(spark, "sf") is first
    app_id("app-2")
    restarted = E._graph(spark, "sf")
    assert restarted is not first
    assert loads == ["sf", "sf"]


def test_tck_graph_memo_misses_for_another_application(spark, session, monkeypatch, app_id):
    monkeypatch.setattr(runner, "_GRAPH_MEMO", {})
    builds = []
    real = runner.graph_from_create

    def build(spark_, stmts):
        builds.append(stmts)
        return real(spark_, stmts)

    monkeypatch.setattr(runner, "graph_from_create", build)
    scenario = Scenario(
        name="memo", init=["CREATE (:A)"], query="MATCH (n:B) RETURN n", expect_empty=True
    )
    app_id("app-1")
    runner.run_scenario(session, spark, scenario)
    runner.run_scenario(session, spark, scenario)
    assert len(builds) == 1
    app_id("app-2")
    runner.run_scenario(session, spark, scenario)
    assert len(builds) == 2
