"""Loops that share one body.

- ``bfs_distances`` and ``sssp`` run one relaxation (``algorithms._relax``),
  ``pagerank`` and ``personalized_pagerank`` one power iteration
  (``algorithms._power_iteration``); the registry entries over them, and
  the planner's shortestPath fixpoints, hash-match their DuckDB oracles at
  sf0.001 by default and under ``LARGE_REGIME``, with the normalisation of
  ``tools/check_oracle.py``.
- ``pagerank`` on a graph with no nodes returns an empty (id, rank) frame.
- The planner's var-length fixpoints build their step through one helper
  (``Planner._step_scan``); each keeps its own join strategy for the step:
  broadcast for shortestPath and var-length expand, sort-merge for the
  allShortestPaths sigma rounds.
"""

import re

import duckdb
import pytest

import __spark_entry__ as E
from cypher_for_apache_spark_spark import materialize
from cypher_for_apache_spark_spark.operators import algorithms as alg
from cypher_for_apache_spark_spark.plans import planner as planner_mod
from test_large_regime import forced  # noqa: F401  (fixture: the at-scale regime)
from test_registry_smoke import SF_DIR  # the sf0.001 test tables
from tools import check_oracle

# ------------------------------------------------------ oracle hash check
_MERGED = [
    "pagerank_next",
    "call_pagerank_next",
    "ppr_orders",
    "bfs_region_reach",
    "call_bfs_region",
    "sssp_customer_parts",
    "shortest_path_orders",
    "all_shortest_shared_part",
]


@pytest.fixture(scope="module")
def oracle_db():
    return check_oracle.duckdb_views(SF_DIR)


@pytest.mark.parametrize("regime", ["default", "forced"])
@pytest.mark.parametrize("name", _MERGED)
def test_merged_loops_match_their_oracles(request, spark, oracle_db, name, regime):
    if regime == "forced":
        request.getfixturevalue("forced")
    sdf = E.queries()[name](spark, SF_DIR).toPandas()
    ddf = oracle_db.execute(E.oracle_sql()[name]).df()
    assert len(sdf), "the entry must return rows at sf0.001"
    assert check_oracle.compare(sdf, ddf) == []


# ------------------------------------------------------------ empty graph
@pytest.fixture(scope="module")
def empty_graph(session, spark):
    return session.read_from(nodes={"N": spark.range(0).select("id")})


def test_pagerank_of_a_graph_without_nodes_is_empty(empty_graph):
    df = alg.pagerank(empty_graph)
    assert df.columns == ["id", "rank"]
    assert df.collect() == []


def test_call_pagerank_without_nodes_is_empty(empty_graph):
    res = empty_graph.cypher("CALL algo.pageRank() YIELD id, rank RETURN id, rank")
    assert res.df.collect() == []


# ------------------------------------------------------ step join strategy
@pytest.fixture(scope="module")
def chain(session, spark):
    nodes = {"N": spark.createDataFrame([(i, f"n{i}") for i in range(12)], "id long, name string")}
    rels = {
        "E": spark.createDataFrame(
            [(100 + i, i, i + 1) for i in range(11)] + [(200, 0, 5), (201, 3, 9)],
            "id long, src long, dst long",
        )
    }
    return session.read_from(nodes, rels)


def _depth(line):
    return len(line) - len(line.lstrip(" :|+-"))


def _step_joins(plan):
    """The join operator directly above each scan of a checkpointed step
    frame (a LogicalRDD whose first column is ``_near``)."""
    lines = plan.splitlines()
    joins = []
    for i, line in enumerate(lines):
        if not re.search(r"Scan ExistingRDD\[_near#", line):
            continue
        depth = _depth(line)
        for up in reversed(lines[:i]):
            if _depth(up) < depth:
                depth = _depth(up)
                m = re.match(r"(\w+Join) ", up.lstrip(" :|+-"))
                if m:
                    joins.append(m.group(1))
                    break
    return joins


@pytest.mark.parametrize(
    "query, join, limits",
    [
        (
            "MATCH p = shortestPath((a:N)-[:E*1..4]->(b:N)) WHERE a.name = 'n0' "
            "RETURN b.name AS b, length(p) AS hops",
            "BroadcastHashJoin",
            # below the per-round gate shortestPath solves on the driver;
            # its Spark rounds decide the step join on the loop-invariant
            # limit, which keeps its value
            {"BROADCAST_ROW_LIMIT": 0},
        ),
        (
            "MATCH (a:N)-[:E*1..3]-(b:N) WHERE a.name = 'n2' RETURN b.name AS b",
            "BroadcastHashJoin",
            {},
        ),
        (
            "MATCH p = allShortestPaths((a:N)-[:E*1..4]-(b:N)) "
            "RETURN length(p) AS l, count(*) AS c",
            "SortMergeJoin",
            {},
        ),
    ],
    ids=["shortest_path", "var_length", "all_shortest_sigma"],
)
def test_step_join_strategy(spark, chain, monkeypatch, query, join, limits):
    """With Catalyst's own broadcast threshold off, only the fixpoints'
    own decisions pick the step join: the static plan of every round the
    planner materializes, and of the result, joins the step scan with
    ``join``."""
    for name, value in limits.items():
        monkeypatch.setattr(materialize, name, value)
    plans = []
    real = planner_mod.materialize_count

    def spy(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df)

    monkeypatch.setattr(planner_mod, "materialize_count", spy)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = chain.cypher(query).df
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        assert df.collect()
    finally:
        spark.conf.set(key, old)
    joins = [j for p in plans for j in _step_joins(p)]
    assert joins and set(joins) == {join}, joins
