"""The at-scale branches of the size/width policy, forced on a small graph.

Every gate that picks a plan from a measured size reads its threshold from
``materialize.py`` at call time. Local test data never crosses those
thresholds, so the shuffle joins (per-round frames above the broadcast
limits, correlated subpatterns above the row-bound gate), the full-width
static loop frames and the widest loop rounds would otherwise run only on
a cluster. Here the thresholds are patched to force those branches
(broadcast limits 0, one row per partition, salt gate 0, Catalyst's own
broadcast threshold off), and each operator must return exactly the rows
of the default regime.
"""

import os
import re

import pytest

from cypher_for_apache_spark_spark import materialize
from cypher_for_apache_spark_spark.operators import algorithms as alg
from cypher_for_apache_spark_spark.plans import planner as planner_mod
from cypher_for_apache_spark_spark.session import CypherSession
from cypher_for_apache_spark_spark.sources import edgelist
from cypher_for_apache_spark_spark.sources.tpch import load_tpch_graph
from test_registry_smoke import SF_DIR  # the sf0.001 test tables


# 60 nodes: a directed chain 0 -> ... -> 39 with chords, a 3-cycle, a
# tail, and a separate 10-node ring (two components, cycles, and vertices
# of degree 1 for k_core to peel)
_EDGES = (
    [(i, i + 1, float(1 + i % 3)) for i in range(39)]
    + [(i, i + 7, 9.0) for i in range(0, 30, 5)]
    + [(40 + i, 40 + (i + 1) % 10, 1.0) for i in range(10)]
    + [(3, 1, 1.0), (55, 56, 2.0)]
)


@pytest.fixture(scope="module")
def graph(spark):
    return edgelist.from_edge_df(spark.createDataFrame(_EDGES, "src long, dst long, w double"))


@pytest.fixture()
def forced(spark, monkeypatch):
    """Force the at-scale regime; returns the verdicts ``maybe_broadcast``
    reached so a test can check that the shuffle branch really ran."""
    for name, value in materialize.LARGE_REGIME.items():
        monkeypatch.setattr(materialize, name, value)
    verdicts = []
    gate = materialize.broadcastable

    def spy(rows, loop_invariant=False):
        verdicts.append((rows, gate(rows, loop_invariant)))
        return verdicts[-1][1]

    monkeypatch.setattr(materialize, "broadcastable", spy)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield verdicts
    spark.conf.set(key, old)


def _rows(df, digits=None):
    out = []
    for r in df.collect():
        t = tuple(r)
        if digits is not None:
            t = tuple(round(v, digits) if isinstance(v, float) else v for v in t)
        out.append(t)
    return sorted(out)


def _same_in_both_regimes(request, run, digits=None):
    default = _rows(run(), digits)
    assert default, "the fixture must give the operator something to return"
    verdicts = request.getfixturevalue("forced")
    assert _rows(run(), digits) == default
    return verdicts


def _shuffled(verdicts):
    """The forced run reached a size gate and took its shuffle branch."""
    assert verdicts and not any(ok for rows, ok in verdicts if rows)


def test_pagerank(request, graph):
    # ranks are float sums whose order follows the partitioning
    v = _same_in_both_regimes(request, lambda: alg.pagerank(graph, iterations=10), 9)
    _shuffled(v)


def test_connected_components(request, graph):
    v = _same_in_both_regimes(request, lambda: alg.connected_components(graph))
    _shuffled(v)


def test_k_core(request, graph):
    v = _same_in_both_regimes(request, lambda: alg.k_core(graph, k=2))
    _shuffled(v)


def test_sssp(request, graph):
    v = _same_in_both_regimes(request, lambda: alg.sssp(graph, [0, 40], weight_prop="w"))
    _shuffled(v)


def test_bfs(request, graph):
    v = _same_in_both_regimes(request, lambda: alg.bfs_distances(graph, [20, 45], undirected=True))
    _shuffled(v)


@pytest.fixture(scope="module")
def cypher_graph(spark):
    ids = sorted({n for s, d, _ in _EDGES for n in (s, d)})
    nodes = spark.createDataFrame([(i, f"n{i}") for i in ids], "id long, name string")
    rels = spark.createDataFrame(
        [(rid, s, d) for rid, (s, d, _) in enumerate(_EDGES)], "id long, src long, dst long"
    )
    return CypherSession(spark).read_from({"N": nodes}, {"E": rels})


def test_unbounded_var_length(request, cypher_graph):
    q = ("MATCH (a:N)-[:E*]->(b:N) WHERE a.name IN ['n0', 'n30', 'n41'] "
         "RETURN a.name AS a, b.name AS b, count(*) AS paths")
    v = _same_in_both_regimes(request, lambda: cypher_graph.cypher(q).df)
    _shuffled(v)


def test_shortest_path(request, cypher_graph):
    q = ("MATCH p = shortestPath((a:N)-[:E*]->(b:N)) "
         "WHERE a.name = 'n0' AND b.name IN ['n20', 'n39'] "
         "RETURN b.name AS b, length(p) AS hops")
    v = _same_in_both_regimes(request, lambda: cypher_graph.cypher(q).df)
    _shuffled(v)


# bounded, so the last round's visited anti-join stays in the returned plan
_SHORTEST_BOUNDED = (
    "MATCH p = shortestPath((a:N)-[:E*1..3]->(b:N)) "
    "WHERE a.name IN ['n0', 'n40'] RETURN a.name AS a, b.name AS b, length(p) AS hops"
)


def _anti_joins(df):
    """The join operators of the static plan's LEFT ANTI joins."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"(\w+Join) \[[^\]]*\], \[[^\]]*\], LeftAnti", plan)


def test_shortest_path_visited_join_regimes(request, monkeypatch, cypher_graph):
    """The Spark rounds' visited set is broadcast-gated on the sum of the
    frontier probes: broadcast in the default regime, a shuffle join when
    forced. Below the broadcast gate shortestPath solves on the driver,
    and the visited gate reads the same limit, so here the driver solve is
    switched off instead of the limit being lowered."""
    monkeypatch.setattr(planner_mod, "_fits_driver", lambda graph, rel_types: False)
    assert _anti_joins(cypher_graph.cypher(_SHORTEST_BOUNDED).df) == ["BroadcastHashJoin"]
    v = _same_in_both_regimes(request, lambda: cypher_graph.cypher(_SHORTEST_BOUNDED).df)
    _shuffled(v)
    assert _anti_joins(cypher_graph.cypher(_SHORTEST_BOUNDED).df) == ["SortMergeJoin"]


# correlated subpatterns: the rhs of each goes through the row-bound gate
_CORRELATED = {
    "exists": (
        "MATCH (a:N) WHERE EXISTS { MATCH (a)-[:E]->(b:N) WHERE b.name <> 'n1' } "
        "RETURN a.name AS a"
    ),
    "not_exists": (
        "MATCH (a:N) WHERE NOT EXISTS { MATCH (a)-[:E]->(:N)-[:E]->(:N) } "
        "RETURN a.name AS a"
    ),
    "pattern_in_boolean": (
        "MATCH (a:N) WHERE exists((a)-[:E]->(:N {name: 'n5'})) OR a.name = 'n39' "
        "RETURN a.name AS a"
    ),
    "pattern_comprehension": (
        "MATCH (a:N) RETURN a.name AS a, size([(a)-[:E]->(b:N) | b.name]) AS n"
    ),
    "optional_match": (
        "MATCH (a:N) OPTIONAL MATCH (a)-[:E]->(b:N) RETURN a.name AS a, b.name AS b"
    ),
    "call_aggregating": (
        "MATCH (a:N) CALL { WITH a MATCH (a)-[:E]->(b:N) RETURN count(b) AS n } "
        "RETURN a.name AS a, n"
    ),
    "call_rows": (
        "MATCH (a:N) CALL { WITH a MATCH (a)-[:E]->(b:N) RETURN b.name AS b } "
        "RETURN a.name AS a, b"
    ),
}


@pytest.mark.parametrize("name", sorted(_CORRELATED))
def test_correlated_subpattern(request, cypher_graph, name):
    q = _CORRELATED[name]
    v = _same_in_both_regimes(request, lambda: cypher_graph.cypher(q).df)
    _shuffled(v)


@pytest.fixture(scope="module")
def tpch(spark):
    return load_tpch_graph(spark, SF_DIR, with_triplets=("IN_NATION", "IN_REGION", "PLACED", "LINE"))


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not present")
@pytest.mark.parametrize(
    "q",
    [
        "MATCH (c:Customer) WHERE EXISTS { MATCH (c)-[:PLACED]->(o:Order) "
        "WHERE o.status = 'F' } RETURN count(*) AS n",
        "MATCH (c:Customer) WHERE c.acctbal > 0 OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
        "WITH c, count(o) AS n_orders RETURN n_orders, count(*) AS customers",
        "MATCH (c:Customer) WHERE c.acctbal > 0 "
        "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) RETURN count(o) AS orders } "
        "RETURN c.mktsegment AS segment, sum(orders) AS orders",
    ],
    ids=["exists", "optional", "call"],
)
def test_small_subpatterns_broadcast_in_the_static_plan(tpch, q):
    """Default regime: the subpattern's row bound is under the broadcast
    limit, so the static plan (AQE's initial plan, printed with the final
    one) joins it back by broadcast, not by a sort-merge join that AQE
    could only replace after running both shuffles."""
    df = tpch.cypher(q).df
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Initial Plan" in plan
    assert "SortMergeJoin" not in plan, plan
