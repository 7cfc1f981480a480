"""Blacklist discipline (reference: TckSparkCypherTest.scala:70-82 asserts
blacklisted scenarios *fail*, so a silent behavior change gets noticed).

Every feature the reference excludes (cypher-cypher9-features.adoc:57-76,
morpheus-tck failing_blacklist:3-7) must raise a *clean, typed* error here
— not a Py4J stack trace, and never silently wrong results. If one of
these starts passing, this file is the tripwire that forces an explicit
decision (support it for real, or keep parity)."""

import pytest

from cypher_for_apache_spark_spark.functions.compiler import CypherCompileError
from cypher_for_apache_spark_spark.parser import CypherSyntaxError
from cypher_for_apache_spark_spark.plans.planner import CypherPlanningError

CLEAN_ERRORS = (CypherSyntaxError, CypherCompileError, CypherPlanningError)


@pytest.fixture(scope="module")
def g(session, spark):
    nodes = {
        "Person": spark.createDataFrame(
            [(0, "Ada"), (1, "Bo")], "id long, name string"
        )
    }
    rels = {
        "KNOWS": spark.createDataFrame([(10, 0, 1)], "id long, src long, dst long")
    }
    return session.read_from(nodes, rels)


BLACKLISTED = [
    # unbounded [*] / [*n..] is SUPPORTED since round 7 (fixpoint expand,
    # beyond reference parity — see tests/tck/varlength_unbounded.feature);
    # only the shortestPath variants below still gate.
    # single-hop var-length named paths ARE supported since round 7
    # (tck/varlength_named_paths.feature); mixed fixed+var patterns gate
    "MATCH p = (a)-[:KNOWS]->()-[:KNOWS*1..2]->(b) RETURN p",
    # shortestPath / allShortestPaths: bounded, unbounded AND minimum
    # length >= 2 forms are all supported since round 8
    # (planner._plan_shortest_path) — only these
    # structurally unsupported variants must still fail cleanly
    "MATCH shortestPath((a)-[:KNOWS]->(b)) RETURN a",
    "MATCH shortestPath((a)-[*1..2]->()-[*1..2]->(b)) RETURN a",
    # update clauses (graph construction is CONSTRUCT-only)
    "CREATE (n:Person {name: 'X'}) RETURN n",
    "MATCH (a) SET a.name = 'Y' RETURN a",
    "MATCH (a) DELETE a",
    "MERGE (n:Person {name: 'Z'}) RETURN n",
    "MATCH (a) REMOVE a.name RETURN a",
    # CALL ... YIELD procedures are SUPPORTED since round 8
    # (plans/planner.plan_call_procedure; tests/test_call_procedure.py) —
    # an unknown procedure still fails cleanly
    "CALL does.not.exist() YIELD x RETURN x",
]


@pytest.mark.parametrize("query", BLACKLISTED)
def test_blacklisted_feature_fails_cleanly(g, query):
    with pytest.raises(CLEAN_ERRORS):
        g.cypher(query)


def test_supported_neighbors_still_pass(g):
    """The gate must not overfire: the nearest supported variants work."""
    assert g.cypher("MATCH (a)-[*1..2]->(b) RETURN count(*) AS c").df.collect()[0][
        "c"
    ] == 1
    assert (
        g.cypher("MATCH (a)-[:KNOWS]->(b) RETURN b.name AS n").df.collect()[0]["n"]
        == "Bo"
    )
    assert (
        g.cypher(
            "MATCH p = shortestPath((a)-[*1..3]->(b)) RETURN length(p) AS l"
        ).df.collect()[0]["l"]
        == 1
    )


def test_property_named_id_is_a_clear_error(spark):
    # flat element-table layout: a property literally named "id" collides
    # with the entity id column (the reference mangles column names; we
    # fail clearly instead of a downstream AMBIGUOUS_REFERENCE)
    import pytest
    from pyspark.sql import types as T

    from cypher_for_apache_spark_spark.graph import NodeTable

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("id", T.LongType())]
    )
    df = spark.createDataFrame([(0, 42)], schema)
    with pytest.raises(ValueError, match="collides with"):
        NodeTable.create(["X"], df)
