"""Multiple-graph features: catalog, FROM GRAPH, CONSTRUCT, RETURN GRAPH,
CATALOG CREATE GRAPH, graph union, driving tables (reference:
MultipleGraphTests / CatalogDDLTests / DrivingTableTests)."""

import pytest
from pyspark.sql import functions as F

from cypher_for_apache_spark_spark.graph import union_graphs


@pytest.fixture()
def catalog_session(session, team_graph):
    session.store_graph("team", team_graph)
    yield session
    session.catalog.clear()


def test_from_graph(catalog_session):
    r = catalog_session.cypher(
        "FROM GRAPH team MATCH (n:Swede) RETURN n.name AS name"
    )
    assert r.to_maps() == [{"name": "Mats"}]


def test_return_graph_identity(catalog_session):
    r = catalog_session.cypher("FROM GRAPH team RETURN GRAPH")
    assert r.graph is not None
    assert r.graph.cypher("MATCH (n:Person) RETURN count(*) AS c").to_maps() == [{"c": 5}]


def test_construct_filtered_subgraph(catalog_session):
    r = catalog_session.cypher(
        """FROM GRAPH team
           MATCH (p:Person) WHERE p.luckyNumber > 20
           CONSTRUCT CLONE p
           RETURN GRAPH"""
    )
    g = r.graph
    assert g.cypher("MATCH (n) RETURN count(*) AS c").to_maps() == [{"c": 3}]
    names = g.cypher("MATCH (n) RETURN n.name AS name ORDER BY name").to_maps()
    assert [m["name"] for m in names] == ["Martin", "Mats", "Stefan"]
    # cloned elements keep their labels
    assert g.cypher("MATCH (n:Swede) RETURN count(*) AS c").to_maps() == [{"c": 1}]


def test_construct_new_relationships(catalog_session):
    """Graph projection: connect people who know someone in common."""
    r = catalog_session.cypher(
        """FROM GRAPH team
           MATCH (a:Person)-[:KNOWS]->(b:Person)-[:KNOWS]->(c:Person)
           CONSTRUCT
             CLONE a, c
             NEW (a)-[:FOAF {via: b.name}]->(c)
           RETURN GRAPH"""
    )
    g = r.graph
    got = g.cypher(
        "MATCH (x)-[r:FOAF]->(y) RETURN x.name AS x, r.via AS via, y.name AS y"
    ).to_maps()
    assert sorted((m["x"], m["via"], m["y"]) for m in got) == [
        ("Mats", "Martin", "Max"),
        ("Stefan", "Mats", "Martin"),
    ]


def test_construct_new_nodes_with_set(catalog_session):
    r = catalog_session.cypher(
        """FROM GRAPH team
           MATCH (p:Person)
           CONSTRUCT
             NEW (s:Summary {name: p.name})
             SET s.score = p.luckyNumber * 2
           RETURN GRAPH"""
    )
    g = r.graph
    rows = g.cypher(
        "MATCH (s:Summary) RETURN s.name AS name, s.score AS score ORDER BY name"
    ).to_maps()
    assert len(rows) == 5
    by_name = {m["name"]: m["score"] for m in rows}
    assert by_name["Mats"] == 46


def test_catalog_create_graph(catalog_session):
    catalog_session.cypher(
        """CATALOG CREATE GRAPH lucky {
             FROM GRAPH team
             MATCH (p:Person) WHERE p.luckyNumber = 8
             CONSTRUCT CLONE p
             RETURN GRAPH
           }"""
    )
    r = catalog_session.cypher("FROM GRAPH lucky MATCH (n) RETURN count(*) AS c")
    assert r.to_maps() == [{"c": 2}]
    catalog_session.cypher("CATALOG DELETE GRAPH lucky")
    assert "lucky" not in catalog_session.catalog


def test_parameterized_view(catalog_session):
    """Views: parameterized Cypher snippets over graph parameters
    (reference: CreateViewStatement, CypherCatalog views)."""
    catalog_session.cypher(
        """CATALOG CREATE VIEW lucky_ones($g) {
             FROM GRAPH $g
             MATCH (p:Person) WHERE p.luckyNumber >= 23
             CONSTRUCT CLONE p
             RETURN GRAPH
           }"""
    )
    r = catalog_session.cypher(
        "FROM GRAPH lucky_ones(team) MATCH (n) RETURN n.name AS name ORDER BY name"
    )
    assert [m["name"] for m in r.to_maps()] == ["Martin", "Mats", "Stefan"]
    catalog_session.cypher("CATALOG DELETE VIEW lucky_ones")
    assert "lucky_ones" not in catalog_session.views


def test_view_body_calls_session_procedure(catalog_session):
    """A view body plans with the session's procedure registry, like the
    same body under CATALOG CREATE GRAPH."""
    catalog_session.register_procedure(
        "my.one", lambda ctx: ctx.spark.range(1).selectExpr("1 AS x"), ["x"]
    )
    body = """FROM GRAPH {g}
             MATCH (p:Person) WHERE p.luckyNumber = 8
             CALL my.one() YIELD x
             WITH p, x WHERE x = 1
             CONSTRUCT CLONE p
             RETURN GRAPH"""
    catalog_session.cypher(f"CATALOG CREATE GRAPH ones {{ {body.format(g='team')} }}")
    catalog_session.cypher(f"CATALOG CREATE VIEW ones_of($g) {{ {body.format(g='$g')} }}")
    want = [{"c": 2}]
    q = "FROM GRAPH {} MATCH (n) RETURN count(*) AS c"
    assert catalog_session.cypher(q.format("ones")).to_maps() == want
    assert catalog_session.cypher(q.format("ones_of(team)")).to_maps() == want
    catalog_session.cypher("CATALOG DELETE VIEW ones_of")
    catalog_session.cypher("CATALOG DELETE GRAPH ones")


def test_union_graphs(team_graph):
    u = union_graphs(team_graph, team_graph)
    assert u.cypher("MATCH (n:Person) RETURN count(*) AS c").to_maps() == [{"c": 10}]
    # ids stay disjoint: the rel structure doubles without cross-linking
    r = u.cypher("MATCH (:Person)-[:KNOWS]->(:Person) RETURN count(*) AS c")
    assert r.to_maps() == [{"c": 6}]


def test_driving_table(session, team_graph, spark):
    dt = spark.createDataFrame([(42,), (23,)], "num long")
    r = session.cypher(
        "MATCH (p:Person) WHERE p.luckyNumber = num RETURN p.name AS name, num",
        graph=team_graph,
        driving_table=dt,
    )
    got = sorted((m["name"], m["num"]) for m in r.to_maps())
    assert got == [("Mats", 23), ("Stefan", 42)]


def test_construct_on_union(catalog_session):
    catalog_session.cypher(
        """CATALOG CREATE GRAPH extras {
             FROM GRAPH team
             MATCH (p:Person {name: 'Mats'})
             CONSTRUCT NEW (:Bot {name: 'Marvin'})
             RETURN GRAPH
           }"""
    )
    r = catalog_session.cypher(
        """FROM GRAPH team
           MATCH (p:Person {name: 'Mats'})
           CONSTRUCT ON extras
             CLONE p
           RETURN GRAPH"""
    )
    g = r.graph
    assert g.cypher("MATCH (b:Bot) RETURN b.name AS n").to_maps() == [{"n": "Marvin"}]
    assert g.cypher("MATCH (p:Person) RETURN p.name AS n").to_maps() == [{"n": "Mats"}]
