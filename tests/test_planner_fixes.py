"""Planner-semantics regression tests: empty scans stay empty (never
UNRESOLVED_COLUMN), projection applies ORDER BY/SKIP/LIMIT before a trailing
WHERE, planning never runs Spark jobs, CONSTRUCT id spaces stay disjoint."""

import pytest


# -- nonexistent rel type with unbound target: empty records, not an error ----

def test_missing_rel_type_unbound_target_props(team_graph):
    r = team_graph.cypher(
        "MATCH (a:Person)-[:NO_SUCH]->(b) RETURN b.name AS name"
    )
    assert r.to_maps() == []


def test_missing_rel_type_varlength_props(team_graph):
    r = team_graph.cypher(
        "MATCH (a:Person)-[:NO_SUCH*1..2]->(b) RETURN b.name AS name"
    )
    assert r.to_maps() == []


def test_missing_rel_type_where_on_target(team_graph):
    r = team_graph.cypher(
        "MATCH (a:Person)-[r:NO_SUCH]->(b) WHERE b.luckyNumber > 5 "
        "RETURN a.name AS name, r.since AS since"
    )
    assert r.to_maps() == []


# -- WITH ... ORDER BY ... LIMIT ... WHERE ordering ---------------------------

def test_with_order_limit_then_where(team_graph):
    # luckyNumbers: 42, 23, 1337, 8, 8 -> DESC LIMIT 2 = [1337, 42];
    # WHERE x < 1000 filters the limited rows -> [42]
    r = team_graph.cypher(
        "MATCH (n:Person) WITH n.luckyNumber AS x ORDER BY x DESC LIMIT 2 "
        "WHERE x < 1000 RETURN x"
    )
    assert [m["x"] for m in r.to_maps()] == [42]


def test_order_by_nulls_last_ascending(session, spark):
    nodes = {
        "V": spark.createDataFrame(
            [(0, 2), (1, None), (2, 1)], "id long, v long"
        )
    }
    vg = session.read_from(nodes, {})
    asc = [m["v"] for m in vg.cypher("MATCH (n:V) RETURN n.v AS v ORDER BY v").to_maps()]
    desc = [m["v"] for m in vg.cypher("MATCH (n:V) RETURN n.v AS v ORDER BY v DESC").to_maps()]
    assert asc == [1, 2, None]  # Cypher: null sorts largest
    assert desc == [None, 2, 1]


# -- plan-time laziness --------------------------------------------------------

def _assert_no_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "planning must not run jobs")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert list(jobs) == [], f"planning ran Spark jobs: {list(jobs)}"
    return out


def test_construct_clone_plans_without_jobs(session, team_graph, spark):
    session.store_graph("team", team_graph)
    try:
        r = _assert_no_jobs(
            spark,
            "construct-plan",
            lambda: session.cypher(
                "FROM GRAPH team MATCH (p:Person)-[k:KNOWS]->(q:Person) "
                "CONSTRUCT CLONE p, k, q RETURN GRAPH"
            ),
        )
        # behavior unchanged: clones keep ids/props
        got = sorted(
            m["n"]
            for m in r.graph.cypher("MATCH (p:Person) RETURN p.name AS n").to_maps()
        )
        assert got == ["Martin", "Mats", "Max", "Stefan"]
        ks = r.graph.cypher(
            "MATCH ()-[k:KNOWS]->() RETURN k.since AS s"
        ).to_maps()
        assert [m["s"] for m in ks] == [2016, 2016, 2016]
    finally:
        session.catalog.clear()


def test_uncorrelated_exists_plans_without_jobs(team_graph, spark):
    spark2 = spark
    r = _assert_no_jobs(
        spark2,
        "exists-plan",
        lambda: team_graph.cypher(
            "MATCH (n:Person) WHERE exists((:Swede)-[:KNOWS]->()) "
            "RETURN count(*) AS c"
        ),
    )
    assert r.to_maps()[0]["c"] == 5


def test_uncorrelated_not_exists(team_graph):
    r = team_graph.cypher(
        "MATCH (n:Person) WHERE NOT exists((:Bot)-[:KNOWS]->()) "
        "RETURN count(*) AS c"
    )
    assert r.to_maps()[0]["c"] == 5


# -- CONSTRUCT id-space discipline --------------------------------------------

def test_construct_on_new_ids_disjoint_from_base(session, team_graph):
    session.store_graph("team", team_graph)
    try:
        r = session.cypher(
            """FROM GRAPH team
               MATCH (p:Person)
               CONSTRUCT ON team
                 NEW (:Tag {of: p.name})
               RETURN GRAPH"""
        )
        g = r.graph
        person_ids = {
            m["i"] for m in g.cypher("MATCH (p:Person) RETURN id(p) AS i").to_maps()
        }
        tag_ids = {
            m["i"] for m in g.cypher("MATCH (t:Tag) RETURN id(t) AS i").to_maps()
        }
        assert len(person_ids) == 5
        assert len(tag_ids) == 5
        assert not person_ids & tag_ids, "generated ids collided with base graph ids"
        assert all(i >= (1 << 54) for i in tag_ids)
    finally:
        session.catalog.clear()


# -- startNode(r).prop after the endpoint name is rebound ---------------------

def test_startnode_prop_direct(team_graph):
    r = team_graph.cypher(
        "MATCH (a:Person)-[r:KNOWS]->(b:Person) "
        "RETURN startNode(r).name AS s, endNode(r).name AS e ORDER BY s"
    )
    rows = r.to_maps()
    assert [(m["s"], m["e"]) for m in rows] == [
        ("Martin", "Max"), ("Mats", "Martin"), ("Stefan", "Mats"),
    ]


def test_startnode_prop_survives_projection_keeping_endpoint(team_graph):
    # projection keeps a under its own name -> still resolvable
    r = team_graph.cypher(
        "MATCH (a:Person)-[r:KNOWS]->(b:Person) WITH r, a "
        "RETURN startNode(r).name AS s ORDER BY s"
    )
    assert [m["s"] for m in r.to_maps()] == ["Martin", "Mats", "Stefan"]


def test_startnode_prop_rejects_rebound_endpoint_name(team_graph):
    # WITH r, b AS a shadows the start node's name with the END node;
    # reading the shadowed variable would silently return the wrong
    # node's property — must raise instead (ADVICE r3, compiler.py)
    from cypher_for_apache_spark_spark.functions.compiler import CypherCompileError

    with pytest.raises(CypherCompileError):
        team_graph.cypher(
            "MATCH (a:Person)-[r:KNOWS]->(b:Person) WITH r, b AS a "
            "RETURN startNode(r).name AS s"
        ).df.collect()


def test_endnode_prop_rejects_rebound_endpoint_name(team_graph):
    from cypher_for_apache_spark_spark.functions.compiler import CypherCompileError

    with pytest.raises(CypherCompileError):
        team_graph.cypher(
            "MATCH (a:Person)-[r:KNOWS]->(b:Person) WITH r, a AS b "
            "RETURN endNode(r).name AS e"
        ).df.collect()


def test_endnode_prop_through_rematched_rel(team_graph):
    # the second MATCH reuses the bound r (Planner._expand_bound_rel)
    r = team_graph.cypher(
        "MATCH ()-[r:KNOWS]->() MATCH (a)-[r]->(b) "
        "RETURN startNode(r).name AS s, endNode(r).name AS e ORDER BY s"
    )
    assert [(m["s"], m["e"]) for m in r.to_maps()] == [
        ("Martin", "Max"), ("Mats", "Martin"), ("Stefan", "Mats"),
    ]


def test_endnode_prop_through_node_rel_table(session, spark):
    # a node-rel table binds a and r at once; b joins through the bound r
    from cypher_for_apache_spark_spark.graph import (
        NodeRelTable, NodeTable, PropertyGraph, RelationshipTable,
        build_node_rel_frame,
    )

    people = spark.createDataFrame([(0, "Ada"), (1, "Bo")], "id long, name string")
    cities = spark.createDataFrame([(10, "Alp")], "id long, name string")
    lives = spark.createDataFrame(
        [(100, 0, 10), (101, 1, 10)], "id long, src long, dst long"
    )
    rt = RelationshipTable.create(
        "LIVES_IN", lives, src_labels=["Person"], dst_labels=["City"]
    )
    g = PropertyGraph(
        [NodeTable.create(["Person"], people), NodeTable.create(["City"], cities)], [rt]
    )
    g._session = session
    g.add_node_rel_table(
        NodeRelTable.create(
            "LIVES_IN", build_node_rel_frame(g, rt), rt.src_labels, rt.dst_labels
        )
    )
    r = g.cypher(
        "MATCH (a:Person)-[r:LIVES_IN]->(b:City) "
        "RETURN startNode(r).name AS s, endNode(r).name AS e ORDER BY s"
    )
    assert [(m["s"], m["e"]) for m in r.to_maps()] == [("Ada", "Alp"), ("Bo", "Alp")]


# -- a doubled backtick in a quoted name is one literal backtick --------------

def test_doubled_backtick_output_column(team_graph):
    df = team_graph.cypher(
        "MATCH (n:Swede) RETURN n.name AS `x``y`"
    ).df
    assert df.columns == ["x`y"]
    assert [tuple(r) for r in df.collect()] == [("Mats",)]


# -- an unaliased property item is named by its text, `n.name` ----------------

@pytest.mark.parametrize(
    "query, column, rows",
    [
        ("MATCH (n:Person) RETURN n.name", "n.name",
         ["Donald", "Martin", "Mats", "Max", "Stefan"]),
        ("MATCH (n:Person) WITH n RETURN n.name ORDER BY n.name", "n.name",
         ["Donald", "Martin", "Mats", "Max", "Stefan"]),
        ("MATCH (n:Person) RETURN DISTINCT n.luckyNumber", "n.luckyNumber",
         [8, 23, 42, 1337]),
    ],
)
def test_unaliased_property_projection(team_graph, query, column, rows):
    df = team_graph.cypher(query).df
    assert df.columns == [column]
    got = [r[0] for r in df.collect()]
    assert (got if "ORDER BY" in query else sorted(got)) == rows


def test_unaliased_property_grouping_key(team_graph):
    df = team_graph.cypher("MATCH (n:Person) RETURN n.luckyNumber, count(*)").df
    assert df.columns == ["n.luckyNumber", "count(*)"]
    assert sorted(tuple(r) for r in df.collect()) == [(8, 2), (23, 1), (42, 1), (1337, 1)]
