"""Recognized-pattern (triplet) scans: a pre-joined table answers
MATCH (a)-[r]->(b) with zero joins, with results identical to the
scan+join path (reference: TripletPattern, okapi-api Pattern.scala:182;
replaceScansWithRecognizedPatterns, LogicalOptimizer.scala:67-114)."""

import pytest

from cypher_for_apache_spark_spark.graph import (
    NodeTable,
    PropertyGraph,
    RelationshipTable,
    TripletTable,
    build_triplet_frame,
)


def _tables(spark):
    people = spark.createDataFrame(
        [(0, "Ada", 36), (1, "Bo", 22), (2, "Cy", 41)],
        "id long, name string, age long",
    )
    cities = spark.createDataFrame(
        [(10, "Alp", 3000), (11, "Sea", 5)], "id long, name string, elevation long"
    )
    lives = spark.createDataFrame(
        [(100, 0, 10, 1999), (101, 1, 10, 2005), (102, 2, 11, 2011)],
        "id long, src long, dst long, since long",
    )
    knows = spark.createDataFrame(
        [(200, 0, 1), (201, 1, 2)], "id long, src long, dst long"
    )
    nodes = [NodeTable.create(["Person"], people), NodeTable.create(["City"], cities)]
    rels = [
        RelationshipTable.create(
            "LIVES_IN", lives, src_labels=["Person"], dst_labels=["City"]
        ),
        RelationshipTable.create(
            "KNOWS", knows, src_labels=["Person"], dst_labels=["Person"]
        ),
    ]
    return nodes, rels


@pytest.fixture(scope="module")
def graphs(session, spark):
    """(graph with triplets registered, identical graph without)."""
    nodes, rels = _tables(spark)
    plain = PropertyGraph(nodes, rels)
    plain._session = session
    tri = PropertyGraph(nodes, rels)
    tri._session = session
    for rt in tri.all_rel_tables():
        # materialize, as a real deployment stores the pre-joined table;
        # a lazy join plan would defeat the zero-join point of the scan
        frame = build_triplet_frame(tri, rt).localCheckpoint()
        tri.add_triplet_table(
            TripletTable.create(rt.rel_type, frame, rt.src_labels, rt.dst_labels)
        )
    return tri, plain


def _rows(res):
    return sorted(tuple(r) for r in res.df.collect())


PARITY_QUERIES = [
    # directed, fully labeled
    """MATCH (a:Person)-[r:LIVES_IN]->(b:City)
       RETURN a.name AS an, r.since AS since, b.name AS bn""",
    # no labels, no type (all rel tables must be covered)
    """MATCH (a)-[r]->(b) RETURN a.name AS an, b.name AS bn""",
    # reversed direction
    """MATCH (a:City)<-[r:LIVES_IN]-(b:Person)
       RETURN a.name AS city, b.name AS who, r.since AS since""",
    # undirected (both orientations from the same triplet)
    """MATCH (a:Person)-[r:KNOWS]-(b:Person)
       RETURN a.name AS an, b.name AS bn""",
    # inline property pushdown on the triplet scan
    """MATCH (a:Person {name: 'Ada'})-[r:LIVES_IN]->(b)
       RETURN b.name AS city""",
    # triplet serves the first element, ordinary expand continues the chain
    """MATCH (a:Person)-[r:LIVES_IN]->(c:City)<-[s:LIVES_IN]-(b:Person)
       WHERE a.name < b.name
       RETURN a.name AS an, b.name AS bn, c.name AS city""",
    # aggregation on top
    """MATCH (a:Person)-[r:LIVES_IN]->(b:City)
       RETURN b.name AS city, count(*) AS residents""",
]


@pytest.mark.parametrize("query", PARITY_QUERIES)
def test_triplet_parity(graphs, query):
    tri, plain = graphs
    assert _rows(tri.cypher(query)) == _rows(plain.cypher(query))


def test_triplet_zero_joins(graphs):
    tri, plain = graphs
    q = """MATCH (a:Person)-[r:LIVES_IN]->(b:City)
           RETURN a.name AS an, r.since AS since, b.name AS bn"""
    tri_plan = tri.cypher(q).df._jdf.queryExecution().executedPlan().toString()
    plain_plan = plain.cypher(q).df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in tri_plan and "Exchange" not in tri_plan
    assert "Join" in plain_plan  # sanity: the join path actually joins


def test_partial_coverage_falls_back(session, spark):
    """A triplet for only one of two relationship types must not change
    results for the uncovered type — and an unhinted table blocks the
    optimization entirely."""
    nodes, rels = _tables(spark)
    g = PropertyGraph(nodes, rels)
    g._session = session
    knows_rt = [rt for rt in g.all_rel_tables() if rt.rel_type == "KNOWS"][0]
    g.add_triplet_table(
        TripletTable.create(
            "KNOWS", build_triplet_frame(g, knows_rt), ["Person"], ["Person"]
        )
    )
    # LIVES_IN is uncovered: join path, correct rows
    res = g.cypher(
        "MATCH (a:Person)-[r:LIVES_IN]->(b:City) RETURN a.name AS an, b.name AS bn"
    )
    assert _rows(res) == sorted([("Ada", "Alp"), ("Bo", "Alp"), ("Cy", "Sea")])
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan
    # untyped pattern touches LIVES_IN too -> whole element falls back
    res2 = g.cypher("MATCH (a)-[r]->(b) RETURN count(*) AS c")
    assert res2.df.collect()[0]["c"] == 5


def test_triplet_validation(session, spark):
    nodes, rels = _tables(spark)
    g = PropertyGraph(nodes, rels)
    g._session = session
    lives_rt = [rt for rt in g.all_rel_tables() if rt.rel_type == "LIVES_IN"][0]
    frame = build_triplet_frame(g, lives_rt).drop("src_age")
    with pytest.raises(ValueError, match="src node properties"):
        g.add_triplet_table(
            TripletTable.create("LIVES_IN", frame, ["Person"], ["City"])
        )


def test_triplet_bound_var_falls_back(graphs):
    """When any pattern variable is already bound, the triplet scan must
    not fire (it can only serve fresh variables)."""
    tri, plain = graphs
    q = """MATCH (a:Person) WITH a ORDER BY a.name LIMIT 2
           MATCH (a)-[r:LIVES_IN]->(b:City) RETURN a.name AS an, b.name AS bn"""
    assert _rows(tri.cypher(q)) == _rows(plain.cypher(q))


@pytest.fixture(scope="module")
def nr_graphs(session, spark):
    """(graph with node-rel tables only, identical graph without)."""
    from cypher_for_apache_spark_spark.graph import NodeRelTable, build_node_rel_frame

    nodes, rels = _tables(spark)
    plain = PropertyGraph(nodes, rels)
    plain._session = session
    nr = PropertyGraph(nodes, rels)
    nr._session = session
    for rt in nr.all_rel_tables():
        frame = build_node_rel_frame(nr, rt).localCheckpoint()
        nr.add_node_rel_table(
            NodeRelTable.create(rt.rel_type, frame, rt.src_labels, rt.dst_labels)
        )
    return nr, plain


NR_PARITY_QUERIES = [
    """MATCH (a:Person)-[r:LIVES_IN]->(b:City)
       RETURN a.name AS an, r.since AS since, b.name AS bn""",
    """MATCH (a)-[r]->(b) RETURN a.name AS an, b.name AS bn""",
    """MATCH (a:City)<-[r:LIVES_IN]-(b:Person)
       RETURN a.name AS city, b.name AS who""",
    """MATCH (a:Person {name: 'Ada'})-[r:LIVES_IN]->(b)
       RETURN b.name AS city""",
    """MATCH (a:Person)-[r:LIVES_IN]->(c:City)<-[s:LIVES_IN]-(b:Person)
       WHERE a.name < b.name
       RETURN a.name AS an, b.name AS bn, c.name AS city""",
]


@pytest.mark.parametrize("query", NR_PARITY_QUERIES)
def test_node_rel_parity(nr_graphs, query):
    nr, plain = nr_graphs
    assert _rows(nr.cypher(query)) == _rows(plain.cypher(query))


def test_node_rel_single_join(nr_graphs):
    """(a)-[r]->(b) over a node-rel table joins ONCE (the far node), not
    twice."""
    nr, plain = nr_graphs
    q = """MATCH (a:Person)-[r:LIVES_IN]->(b:City)
           RETURN a.name AS an, b.name AS bn"""
    nr_plan = nr.cypher(q).df._jdf.queryExecution().executedPlan().toString()
    plain_plan = plain.cypher(q).df._jdf.queryExecution().executedPlan().toString()
    import re

    def joins(p):
        return len(re.findall(r"\b(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)\b", p))

    assert joins(nr_plan) == 1
    assert joins(plain_plan) >= 2


def test_node_rel_undirected_falls_back(nr_graphs):
    """Undirected patterns use the ordinary path (results still correct)."""
    nr, plain = nr_graphs
    q = "MATCH (a:Person)-[r:KNOWS]-(b:Person) RETURN a.name AS an, b.name AS bn"
    assert _rows(nr.cypher(q)) == _rows(plain.cypher(q))


@pytest.fixture(scope="module")
def merged_graphs(session, spark):
    """(triplet graph, node-rel graph, plain graph) over one relationship
    type stored in two tables split by endpoint labels, whose properties
    need the scan's merged projection: ``times`` is int in one table and
    long in the other, ``score`` long and double (merged: double), and
    ``note`` exists in one table only. The far node's tables differ too
    (Town has no ``elevation``)."""
    people = spark.createDataFrame(
        [(0, "Ada", 36), (1, "Bo", 22)], "id long, name string, age int"
    )
    cities = spark.createDataFrame(
        [(10, "Alp", 3000)], "id long, name string, elevation long"
    )
    towns = spark.createDataFrame([(20, "Dell")], "id long, name string")
    to_city = spark.createDataFrame(
        [(100, 0, 10, 2, 7, "first"), (101, 1, 10, 1, 3, None)],
        "id long, src long, dst long, times int, score long, note string",
    )
    to_town = spark.createDataFrame(
        [(102, 0, 20, 5, 1.5), (103, 1, 20, 3, 2.0)],
        "id long, src long, dst long, times long, score double",
    )
    nodes = [
        NodeTable.create(["Person"], people),
        NodeTable.create(["City"], cities),
        NodeTable.create(["Town"], towns),
    ]
    rels = [
        RelationshipTable.create("VISITED", to_city, src_labels=["Person"], dst_labels=["City"]),
        RelationshipTable.create("VISITED", to_town, src_labels=["Person"], dst_labels=["Town"]),
    ]
    from cypher_for_apache_spark_spark.graph import NodeRelTable, build_node_rel_frame

    graphs = []
    for kind in ("triplet", "node_rel", None):
        g = PropertyGraph(nodes, rels)
        g._session = session
        for rt in g.all_rel_tables():
            if kind == "triplet":
                frame = build_triplet_frame(g, rt).localCheckpoint()
                g.add_triplet_table(
                    TripletTable.create(rt.rel_type, frame, rt.src_labels, rt.dst_labels)
                )
            elif kind == "node_rel":
                frame = build_node_rel_frame(g, rt).localCheckpoint()
                g.add_node_rel_table(
                    NodeRelTable.create(rt.rel_type, frame, rt.src_labels, rt.dst_labels)
                )
        graphs.append(g)
    return tuple(graphs)


_MERGED_RETURN = """RETURN a, r, b, r.times AS times, r.score AS score,
                           r.note AS note, b.elevation AS elevation"""
MERGED_QUERIES = [
    "MATCH (a:Person)-[r:VISITED]->(b) " + _MERGED_RETURN,
    "MATCH (b)<-[r:VISITED]-(a:Person) " + _MERGED_RETURN,
    "MATCH (a)-[r:VISITED]-(b) " + _MERGED_RETURN,
]


@pytest.mark.parametrize("query", MERGED_QUERIES)
def test_merged_projection_matches_join_path(merged_graphs, query):
    """Rows and column types, entity structs included, equal the join
    path's for both kinds of pre-joined table."""
    *prejoined, plain = merged_graphs
    want = plain.cypher(query).df
    for g in prejoined:
        got = g.cypher(query).df
        assert got.schema == want.schema
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    assert {f.name: f.dataType.simpleString() for f in want.schema.fields[3:]} == {
        "times": "bigint", "score": "double", "note": "string", "elevation": "bigint"
    }
