"""shortestPath / allShortestPaths (planner._plan_shortest_path).

Beyond reference parity: the reference supports no shortest-path
construct (its TCK blacklist fails the whole family); we implement the
bounded form with Neo4j semantics — relationship (trail) uniqueness,
minimum length 0 or 1, 'single' returns one deterministic shortest path
per endpoint pair, 'all' returns every shortest path. Every expected
value below is hand-derived from the fixture graph; the brute-force
cross-check compares against the unpruned var-length expansion.
"""

import pytest

from cypher_for_apache_spark_spark.plans.planner import CypherPlanningError


@pytest.fixture(scope="module")
def g(session, spark):
    #        0 ─▶ 1 ─▶ 3 ─▶ 7
    #        │         ▲
    #        ├─▶ 2 ────┘          (diamond: two 2-hop paths 0→3)
    #        └─▶ 4 ─▶ 5 ─▶ 3      (a longer 3-hop path 0→3)
    #        6 ─▶ 6               (self loop)
    #        8    (isolated)
    nodes = {
        "N": spark.createDataFrame(
            [(i, f"n{i}") for i in range(9)], "id long, name string"
        )
    }
    rels = {
        "E": spark.createDataFrame(
            [
                (100, 0, 1),
                (101, 0, 2),
                (102, 1, 3),
                (103, 2, 3),
                (104, 0, 4),
                (105, 4, 5),
                (106, 5, 3),
                (107, 6, 6),
                (108, 3, 7),
            ],
            "id long, src long, dst long",
        ),
        "F": spark.createDataFrame([(200, 0, 3)], "id long, src long, dst long"),
    }
    return session.read_from(nodes, rels)


def rows(g, q):
    return [tuple(r) for r in g.cypher(q).df.collect()]


def test_single_returns_one_row_at_min_length(g):
    out = rows(
        g,
        "MATCH p = shortestPath((a:N {name:'n0'})-[:E*1..4]->(b:N {name:'n3'})) "
        "RETURN length(p) AS hops",
    )
    assert out == [(2,)]


def test_all_returns_every_min_length_path(g):
    out = rows(
        g,
        "MATCH p = allShortestPaths((a:N {name:'n0'})-[:E*1..4]->(b:N {name:'n3'})) "
        "RETURN length(p) AS hops",
    )
    assert out == [(2,), (2,)]


def test_multiplicity_propagates_through_levels(g):
    # both 2-hop paths 0→3 extend over the single edge 3→7
    out = rows(
        g,
        "MATCH allShortestPaths((a:N {name:'n0'})-[r:E*1..4]->(b:N {name:'n7'})) "
        "RETURN size(r) AS hops",
    )
    assert out == [(3,), (3,)]


def test_single_deterministic_tiebreak(g):
    # lexicographically least rel-id list: [100, 102] beats [101, 103]
    out = rows(
        g,
        "MATCH shortestPath((a:N {name:'n0'})-[r:E*1..4]->(b:N {name:'n3'})) "
        "RETURN r AS ids",
    )
    assert out == [([100, 102],)]


def test_type_union_prefers_direct_edge(g):
    # with :F in the type set the 1-hop edge 200 wins over the diamonds
    out = rows(
        g,
        "MATCH p = shortestPath((a:N {name:'n0'})-[r:E|F*1..4]->(b:N {name:'n3'})) "
        "RETURN length(p) AS hops, r AS ids",
    )
    assert out == [(1, [200])]


def test_self_cycle(g):
    out = rows(
        g,
        "MATCH p = shortestPath((a:N {name:'n6'})-[:E*1..3]->(a)) "
        "RETURN length(p) AS hops",
    )
    assert out == [(1,)]


def test_zero_length_binds_source_itself(g):
    out = sorted(
        rows(
            g,
            "MATCH p = shortestPath((a:N {name:'n5'})-[:E*0..2]->(b)) "
            "RETURN b.name AS b, length(p) AS hops",
        )
    )
    assert out == [("n3", 1), ("n5", 0), ("n7", 2)]


def test_zero_length_beats_cycle(g):
    # with *0.. the zero path to self is the shortest; the 1-hop self
    # loop must be pruned
    out = rows(
        g,
        "MATCH p = shortestPath((a:N {name:'n6'})-[:E*0..3]->(a)) "
        "RETURN length(p) AS hops",
    )
    assert out == [(0,)]


def test_undirected_all(g):
    # n1 — n0 — n2 and n1 — n3 — n2: two undirected 2-hop paths
    out = rows(
        g,
        "MATCH p = allShortestPaths((a:N {name:'n1'})-[:E*1..4]-(b:N {name:'n2'})) "
        "RETURN length(p) AS hops",
    )
    assert out == [(2,), (2,)]


def test_undirected_cannot_reuse_same_edge_back(g):
    # 7's only edge is 3→7; an undirected round trip 7—3—7 would reuse
    # edge 108 twice, which trail semantics forbid
    out = rows(
        g,
        "MATCH p = shortestPath((a:N {name:'n7'})-[:E*1..2]-(a)) "
        "RETURN length(p) AS hops",
    )
    assert out == []


def test_direction_in(g):
    out = rows(
        g,
        "MATCH p = shortestPath((a:N {name:'n3'})<-[:E*1..4]-(b:N {name:'n0'})) "
        "RETURN length(p) AS hops",
    )
    assert out == [(2,)]


def test_no_path_within_bound_is_empty(g):
    assert (
        rows(
            g,
            "MATCH p = shortestPath((a:N {name:'n0'})-[:E*1..2]->(b:N {name:'n7'})) "
            "RETURN length(p) AS hops",
        )
        == []
    )


def test_unknown_type_empty_but_zero_still_matches(g):
    assert (
        rows(
            g,
            "MATCH p = shortestPath((a:N {name:'n0'})-[:NOPE*1..3]->(b)) RETURN b.name AS b",
        )
        == []
    )
    out = rows(
        g,
        "MATCH p = shortestPath((a:N {name:'n0'})-[:NOPE*0..3]->(b)) "
        "RETURN b.name AS b, length(p) AS hops",
    )
    assert out == [("n0", 0)]


def test_bound_target_variable(g):
    out = sorted(
        rows(
            g,
            "MATCH (b:N) WHERE b.name IN ['n3', 'n5'] "
            "MATCH p = shortestPath((a:N {name:'n0'})-[:E*1..4]->(b)) "
            "RETURN b.name AS b, length(p) AS hops",
        )
    )
    assert out == [("n3", 2), ("n5", 2)]


@pytest.mark.parametrize(
    "target, expected",
    [
        # a label no node has: the bound target must meet it too
        ("b:M", []),
        # an inline map referencing another variable
        ("b {name: c.name}", [("n7", 3)]),
    ],
)
def test_bound_target_meets_pattern(g, target, expected):
    tail = (
        f"MATCH p = shortestPath((a:N {{name:'n0'}})-[:E*1..4]->({target})) "
        "RETURN b.name AS b, length(p) AS hops"
    )
    bound = rows(g, f"MATCH (c:N {{name:'n7'}}) MATCH (b:N) {tail}")
    fresh = rows(g, f"MATCH (c:N {{name:'n7'}}) {tail}")
    assert sorted(bound) == sorted(fresh) == expected


def test_bound_target_must_be_node(g):
    with pytest.raises(CypherPlanningError):
        g.cypher(
            "MATCH ()-[r:E]->() WITH r "
            "MATCH shortestPath((a:N {name:'n0'})-[:E*1..2]->(r)) RETURN a"
        )


def test_optional_shortest_path_yields_null(g):
    out = rows(
        g,
        "MATCH (a:N {name:'n8'}) "
        "OPTIONAL MATCH p = shortestPath((a)-[:E*1..3]->(b:N)) "
        "RETURN a.name AS a, length(p) AS hops",
    )
    assert out == [("n8", None)]


def test_without_path_binding(g):
    out = rows(
        g,
        "MATCH shortestPath((a:N {name:'n0'})-[:E*1..4]->(b:N {name:'n7'})) "
        "RETURN a.name AS a, b.name AS b",
    )
    assert out == [("n0", "n7")]


def test_brute_force_cross_check(g):
    """min-length histogram of the pruned BFS == min over the full
    var-length expansion, per endpoint pair."""
    brute = g.cypher(
        "MATCH (a:N)-[r:E*1..4]->(b:N) "
        "RETURN a.name AS a, b.name AS b, min(size(r)) AS hops"
    ).df.collect()
    fast = g.cypher(
        "MATCH p = shortestPath((a:N)-[:E*1..4]->(b:N)) "
        "RETURN a.name AS a, b.name AS b, length(p) AS hops"
    ).df.collect()
    assert sorted(map(tuple, brute)) == sorted(map(tuple, fast))


def test_all_shortest_brute_force_cross_check(g):
    brute = g.cypher(
        "MATCH (a:N)-[r:E*1..4]->(b:N) "
        "WITH a, b, min(size(r)) AS m "
        "MATCH (a)-[r2:E*1..4]->(b) WHERE size(r2) = m "
        "RETURN a.name AS a, b.name AS b, count(*) AS paths"
    ).df.collect()
    fast = g.cypher(
        "MATCH allShortestPaths((a:N)-[:E*1..4]->(b:N)) "
        "RETURN a.name AS a, b.name AS b, count(*) AS paths"
    ).df.collect()
    assert sorted(map(tuple, brute)) == sorted(map(tuple, fast))


@pytest.mark.parametrize(
    "q",
    [
        # unbounded [*] / [*1..] shortestPath IS supported since round 7
        # (driver-paced BFS fixpoint) and minimum length >= 2 since round 8
        # (a filter over planner._trails) — only these forms still gate
        "MATCH shortestPath((a)-[:E]->(b)) RETURN a",
        "MATCH shortestPath((a)-[*1..2]->()-[*1..2]->(b)) RETURN a",
    ],
)
def test_unsupported_forms_fail_cleanly(g, q):
    with pytest.raises(CypherPlanningError):
        g.cypher(q)


# -- minimum length >= 2 (round 8, a per-pair filter over planner._trails) --


def test_min_length_skips_shorter_hits(g):
    # d(n0, n3) = 1 via :F and 2 via :E; a floor of 3 forces the detour
    out = rows(
        g,
        "MATCH p = shortestPath((a:N {name:'n0'})-[:E*3..]->(b:N {name:'n3'})) "
        "RETURN length(p) AS hops",
    )
    assert out == [(3,)]  # 0 -> 4 -> 5 -> 3


def test_min_length_all_shortest_counts(g):
    out = rows(
        g,
        "MATCH allShortestPaths((a:N {name:'n0'})-[:E*2..2]->(b:N {name:'n3'})) "
        "RETURN count(*) AS paths",
    )
    assert out == [(2,)]  # 0-1-3 and 0-2-3


def test_min_length_self_loop_cannot_reuse_edge(g):
    # node 6's only edge is its self-loop; a length-2 trail would reuse it
    out = rows(
        g,
        "MATCH p = shortestPath((a:N {name:'n6'})-[:E*2..]->(b:N {name:'n6'})) "
        "RETURN length(p) AS hops",
    )
    assert out == []


def test_min_length_brute_force_cross_check(g):
    """shortest trail of length >= 2 == min over the full [*2..4] trail
    expansion, per endpoint pair."""
    brute = g.cypher(
        "MATCH (a:N)-[r:E*2..4]->(b:N) "
        "RETURN a.name AS a, b.name AS b, min(size(r)) AS hops"
    ).df.collect()
    fast = g.cypher(
        "MATCH p = shortestPath((a:N)-[:E*2..4]->(b:N)) "
        "RETURN a.name AS a, b.name AS b, length(p) AS hops"
    ).df.collect()
    assert sorted(map(tuple, brute)) == sorted(map(tuple, fast))
    assert brute  # fixture sanity: the floor actually bites somewhere


def test_min_length_all_shortest_brute_force_cross_check(g):
    brute = g.cypher(
        "MATCH (a:N)-[r:E*2..4]->(b:N) "
        "WITH a, b, min(size(r)) AS m "
        "MATCH (a)-[r2:E*2..4]->(b) WHERE size(r2) = m "
        "RETURN a.name AS a, b.name AS b, count(*) AS paths"
    ).df.collect()
    fast = g.cypher(
        "MATCH allShortestPaths((a:N)-[:E*2..4]->(b:N)) "
        "RETURN a.name AS a, b.name AS b, count(*) AS paths"
    ).df.collect()
    assert sorted(map(tuple, brute)) == sorted(map(tuple, fast))


def test_min_length_undirected_brute_force_cross_check(g):
    brute = g.cypher(
        "MATCH (a:N)-[r:E*2..3]-(b:N) "
        "RETURN a.name AS a, b.name AS b, min(size(r)) AS hops"
    ).df.collect()
    fast = g.cypher(
        "MATCH p = shortestPath((a:N)-[:E*2..3]-(b:N)) "
        "RETURN a.name AS a, b.name AS b, length(p) AS hops"
    ).df.collect()
    assert sorted(map(tuple, brute)) == sorted(map(tuple, fast))


def test_unbounded_shortest_matches_bounded(g):
    """[*] shortestPath must agree with a bounded run whose cap exceeds
    the graph's diameter."""
    bounded = g.cypher(
        "MATCH p = shortestPath((a:N)-[:E*1..6]->(b:N)) "
        "RETURN a.name AS a, b.name AS b, length(p) AS hops"
    ).df.collect()
    unbounded = g.cypher(
        "MATCH p = shortestPath((a:N)-[:E*]->(b:N)) "
        "RETURN a.name AS a, b.name AS b, length(p) AS hops"
    ).df.collect()
    assert sorted(map(tuple, bounded)) == sorted(map(tuple, unbounded))


def test_unbounded_all_shortest_matches_bounded(g):
    bounded = g.cypher(
        "MATCH allShortestPaths((a:N)-[:E*1..6]->(b:N)) "
        "RETURN a.name AS a, b.name AS b, count(*) AS paths"
    ).df.collect()
    unbounded = g.cypher(
        "MATCH allShortestPaths((a:N)-[:E*]->(b:N)) "
        "RETURN a.name AS a, b.name AS b, count(*) AS paths"
    ).df.collect()
    assert sorted(map(tuple, bounded)) == sorted(map(tuple, unbounded))
