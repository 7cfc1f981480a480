"""End-to-end acceptance tests on the reference's canonical team fixture
(mirrors morpheus-testing acceptance suites: MatchTests, ExpressionTests,
AggregationTests... — SURVEY.md §5 layer 2). Bag (multiset) semantics."""

import pytest

from conftest import bag

from cypher_for_apache_spark_spark.plans.planner import CypherPlanningError


def run(graph, q, **params):
    return graph.cypher(q, params or None)


def test_node_scan(team_graph):
    r = run(team_graph, "MATCH (n:Person) RETURN n.name AS name")
    assert sorted(m["name"] for m in r.to_maps()) == ["Donald", "Martin", "Mats", "Max", "Stefan"]


def test_label_combo_scan(team_graph):
    r = run(team_graph, "MATCH (n:Person:German) RETURN n.name AS name")
    assert sorted(m["name"] for m in r.to_maps()) == ["Martin", "Max", "Stefan"]


def test_property_filter(team_graph):
    r = run(team_graph, "MATCH (n:Person) WHERE n.luckyNumber > 20 RETURN n.name AS name")
    assert sorted(m["name"] for m in r.to_maps()) == ["Martin", "Mats", "Stefan"]


def test_inline_prop_match(team_graph):
    r = run(team_graph, "MATCH (n:Person {luckyNumber: 8}) RETURN n.name AS name")
    assert sorted(m["name"] for m in r.to_maps()) == ["Donald", "Max"]


def test_expand(team_graph):
    r = run(
        team_graph,
        "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN a.name AS a, b.name AS b",
    )
    assert bag(r) == bag([
        {"a": "Stefan", "b": "Mats"},
        {"a": "Mats", "b": "Martin"},
        {"a": "Martin", "b": "Max"},
    ])


def test_expand_reverse(team_graph):
    r = run(team_graph, "MATCH (a)<-[:KNOWS]-(b) RETURN a.name AS a, b.name AS b")
    assert bag(r) == bag([
        {"a": "Mats", "b": "Stefan"},
        {"a": "Martin", "b": "Mats"},
        {"a": "Max", "b": "Martin"},
    ])


def test_undirected(team_graph):
    r = run(team_graph, "MATCH (a {name: 'Mats'})--(b) RETURN b.name AS b")
    assert sorted(m["b"] for m in r.to_maps()) == ["Martin", "Stefan"]


def test_two_hop(team_graph):
    r = run(
        team_graph,
        "MATCH (a)-[:KNOWS]->(b)-[:KNOWS]->(c) RETURN a.name AS a, c.name AS c",
    )
    assert bag(r) == bag([
        {"a": "Stefan", "c": "Martin"},
        {"a": "Mats", "c": "Max"},
    ])


def test_rel_property(team_graph):
    r = run(team_graph, "MATCH ()-[r:KNOWS]->() RETURN r.since AS since")
    assert [m["since"] for m in r.to_maps()] == [2016, 2016, 2016]


def test_count_star(team_graph):
    r = run(team_graph, "MATCH (n:Person) RETURN count(*) AS c")
    assert r.to_maps() == [{"c": 5}]


def test_aggregation_group(team_graph):
    r = run(
        team_graph,
        "MATCH (n:Person) RETURN n.luckyNumber AS num, count(*) AS c ORDER BY num",
    )
    assert r.to_maps() == [
        {"num": 8, "c": 2},
        {"num": 23, "c": 1},
        {"num": 42, "c": 1},
        {"num": 1337, "c": 1},
    ]


def test_aggregates(team_graph):
    r = run(
        team_graph,
        "MATCH (n:Person) RETURN sum(n.luckyNumber) AS s, min(n.luckyNumber) AS mn, "
        "max(n.luckyNumber) AS mx, avg(n.luckyNumber) AS a, count(n.luckyNumber) AS c",
    )
    m = r.to_maps()[0]
    assert m["s"] == 1418 and m["mn"] == 8 and m["mx"] == 1337 and m["c"] == 5
    assert abs(m["a"] - 283.6) < 1e-9


def test_agg_arithmetic(team_graph):
    r = run(team_graph, "MATCH (n:Person) RETURN count(*) + 1 AS c1, sum(n.luckyNumber) / count(*) AS avg2")
    m = r.to_maps()[0]
    assert m["c1"] == 6 and m["avg2"] == 283  # integer division


def test_order_skip_limit(team_graph):
    r = run(
        team_graph,
        "MATCH (n:Person) RETURN n.name AS name ORDER BY n.luckyNumber DESC, name SKIP 1 LIMIT 2",
    )
    assert [m["name"] for m in r.to_maps()] == ["Stefan", "Mats"]


def test_distinct(team_graph):
    r = run(team_graph, "MATCH (n:Person) RETURN DISTINCT n.luckyNumber AS n ORDER BY n")
    assert [m["n"] for m in r.to_maps()] == [8, 23, 42, 1337]


def test_with_chain(team_graph):
    r = run(
        team_graph,
        "MATCH (n:Person) WITH n.name AS name, n.luckyNumber AS num WHERE num < 30 "
        "RETURN name ORDER BY name",
    )
    assert [m["name"] for m in r.to_maps()] == ["Donald", "Mats", "Max"]


def test_with_agg_then_match(team_graph):
    r = run(
        team_graph,
        "MATCH (n:Person) WITH max(n.luckyNumber) AS mx MATCH (m:Person {luckyNumber: mx}) "
        "RETURN m.name AS name",
    )
    assert r.to_maps() == [{"name": "Martin"}]


def test_unwind(team_graph):
    r = run(team_graph, "UNWIND [1, 2, 3] AS x RETURN x * 2 AS y")
    assert sorted(m["y"] for m in r.to_maps()) == [2, 4, 6]


def test_unwind_over_property(team_graph):
    r = run(
        team_graph,
        "MATCH (n {name: 'Stefan'}) UNWIND n.languages AS lang RETURN lang",
    )
    assert sorted(m["lang"] for m in r.to_maps()) == ["English", "German", "Klingon"]


def test_optional_match(team_graph):
    r = run(
        team_graph,
        "MATCH (a:Person) OPTIONAL MATCH (a)-[:KNOWS]->(b) "
        "RETURN a.name AS a, b.name AS b",
    )
    assert bag(r) == bag([
        {"a": "Stefan", "b": "Mats"},
        {"a": "Mats", "b": "Martin"},
        {"a": "Martin", "b": "Max"},
        {"a": "Max", "b": None},
        {"a": "Donald", "b": None},
    ])


def test_exists_predicate(team_graph):
    r = run(
        team_graph,
        "MATCH (a:Person) WHERE exists((a)-[:KNOWS]->()) RETURN a.name AS name",
    )
    assert sorted(m["name"] for m in r.to_maps()) == ["Martin", "Mats", "Stefan"]


def test_not_exists_predicate(team_graph):
    r = run(
        team_graph,
        "MATCH (a:Person) WHERE NOT (a)-[:KNOWS]->() RETURN a.name AS name",
    )
    assert sorted(m["name"] for m in r.to_maps()) == ["Donald", "Max"]


def test_union(team_graph):
    r = run(
        team_graph,
        "MATCH (n:Swede) RETURN n.name AS name UNION ALL MATCH (n:German) RETURN n.name AS name",
    )
    assert sorted(m["name"] for m in r.to_maps()) == ["Martin", "Mats", "Max", "Stefan"]


def test_var_length(team_graph):
    r = run(
        team_graph,
        "MATCH (a {name: 'Stefan'})-[:KNOWS*1..3]->(b) RETURN b.name AS name",
    )
    assert sorted(m["name"] for m in r.to_maps()) == ["Martin", "Mats", "Max"]


def test_var_length_bounded(team_graph):
    r = run(
        team_graph,
        "MATCH (a {name: 'Stefan'})-[rs:KNOWS*2..2]->(b) RETURN b.name AS name, size(rs) AS n",
    )
    assert r.to_maps() == [{"name": "Martin", "n": 2}]


@pytest.mark.parametrize(
    "target, names",
    [
        # labels the bound target variable does not carry statically
        ("b:German", ["Martin", "Max"]),
        # an inline map, here referencing another variable
        ("b {luckyNumber: a.luckyNumber - 34}", ["Max"]),
    ],
)
def test_var_length_bound_target_meets_pattern(team_graph, target, names):
    tail = (
        f"MATCH (a:German {{name: 'Stefan'}})-[:KNOWS*1..3]->({target}) "
        "RETURN b.name AS name"
    )
    bound = run(team_graph, f"MATCH (b:Person) {tail}")
    fresh = run(team_graph, tail)
    assert sorted(m["name"] for m in bound.to_maps()) == names
    assert sorted(m["name"] for m in fresh.to_maps()) == names


def test_var_length_bound_target_must_be_node(team_graph):
    with pytest.raises(CypherPlanningError):
        run(
            team_graph,
            "MATCH ()-[r:KNOWS]->() WITH r "
            "MATCH (a:German {name: 'Stefan'})-[:KNOWS*1..2]->(r) RETURN a",
        )


def test_var_length_reads_its_record_once(team_graph):
    """Every level of a bounded var-length expand starts from the
    incoming record's source ids. Materialized once, the record's joins
    and scans sit once in the optimized plan (17 leaves); derived lazily,
    every level held its own copy of them (29 leaves)."""
    import re

    r = run(
        team_graph,
        "MATCH (a:German {name: 'Stefan'})-[:KNOWS]->(m) "
        "MATCH (a)-[:KNOWS*1..3]->(b) RETURN b.name AS name",
    )
    plan = r.df._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\b(?:LocalRelation|LogicalRDD)\b", plan)) == 17
    assert sorted(m["name"] for m in r.to_maps()) == ["Martin", "Mats", "Max"]


def test_labels_function(team_graph):
    r = run(team_graph, "MATCH (n {name: 'Mats'}) RETURN labels(n) AS l")
    assert r.to_maps()[0]["l"] == ["Person", "Swede"]


def test_type_function(team_graph):
    r = run(team_graph, "MATCH ()-[r]->() RETURN DISTINCT type(r) AS t")
    assert r.to_maps() == [{"t": "KNOWS"}]


def test_case_expression(team_graph):
    r = run(
        team_graph,
        "MATCH (n:Person) RETURN n.name AS name, "
        "CASE WHEN n.luckyNumber > 100 THEN 'high' ELSE 'low' END AS lvl "
        "ORDER BY name",
    )
    levels = {m["name"]: m["lvl"] for m in r.to_maps()}
    assert levels["Martin"] == "high" and levels["Max"] == "low"


def test_null_semantics(team_graph):
    # languages is null for Martin/Max, [] for Donald, absent for Mats
    r = run(
        team_graph,
        "MATCH (n:Person) WHERE n.languages IS NULL RETURN n.name AS name",
    )
    assert sorted(m["name"] for m in r.to_maps()) == ["Martin", "Mats", "Max"]


def test_string_functions(team_graph):
    r = run(
        team_graph,
        "MATCH (n {name: 'Stefan'}) RETURN toUpper(n.name) AS u, substring(n.name, 0, 3) AS s, "
        "size(n.name) AS len",
    )
    m = r.to_maps()[0]
    assert m["u"] == "STEFAN" and m["s"] == "Ste" and m["len"] == 6


def test_collect(team_graph):
    r = run(team_graph, "MATCH (n:German) RETURN collect(n.name) AS names")
    assert sorted(r.to_maps()[0]["names"]) == ["Martin", "Max", "Stefan"]


def test_in_predicate(team_graph):
    r = run(
        team_graph,
        "MATCH (n:Person) WHERE n.name IN ['Mats', 'Donald'] RETURN n.name AS name",
    )
    assert sorted(m["name"] for m in r.to_maps()) == ["Donald", "Mats"]


def test_parameters(team_graph):
    r = run(
        team_graph,
        "MATCH (n:Person) WHERE n.luckyNumber = $num RETURN n.name AS name",
        num=23,
    )
    assert r.to_maps() == [{"name": "Mats"}]


def test_disconnected_cartesian(team_graph):
    r = run(
        team_graph,
        "MATCH (a:Swede), (b:German) RETURN a.name AS a, b.name AS b",
    )
    assert len(r.to_maps()) == 3


def test_list_comprehension(team_graph):
    r = run(
        team_graph,
        "MATCH (n {name: 'Stefan'}) RETURN [l IN n.languages WHERE l STARTS WITH 'G' | toUpper(l)] AS gs",
    )
    assert r.to_maps()[0]["gs"] == ["GERMAN"]


def test_with_entity_then_expand(team_graph):
    r = run(
        team_graph,
        "MATCH (a:Person) WITH a WHERE a.luckyNumber > 20 "
        "MATCH (a)-[:KNOWS]->(b) RETURN a.name AS a, b.name AS b",
    )
    assert bag(r) == bag([
        {"a": "Stefan", "b": "Mats"},
        {"a": "Mats", "b": "Martin"},
        {"a": "Martin", "b": "Max"},
    ])


def test_optional_after_with(team_graph):
    r = run(
        team_graph,
        "MATCH (a:Person) WITH a ORDER BY a.name LIMIT 2 "
        "OPTIONAL MATCH (a)-[:KNOWS]->(b) RETURN a.name AS a, b.name AS b",
    )
    assert bag(r) == bag([
        {"a": "Donald", "b": None},
        {"a": "Martin", "b": "Max"},
    ])


def test_return_entity_struct(team_graph):
    r = run(team_graph, "MATCH (n:Swede) RETURN n")
    m = r.to_maps()[0]["n"]
    assert m["id"] == 1 and m["name"] == "Mats" and m["labels"] == ["Person", "Swede"]
