"""Correlated subpatterns (EXISTS, OPTIONAL MATCH, CALL { }) join back
without the throwaway DISTINCT and null-safe key when the driving binding
allows it, and keep both where it does not.

The binding DISTINCT is skipped only when a shared variable is unique per
row (a fresh node scan); the join key is plain ``==`` only when it can
never be null. A variable repeated by an earlier expand, or bound by
OPTIONAL MATCH, must keep the DISTINCT or the null-safe key, and return
the same rows as always.
"""

import itertools

import pytest

from conftest import bag


@pytest.fixture(scope="module")
def shop(session, spark):
    # c1 placed o1, o2; c2 placed o3; c3 placed o4; c4 placed nothing;
    # o5 has no customer. o1 and o3 have lines.
    nodes = {
        ("C",): spark.createDataFrame(
            [(1, "c1"), (2, "c2"), (3, "c3"), (4, "c4")], "id long, name string"
        ),
        ("O",): spark.createDataFrame(
            [(11, "o1"), (12, "o2"), (13, "o3"), (14, "o4"), (15, "o5")],
            "id long, name string",
        ),
        ("P",): spark.createDataFrame([(21, "p1"), (22, "p2")], "id long, name string"),
    }
    rels = {
        "PLACED": spark.createDataFrame(
            [(101, 1, 11), (102, 1, 12), (103, 2, 13), (104, 3, 14)],
            "id long, src long, dst long",
        ),
        "LINE": spark.createDataFrame(
            [(201, 11, 21), (202, 13, 21), (203, 13, 22)], "id long, src long, dst long"
        ),
    }
    return session.read_from(nodes, rels)


def _run(graph, q):
    """(rows, analyzed plan text) of one query."""
    res = graph.cypher(q)
    return bag(res), res.df._jdf.queryExecution().analyzed().toString()


DISTINCT = "Deduplicate"
NULL_SAFE = "<=>"


# -- a fresh node scan: the shortcuts fire ------------------------------------

def test_exists_from_a_fresh_scan_skips_distinct_and_null_safe_key(shop):
    rows, plan = _run(
        shop,
        "MATCH (c:C) WHERE EXISTS { MATCH (c)-[:PLACED]->(:O)-[:LINE]->(:P) } "
        "RETURN c.name AS c",
    )
    assert rows == [{"c": "c1"}, {"c": "c2"}]
    assert DISTINCT not in plan and NULL_SAFE not in plan, plan


def test_optional_match_from_a_fresh_scan_skips_distinct(shop):
    rows, plan = _run(
        shop,
        "MATCH (c:C) OPTIONAL MATCH (c)-[:PLACED]->(o:O) "
        "RETURN c.name AS c, o.name AS o",
    )
    assert rows == bag(
        [
            {"c": "c1", "o": "o1"},
            {"c": "c1", "o": "o2"},
            {"c": "c2", "o": "o3"},
            {"c": "c3", "o": "o4"},
            {"c": "c4", "o": None},
        ]
    )
    assert DISTINCT not in plan, plan


def test_call_from_a_fresh_scan_skips_distinct_and_null_safe_key(shop):
    rows, plan = _run(
        shop,
        "MATCH (c:C) CALL { WITH c MATCH (c)-[:PLACED]->(o:O) RETURN count(o) AS n } "
        "RETURN c.name AS c, n",
    )
    assert rows == bag(
        [{"c": "c1", "n": 2}, {"c": "c2", "n": 1}, {"c": "c3", "n": 1}, {"c": "c4", "n": 0}]
    )
    assert DISTINCT not in plan and NULL_SAFE not in plan, plan


def test_uniqueness_survives_filters_and_semi_joins(shop):
    rows, plan = _run(
        shop,
        "MATCH (c:C) WHERE c.name <> 'c3' AND EXISTS { MATCH (c)-[:PLACED]->(:O) } "
        "CALL { WITH c MATCH (c)-[:PLACED]->(o:O) RETURN count(o) AS n } "
        "RETURN c.name AS c, n",
    )
    assert rows == bag([{"c": "c1", "n": 2}, {"c": "c2", "n": 1}])
    assert DISTINCT not in plan and NULL_SAFE not in plan, plan


# -- repeated keys: the binding keeps its DISTINCT ------------------------------

def test_exists_after_an_expand_keeps_distinct(shop):
    rows, plan = _run(
        shop,
        "MATCH (c:C)-[:PLACED]->(o:O) "
        "WHERE EXISTS { MATCH (c)-[:PLACED]->(:O)-[:LINE]->(:P) } "
        "RETURN c.name AS c, o.name AS o",
    )
    assert rows == bag(
        [{"c": "c1", "o": "o1"}, {"c": "c1", "o": "o2"}, {"c": "c2", "o": "o3"}]
    )
    assert DISTINCT in plan, plan


def test_optional_match_after_an_expand_keeps_distinct(shop):
    rows, plan = _run(
        shop,
        "MATCH (c:C)-[:PLACED]->(o:O) "
        "OPTIONAL MATCH (c)-[:PLACED]->(:O)-[:LINE]->(p:P) "
        "RETURN c.name AS c, o.name AS o, p.name AS p",
    )
    assert rows == bag(
        [
            {"c": "c1", "o": "o1", "p": "p1"},
            {"c": "c1", "o": "o2", "p": "p1"},
            {"c": "c2", "o": "o3", "p": "p1"},
            {"c": "c2", "o": "o3", "p": "p2"},
            {"c": "c3", "o": "o4", "p": None},
        ]
    )
    assert DISTINCT in plan, plan


def test_call_after_an_expand_keeps_distinct(shop):
    rows, plan = _run(
        shop,
        "MATCH (c:C)-[:PLACED]->(o:O) "
        "CALL { WITH c MATCH (c)-[:PLACED]->(x:O) RETURN count(x) AS n } "
        "RETURN c.name AS c, o.name AS o, n",
    )
    assert rows == bag(
        [
            {"c": "c1", "o": "o1", "n": 2},
            {"c": "c1", "o": "o2", "n": 2},
            {"c": "c2", "o": "o3", "n": 1},
            {"c": "c3", "o": "o4", "n": 1},
        ]
    )
    assert DISTINCT in plan, plan


# -- a nullable import: the null-safe key (and the DISTINCT) stay -------------

def test_not_exists_on_an_optional_variable_keeps_null_safe_key(shop):
    rows, plan = _run(
        shop,
        "MATCH (c:C) OPTIONAL MATCH (c)-[:PLACED]->(o:O) "
        "WITH c, o WHERE NOT EXISTS { MATCH (o)-[:LINE]->(:P) } "
        "RETURN c.name AS c, o.name AS o",
    )
    assert rows == bag(
        [{"c": "c1", "o": "o2"}, {"c": "c3", "o": "o4"}, {"c": "c4", "o": None}]
    )
    assert NULL_SAFE in plan and DISTINCT in plan, plan


def test_optional_match_on_an_optional_variable_keeps_distinct(shop):
    rows, plan = _run(
        shop,
        "MATCH (c:C) OPTIONAL MATCH (c)-[:PLACED]->(o:O) "
        "OPTIONAL MATCH (o)-[:LINE]->(p:P) "
        "RETURN c.name AS c, o.name AS o, p.name AS p",
    )
    assert rows == bag(
        [
            {"c": "c1", "o": "o1", "p": "p1"},
            {"c": "c1", "o": "o2", "p": None},
            {"c": "c2", "o": "o3", "p": "p1"},
            {"c": "c2", "o": "o3", "p": "p2"},
            {"c": "c3", "o": "o4", "p": None},
            {"c": "c4", "o": None, "p": None},
        ]
    )
    assert DISTINCT in plan, plan


def test_call_on_an_optional_variable_keeps_null_safe_key(shop):
    rows, plan = _run(
        shop,
        "MATCH (c:C) OPTIONAL MATCH (c)-[:PLACED]->(o:O) "
        "CALL { WITH o MATCH (o)-[:LINE]->(p:P) RETURN count(p) AS n } "
        "RETURN c.name AS c, o.name AS o, n",
    )
    assert rows == bag(
        [
            {"c": "c1", "o": "o1", "n": 1},
            {"c": "c1", "o": "o2", "n": 0},
            {"c": "c2", "o": "o3", "n": 2},
            {"c": "c3", "o": "o4", "n": 0},
            {"c": "c4", "o": None, "n": 0},
        ]
    )
    assert NULL_SAFE in plan and DISTINCT in plan, plan


# -- the row bound is counted lazily, once per table --------------------------

_groups = itertools.count()


def _planning_jobs(spark, fn):
    sc = spark.sparkContext
    group = f"correlated-planning-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_element_tables_are_counted_on_first_use_only(session, spark):
    g = session.read_from(
        {("A",): spark.createDataFrame([(1,), (2,)], "id long")},
        {"R": spark.createDataFrame([(10, 1, 2)], "id long, src long, dst long")},
    )
    q = "MATCH (a:A) WHERE EXISTS { MATCH (a)-[:R]->(:A) } RETURN count(*) AS n"
    assert _planning_jobs(spark, lambda: g.cypher("MATCH (a:A) RETURN a")) == []
    assert _planning_jobs(spark, lambda: g.cypher(q)), "the gate counts R once"
    assert _planning_jobs(spark, lambda: g.cypher(q)) == []
    assert g.cypher(q).to_maps() == [{"n": 1}]
