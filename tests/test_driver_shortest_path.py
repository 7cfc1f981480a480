"""shortestPath / allShortestPaths solve on the driver when the pattern's
relationships fit the broadcast gate.

Each case plans the query twice: by default, where a numpy kernel replays
the Spark rounds (``algorithms._trails_on_driver``) from the distinct
sources, collected per call, over the graph's ``driver_projection`` of
the pattern's relationships, collected on the graph's first driver solve
over them, and with ``BROADCAST_ROW_LIMIT`` at 0, where the rounds are
Spark joins. The collected rows, relationship-id lists included, must be
equal, and each run must have taken the path it was meant to. A second
call collects no relationships; a pattern with an inline property map
collects its filtered step per call and adds no projection entry. A
row-cap case sets the gate between the fixture's edge count and its path
count, so the kernel gives up and the Spark rounds run. A pin on the
sf0.001 TPC-H graph checks that a warm call of ``shortest_path_orders``
checkpoints no round.
"""

import pytest

from cypher_for_apache_spark_spark import materialize
from cypher_for_apache_spark_spark.plans import planner as planner_mod
from test_driver_loops import edge_collects, warm_jobs


@pytest.fixture(scope="module")
def g(session, spark):
    #  0 ─▶ 1 ─▶ 3 ─▶ 7       diamond 0→3 through 1 and 2, and a 3-hop
    #  ├─▶ 2 ═══▶ 3           path through 4 and 5; 2→3 twice (parallel)
    #  └─▶ 4 ─▶ 5 ─▶ 3        6 has a self loop, 8 is isolated
    #  6 ─▶ 6                 F: one direct edge 0→3; E's w groups
    nodes = {"N": spark.createDataFrame([(i, f"n{i}") for i in range(9)], "id long, name string")}
    rels = {
        "E": spark.createDataFrame(
            [
                (100, 0, 1, 1), (101, 0, 2, 1), (102, 1, 3, 1), (103, 2, 3, 2),
                (109, 2, 3, 2), (104, 0, 4, 3), (105, 4, 5, 3), (106, 5, 3, 3),
                (107, 6, 6, 1), (108, 3, 7, 2),
            ],
            "id long, src long, dst long, w long",
        ),
        "F": spark.createDataFrame([(200, 0, 3)], "id long, src long, dst long"),
    }
    return session.read_from(nodes, rels)


# (pattern, extra MATCH before it); every query returns the id lists
_CASES = {
    "ties": ("(a:N)-[r:E*1..4]->(b:N)", ""),
    "undirected": ("(a:N)-[r:E*1..3]-(b:N)", ""),
    "zero_min": ("(a:N)-[r:E*0..2]->(b:N)", ""),
    "zero_min_undirected": ("(a:N)-[r:E*0..2]-(b:N)", ""),
    "unbounded": ("(a:N)-[r:E*]->(b:N)", ""),
    "unbounded_undirected": ("(a:N)-[r:E*]-(b:N)", ""),
    "back_to_source": ("(a:N)-[r:E*1..3]-(b:N)", "MATCH (b:N) WITH b AS a, b "),
    "type_union": ("(a:N)-[r:E|F*1..3]->(b:N)", ""),
    "bound_target": ("(a:N)-[r:E*1..4]->(b)", "MATCH (b:N {name: 'n3'}) "),
    "no_relationship_table": ("(a:N)-[r:X*0..3]->(b:N)", ""),
    "no_sources": ("(a:N {name: 'nobody'})-[r:E*1..3]->(b:N)", ""),
}
# no relationship table has the pattern's types: no step, no kernel
_NO_KERNEL = {"no_relationship_table"}


def _query(case, fn):
    pattern, before = _CASES[case]
    return f"{before}MATCH {fn}({pattern}) RETURN a.name AS a, b.name AS b, r AS ids"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _spy_kernel(monkeypatch):
    """Record, per planned shortestPath, whether the driver kernel gave a
    result (True) or gave up (False)."""
    calls = []
    real = planner_mod._trails_on_driver

    def spy(*a, **kw):
        out = real(*a, **kw)
        calls.append(out is not None)
        return out

    monkeypatch.setattr(planner_mod, "_trails_on_driver", spy)
    return calls


def _driver_then_spark(g, monkeypatch, q, kernel):
    calls = _spy_kernel(monkeypatch)
    driver = _rows(g.cypher(q).df)
    assert calls == kernel
    calls.clear()
    monkeypatch.setattr(materialize, "BROADCAST_ROW_LIMIT", 0)
    spark_rows = _rows(g.cypher(q).df)
    assert calls == []
    assert driver == spark_rows
    return driver


@pytest.mark.parametrize("fn", ["shortestPath", "allShortestPaths"])
@pytest.mark.parametrize("case", sorted(_CASES))
def test_driver_matches_spark_rounds(g, monkeypatch, case, fn):
    rows = _driver_then_spark(
        g, monkeypatch, _query(case, fn), [] if case in _NO_KERNEL else [True]
    )
    if case in ("ties", "back_to_source", "zero_min", "bound_target"):
        assert rows, "the case must return paths"


def test_ties_are_broken_and_kept(g):
    """The fixture really has ties: 'all' returns several lists for a
    pair where 'single' returns the least one."""
    single = _rows(g.cypher(_query("ties", "shortestPath")).df)
    every = _rows(g.cypher(_query("ties", "allShortestPaths")).df)
    assert ("n0", "n3", [100, 102]) in single
    assert [r for r in every if r[:2] == ("n0", "n3")] == [
        ("n0", "n3", [100, 102]),
        ("n0", "n3", [101, 103]),
        ("n0", "n3", [101, 109]),
    ]


@pytest.mark.parametrize("case", ["ties", "undirected"])
def test_second_call_reads_the_projection(g, spark, monkeypatch, case):
    """After a first call, a shortestPath over the same relationship types
    reads the graph's projection: no relationship collect, no new entry,
    and the rows of the Spark rounds."""
    q = _query(case, "shortestPath")
    g.cypher(q).df.collect()
    entries = dict(g._projections)
    collects = edge_collects(spark, monkeypatch)
    calls = _spy_kernel(monkeypatch)
    driver = _rows(g.cypher(q).df)
    assert calls == [True] and collects == [] and g._projections == entries
    monkeypatch.setattr(materialize, "BROADCAST_ROW_LIMIT", 0)
    assert _rows(g.cypher(q).df) == driver


def test_inline_map_step_adds_no_projection(g, spark, monkeypatch):
    """A pattern with an inline property map collects its filtered step on
    each call: three parameter values add no projection entry, and each
    call's rows are those of the Spark rounds."""
    q = "MATCH shortestPath((a:N)-[r:E*1..3 {w: $w}]->(b:N)) RETURN a.name, b.name, r AS ids"
    entries = dict(g._projections)
    collects = edge_collects(spark, monkeypatch)
    calls = _spy_kernel(monkeypatch)
    driver = [_rows(g.cypher(q, {"w": w}).df) for w in (1, 2, 3)]
    assert all(driver) and calls == [True] * 3 and len(collects) == 3
    assert g._projections == entries
    monkeypatch.setattr(materialize, "BROADCAST_ROW_LIMIT", 0)
    assert [_rows(g.cypher(q, {"w": w}).df) for w in (1, 2, 3)] == driver


@pytest.mark.parametrize("fn", ["shortestPath", "allShortestPaths"])
def test_row_cap_falls_back_to_spark_rounds(g, monkeypatch, fn):
    """With the gate at the E table's 10 rows, the relationships fit (and
    round 1 expands 10 rows) but the paths the kernel would hold do not:
    it gives up, the Spark rounds run, and the rows are those of the Spark
    rounds."""
    q = _query("unbounded", fn)
    monkeypatch.setattr(materialize, "BROADCAST_ROW_LIMIT", 0)
    spark_only = _rows(g.cypher(q).df)
    assert len(spark_only) > 10
    monkeypatch.setattr(materialize, "BROADCAST_ROW_LIMIT", 10)
    calls = _spy_kernel(monkeypatch)
    assert _rows(g.cypher(q).df) == spark_only
    assert calls == [False]


def test_shortest_path_orders_checkpoints_no_round(spark, monkeypatch):
    """A warm call reads the graph's projection, collects the sources and
    runs the caller's action: 6 jobs, where the Spark rounds ran 21 (and 7
    when each call collected the step)."""
    rounds = []
    real = planner_mod.materialize_count

    def spy(df):
        rounds.append(df)
        return real(df)

    monkeypatch.setattr(planner_mod, "materialize_count", spy)
    assert warm_jobs(spark, "shortest_path_orders") == 6
    assert rounds == []


def test_no_relationship_table_checkpoints_nothing(g, monkeypatch):
    """Without a relationship table of the pattern's types the sources only
    feed the zero-length level, so planning checkpoints nothing."""
    calls = []
    real = planner_mod.materialize_count

    def spy(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(planner_mod, "materialize_count", spy)
    res = g.cypher("MATCH p = shortestPath((a:N)-[:X*1..3]->(b:N)) RETURN length(p) AS n")
    assert res.df.collect() == []
    assert calls == []
