"""Loop operators pay only for the rounds they run.

- ``materialize.local_frame`` builds driver-side lists in the JVM, with no
  Python-worker job behind them, and keeps the declared types.
- ``sssp`` runs one checkpoint action per round and takes the min per id
  once, after the loop; ``bfs_distances`` seeds the same way.
- ``k_core`` builds its cached adjacency only when a round peels.
- ``Planner._auto_salt_factor`` falls back only on a JVM-side failure.
"""

import heapq
from collections import deque
from types import SimpleNamespace

import pytest

from cypher_for_apache_spark_spark import materialize
from cypher_for_apache_spark_spark.operators import algorithms as alg
from cypher_for_apache_spark_spark.plans.planner import Planner
from cypher_for_apache_spark_spark.sources import edgelist
from test_large_regime import _EDGES  # 60 nodes, two components


@pytest.fixture(scope="module")
def graph(spark):
    return edgelist.from_edge_df(spark.createDataFrame(_EDGES, "src long, dst long, w double"))


# ------------------------------------------------------------ local_frame
def _rdd_lineage(df):
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_local_frame_runs_no_python_worker(spark):
    rows = [(1, 0.5), (2, 1.5)]
    df = materialize.local_frame(spark, rows, "id long, d double")
    assert "PythonRDD" not in _rdd_lineage(df)
    assert [tuple(r) for r in df.collect()] == rows
    # the check can see a Python-worker frame: createDataFrame's has one
    assert "PythonRDD" in _rdd_lineage(spark.createDataFrame(rows, "id long, d double"))


def test_local_frame_keeps_declared_types(spark):
    big = 2**40 + 3
    df = materialize.local_frame(spark, [(big, "a"), (7, None)], "id long, name string")
    assert df.schema == spark.createDataFrame([], "id long, name string").schema
    assert [tuple(r) for r in df.collect()] == [(big, "a"), (7, None)]
    # a small int is a long, not an int, so it unions/joins with long ids
    ints = materialize.local_frame(spark, [(1,), (2,)], "id long")
    assert ints.schema["id"].dataType.typeName() == "long"


def test_local_frame_empty_has_declared_schema(spark):
    schema = "id long, labels array<string>"
    df = materialize.local_frame(spark, [], schema)
    assert df.schema == spark.createDataFrame([], schema).schema
    assert df.count() == 0
    assert "PythonRDD" not in _rdd_lineage(df)


# --------------------------------------------------------- sssp and bfs
def _adjacency(undirected=False):
    adj = {}
    for s, d, w in _EDGES:
        adj.setdefault(s, []).append((d, w))
        if undirected:
            adj.setdefault(d, []).append((s, w))
    return adj


def _dijkstra(sources):
    adj, dist = _adjacency(), {}
    heap = [(0.0, s) for s in set(sources)]
    while heap:
        d, u = heapq.heappop(heap)
        if u in dist:
            continue
        dist[u] = d
        for v, w in adj.get(u, ()):
            if v not in dist:
                heapq.heappush(heap, (d + w, v))
    return sorted(dist.items())


def _frontier_rounds(sources):
    """Rounds of sssp's frontier loop on ``_EDGES``, the last one (which
    improves nothing) included."""
    adj = _adjacency()
    best = {s: 0.0 for s in sources}
    frontier, rounds = dict(best), 0
    while True:
        rounds += 1
        cand = {}
        for u, d in frontier.items():
            for v, w in adj.get(u, ()):
                cand[v] = min(cand.get(v, float("inf")), d + w)
        frontier = {v: d for v, d in cand.items() if d < best.get(v, float("inf"))}
        if not frontier:
            return rounds
        best.update(frontier)


def _bfs(sources):
    adj, dist = _adjacency(undirected=True), {s: 0 for s in sources}
    queue = deque(sorted(dist))
    while queue:
        u = queue.popleft()
        for v, _ in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                queue.append(v)
    return sorted(dist.items())


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("sources", [[], [0, 0, 40, 0, 40]])
def test_sssp_empty_and_duplicate_sources(graph, sources):
    assert _rows(alg.sssp(graph, sources, weight_prop="w")) == _dijkstra(sources)


@pytest.mark.parametrize("sources", [[], [20, 45, 20]])
def test_bfs_empty_and_duplicate_sources(graph, sources):
    assert _rows(alg.bfs_distances(graph, sources, undirected=True)) == _bfs(sources)


def _spy(monkeypatch, name, calls, tag):
    real = getattr(alg, name)

    def spy(*a, **kw):
        calls.append(tag)
        return real(*a, **kw)

    monkeypatch.setattr(alg, name, spy)


def test_sssp_one_action_per_round(graph, monkeypatch):
    calls = []
    _spy(monkeypatch, "_checkpoint_count", calls, "round")
    _spy(monkeypatch, "_checkpoint", calls, "materialize")
    rows = _rows(alg.sssp(graph, [0, 40], weight_prop="w"))
    assert rows == _dijkstra([0, 40])
    rounds = _frontier_rounds([0, 40])
    assert rounds > 2, "the fixture must take the loop through several rounds"
    # one checkpoint+count per round; the one plain materialize is the
    # min per id, after the loop
    assert calls == ["round"] * rounds + ["materialize"]


def _k_core_ref(k):
    nbrs = {}
    for s, d, _ in _EDGES:
        if s != d:
            nbrs.setdefault(s, set()).add(d)
            nbrs.setdefault(d, set()).add(s)
    alive = set(nbrs)
    while True:
        dead = {v for v in alive if len(nbrs[v] & alive) < k}
        if not dead:
            return sorted((v, len(nbrs[v] & alive)) for v in alive)
        alive -= dead


@pytest.mark.parametrize("k, peels", [(1, False), (2, True)])
def test_k_core_builds_adjacency_only_when_it_peels(graph, monkeypatch, k, peels):
    calls = []
    _spy(monkeypatch, "_static_loop_frame", calls, "adjacency")
    assert _rows(alg.k_core(graph, k=k)) == _k_core_ref(k)
    assert calls == (["adjacency"] if peels else [])


# ------------------------------------------------ salt-sniff stats probe
def _frame(probe):
    """Stands in for a rel frame whose stats probe is ``probe()``."""
    return SimpleNamespace(_jdf=SimpleNamespace(queryExecution=probe))


def _salt(rdf):
    owner = SimpleNamespace(graph=SimpleNamespace())
    return Planner._auto_salt_factor(owner, rdf, "_near", ("T", "out"))


def test_salt_probe_falls_back_on_jvm_errors(spark):
    jvm = spark._jvm
    # an error PySpark leaves as py4j's (IndexOutOfBoundsException) and
    # one it translates (NumberFormatException): both mean "no stats"
    assert _salt(_frame(lambda: jvm.java.util.ArrayList().get(3))) == 0
    assert _salt(_frame(lambda: jvm.java.lang.Long.parseLong("x"))) == 0
    # a real frame reports its size and stays under the sniff gate
    assert _salt(spark.range(10).selectExpr("id AS _near")) == 0


def test_salt_probe_propagates_other_errors():
    def broken():
        raise RuntimeError("not a stats failure")

    with pytest.raises(RuntimeError, match="not a stats failure"):
        _salt(_frame(broken))
