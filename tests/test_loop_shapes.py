"""Loop operators pay only for the rounds they run.

- ``materialize.local_frame`` builds driver-side lists and Arrow tables
  through one Arrow path, with no Python-worker job behind them, and keeps
  the declared types; small tables become a ``LocalRelation``, large ones
  a ``LogicalRDD``.
- ``connected_components_edges`` finishes on the driver once the
  contracted edges fit the broadcast gate, with the rows of the all-Spark
  rounds forced by ``LARGE_REGIME``.
- ``connected_components_edges`` reads its first map once per action,
  isolated vertices included.
- In the Spark loop (forced by ``LARGE_REGIME``; ``test_driver_loops.py``
  covers the driver path), ``sssp`` runs one checkpoint action per round
  and takes the min per id once, after the loop, and ``k_core`` builds
  its cached adjacency only when a round peels.
- ``Planner._auto_salt_factor`` falls back only on a JVM-side failure.
"""

import heapq
import itertools
import random
from collections import deque
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pytest

from cypher_for_apache_spark_spark import materialize
from cypher_for_apache_spark_spark.operators import algorithms as alg
from cypher_for_apache_spark_spark.plans.planner import Planner
from cypher_for_apache_spark_spark.sources import edgelist
from test_large_regime import _EDGES  # 60 nodes, two components
from test_large_regime import forced  # noqa: F401  (fixture: the at-scale regime)


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


@pytest.mark.parametrize("rows", [1, 10_000, "arrow"])
def test_local_frame_lineage_has_no_python_rdd(spark, rows):
    if rows == "arrow":
        data = pa.table({"id": pa.array(range(100), pa.int64()), "d": [0.5] * 100})
        want = [(i, 0.5) for i in range(100)]
    else:
        data = want = [(i, i / 2) for i in range(rows)]
    df = materialize.local_frame(spark, data, "id long, d double")
    assert "PythonRDD" not in _rdd_lineage(df)
    assert sorted(tuple(r) for r in df.collect()) == want


def _descendant_cpu(pid):
    """{pid: utime + stime ticks} of every process below ``pid``."""
    children = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            fields = (d / "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while listing
            continue
        children.setdefault(int(fields[1]), []).append(
            (int(d.name), int(fields[11]) + int(fields[12]))
        )
    out, todo = {}, [pid]
    while todo:
        for child, ticks in children.get(todo.pop(), ()):
            out[child] = ticks
            todo.append(child)
    return out


@pytest.mark.skipif(not Path("/proc/self/stat").exists(), reason="needs procfs")
def test_local_frame_count_starts_no_python_worker(spark):
    jvm = spark.sparkContext._gateway.proc.pid
    df = materialize.local_frame(spark, [(i, i / 2) for i in range(1000)], "id long, d double")
    before = _descendant_cpu(jvm)
    assert df.count() == 1000
    after = _descendant_cpu(jvm)
    # no new process, and no CPU in an idle worker a count could reuse
    assert after.keys() <= before.keys()
    assert all(after[p] == before[p] for p in after)
    # the probe sees Python-worker work when there is some
    spark.sparkContext.parallelize(range(4), 4).map(lambda x: sum(range(300_000))).count()
    busy = _descendant_cpu(jvm)
    assert busy.keys() - before.keys() or sum(busy.values()) > sum(before.values())


@pytest.mark.parametrize(
    "threshold, rows, leaf",
    [(None, 1000, "LocalRelation"), ("0", 1000, "LogicalRDD"), (None, 100_000, "LogicalRDD")],
    ids=["None-LocalRelation", "0-LogicalRDD", "None-LogicalRDD"],
)
def test_local_frame_leaf(spark, threshold, rows, leaf):
    """Arrow batches under ``spark.sql.execution.arrow.localRelationThreshold``
    are decoded once into a ``LocalRelation``; above it the frame is a
    ``LogicalRDD`` of the batches. Under the session's own tuning (256 KiB,
    ``threshold`` None) 1000 longs are a ``LocalRelation`` and 100 000 a
    ``LogicalRDD``."""
    key = "spark.sql.execution.arrow.localRelationThreshold"
    old = spark.conf.get(key)
    if threshold is not None:
        spark.conf.set(key, threshold)
    try:
        data = pa.table({"id": pa.array(range(rows), pa.int64())})
        df = materialize.local_frame(spark, data, "id long")
        assert df._jdf.queryExecution().analyzed().getClass().getSimpleName() == leaf
        assert df.count() == rows
    finally:
        spark.conf.set(key, old)


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


def test_sssp_one_action_per_round(graph, monkeypatch, forced):
    # the Spark loop; at this size the default regime solves on the driver
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
def test_k_core_builds_adjacency_only_when_it_peels(graph, monkeypatch, forced, k, peels):
    # the Spark loop; at this size the default regime solves on the driver
    calls = []
    _spy(monkeypatch, "_static_loop_frame", calls, "adjacency")
    assert _rows(alg.k_core(graph, k=k)) == _k_core_ref(k)
    assert calls == (["adjacency"] if peels else [])


# ------------------------------------------ connected components, driver finish
_RND = random.Random(61)
_CC_CASES = {
    "chain": [(i + 1, i) for i in range(30)],
    "star": [(100, i) for i in range(20)],
    "two_cliques": [
        (a, b) for base in (0, 10) for a, b in itertools.combinations(range(base, base + 6), 2)
    ],
    # ids at TPC-H strides: the k-th class of node ids starts at k * 2^40
    "random_strided": [
        ((_RND.randrange(1, 6) << 40) + _RND.randrange(40),
         (_RND.randrange(1, 6) << 40) + _RND.randrange(40))
        for _ in range(60)
    ],
    "duplicates_and_self_loops": [(1, 2), (2, 1), (1, 2), (3, 3), (2, 4), (4, 4), (5, 5)],
    "empty": [],
}
# vertices beyond the edge endpoints, which come out as their own components
_ISOLATED = [7, 9_000, 3 << 40]


def _cc_ref(edges, extra):
    parent = {}

    def find(v):
        while parent.setdefault(v, v) != v:
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    ids = {v for e in edges for v in e} | set(extra)
    return sorted((v, find(v)) for v in ids)


def _cc(spark, edges):
    verts = sorted({v for e in edges for v in e} | set(_ISOLATED))
    return alg.connected_components_edges(
        spark.createDataFrame(edges, "src long, dst long"),
        vertices=spark.createDataFrame([(v,) for v in verts], "id long"),
    )


@pytest.mark.parametrize("case", sorted(_CC_CASES))
def test_cc_driver_finish_matches_spark_rounds(spark, monkeypatch, request, case):
    edges = _CC_CASES[case]
    # an edge set with no edge between two distinct ids has nothing to contract
    contracts = any(a != b for a, b in edges)
    finishes, rounds = [], []
    _spy(monkeypatch, "_components_on_driver", finishes, "finish")
    _spy(monkeypatch, "_loop_width", rounds, "round")
    default = _rows(_cc(spark, edges))
    assert default == _cc_ref(edges, _ISOLATED)
    assert finishes == (["finish"] if contracts else []) and rounds == []
    finishes.clear()
    request.getfixturevalue("forced")
    assert _rows(_cc(spark, edges)) == default
    assert finishes == [] and bool(rounds) == contracts


def test_cc_spark_rounds_then_driver_finish(spark, monkeypatch, request):
    edges = _CC_CASES["random_strided"]
    canonical = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    finishes, rounds = [], []
    _spy(monkeypatch, "_components_on_driver", finishes, "finish")
    _spy(monkeypatch, "_loop_width", rounds, "round")
    # the gate admits one edge fewer than the graph has, so round 1 runs on
    # Spark and the contracted remainder finishes on the driver
    monkeypatch.setattr(materialize, "BROADCAST_ROW_LIMIT", len(canonical) - 1)
    mixed = _rows(_cc(spark, edges))
    assert rounds and finishes == ["finish"]
    assert mixed == _cc_ref(edges, _ISOLATED)
    request.getfixturevalue("forced")
    assert _rows(_cc(spark, edges)) == mixed


def _cc_union_ref(edges, vertices):
    """Composed rows of the ids a non-loop edge touches, plus one row per
    ``vertices`` row whose id has none (repeats kept)."""
    linked = [(a, b) for a, b in edges if a != b]
    incident = {v for e in linked for v in e}
    return sorted(_cc_ref(linked, ()) + [(v, v) for v in vertices if v not in incident])


@pytest.mark.parametrize("regime", ["default", "forced"])
def test_cc_isolated_vertices_repeats_and_missing_endpoints(spark, request, regime):
    if regime == "forced":
        request.getfixturevalue("forced")
    edges = [(1, 2), (2, 3), (10, 11), (20, 20)]
    # 7 and 9 repeat; 1 is incident and repeats; 3 and 11 are edge
    # endpoints missing from the vertex frame; 20 has only a self-loop and
    # is not a vertex, so it has no row
    vertices = [7, 7, 9, 1, 1, 2, 10, 9, 9]
    got = _rows(
        alg.connected_components_edges(
            spark.createDataFrame(edges, "src long, dst long"),
            vertices=spark.createDataFrame([(v,) for v in vertices], "id long"),
        )
    )
    assert got == _cc_union_ref(edges, vertices)
    assert got.count((7, 7)) == 2 and got.count((9, 9)) == 3 and got.count((1, 1)) == 1


def test_cc_reads_the_driver_map_once(spark, monkeypatch):
    maps = []
    real = alg._components_on_driver

    def keep(edges):
        frame, rows = real(edges)
        maps.append(frame)
        return frame, rows

    monkeypatch.setattr(alg, "_components_on_driver", keep)
    out = _cc(spark, _CC_CASES["random_strided"])
    # the map is a leaf (LocalRelation or LogicalRDD) whose output
    # attributes name it
    leaf = maps[0]._jdf.queryExecution().analyzed().toString().splitlines()[0]
    assert leaf.startswith(("LocalRelation", "LogicalRDD")) and "#" in leaf
    assert out._jdf.queryExecution().analyzed().toString().count(leaf) == 1


_groups = itertools.count()


def test_cc_job_count(spark):
    edges = _CC_CASES["random_strided"]
    sc = spark.sparkContext
    group = f"cc-jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        _cc(spark, edges).collect()
    finally:
        sc.setJobGroup(None, None)
    # the probe, the collect of the edges, and the final action's jobs;
    # each Spark round alone would add one or two
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 8


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
