"""``sssp``, ``bfs_distances`` and ``k_core`` solve on the driver when the
graph's measured edge count fits the broadcast gate.

Each case runs the operator twice: by default, where the edges are
collected once (``_DriverEdges``) and a numpy kernel replays the Spark
loop round for round, and under ``LARGE_REGIME`` (the ``forced`` fixture of
``test_large_regime.py``), where the Spark rounds run. The rows must be
equal, capped runs included, and the driver path must run by default and
never under the forced regime. Job-group pins on the sf0.001 TPC-H graph
check that a warm call of the registry entries runs a constant handful of
Spark jobs instead of one or more per round, and that bfs's Spark rounds
end without ``sssp``'s min-per-id checkpoint.
"""

import itertools
import random

import pytest

from cypher_for_apache_spark_spark.operators import algorithms as alg
from cypher_for_apache_spark_spark.sources import edgelist
from test_large_regime import forced  # noqa: F401  (fixture: the at-scale regime)
from test_loop_shapes import _rows, _spy
from test_registry_smoke import SF_DIR  # the sf0.001 test tables

_RND = random.Random(97)
# (src, dst, weight) edge lists; the first source of each case is a node
_CASES = {
    "chain": [(i, i + 1, float(1 + i % 3)) for i in range(12)],
    # in- and out-edges of one hub, with weights that make a two-hop path
    # beat a direct edge
    "star": [(100, i, 5.0) for i in range(10)]
    + [(i, 100, 1.0) for i in range(10, 15)]
    + [(100, 20, 1.0), (20, 3, 1.0)],
    # ids at TPC-H strides: the k-th class of node ids starts at k * 2^40
    "random_strided": [
        (
            (_RND.randrange(1, 5) << 40) + _RND.randrange(12),
            (_RND.randrange(1, 5) << 40) + _RND.randrange(12),
            float(_RND.randrange(1, 9)),
        )
        for _ in range(70)
    ],
    "null_weights": [(1, 2, None), (2, 3, 4.0), (1, 3, None), (3, 4, None), (4, 1, 2.0)],
    "self_loops_and_duplicates": [
        (1, 2, 3.0), (1, 2, 1.0), (2, 1, 2.0), (3, 3, 1.0), (2, 3, 1.0),
        (3, 4, 1.0), (4, 4, 1.0), (4, 2, 1.0), (2, 3, 1.0), (5, 5, 1.0),
    ],
    "empty": [],
}
# not a node of any case
_STRANGER = 987_654_321


@pytest.fixture(scope="module")
def graphs(spark):
    return {
        name: edgelist.from_edge_df(spark.createDataFrame(edges, "src long, dst long, w double"))
        for name, edges in _CASES.items()
    }


def _sources(case):
    edges = _CASES[case]
    first = edges[0][0] if edges else 1
    # a duplicate source and one that is not a node
    return [first, _STRANGER, first]


def _driver_then_forced(request, monkeypatch, case, run):
    """Rows of ``run()`` by default and under the forced regime, which
    must be equal; checks which path each took."""
    collects = []
    _spy(monkeypatch, "_DriverEdges", collects, "collect")
    default = _rows(run())
    # an empty edge set has nothing to collect and takes the Spark loop
    assert collects == (["collect"] if _CASES[case] else [])
    collects.clear()
    request.getfixturevalue("forced")
    assert _rows(run()) == default
    assert collects == []
    return default


@pytest.mark.parametrize("cap", [1, 2, None])
@pytest.mark.parametrize("case", sorted(_CASES))
def test_sssp_driver_matches_spark_rounds(request, monkeypatch, graphs, case, cap):
    kw = {} if cap is None else {"max_iterations": cap}
    rows = _driver_then_forced(
        request, monkeypatch, case,
        lambda: alg.sssp(graphs[case], _sources(case), weight_prop="w", **kw),
    )
    assert (_STRANGER, 0.0) in rows


@pytest.mark.parametrize(
    "undirected, hops", [(False, None), (True, None), (True, 1), (False, 2)]
)
@pytest.mark.parametrize("case", sorted(_CASES))
def test_bfs_driver_matches_spark_rounds(request, monkeypatch, graphs, case, undirected, hops):
    rows = _driver_then_forced(
        request, monkeypatch, case,
        lambda: alg.bfs_distances(
            graphs[case], _sources(case), max_hops=hops, undirected=undirected
        ),
    )
    assert (_STRANGER, 0) in rows
    if hops is not None:
        assert all(d <= hops for _, d in rows)


@pytest.mark.parametrize("k, cap", [(1, None), (2, None), (3, None), (2, 1), (2, 2)])
@pytest.mark.parametrize("case", sorted(_CASES))
def test_k_core_driver_matches_spark_rounds(request, monkeypatch, graphs, case, k, cap):
    kw = {} if cap is None else {"max_iterations": cap}
    _driver_then_forced(request, monkeypatch, case, lambda: alg.k_core(graphs[case], k=k, **kw))


def test_caps_cut_the_rounds(graphs):
    """The capped fixtures above really stop early: fewer rows than the
    converged run (a cap that never binds would make them vacuous)."""
    g = graphs["chain"]
    src = _sources("chain")
    assert len(_rows(alg.sssp(g, src, weight_prop="w", max_iterations=2))) < len(
        _rows(alg.sssp(g, src, weight_prop="w"))
    )
    assert len(_rows(alg.bfs_distances(g, src, max_hops=1))) < len(
        _rows(alg.bfs_distances(g, src))
    )
    # a chain peels from both ends, one vertex per end and wave
    full = _rows(alg.k_core(g, k=2))
    assert full == [] and len(_rows(alg.k_core(g, k=2, max_iterations=2))) == 13 - 4 - 2


def test_sssp_null_weight_is_one(graphs):
    rows = dict(_rows(alg.sssp(graphs["null_weights"], [1], weight_prop="w")))
    # 1 -> 2 and 1 -> 3 are null (1.0); 3 -> 4 is null too
    assert rows == {1: 0.0, 2: 1.0, 3: 1.0, 4: 2.0}


_groups = itertools.count()


def warm_jobs(spark, entry):
    """Spark jobs of a warm call (plan and collect) of a registry entry
    on the sf0.001 tables."""
    import __spark_entry__ as E

    query = E.queries()[entry]
    # the first call loads the graph and counts each relationship table
    # once (element_rows)
    query(spark, SF_DIR).collect()
    sc = spark.sparkContext
    group = f"driver-loop-jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        query(spark, SF_DIR).collect()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("entry", ["sssp_customer_parts", "k_core_tpch"])
def test_registry_entry_job_count(spark, entry):
    # a warm call collects the edges once and runs the caller's action
    assert warm_jobs(spark, entry) <= 3


@pytest.mark.parametrize("entry", ["bfs_region_reach", "call_bfs_region"])
def test_bfs_spark_rounds_skip_the_min_per_id(spark, forced, entry):
    """Above the gate bfs runs ``_relax``'s Spark rounds with unit
    weights, where every id is settled once: no min-per-id checkpoint
    after the loop, whose groupBy cost 2 jobs (19 per warm call)."""
    assert warm_jobs(spark, entry) == 17
