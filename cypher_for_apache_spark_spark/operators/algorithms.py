"""Graph algorithms over PropertyGraph, DataFrame-native.

The reference integrates GraphX for this (morpheus-examples/
GraphXPageRankExample.scala, RDD-based); these implementations stay in the
DataFrame/Catalyst world instead: iterative equi-joins + aggregations with
``localCheckpoint`` every iteration to truncate lineage (the classic
iterative-DataFrame failure mode is exponential plan growth, not data
volume). All shuffles key on long node ids; AQE handles skewed hubs.
"""

from __future__ import annotations

import itertools
from typing import List, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F, types as T
from pyspark.sql.pandas.types import from_arrow_type

from cypher_for_apache_spark_spark.graph import PropertyGraph
from cypher_for_apache_spark_spark.materialize import (
    broadcastable as _broadcastable,
    local_frame as _local_frame,
    loop_width as _loop_width,
    materialize as _checkpoint,
    materialize_agg as _checkpoint_agg,
    materialize_count as _checkpoint_count,
    materialize_lazy as _checkpoint_lazy,
    maybe_broadcast as _maybe_broadcast,
    static_loop_frame as _static_loop_frame,
)


def _mirror(df: DataFrame, fwd, bwd, names) -> DataFrame:
    """Union of two row-orientations of ``df`` in ONE pass.

    ``fwd``/``bwd`` are per-orientation Column lists, ``names`` the output
    column names. The classic ``df.select(fwd).unionAll(df.select(bwd))``
    shape reads the input subtree TWICE (two scans of the parquet source,
    or two passes over a checkpoint) and the union SUMS its branches'
    partition counts, doubling downstream task fan-out; exploding a
    2-element struct array instead is one pass, one set of partitions,
    and stays inside whole-stage codegen (GenerateExec). Row multiset is
    identical — every input row contributes exactly one fwd and one bwd
    row either way (guide §2.3/§2.4: read once, keep partition counts
    flat)."""
    arr = F.array(
        F.struct(*[c.alias(n) for c, n in zip(fwd, names)]),
        F.struct(*[c.alias(n) for c, n in zip(bwd, names)]),
    )
    return df.select(F.explode(arr).alias("_mir")).select(
        *[F.col(f"_mir.{n}").alias(n) for n in names]
    )


def _edges(
    graph: PropertyGraph,
    rel_types=(),
    undirected: bool = False,
    weight: Optional[str] = None,
) -> DataFrame:
    """(src, dst) rows of ``graph``'s relationships of ``rel_types``, both
    orientations of each when ``undirected``. When ``weight`` names a
    relationship property, a double ``w`` column rides along (null: 1.0)."""
    e = graph.scan_rels(rel_types, out_id="_eid", out_src="src", out_dst="dst")
    if e is None:
        # no relationship tables (or none of the requested types): the
        # empty edge set, not an error — same semantics as a Cypher scan
        # of a nonexistent type (degrees all zero, singleton components)
        spark = _vertices(graph).sparkSession
        e = spark.range(0).select(F.col("id").alias("src"), F.col("id").alias("dst"))
    cols = [F.col("src"), F.col("dst")]
    if weight is not None and weight in e.columns:
        cols.append(F.coalesce(F.col(weight).cast("double"), F.lit(1.0)).alias("w"))
    e = e.select(cols)
    if undirected:
        rest = [F.col(c) for c in e.columns[2:]]
        e = _mirror(
            e,
            [F.col("src"), F.col("dst"), *rest],
            [F.col("dst"), F.col("src"), *rest],
            e.columns,
        )
    return e


def _vertices(graph: PropertyGraph) -> DataFrame:
    v = graph.scan_nodes(out_id="id", out_labels="_labels")
    return v.select("id")


def _power_iteration(links, v, n, s, div, iterations, damping) -> DataFrame:
    """The rank loop of ``pagerank`` and ``personalized_pagerank``: (id,
    rank) after ``iterations`` synchronous steps. ``links`` (src, dst,
    _deg) keyed on src and ``v`` (id, _sink and whatever the teleport
    Column ``s`` reads) keyed on id are ``_static_loop_frame``s, cached
    hash-partitioned so each round's joins exchange only the changing
    rank frame; ``n`` is the vertex count. The sink (dangling) flag rides
    as a column of ``v`` and so of every round's rank frame: the round's
    dangling-mass probe is a filter+aggregate over its checkpoint, not a
    semi-join against a separately persisted sink frame. r_0 = s and
    r' = (1-d)*s + d*(received + (d_sum / div)*s), where d_sum is the rank
    the dangling (sink) nodes hold: ``div`` = n with ``s`` = 1 spreads it
    uniformly, ``div`` = 1 with ``s`` summing to 1 returns it to the
    seeds. ``d_sum / div`` stays a division, not a reciprocal product, and
    ``s`` = 1 multiplies exactly, so pagerank's ranks are bit for bit
    those of r' = (1-d) + d*(received + d_sum / n)."""
    # every per-round frame is bounded by |V| (ranks/contribs: one row per
    # vertex) — when that MEASURED count is small the round's joins probe
    # the cached statics in place instead of exchanging the changing side
    # every iteration (see maybe_broadcast)
    ranks = v.select("id", s.alias("rank"), "_sink")
    # the dangling (sink) mass rides as a DRIVER SCALAR: each round's
    # checkpoint action also returns the sink-rank sum (materialize_agg —
    # one job for both), and the next round's rank expression embeds it
    # as a literal. The former shape paid a separate 1-row aggregation
    # job + broadcast build + BroadcastNestedLoopJoin per iteration for
    # the same double. One cheap upfront aggregate over the cached static
    # v seeds the first round.
    d_sum = (
        ranks.filter(F.col("_sink")).agg(F.sum("rank")).collect()[0][0] or 0.0
    )
    for _ in range(iterations):
        cur = ranks.select("id", "rank")
        contribs = (
            links.join(_maybe_broadcast(cur, n), links.src == cur.id)
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("_deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("received"))
        )
        ranks = v.join(_maybe_broadcast(contribs, n), "id", "left_outer").select(
            "id",
            (
                F.lit(1 - damping) * s
                + F.lit(damping)
                * (
                    F.coalesce(F.col("received"), F.lit(0.0))
                    + F.lit(d_sum / div) * s
                )
            ).alias("rank"),
            "_sink",
        )
        # truncate lineage per iteration (stats reset as before) AND pull
        # next round's dangling sum out of the same materialization job
        ranks, row = _checkpoint_agg(
            ranks, F.sum(F.when(F.col("_sink"), F.col("rank")))
        )
        d_sum = row[0] or 0.0
    return ranks.select("id", "rank")


def pagerank(
    graph: PropertyGraph,
    iterations: int = 10,
    damping: float = 0.85,
    rel_types=(),
) -> DataFrame:
    """(id, rank) after ``iterations`` synchronous PageRank steps.

    Dangling nodes' mass is redistributed uniformly each step, so ranks sum
    to |V| throughout (matching the classic formulation). The steps are
    ``personalized_pagerank``'s power iteration (``_power_iteration``)
    with a teleport of 1 on every vertex; out-degrees count parallel
    edges. A graph with no nodes has an empty result.
    """
    e = _edges(graph, rel_types)
    out_deg = e.groupBy("src").agg(F.count("*").alias("_deg"))
    links, _, drop_links = _static_loop_frame(e.join(out_deg, "src"), "src")
    v, n, drop_v = _static_loop_frame(
        _vertices(graph)
        .join(
            out_deg.select(F.col("src").alias("id"), F.lit(True).alias("_has")),
            "id",
            "left_outer",
        )
        .select("id", F.col("_has").isNull().alias("_sink")),
        "id",
    )
    # no vertex, no dangling mass: any divisor keeps the empty result
    ranks = _power_iteration(
        links, v, n, F.lit(1.0), float(max(n, 1)), iterations, damping
    )
    drop_links()
    drop_v()
    return ranks


def connected_components(
    graph: PropertyGraph,
    max_iterations: int = 30,
    rel_types=(),
    jumps_per_round: int = 2,
) -> DataFrame:
    """(id, component) over a PropertyGraph — see
    ``connected_components_edges`` for the algorithm; this wrapper feeds it
    the graph's edge and vertex frames (isolated vertices get their own
    component id)."""
    return connected_components_edges(
        _edges(graph, rel_types),
        vertices=_vertices(graph),
        max_iterations=max_iterations,
        jumps_per_round=jumps_per_round,
    )


class _DriverEdges:
    """(src, dst) edges already on the driver, as a ``pyarrow.Table``:
    ``np.unique`` over both endpoint columns and any ``extra_ids`` maps
    ids to dense indices. ``ids`` is sorted, so index order is id order;
    ``src``, ``dst`` and ``extra`` are index arrays, and ``cols`` holds
    the table's other columns (a ``w`` weight, a relationship id) by name.
    ``frame`` returns numpy or Arrow columns as a DataFrame of ``spark``
    with a declared schema through ``local_frame``. Every driver-side
    solve goes through this, so the id mapping and the Arrow round trip
    exist once; the edges come from a graph's ``driver_projection``
    (``_graph_edges``) or from one ``toArrow()`` of a frame."""

    def __init__(self, spark, edges: pa.Table, extra_ids=()):
        src = edges.column("src").to_numpy()
        self.ids, idx = np.unique(
            np.concatenate(
                [src, edges.column("dst").to_numpy(), np.asarray(extra_ids, dtype=src.dtype)]
            ),
            return_inverse=True,
        )
        n = len(src)
        self.src, self.dst, self.extra = idx[:n], idx[n : 2 * n], idx[2 * n :]
        self.cols = {
            c: edges.column(c).to_numpy() for c in edges.column_names if c not in ("src", "dst")
        }
        self.spark = spark

    def frame(self, schema, **columns) -> DataFrame:
        return _local_frame(self.spark, pa.table(columns), schema)


def _fits_driver(graph: PropertyGraph, rel_types) -> bool:
    """Whether a loop over ``graph``'s relationships of ``rel_types`` is
    solved on the driver: their measured row count is non-zero and within
    the broadcast gate (``broadcastable``). ``element_rows`` counts each
    table once per graph, so only a graph's first call runs count jobs,
    and the solve reads the relationships from the graph's
    ``driver_projection``, collected on its first solve over them.
    ``LARGE_REGIME`` (gate 0) sends every loop to its Spark rounds, so it
    never fills the projection."""
    n = graph.element_rows(graph.matching_rel_tables(rel_types))
    return 0 < n and _broadcastable(n)


def _hops(edges: pa.Table, direction: str) -> pa.Table:
    """``edges``' (src, dst, ...) rows oriented hop-wise: ``out`` as
    stored, ``in`` swapped, otherwise both orientations concatenated
    (``_mirror``'s rows)."""
    if direction == "out":
        return edges
    names = edges.column_names
    back = edges.rename_columns(["dst", "src", *names[2:]]).select(names)
    if direction == "in":
        return back
    # one side's column may be declared non-null and the other not
    return pa.concat_tables([edges, back], promote_options="default")


def _graph_edges(graph: PropertyGraph, rel_types, direction="out", weight=None, extra_ids=()):
    """``_DriverEdges`` of ``graph``'s relationships of ``rel_types`` from
    its ``driver_projection``, oriented by ``direction`` (``_hops``); the
    caller has checked ``_fits_driver``."""
    spark = graph.matching_rel_tables(rel_types)[0].df.sparkSession
    edges = _hops(graph.driver_projection(rel_types, weight), direction)
    return _DriverEdges(spark, edges, extra_ids)


def _csr(n: int, key, *cols):
    """``cols`` grouped by ``key`` (dense indices below ``n``):
    ``(start, *cols)``, where the rows of index i are
    ``start[i]:start[i + 1]``."""
    order = np.argsort(key, kind="stable")
    start = np.concatenate([[0], np.cumsum(np.bincount(key, minlength=n))])
    return (start, *(c[order] for c in cols))


def _rows_of(start, nodes):
    """Positions of the CSR rows of ``nodes``, and for each the index in
    ``nodes`` it belongs to."""
    lo, cnt = start[nodes], start[nodes + 1] - start[nodes]
    pos = np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(cnt.sum())
    return pos, np.repeat(np.arange(len(nodes)), cnt)


def _relax_on_driver(g: _DriverEdges, w, rounds):
    """``sssp``'s frontier loop in numpy, round for round, from the seeds
    ``g.extra`` over a CSR of ``g``'s edges weighted ``w``; ``rounds`` is
    the iterable of rounds allowed. Each round relaxes the out-edges of the
    frontier into one candidate minimum per node (``np.minimum.at``), and
    a node joins the next frontier iff no distance was recorded for it or
    its candidate is strictly below it, the Spark loop's anti-join. Work
    per round is the frontier's out-edges. Returns ``(dist, reached)``
    per index."""
    n = len(g.ids)
    start, dst, w = _csr(n, g.src, g.dst, w)
    dist = np.full(n, np.inf)
    reached = np.zeros(n, dtype=bool)
    frontier = np.unique(g.extra)
    dist[frontier], reached[frontier] = 0.0, True
    for _ in rounds:
        pos, row = _rows_of(start, frontier)
        owner, tgt = frontier[row], dst[pos]
        touched = np.unique(tgt)
        before = dist[touched]
        # the candidates are computed from the distances before the round
        np.minimum.at(dist, tgt, dist[owner] + w[pos])
        frontier = touched[~reached[touched] | (dist[touched] < before)]
        if not len(frontier):
            break
        reached[frontier] = True
    return dist, reached


def _peel_on_driver(g: _DriverEdges, k: int, waves: int):
    """``k_core``'s peeling in numpy, wave for wave, over the canonical
    edges of ``g`` (``(min, max)`` index pairs, self-loops and duplicates
    dropped). Degrees come from ``np.bincount``; a wave deletes every live
    vertex below k, and only its surviving neighbours lose degree
    (``np.subtract.at`` over the wave's CSR rows) and are the candidates
    for the next wave, so work per wave is the wave's adjacency. At most
    ``waves`` waves run. Returns ``(keep, degree)`` per index, where keep
    marks the vertices alive with degree >= k."""
    n = len(g.ids)
    a, b = np.minimum(g.src, g.dst), np.maximum(g.src, g.dst)
    a, b = np.divmod(np.unique((a * n + b)[a != b]), max(n, 1))
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    start, nbr = _csr(n, np.concatenate([a, b]), np.concatenate([b, a]))
    # a vertex no canonical edge touches has no degree row in the Spark
    # loop, so it is never part of a wave
    alive = deg > 0
    cand = np.flatnonzero(alive)
    for _ in range(waves):
        wave = cand[alive[cand] & (deg[cand] < k)]
        if not len(wave):
            break
        alive[wave] = False
        hit = nbr[_rows_of(start, wave)[0]]
        hit = hit[alive[hit]]
        np.subtract.at(deg, hit, 1)
        cand = np.unique(hit)
    return alive & (deg >= k), deg


def _trails_on_driver(hops: pa.Table, sources: DataFrame, lo: int, hi, single: bool, names):
    """The per-path shortestPath / allShortestPaths rounds of
    ``Planner._plan_shortest_path`` (minimum length ``lo`` 0 or 1, at most
    ``hi`` hops, ``None``: until the frontier drains) in numpy, round for
    round: a frame of ``(src, ids, end)`` rows named ``names``, one per
    shortest trail from an id of ``sources`` (its only column) over the
    hop-oriented relationships ``hops`` (src, dst, rid) already on the
    driver; None when they do not fit the driver.

    One collect of the distinct sources (``_DriverEdges`` maps them with
    the relationships). A round expands every
    frontier row over the CSR rows of its end node, drops the rows whose
    relationship id is already in their list (trail semantics), keeps in
    ``single`` mode the lexicographically least list per (src, end) pair
    (``np.lexsort``, the Spark rounds' ``min``), and prunes the pairs an
    earlier level reached (not in round 1 when ``lo`` is 1). All lists of
    a round have one length, so a level's lists are a rows x depth matrix.
    Before a round the kernel checks that the entries it would hold, the
    levels' lists plus the expanded frontier's (a row with an empty list
    counts once), stay within the broadcast gate, and gives up otherwise:
    many pairs, or long paths, over few edges cannot exhaust the driver's
    memory."""
    seeds = sources.toArrow().column(0).drop_null().to_numpy()
    g = _DriverEdges(sources.sparkSession, hops, extra_ids=seeds)
    n = len(g.ids)
    start, far, rid = _csr(n, g.src, g.dst, g.cols["rid"])
    f_src = f_end = np.unique(g.extra)
    f_ids = np.empty((len(f_src), 0), dtype=rid.dtype)
    levels = [(f_src, f_ids, f_end) if lo == 0 else (f_src[:0], f_ids[:0], f_end[:0])]
    visited = levels[0][0] * n + levels[0][2]
    held = len(visited)
    for depth in itertools.count(1) if hi is None else range(1, hi + 1):
        if not _broadcastable(held + int((start[f_end + 1] - start[f_end]).sum()) * depth):
            return None
        pos, row = _rows_of(start, f_end)
        trail = ~(f_ids[row] == rid[pos, None]).any(axis=1)
        pos, row = pos[trail], row[trail]
        src, ids, end = f_src[row], np.column_stack([f_ids[row], rid[pos]]), far[pos]
        pair = src * n + end
        if single:
            order = np.lexsort((*ids.T[::-1], pair))
            least = order[np.unique(pair[order], return_index=True)[1]]
            src, ids, end, pair = src[least], ids[least], end[least], pair[least]
        if lo == 0 or depth > 1:
            new = ~np.isin(pair, visited)
            src, ids, end, pair = src[new], ids[new], end[new], pair[new]
        if not len(src):
            break
        levels.append((src, ids, end))
        visited = np.concatenate([visited, pair])
        held += len(src) * depth
        f_src, f_ids, f_end = src, ids, end
    srcs, lists, ends = zip(*levels)
    sizes = np.concatenate([np.full(len(m), m.shape[1]) for m in lists])
    ids = pa.ListArray.from_arrays(
        np.concatenate([[0], np.cumsum(sizes)]).astype(np.int32),
        np.concatenate([m.ravel() for m in lists]),
    )
    src_c, ids_c, end_c = names
    node = from_arrow_type(hops.schema.field("src").type)
    schema = T.StructType(
        [
            T.StructField(src_c, node),
            T.StructField(ids_c, T.ArrayType(from_arrow_type(hops.schema.field("rid").type))),
            T.StructField(end_c, node),
        ]
    )
    return g.frame(
        schema,
        **{src_c: g.ids[np.concatenate(srcs)], ids_c: ids, end_c: g.ids[np.concatenate(ends)]},
    )


def _components_on_driver(edges: DataFrame):
    """(id, comp) over a canonical (src, dst) edge frame small enough to
    collect (one ``toArrow()`` into ``_DriverEdges``), solved in numpy,
    where comp is the
    minimum id of each component; returns ``(frame, rows)``.

    The dense indices sort like the ids, so the minimum index of a
    component is its minimum id. Each iteration hooks roots: every live
    edge's larger root points at the smallest root it touches
    (``np.minimum.at``), then pointer jumping runs to a fixpoint so every
    label is a root again. Labels only ever point down, so there are no
    cycles, each tree's root is its minimum, and every iteration removes
    at least one tree per component that still has a live edge. An edge
    whose endpoints share a root stays inside one tree, so it is dropped
    from later iterations. On 1M random edges over 1M ids (numpy 1.26, one
    core) the hooking took 5 iterations and 0.19 s of CPU after a 0.25 s
    ``np.unique``; min-label propagation with a pointer jump per iteration
    took 20 iterations and 0.51 s."""
    g = _DriverEdges(edges.sparkSession, edges.toArrow())
    a, b = g.src, g.dst
    lbl = np.arange(len(g.ids))
    while len(a):
        la, lb = lbl[a], lbl[b]
        live = la != lb
        a, b, la, lb = a[live], b[live], la[live], lb[live]
        np.minimum.at(lbl, np.maximum(la, lb), np.minimum(la, lb))
        while True:
            jumped = lbl[lbl]
            if np.array_equal(jumped, lbl):
                break
            lbl = jumped
    id_type = edges.schema["src"].dataType
    schema = T.StructType([T.StructField("id", id_type), T.StructField("comp", id_type)])
    return g.frame(schema, id=g.ids, comp=g.ids[lbl]), len(g.ids)


def connected_components_edges(
    edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    max_iterations: int = 30,
    jumps_per_round: int = 2,
) -> DataFrame:
    """(id, component) where component is the minimum node id in each
    undirected connected component of an (src, dst) edge frame — usable
    directly on any pair list (duplicate pairs, co-occurrence edges), not
    just PropertyGraphs. ``vertices`` (optional single ``id`` column) adds
    isolated vertices as their own components.

    Contract, then solve in memory: the schedule of Kiveris et al.,
    "Connected Components in MapReduce and Beyond" (SoCC 2014), and of
    Łącki et al., "Connected Components at Scale via Local Contractions"
    (2018). The canonical edge set's checkpoint probe counts it; while
    that count is above the broadcast gate (``broadcastable``, the bound
    under which a round's label map is already shipped whole to every
    executor), Spark rounds contract the graph. Once the remainder fits,
    one ``toArrow()`` collects it and ``_components_on_driver`` finishes in
    numpy. The finish's (id, comp) map is the last round map. At bench
    scale no Spark round runs at all: one probe job, one collect job.

    A Spark round is a min-star **edge contraction**: (1) every vertex
    adopts the minimum of itself and its neighbours, (2) the label map is
    compressed with ``jumps_per_round`` pointer jumps, (3) the edge set is
    *rewritten on the contracted graph* (endpoints replaced by labels,
    self-loops and duplicates dropped), and (4) the original-vertex ->
    label map is composed through the round's contraction.
    ``max_iterations`` caps only these rounds: the driver finish always
    converges, so a remainder within the gate is solved whatever the cap.
    A remainder above the gate after the cap leaves components split, as
    an early stop of any round-based algorithm does.

    Scale design:
    - Work per round is proportional to the *remaining* edge count, which
      shrinks geometrically (each vertex merges with at least one neighbour
      per round), so rounds get cheaper — unlike label propagation, where
      every round touches all |E| edges and chain graphs need O(diameter)
      rounds. Measured on order-chain data: 4 rounds vs 13.
    - Every per-round frame is cut over with ``_checkpoint`` — eager
      localCheckpoint for lineage truncation plus a stats reset. Without the
      reset, the checkpoint inherits the self-joined plan's sizeInBytes
      estimate and Catalyst stats estimation goes exponential in bit-length
      (see _reset_stats).
    - All shuffles are equi-joins / aggregations on long ids.
    - Each round runs two Spark actions (the label-map checkpoint and the
      rewrite's checkpoint probe) at a fixed driver cost of ~20 ms of JVM
      CPU each, which dominates once the remainder is small; the driver
      finish on the same remainder is milliseconds of numpy.
      ``LARGE_REGIME`` (gate 0) keeps every contraction on Spark rounds.
    """
    # canonical undirected edge set: src < dst, no self-loops, deduped
    # (checkpoint + termination probe fused into one job — see
    # materialize_count)
    cur_e, n_e = _checkpoint_count(
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    # the first round map (a Spark round's min-adopt groupBy over both
    # orientations, or the driver finish's) carries EVERY incident vertex,
    # so it starts the composition; the dedup of the canonical edges'
    # endpoints (an exchange) runs only when no round ran at all
    touched = _mirror(cur_e, [F.col("src")], [F.col("dst")], ["id"])
    n_touched = 2 * n_e
    # per-round contraction maps, composed once at the end — a per-round
    # compose would cost a |V|-sized join + checkpoint every round, while
    # the maps shrink geometrically and the last (the driver finish's)
    # broadcasts
    round_maps: List[DataFrame] = []
    map_bounds: List[int] = []
    # the probe count is the gate: a Spark round runs only while the edges
    # are above the broadcast limit, so its label map (up to 2 * |edges|
    # rows) is above it too and no round join is broadcast-hinted
    for _ in range(max_iterations):
        if n_e == 0 or _broadcastable(n_e):
            break
        v_bound = 2 * n_e
        und = _mirror(
            cur_e,
            [F.col("src"), F.col("dst")],
            [F.col("dst"), F.col("src")],
            ["src", "dst"],
        )
        # each super-vertex adopts min(self, neighbours); measured-width
        # exchange first so the slim min-adopt aggregate + jump joins +
        # checkpoint don't serialize under AQE's byte-based coalescing
        lbl = (
            und.repartition(_loop_width(und, v_bound), "src")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("dst").alias("_nmin"))
            .select("id", F.least("id", "_nmin").alias("comp"))
        )
        # pointer jumping compresses label chains before the rewrite
        for _ in range(jumps_per_round):
            jump = lbl.select(F.col("id").alias("_jid"), F.col("comp").alias("_jcomp"))
            lbl = lbl.join(jump, lbl.comp == jump._jid, "left_outer").select(
                "id", F.coalesce("_jcomp", "comp").alias("comp")
            )
        # eager: the rewrite's two sort-merge joins would race to compute
        # a lazy checkpoint (possible duplicate compute on a cluster)
        lbl = _checkpoint(lbl)
        # rewrite edges on the contracted graph; both endpoint lookups
        # join the same checkpointed label map, aliased twice
        la, lb = lbl.alias("_cca"), lbl.alias("_ccb")
        cur_e, n_e = _checkpoint_count(  # no edges left: fully contracted
            cur_e.join(la, F.col("src") == F.col("_cca.id"))
            .join(lb, F.col("dst") == F.col("_ccb.id"))
            .select(
                F.least(F.col("_cca.comp"), F.col("_ccb.comp")).alias("src"),
                F.greatest(F.col("_cca.comp"), F.col("_ccb.comp")).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates()
        )
        round_maps.append(lbl)
        map_bounds.append(v_bound)
    if n_e and _broadcastable(n_e):
        lbl, n_v = _components_on_driver(cur_e)
        round_maps.append(lbl)
        map_bounds.append(n_v)
    # compose original vertex -> final super-vertex through every round;
    # round 1's map over the incident vertices IS the first composition
    if round_maps:
        total = round_maps[0].select("id", F.col("comp").alias("component"))
    else:
        total = touched.dropDuplicates().select("id", F.col("id").alias("component"))
    for i, lbl in enumerate(round_maps):
        if i == 0:
            continue
        jmp = lbl.select(F.col("id").alias("_lid"), F.col("comp").alias("_lcomp"))
        total = total.join(
            _maybe_broadcast(jmp, map_bounds[i]),
            total.component == jmp._lid,
            "left_outer",
        ).select("id", F.coalesce("_lcomp", "component").alias("component"))
    if vertices is not None:
        # isolated vertices are those no canonical edge touches, found
        # against the edge checkpoint rather than the first map's ids, so
        # the map is read once per action (a driver finish's map is a
        # local_frame: a LocalRelation scanned, or above Arrow's local
        # relation threshold a LogicalRDD of batches decoded, per read)
        isolated = vertices.join(
            _maybe_broadcast(touched, n_touched), "id", "left_anti"
        ).select("id", F.col("id").alias("component"))
        total = total.unionByName(isolated)
    return total


def bfs_distances(
    graph: PropertyGraph,
    source_ids: List[int],
    rel_types=(),
    max_hops: Optional[int] = None,
    undirected: bool = False,
) -> DataFrame:
    """(id, dist) = minimum hop count from any source, unreachable nodes
    omitted; sources that are not nodes come back at 0.

    ``sssp``'s relaxation (``_relax``) with every edge weighing 1, over
    both orientations of each edge when ``undirected``, for at most
    ``max_hops`` rounds (``None``: until the frontier drains). With unit
    weights a node improves exactly in the round that first reaches it,
    so each round is BFS's frontier expansion: on the driver when the
    edges fit the broadcast gate, else one Spark action per round whose
    work is proportional to the frontier, never the visited set.
    """
    rounds = itertools.count() if max_hops is None else range(max_hops)
    dist = _relax(graph, source_ids, rel_types, rounds, undirected=undirected)
    return dist.select("id", F.col("dist").cast("long").alias("dist"))


def triangle_count(graph: PropertyGraph, rel_types=()) -> DataFrame:
    """Global triangle count (undirected, ignoring parallel edges).

    Canonical-ordering join: each triangle {a<b<c} is counted exactly once
    via edges (a,b),(b,c),(a,c)."""
    # three join branches read the canonical edge set — scoped
    # materialization (persist() here leaked a CacheManager entry per call)
    e = _checkpoint(
        _edges(graph, rel_types, undirected=True)
        .filter(F.col("src") < F.col("dst"))
        .dropDuplicates()
    )
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    out = tri.agg(F.count("*").alias("triangles"))
    return out


def degrees(graph: PropertyGraph, rel_types=()) -> DataFrame:
    """(id, out_degree, in_degree, degree) for every node.

    One aggregation over the endpoint union instead of separate src/dst
    groupBys: the edge scan is read once, the partial (map-side) aggregate
    carries two counters per id, and the vertex frame joins a single
    degree table (r8: 2 scans + 2 joins -> 1 scan + 1 join; results
    identical — both shapes count the same multiset)."""
    e = _edges(graph, rel_types)
    both = _mirror(
        e,
        [F.col("src"), F.lit(1), F.lit(0)],
        [F.col("dst"), F.lit(0), F.lit(1)],
        ["id", "_o", "_i"],
    )
    d = both.groupBy("id").agg(
        F.sum("_o").alias("out_degree"), F.sum("_i").alias("in_degree")
    )
    v = _vertices(graph)
    return v.join(d, "id", "left_outer").select(
        "id",
        F.coalesce("out_degree", F.lit(0)).cast("long").alias("out_degree"),
        F.coalesce("in_degree", F.lit(0)).cast("long").alias("in_degree"),
        (F.coalesce("out_degree", F.lit(0)) + F.coalesce("in_degree", F.lit(0)))
        .cast("long")
        .alias("degree"),
    )


def k_core(
    graph: PropertyGraph,
    k: int,
    rel_types=(),
    max_iterations: int = 100,
) -> DataFrame:
    """(id, degree) for vertices of the k-core: the maximal subgraph where
    every vertex has undirected degree >= k.

    Synchronous peeling over the canonical edge set (``(min, max)`` pairs,
    self-loops and duplicates dropped): each wave deletes every vertex
    whose degree is below k, and only the surviving neighbours of the
    wave lose degree. It converges when a wave deletes nothing;
    ``max_iterations`` caps the waves, and a capped result keeps the
    vertices that are alive with degree >= k after the last wave.

    When the graph's measured edge count fits the broadcast gate
    (``_fits_driver``), a numpy kernel (``_peel_on_driver``) replays the
    waves on the driver over the graph's ``driver_projection``
    (``_graph_edges``), so the graph's first call runs one collect job
    and a later one runs none, instead of one or more per wave.

    Above the gate, the waves are Spark rounds. Work per round is
    proportional to remaining edges, which only shrinks; every per-round
    frame is lineage-truncated with the scoped checkpoint (the same
    discipline as connected_components — the classic failure mode of
    iterative DataFrames is exponential plan growth, not data volume).
    The adjacency is lazy. Round 1's peel test needs only the initial
    degrees, which one action computes from the canonical edges (a lazy
    checkpoint that this action fills). The cached, re-partitioned and
    sorted adjacency the later rounds probe is built at the first round
    that actually deletes a vertex, so a graph that is already a k-core
    pays for no adjacency at all.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if _fits_driver(graph, rel_types):
        g = _graph_edges(graph, rel_types)
        keep, deg = _peel_on_driver(g, k, max_iterations)
        return g.frame("id long, degree long", id=g.ids[keep], degree=deg[keep])
    canon = (
        _edges(graph, rel_types).select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    # lazy: deg0's action is canon's single first consumer and computes
    # both; a later first peel builds the adjacency from canon's blocks
    canon = _checkpoint_lazy(canon)
    deg0 = _checkpoint(
        _mirror(canon, [F.col("src")], [F.col("dst")], ["id"])
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    # delta-only iteration: degrees are aggregated ONCE; every later round
    # materializes nothing but the (tiny) per-round wave, the cumulative
    # dead set, and the cumulative decrement table. An edge (u, v) is live
    # exactly until its first endpoint dies, so when v dies in round t the
    # surviving neighbours to decrement are v's ORIGINAL neighbours not in
    # the dead set — the edge frame is never rewritten, and the current
    # degree of any vertex is always degree0 - cum_dec. The previous shape
    # re-checkpointed O(V) degree rows (and before that O(E) edge rows)
    # every round; on long-lived sessions those block-manager writes, not
    # the peeling math, dominated wall time (sf1: 28-40 s -> ~9 s warm).
    # every cumulative frame is count-tracked by the loop's own probes
    # (dead_all: sum of the wave counts; cum: bounded by the touched
    # neighbour count of all waves so far) so their joins broadcast-gate
    # on measured sizes — small peels probe deg0/adj in place
    adj = None
    dead_all = None
    n_dead = 0
    cum = None  # (id, _cum) — total decrements so far
    n_cum = 0
    def _cur_deg():
        if cum is None:
            return deg0
        return deg0.join(_maybe_broadcast(cum, n_cum), "id", "left").select(
            "id",
            (F.col("degree") - F.coalesce(F.col("_cum"), F.lit(0))).alias(
                "degree"
            ),
        )
    for _ in range(max_iterations):
        below = _cur_deg().filter(F.col("degree") < k).select("id")
        if dead_all is not None:
            below = below.join(_maybe_broadcast(dead_all, n_dead), "id", "left_anti")
        newly, n_newly = _checkpoint_count(below)
        if n_newly == 0:
            break
        if adj is None:
            # first peel: the adjacency (both orientations of the canonical
            # edge set) makes the per-round "neighbours of the wave" lookup
            # ONE equi-join on a single key instead of a src-branch +
            # dst-branch pair. It is cached at 8x the static-frame width
            # (~250k rows/partition) and each wave joins it broadcast, so
            # it is probed in place every round — no exchange, no sort
            adj, _, drop_adj = _static_loop_frame(
                _mirror(
                    canon,
                    [F.col("src"), F.col("dst")],
                    [F.col("dst"), F.col("src")],
                    ["id", "nbr"],
                ),
                "id",
                multiplier=8,
            )
        n_dead += n_newly
        dead_all = (
            newly
            if dead_all is None
            else _checkpoint(dead_all.unionByName(newly))
        )
        # surviving neighbours of this round's wave (each canonical edge
        # contributes from exactly the side its dead endpoint occupies —
        # i.e. the wave's adjacency rows; both-endpoints-dead edges drop
        # via the dead_all anti-join)
        touched = adj.join(_maybe_broadcast(newly, n_newly), "id").select(
            F.col("nbr").alias("id")
        )
        dec = (
            touched.join(_maybe_broadcast(dead_all, n_dead), "id", "left_anti")
            .groupBy("id")
            .agg(F.count("*").alias("_dec"))
        )
        if cum is None:
            cum, n_cum = _checkpoint_count(dec.withColumnRenamed("_dec", "_cum"))
        else:
            cum, n_cum = _checkpoint_count(
                cum.unionByName(dec.withColumnRenamed("_dec", "_cum"))
                .groupBy("id")
                .agg(F.sum("_cum").alias("_cum"))
            )
    if adj is not None:
        drop_adj()
    out = _cur_deg().filter(F.col("degree") >= k)
    if dead_all is not None:
        out = out.join(_maybe_broadcast(dead_all, n_dead), "id", "left_anti")
    return out


def sssp(
    graph: PropertyGraph,
    sources: List[int],
    weight_prop: Optional[str] = None,
    rel_types=(),
    max_iterations: int = 50,
) -> DataFrame:
    """Weighted single-/multi-source shortest-path distances over directed
    edges with non-negative weights: (id, dist) for every reachable node;
    sources that are not nodes come back at 0.0. With ``weight_prop``
    unset (or null on an edge) the weight is 1.0.

    Bellman-Ford frontier iteration (``_relax``, which ``bfs_distances``
    runs with unit weights): each round relaxes only edges leaving nodes
    whose distance improved last round, a node improves iff its candidate
    is strictly below every distance recorded for it, and the loop stops
    when no node improves. ``max_iterations`` caps the rounds; a capped
    result holds the distances after the last round.
    """
    return _relax(graph, sources, rel_types, range(max_iterations), weight=weight_prop)


def _relax(
    graph: PropertyGraph, sources, rel_types, rounds, weight=None, undirected=False
) -> DataFrame:
    """(id long, dist double) of ``sssp``'s frontier loop over ``graph``'s
    ``rel_types`` relationships, both orientations of each when
    ``undirected``, weighted by the ``weight`` property where the tables
    have it (else every edge weighs 1.0), from the ``sources`` ids, for at
    most the rounds of the iterable ``rounds``. ``sssp`` and
    ``bfs_distances`` both run it.

    When the graph's measured edge count fits the broadcast gate
    (``_fits_driver``), a numpy kernel over a CSR replays the rounds on
    the driver (``_relax_on_driver``) over the graph's
    ``driver_projection`` (``_graph_edges``), so the graph's first call
    runs one collect job and a later one runs none, instead of one per
    round.

    Above the gate, the rounds are Spark jobs. Work per round is
    O(frontier-out-edges). ``settled`` is the union of the seeds and every
    round's checkpointed improvements: a flat plan of already-computed
    blocks whose row count is the sum of the rounds' probes. A candidate
    distance survives iff no recorded distance for its node is <= it (a
    gated ``left_anti`` on ``id = _sid AND _sd <= _nd``), which is exactly
    "it improves on the node's minimum so far" without keeping that
    minimum per round. So a round is ONE Spark action (its checkpoint and
    count), and the min per id is taken once, after the loop, into one
    checkpoint that the caller's actions share. Without a ``w`` column a
    node improves only in the round that first reaches it, so every id is
    in ``settled`` once and the loop returns it as it stands.
    """
    seeds = sorted({int(s) for s in sources})
    if _fits_driver(graph, rel_types):
        g = _graph_edges(
            graph, rel_types, "both" if undirected else "out", weight, extra_ids=seeds
        )
        w = g.cols.get("w", np.ones(len(g.src)))
        dist, reached = _relax_on_driver(g, w, rounds)
        return g.frame("id long, dist double", id=g.ids[reached], dist=dist[reached])
    e = _edges(graph, rel_types, undirected=undirected, weight=weight)
    w = F.col("w") if "w" in e.columns else F.lit(1.0)
    edges, _, drop_edges = _static_loop_frame(e, "src")
    frontier = _local_frame(
        edges.sparkSession, [(s, 0.0) for s in seeds], "id long, d double"
    )
    settled = frontier
    n_frontier = n_settled = len(seeds)
    for _ in rounds:
        cand = (
            _maybe_broadcast(frontier, n_frontier)
            .join(edges, frontier["id"] == edges["src"])
            .select(F.col("dst").alias("id"), (F.col("d") + w).alias("_nd"))
            .groupBy("id")
            .agg(F.min("_nd").alias("_nd"))
        )
        known = settled.select(F.col("id").alias("_sid"), F.col("d").alias("_sd"))
        # checkpoint + termination probe (doubles as next round's
        # broadcast gate) in one job
        improved, n_frontier = _checkpoint_count(
            cand.join(
                _maybe_broadcast(known, n_settled),
                (F.col("id") == F.col("_sid")) & (F.col("_sd") <= F.col("_nd")),
                "left_anti",
            ).select("id", F.col("_nd").alias("d"))
        )
        if n_frontier == 0:
            break
        settled = settled.unionByName(improved)
        n_settled += n_frontier
        frontier = improved
    drop_edges()
    if "w" not in e.columns:
        return settled.select("id", F.col("d").alias("dist"))
    return _checkpoint(settled.groupBy("id").agg(F.min("d").alias("dist")))


def clustering_coefficient_edges(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient over an undirected (src, dst)
    edge frame: ``2 * triangles(v) / (deg(v) * (deg(v) - 1))``, 0.0 for
    degree < 2 — how close each node's neighborhood is to a clique (the
    per-node refinement of ``triangle_count``).

    Same canonical-ordering discipline as triangle_count (each triangle
    {a<b<c} materializes once; every member gets one credit via a 3-wide
    fan-out), so the joins stay equi-joins on node ids and the work is
    bounded by the triangle count, not degree^2. Returns
    (id, degree, triangles, coeff) with coeff rounded to 6 for exact
    cross-engine comparison.
    """
    canon = edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    e = _checkpoint(canon.dropDuplicates())
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    deg = (
        _mirror(e, [F.col("src")], [F.col("dst")], ["id"])
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.join(per_node, "id", "left_outer").select(
        "id",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                2.0
                * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("coeff"),
    )


def label_propagation_edges(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Community detection by synchronous label propagation over an
    undirected (src, dst) edge frame. Every node starts with label = its
    own id; each round a node adopts the most frequent label among its
    neighbors, ties broken by the smaller label. Fixed synchronous rounds
    make the result fully deterministic (classic asynchronous LPA is
    order-dependent), which is what makes an exact cross-engine oracle
    possible. Returns (id, label) after ``iterations`` rounds.

    Scale shape: the adjacency (both orientations of the deduplicated
    edge set) is persisted once and reused every round; a round is one
    equi-join on the neighbor id plus a map-side-combinable (id, label)
    count and a max-of-struct per node — no window function, so the only
    shuffles are the join and the two-level aggregation, all on long
    keys. Per-round frames are lineage-truncated with ``_checkpoint``
    (the iterative-plan-growth discipline used by every algorithm here).
    Reference has no algorithm library (SURVEY.md: graph algorithms are
    out of scope for Morpheus); this extends the engine the same way
    pagerank/connected_components do.
    """
    canon = (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    e = _checkpoint(canon)
    # the adjacency is equi-joined on nbr every round — cache it
    # hash-partitioned on that key (see _static_loop_frame)
    adj, _, drop_adj = _static_loop_frame(
        _mirror(
            e,
            [F.col("src"), F.col("dst")],
            [F.col("dst"), F.col("src")],
            ["id", "nbr"],
        ),
        "nbr",
    )
    # labels carries exactly one row per incident vertex in EVERY round
    # (each id keeps a label), so one measured count up front gates the
    # per-round broadcast: small graphs probe the cached adjacency in
    # place instead of exchanging+sorting the label frame each round
    labels, n_v = _checkpoint_count(
        adj.select("id").dropDuplicates().select("id", F.col("id").alias("label"))
    )
    for _ in range(iterations):
        nl = adj.join(
            _maybe_broadcast(
                labels.select(F.col("id").alias("nbr"), F.col("label").alias("_lbl")),
                n_v,
            ),
            "nbr",
        )
        # NOTE: a single repartition(id) serving both aggregations was
        # tried and measured WORSE (3.36 -> 3.82 s, +3 jobs): it forfeits
        # the map-side partial count of the (id, _lbl) aggregation, whose
        # combining is effective here (a node's same-labelled neighbours
        # cluster within adjacency partitions). Left to Catalyst.
        cnt = nl.groupBy("id", "_lbl").agg(F.count(F.lit(1)).alias("_c"))
        # winner = max (count, -label): most frequent, then smallest label
        new = cnt.groupBy("id").agg(
            F.max(F.struct(F.col("_c"), (-F.col("_lbl")).alias("_neg"))).alias("_m")
        )
        labels = _checkpoint(new.select("id", (-F.col("_m._neg")).alias("label")))
    drop_adj()
    return labels


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    walk_length: int = 3,
    walks_per_node: int = 2,
) -> DataFrame:
    """Deterministic random-walk corpus over a directed (src, dst) edge
    frame — the sampling stage of DeepWalk/node2vec-style graph-embedding
    training data. Returns exploded rows (start, walk, step, node) with
    step 0 = the start node; a walk stops early at a node with no
    out-edges. ``starts`` is a one-column (id) frame of walk origins.

    The "randomness" is a hash of (start, walk, step, current): every
    engine replays the exact same walks (portable_hash60, so an external
    SQL oracle can reproduce step-for-step), reruns are stable, and no
    driver-side RNG state exists. Scale shape: out-edges are ranked once
    (row_number per src — one shuffle, reused every step); each step is
    two equi-joins on long keys (degree lookup to compute the pick index,
    then (src, rank) to fetch the edge) — never a fan-out join over a
    node's full edge list, so hub nodes cost the same as leaves. Walk
    state is (4 longs) per active walk and is lineage-truncated per step.
    """
    from cypher_for_apache_spark_spark.operators.dedup import portable_hash60

    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    w = Window.partitionBy("src").orderBy("dst")
    # both statics are equi-joined on src every step — cached hash-
    # partitioned on that key (see _static_loop_frame); previously each
    # step re-exchanged the full ranked edge set
    ranked, _, drop_ranked = _static_loop_frame(
        e.withColumn("rk", F.row_number().over(w)), "src"
    )
    # materialized once: otherwise every step re-runs this aggregation
    # over the full edge set (3 extra shuffles for a 3-step walk)
    deg, _, drop_deg = _static_loop_frame(
        ranked.groupBy("src").agg(F.max("rk").alias("deg")), "src"
    )
    # the walk-state frame only ever SHRINKS (dead-end walks drop out), so
    # one measured count of the initial state gates every step's
    # broadcasts: small walk sets probe the cached ranked/degree statics
    # in place — zero exchanges per step — while huge walk corpora fall
    # back to the co-partitioned join shape
    state, n_state = _checkpoint_count(
        starts.select(F.col(starts.columns[0]).alias("start"))
        .dropDuplicates()
        .select(
            "start",
            F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("walk"),
            F.col("start").alias("cur"),
        )
    )
    out = state.select(
        "start", "walk", F.lit(0).cast("long").alias("step"),
        F.col("cur").alias("node"),
    )
    for step in range(1, walk_length + 1):
        pick = _maybe_broadcast(state, n_state).join(
            deg, state["cur"] == deg["src"]
        ).select(
            "start",
            "walk",
            "cur",
            (
                F.lit(1)
                + F.pmod(
                    portable_hash60(
                        F.concat_ws(
                            ":",
                            F.col("start").cast("string"),
                            F.col("walk").cast("string"),
                            F.lit(str(step)),
                            F.col("cur").cast("string"),
                        )
                    ),
                    F.col("deg"),
                )
            ).alias("_idx"),
        )
        nxt = _maybe_broadcast(pick, n_state).join(
            ranked,
            (pick["cur"] == ranked["src"]) & (pick["_idx"] == ranked["rk"]),
        ).select("start", "walk", F.col("dst").alias("cur"))
        state = _checkpoint(nxt)
        out = out.unionByName(
            state.select(
                "start", "walk", F.lit(step).cast("long").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    drop_ranked()
    drop_deg()
    return out


def strongly_connected_components(
    edges: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """SCC of a directed (src, dst) edge frame via the classic coloring /
    FW-BW peeling algorithm (Orzan; also the Pregel-style standard):

    1. forward phase: propagate min reachable-ancestor label to fixpoint
       (c(v) = min over {v} ∪ {c(u): u -> v}),
    2. backward phase: from each color root (c(v) == v), walk REVERSE
       edges restricted to the same color — every node reached both ways
       is in the root's SCC,
    3. emit those, peel them from the graph, repeat on the remainder.

    Each phase is frontier/delta iteration (joins touch only rows that
    changed last round), every per-round frame is lineage-truncated, and
    the graph shrinks monotonically — the same discipline as
    connected_components/bfs. Returns (id, component) with component =
    min node id of the SCC. Trivial SCCs (no cycle through the node) get
    component = their own id.
    """
    e = _checkpoint(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    # every per-round frame below fuses its checkpoint with the emptiness
    # probe (one job instead of two — see materialize_count)
    nodes, n_nodes = _checkpoint_count(
        _mirror(e, [F.col("src")], [F.col("dst")], ["id"]).dropDuplicates()
    )
    out_parts: List[DataFrame] = []
    for _ in range(max_rounds):
        if n_nodes == 0:
            break
        # ---- trim: peel nodes with no in- or no out-edge (iterated) ----
        # such nodes cannot lie on a cycle, so they are singleton SCCs;
        # emitting them before FW-BW collapses DAG regions in cheap
        # anti-join rounds instead of one full FW-BW peel per root
        # (a directed chain is otherwise O(n) peeling rounds)
        while True:
            # a node survives the trim iff it has BOTH an out- and an
            # in-edge: one mirrored pass + max-flag aggregation (one
            # shuffle) instead of two dropDuplicates exchanges + a join
            live = (
                _mirror(
                    e,
                    [F.col("src"), F.lit(1), F.lit(0)],
                    [F.col("dst"), F.lit(0), F.lit(1)],
                    ["id", "_o", "_i"],
                )
                .groupBy("id")
                .agg(F.max("_o").alias("_ho"), F.max("_i").alias("_hi"))
                .filter((F.col("_ho") == 1) & (F.col("_hi") == 1))
                .select("id")
            )
            dead, n_dead = _checkpoint_count(nodes.join(live, "id", "left_anti"))
            if n_dead == 0:
                break
            out_parts.append(dead.select("id", F.col("id").alias("component")))
            nodes, n_nodes = _checkpoint_count(nodes.join(dead, "id", "left_anti"))
            e = _checkpoint(
                e.join(dead.select(F.col("id").alias("src")), "src", "left_anti")
                .join(dead.select(F.col("id").alias("dst")), "dst", "left_anti")
            )
        if n_nodes == 0:
            break
        # ---- forward min-label to fixpoint (delta iteration) ----
        labels = nodes.select("id", F.col("id").alias("c"))
        frontier = labels
        while True:
            cand = (
                e.join(frontier.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("c").alias("_nc"))
            )
            improved, n_improved = _checkpoint_count(
                cand.join(labels, "id")
                .filter(F.col("_nc") < F.col("c"))
                .select("id", F.col("_nc").alias("c"))
            )
            if n_improved == 0:
                break
            labels = _checkpoint(
                labels.join(improved.withColumnRenamed("c", "_u"), "id", "left_outer")
                .select("id", F.coalesce("_u", "c").alias("c"))
            )
            frontier = improved
        # ---- backward phase: reverse-reach roots within the same color ----
        # seed: the roots themselves (c(v) == v)
        confirmed = labels.filter(F.col("id") == F.col("c")).select("id", "c")
        bfrontier = confirmed
        # reverse edges annotated with both endpoint colors: walk u <- v
        # only where colors agree (the SCC cannot cross a color boundary)
        el = (
            e.join(labels.withColumnRenamed("id", "src").withColumnRenamed("c", "_cs"), "src")
            .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("c", "_cd"), "dst")
            .filter(F.col("_cs") == F.col("_cd"))
            .select("src", "dst", F.col("_cs").alias("c"))
        )
        while True:
            step = (
                el.join(
                    bfrontier.select(F.col("id").alias("dst"), F.col("c").alias("_fc")),
                    "dst",
                )
                .filter(F.col("c") == F.col("_fc"))
                .select(F.col("src").alias("id"), "c")
                .dropDuplicates()
            )
            nxt, n_nxt = _checkpoint_count(step.join(confirmed, "id", "left_anti"))
            if n_nxt == 0:
                break
            confirmed = confirmed.unionByName(nxt)
            bfrontier = nxt
        scc = _checkpoint(confirmed.select("id", F.col("c").alias("component")))
        out_parts.append(scc)
        # ---- peel: drop settled nodes and their edges ----
        nodes, n_nodes = _checkpoint_count(
            nodes.join(scc.select("id"), "id", "left_anti")
        )
        e = _checkpoint(
            e.join(scc.select(F.col("id").alias("src")), "src", "left_anti")
            .join(scc.select(F.col("id").alias("dst")), "dst", "left_anti")
        )
    # convergence = every node settled, regardless of which round did it
    # (the old for/else raised even when the final permitted round
    # finished the graph)
    if n_nodes != 0:
        raise RuntimeError(
            f"SCC did not converge within {max_rounds} peeling rounds"
        )
    if not out_parts:
        # no edges survive the self-loop/dup filter: no components
        return edges.select(
            F.col("src").alias("id"), F.col("src").alias("component")
        ).limit(0)
    result = out_parts[0]
    for p in out_parts[1:]:
        result = result.unionByName(p)
    return result


def scc_functional(edges: DataFrame) -> DataFrame:
    """SCC of a FUNCTIONAL graph — every node has exactly one out-edge
    (next-pointer graphs: session successor chains, parent pointers,
    symlink targets, hash-chain rho shapes). Such a graph is a union of
    "rho" shapes (trees hanging off cycles), and its SCCs are exactly the
    cycles, which pointer doubling finds in O(log n) rounds — vs the
    O(diameter) rounds the general algorithm
    (``strongly_connected_components``) needs. Each round squares the
    step count: (p, f^k(p), min of the first k path nodes) composes with
    itself via one equi-join on 3-long-column rows.

    A node is cyclic iff it is in the image of f^(2^rounds) once
    2^rounds >= n (every walk of length n has entered its cycle, and
    cycle nodes stay in the image); a cyclic node's component is the min
    over its first 2^rounds path nodes = the min of its cycle. Acyclic
    nodes are trivial singleton SCCs. Returns (id, component).
    """
    d, n = _checkpoint_count(
        edges.select(
            F.col("src").alias("p"), F.col("dst").alias("f"),
            F.col("src").alias("m"),
        ).dropDuplicates(["p"])
    )
    rounds = max(1, (n - 1).bit_length())  # 2^rounds >= n
    for _ in range(rounds):
        b = d.select(
            F.col("p").alias("_bp"), F.col("f").alias("_bf"),
            F.col("m").alias("_bm"),
        )
        # the doubling self-join composes d with itself on different keys
        # (f vs p), so both sides would exchange every round; when the
        # frame is measurably small, broadcast the build side instead —
        # the round becomes an in-place parallel probe of the checkpoint
        d = _checkpoint(
            d.join(_maybe_broadcast(b, n), d["f"] == b["_bp"]).select(
                "p", F.col("_bf").alias("f"), F.least("m", "_bm").alias("m")
            )
        )
    cyc = d.select(F.col("f").alias("p")).dropDuplicates()
    return (
        d.join(cyc.withColumn("_cyc", F.lit(True)), "p", "left_outer")
        .select(
            F.col("p").alias("id"),
            F.when(F.col("_cyc"), F.col("m")).otherwise(F.col("p")).alias("component"),
        )
    )


def landmark_distances(
    edges: DataFrame,
    landmarks: DataFrame,
    max_hops: Optional[int] = None,
    undirected: bool = False,
) -> DataFrame:
    """Per-landmark BFS distances over an (src, dst) edge frame:
    (landmark, id, dist) rows for every node reachable from each landmark
    — unlike ``bfs_distances`` (which MERGES sources into one min-dist),
    every landmark keeps its own distance field. This is the landmark /
    pivot primitive behind approximate closeness and harmonic centrality
    and distance-sketch embeddings.

    Frontier iteration on the composite (landmark, id) key: per round one
    equi-join of the frontier against the edge table and an anti-join
    against that landmark's visited set — all long/(long,long) keys, work
    proportional to the live frontiers. The edge frame is materialized
    once and shared by every round and landmark; with L landmarks the
    total work is O(L × reachable), the expected price of per-landmark
    outputs.
    """
    e = edges.select("src", "dst")
    if undirected:
        e = _mirror(
            e,
            [F.col("src"), F.col("dst")],
            [F.col("dst"), F.col("src")],
            ["src", "dst"],
        )
    # per-round join output is |live sources| x frontier expansions, so the
    # static width must scale with the landmark count (capped) — a single
    # partition would serialize the whole multi-source expansion
    lms0, n_lms = _checkpoint_count(
        landmarks.select(F.col(landmarks.columns[0]).alias("lm")).dropDuplicates()
    )
    e, _, drop_e = _static_loop_frame(
        e.dropDuplicates(), "src", multiplier=min(n_lms, 64)
    )
    frontier = lms0.select("lm", F.col("lm").alias("id"))
    visited = frontier.select("lm", "id", F.lit(0).cast("long").alias("dist"))
    dist = 0
    n_frontier = n_lms
    n_visited = n_lms
    while max_hops is None or dist < max_hops:
        dist += 1
        # visited's row count is the running sum of the termination probes
        # — broadcast-gate the anti-join's settled side like the frontier
        nxt = (
            e.join(
                _maybe_broadcast(frontier.withColumnRenamed("id", "src"), n_frontier),
                "src",
            )
            .select("lm", F.col("dst").alias("id"))
            # explicit measured-width exchange: the dedup/anti/checkpoint
            # stage after this shuffle is CPU-bound on slim rows, which
            # AQE's byte-based coalescing would serialize (see _loop_width)
            .repartition(_loop_width(e, n_frontier), "lm", "id")
            .dropDuplicates()
            .join(
                _maybe_broadcast(visited.select("lm", "id"), n_visited),
                ["lm", "id"],
                "left_anti",
            )
        )
        # checkpoint + termination probe (doubles as next round's
        # broadcast gate) in one job
        nxt, n_frontier = _checkpoint_count(nxt)
        if n_frontier == 0:
            break
        frontier = nxt
        n_visited += n_frontier
        visited = visited.unionByName(
            nxt.select("lm", "id", F.lit(dist).cast("long").alias("dist"))
        )
    drop_e()
    return visited


def betweenness(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: Optional[int] = None,
    undirected: bool = False,
    source_batches: int = 1,
) -> DataFrame:
    """Betweenness centrality (Brandes 2001), batched over a source set:
    for every source a forward BFS counts shortest paths (sigma), then a
    reverse sweep accumulates dependencies
    delta(v) = sum over successors w of sigma_v/sigma_w * (1 + delta_w);
    betweenness(v) = sum of delta over sources, halved for undirected
    graphs (each unordered pair is seen from both ends). With
    ``sources`` = all vertices (and no hop cap) this is exact; a
    hash-sampled source subset gives the standard estimator (scale by
    n/|sources| for the unbiased value); ``max_hops`` bounds both sweeps
    (only pairs within that distance count).

    ``source_batches`` > 1 splits the sources into deterministic
    xxhash64 waves processed sequentially, each through the full
    forward+reverse sweep, with one cross-wave (id, delta) aggregation
    at the end. The algebra is unchanged (delta sums over sources
    commute); what changes is PEAK state: per-level frames carry
    |S|/waves x reach pairs instead of |S| x reach, which is the knob
    that keeps the frontier inside executor memory when |S| x |V| pairs
    would otherwise spill — the 100 TB path. More waves = more
    scheduling rounds, so at bench scale 1 wave is fastest; at cluster
    scale pick waves ~ |S| x avg_reach / executor-memory budget.

    Scale shape: every step is an equi-join on the composite
    (source, node) long pair — the forward pass is ``landmark_distances``
    plus a map-side-combinable sigma sum, the reverse pass one
    join+aggregate per level over the stored per-level frames (each
    checkpointed, so plans stay flat). No collects, no windows. Returns
    (id, betweenness) for nodes with a positive score, rounded to 6."""
    e = edges.select("src", "dst")
    if undirected:
        e = _mirror(
            e,
            [F.col("src"), F.col("dst")],
            [F.col("dst"), F.col("src")],
            ["src", "dst"],
        )
    # both sweeps equi-join e on src every level of every wave — cache it
    # hash-partitioned on that key (see _static_loop_frame); width scales
    # with the (capped) source count like landmark_distances
    lms, n_lms = _checkpoint_count(
        sources.select(F.col(sources.columns[0]).alias("lm")).dropDuplicates()
    )
    e, _, drop_e = _static_loop_frame(
        e.dropDuplicates(), "src", multiplier=min(n_lms, 64)
    )
    if source_batches <= 1:
        # single wave: the source set IS the checkpointed lms frame, so its
        # count is already known — _brandes_wave skips the redundant lvl0
        # re-checkpoint (a narrow select over a checkpoint needs no new one)
        waves = [(lms, n_lms)]
    else:
        waves = [
            (
                lms.filter(
                    F.pmod(F.xxhash64("lm"), F.lit(source_batches)) == F.lit(w)
                ),
                None,
            )
            for w in range(source_batches)
        ]
    parts: List[DataFrame] = []
    for wave, n_wave in waves:
        d = _brandes_wave(e, wave, max_hops, n_wave)
        if d is not None:
            parts.append(d)
    drop_e()
    if not parts:
        return lms.select(
            F.col("lm").alias("id"), F.lit(0.0).alias("betweenness")
        ).filter(F.lit(False))
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    agg = (
        out.groupBy("id")
        .agg(F.sum("delta").alias("b"))
        .filter(F.col("b") > 1e-12)
    )
    scale = 0.5 if undirected else 1.0
    return agg.select(
        "id", F.round(F.col("b") * F.lit(scale), 6).alias("betweenness")
    )


def _brandes_wave(
    e: DataFrame, lms: DataFrame, max_hops: Optional[int],
    n_lms: Optional[int] = None,
) -> Optional[DataFrame]:
    """One Brandes forward+reverse sweep over a wave of sources: returns
    per-(source, node) dependency rows (lm, id, sigma, delta) unioned over
    levels, or None when the wave produced no paths. ``e`` must already be
    deduplicated/checkpointed (shared across waves by the caller).
    ``n_lms``: the wave's row count when the caller already measured it
    (the single-wave case passes its checkpoint's fused count, skipping a
    whole re-checkpoint action over a narrow select of that checkpoint)."""
    frontier = lms.select(
        "lm", F.col("lm").alias("id"), F.lit(1.0).alias("sigma")
    )
    if n_lms is None:
        lvl0, n_frontier = _checkpoint_count(frontier)
    else:
        lvl0, n_frontier = frontier, n_lms
    levels: List[DataFrame] = [lvl0]
    visited = lvl0.select("lm", "id")
    level_counts: List[int] = [n_frontier]
    n_visited = n_frontier
    depth = 0
    while max_hops is None or depth < max_hops:
        depth += 1
        # visited's row count is the running sum of the level probes —
        # broadcast-gate the anti-join's settled side like the frontier
        nxt = (
            e.join(
                _maybe_broadcast(
                    levels[-1].withColumnRenamed("id", "src"), n_frontier
                ),
                "src",
            )
            .select("lm", F.col("dst").alias("id"), "sigma")
            # explicit measured-width exchange before the aggregation: AQE's
            # byte-based coalescing serializes the slim CPU-bound sigma sum
            # + anti-join + checkpoint into one task (see _loop_width)
            .repartition(_loop_width(e, n_frontier), "lm", "id")
            .join(_maybe_broadcast(visited, n_visited), ["lm", "id"], "left_anti")
            .groupBy("lm", "id")
            .agg(F.sum("sigma").alias("sigma"))
        )
        # checkpoint + termination probe (doubles as next round's
        # broadcast gate) in one job
        nxt, n_frontier = _checkpoint_count(nxt)
        if n_frontier == 0:
            break
        levels.append(nxt)
        level_counts.append(n_frontier)
        n_visited += n_frontier
        visited = visited.unionByName(nxt.select("lm", "id"))

    if len(levels) == 1:
        return None

    # reverse sweep: delta over the BFS DAG, deepest level first. delta
    # always carries exactly the rows of the level it was last rebuilt
    # from, so the level probes double as broadcast gates here too: both
    # join inputs of a reverse step probe the static edge cache in place
    # when measurably small.
    delta = levels[-1].select("lm", "id", "sigma", F.lit(0.0).alias("delta"))
    n_delta = level_counts[-1]
    per_level: List[DataFrame] = []
    for lvl, n_lvl in zip(reversed(levels[:-1]), reversed(level_counts[:-1])):
        succ = delta.select(
            "lm",
            F.col("id").alias("dst"),
            F.col("sigma").alias("_sw"),
            F.col("delta").alias("_dw"),
        )
        contrib = (
            _maybe_broadcast(
                lvl.select(
                    "lm", F.col("id").alias("src"), F.col("sigma").alias("_sv")
                ),
                n_lvl,
            )
            .join(e, "src")
            .join(_maybe_broadcast(succ, n_delta), ["lm", "dst"])
            # measured-width exchange before the dependency aggregation
            # (same serialization hazard as the forward sweep)
            .repartition(_loop_width(e, n_lvl), "lm", "src")
            .groupBy("lm", F.col("src").alias("id"))
            .agg(
                F.sum(F.col("_sv") / F.col("_sw") * (F.lit(1.0) + F.col("_dw"))).alias(
                    "_d"
                )
            )
        )
        # contrib is grouped by this level's (lm, id), so its row count is
        # bounded by the level's probe — same gate
        delta = _checkpoint(
            lvl.join(_maybe_broadcast(contrib, n_lvl), ["lm", "id"], "left").select(
                "lm",
                "id",
                "sigma",
                F.coalesce(F.col("_d"), F.lit(0.0)).alias("delta"),
            )
        )
        n_delta = n_lvl
        per_level.append(delta.filter(F.col("id") != F.col("lm")))
    # deeper levels' deltas (levels[1:] minus what the loop already added):
    # every level except 0 contributes its delta; the loop emitted levels
    # L-1..0 — add the deepest level (delta 0 there, so it only matters
    # when a deepest-level node is also mid-path for another source,
    # which per-source cannot happen; skip it)
    out = per_level[0]
    for d in per_level[1:]:
        out = out.unionByName(d)
    return out


def harmonic_closeness(
    edges: DataFrame,
    landmarks: DataFrame,
    max_hops: Optional[int] = None,
    undirected: bool = True,
) -> DataFrame:
    """Approximate harmonic centrality from a landmark sample:
    ``h(v) = sum over landmarks u != v of 1 / dist(u, v)`` (unreached
    pairs contribute 0 — the harmonic formulation needs no connectivity
    assumption, which is why it scales where classic closeness does not).
    With landmarks = all vertices this is exact; with a hash-sampled
    subset it is the standard estimator. Returns (id, harmonic) with the
    sum rounded to 6 for cross-engine comparison."""
    d = landmark_distances(edges, landmarks, max_hops, undirected)
    return (
        d.filter(F.col("dist") > 0)
        .groupBy("id")
        .agg(F.round(F.sum(1.0 / F.col("dist")), 6).alias("harmonic"))
    )


def ego_network(
    edges: DataFrame,
    centers: DataFrame,
    radius: int = 2,
    undirected: bool = True,
) -> DataFrame:
    """Induced subgraph within ``radius`` hops of each center node:
    (center, src, dst) edge rows — the subgraph-sampling primitive behind
    GNN mini-batch construction and neighborhood feature extraction.

    Membership comes from ``landmark_distances`` (per-center frontier
    BFS); the induced edge set is then two equi-joins of the edge frame
    against the membership table on the composite (center, endpoint) key —
    an edge belongs to an ego net iff BOTH endpoints are within radius of
    that center. No neighborhood is ever collected; everything stays as
    joins on (long, long) keys."""
    mem = landmark_distances(edges, centers, max_hops=radius, undirected=undirected)
    e = edges.select("src", "dst").dropDuplicates()
    ms = mem.select(F.col("lm").alias("center"), F.col("id").alias("src"))
    md = mem.select(F.col("lm").alias("center"), F.col("id").alias("dst"))
    return e.join(ms, "src").join(md, ["center", "dst"]).select(
        "center", "src", "dst"
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    vertices: Optional[DataFrame] = None,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank over an (src, dst) edge frame: teleport (and
    dangling) mass returns to the SEED set instead of uniformly — the
    standard relevance-to-a-seed-set signal behind recommendations and
    local-community scoring. ``seeds`` is a one-column id frame;
    r_0 = s, r_{t+1} = (1-d)*s + d*(W^T r_t + dangling_mass * s) with
    s = 1/|seeds| on seeds and 0 elsewhere, so total mass stays 1.

    The steps are ``pagerank``'s power iteration (``_power_iteration``)
    with the teleport column s and the dangling mass returned through s
    undivided; edges are deduplicated before the out-degrees are counted.
    One shuffle per iteration on the edge src; the dangling term is a
    driver scalar; every per-round frame is lineage-truncated. The seed
    vector rides as a column of the vertex frame — no driver-side seed
    set.
    """
    e = _checkpoint(edges.select("src", "dst").dropDuplicates())
    if vertices is None:
        vertices = _mirror(
            e, [F.col("src")], [F.col("dst")], ["id"]
        ).dropDuplicates()
    sd = seeds.select(F.col(seeds.columns[0]).alias("id")).dropDuplicates()
    k = sd.agg(F.count(F.lit(1)).alias("_k"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    links, _, drop_links = _static_loop_frame(e.join(deg, "src"), "src")
    v, n_v, drop_v = _static_loop_frame(
        vertices.select("id")
        .join(sd.withColumn("_is_seed", F.lit(True)), "id", "left_outer")
        .join(
            deg.select(F.col("src").alias("id"), F.lit(True).alias("_has")),
            "id",
            "left_outer",
        )
        .crossJoin(F.broadcast(k))
        .select(
            "id",
            F.when(F.col("_is_seed"), 1.0 / F.col("_k"))
            .otherwise(F.lit(0.0))
            .alias("s"),
            F.col("_has").isNull().alias("_sink"),
        ),
        "id",
    )
    ranks = _power_iteration(links, v, n_v, F.col("s"), 1.0, iterations, damping)
    drop_links()
    drop_v()
    return ranks
