"""Cypher ``CALL <proc>(args) YIELD cols`` procedure registry.

Beyond reference parity: the reference explicitly has NO procedure calls
(documentation/asciidoc/cypher-cypher9-features.adoc:57-76 "no
CALL ... YIELD"), but real users expect the Neo4j GDS idiom — run a graph
algorithm inside the query language and join its output back into the
pattern::

    CALL algo.pageRank(10, 0.85) YIELD id, rank
    MATCH (n) WHERE id(n) = id
    RETURN n.name, rank ORDER BY rank DESC LIMIT 10

A procedure is a driver-side function ``fn(ctx, *args) -> DataFrame`` with
a declared output-column contract.  The planner evaluates the argument
expressions driver-side (literals / parameters only — procedures are not
correlated per input row; that is what ``CALL { }`` subqueries are for),
runs the function ONCE, and composes the resulting DataFrame with the
incoming rows exactly like an uncorrelated CALL subquery (cross join,
which Catalyst turns into a broadcast for small sides).  All the heavy
lifting inside the built-in procedures is the distributed algorithm
library (operators/algorithms.py) — frontier/delta iteration, scoped
checkpoints, no driver collects — so a procedure call scales exactly as
far as the algorithm it wraps.
"""

from __future__ import annotations

import inspect
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from cypher_for_apache_spark_spark.materialize import local_frame


class ProcedureError(ValueError):
    pass


@dataclass
class ProcContext:
    """What a procedure body may touch: the session's SparkSession, the
    query's current working graph (as set by FROM GRAPH), and the graph
    catalog (so procedures can take a graph *name* argument)."""

    spark: SparkSession
    graph: Optional[object]  # PropertyGraph
    catalog: Dict[str, object]

    def require_graph(self):
        if self.graph is None:
            raise ProcedureError(
                "this procedure needs a property graph in scope "
                "(run the query on a graph, or use FROM GRAPH)"
            )
        return self.graph

    def resolve_graph(self, name: Optional[str]):
        if name is None:
            return self.require_graph()
        if name not in self.catalog:
            raise ProcedureError(f"unknown graph `{name}` in procedure argument")
        return self.catalog[name]


@dataclass
class Procedure:
    name: str  # canonical dotted name, e.g. "algo.pageRank"
    fn: Callable  # (ProcContext, *args) -> DataFrame
    returns: List[str]  # output column contract, in YIELD * order
    min_args: int
    max_args: int

    def invoke(self, ctx: ProcContext, args: Sequence) -> DataFrame:
        if not (self.min_args <= len(args) <= self.max_args):
            want = (
                f"{self.min_args}"
                if self.min_args == self.max_args
                else f"{self.min_args}..{self.max_args}"
            )
            raise ProcedureError(
                f"procedure {self.name} takes {want} arguments, got {len(args)}"
            )
        out = self.fn(ctx, *args)
        missing = [c for c in self.returns if c not in out.columns]
        if missing:
            raise ProcedureError(
                f"procedure {self.name} did not produce declared columns {missing}"
            )
        return out.select(*self.returns)


class ProcedureRegistry:
    """Case-insensitive name -> Procedure map. Sessions own one; users add
    their own procedures with ``register`` (reference has no analogue —
    this is the GDS-style extension point)."""

    def __init__(self, with_builtins: bool = True):
        self._procs: Dict[str, Procedure] = {}
        if with_builtins:
            _install_builtins(self)

    def register(
        self,
        name: str,
        fn: Callable,
        returns: Sequence[str],
        min_args: Optional[int] = None,
        max_args: Optional[int] = None,
    ) -> None:
        if min_args is None or max_args is None:
            sig = inspect.signature(fn)
            params = list(sig.parameters.values())[1:]  # drop ctx
            lo = sum(1 for p in params if p.default is inspect.Parameter.empty)
            hi = len(params)
            min_args = lo if min_args is None else min_args
            max_args = hi if max_args is None else max_args
        self._procs[name.lower()] = Procedure(
            name, fn, list(returns), min_args, max_args
        )

    def lookup(self, name: str) -> Procedure:
        p = self._procs.get(name.lower())
        if p is None:
            known = ", ".join(sorted(q.name for q in self._procs.values()))
            raise ProcedureError(f"unknown procedure `{name}` (known: {known})")
        return p

    def names(self) -> List[str]:
        return sorted(p.name for p in self._procs.values())


def _ids_as_longs(vals, what: str) -> List[int]:
    if not isinstance(vals, (list, tuple)):
        vals = [vals]
    out = []
    for v in vals:
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise ProcedureError(f"{what} must be integers, got {v!r}")
        out.append(int(v))
    return out


def _rel_types(arg) -> tuple:
    if arg is None:
        return ()
    if isinstance(arg, str):
        return (arg,)
    if isinstance(arg, (list, tuple)) and all(isinstance(t, str) for t in arg):
        return tuple(arg)
    raise ProcedureError(f"relationship types must be a string list, got {arg!r}")


# --------------------------------------------------------------- built-ins
def _p_pagerank(ctx, iterations=10, damping=0.85, rel_types=None):
    from cypher_for_apache_spark_spark.operators.algorithms import pagerank

    return pagerank(
        ctx.require_graph(),
        iterations=int(iterations),
        damping=float(damping),
        rel_types=_rel_types(rel_types),
    )


def _p_ppr(ctx, source_ids, iterations=10, damping=0.85, rel_types=None):
    from cypher_for_apache_spark_spark.operators.algorithms import (
        _edges,
        _vertices,
        personalized_pagerank,
    )

    g = ctx.require_graph()
    seeds = local_frame(
        ctx.spark, [(s,) for s in _ids_as_longs(source_ids, "source ids")], "id long"
    )
    return personalized_pagerank(
        _edges(g, _rel_types(rel_types)),
        seeds,
        vertices=_vertices(g),
        iterations=int(iterations),
        damping=float(damping),
    )


def _p_connected_components(ctx, rel_types=None, max_iterations=30):
    from cypher_for_apache_spark_spark.operators.algorithms import (
        connected_components,
    )

    return connected_components(
        ctx.require_graph(),
        max_iterations=int(max_iterations),
        rel_types=_rel_types(rel_types),
    )


def _p_scc(ctx, rel_types=None):
    from cypher_for_apache_spark_spark.operators.algorithms import (
        _edges,
        strongly_connected_components,
    )

    return strongly_connected_components(
        _edges(ctx.require_graph(), _rel_types(rel_types))
    )


def _p_bfs(ctx, source_ids, max_hops=None, rel_types=None, undirected=False):
    from cypher_for_apache_spark_spark.operators.algorithms import bfs_distances

    return bfs_distances(
        ctx.require_graph(),
        _ids_as_longs(source_ids, "source ids"),
        rel_types=_rel_types(rel_types),
        max_hops=None if max_hops is None else int(max_hops),
        undirected=bool(undirected),
    )


def _p_sssp(ctx, source_ids, weight_prop=None, rel_types=None):
    from cypher_for_apache_spark_spark.operators.algorithms import sssp

    return sssp(
        ctx.require_graph(),
        _ids_as_longs(source_ids, "source ids"),
        weight_prop=weight_prop,
        rel_types=_rel_types(rel_types),
    )


def _p_degrees(ctx, rel_types=None):
    from cypher_for_apache_spark_spark.operators.algorithms import degrees

    return degrees(ctx.require_graph(), rel_types=_rel_types(rel_types))


def _p_triangle_count(ctx, rel_types=None):
    from cypher_for_apache_spark_spark.operators.algorithms import triangle_count

    return triangle_count(ctx.require_graph(), rel_types=_rel_types(rel_types))


def _p_k_core(ctx, k, rel_types=None):
    from cypher_for_apache_spark_spark.operators.algorithms import k_core

    return k_core(ctx.require_graph(), int(k), rel_types=_rel_types(rel_types))


def _p_label_propagation(ctx, iterations=3, rel_types=None):
    from cypher_for_apache_spark_spark.operators.algorithms import (
        _edges,
        label_propagation_edges,
    )

    return label_propagation_edges(
        _edges(ctx.require_graph(), _rel_types(rel_types)),
        iterations=int(iterations),
    )


def _p_harmonic(ctx, landmark_ids=None, max_hops=None, rel_types=None):
    from cypher_for_apache_spark_spark.operators.algorithms import (
        _edges,
        _vertices,
        harmonic_closeness,
    )

    g = ctx.require_graph()
    if landmark_ids is None:
        lms = _vertices(g)
    else:
        lms = local_frame(
            ctx.spark,
            [(s,) for s in _ids_as_longs(landmark_ids, "landmark ids")],
            "id long",
        )
    return harmonic_closeness(
        _edges(g, _rel_types(rel_types)),
        lms,
        max_hops=None if max_hops is None else int(max_hops),
    )


def _p_db_labels(ctx):
    g = ctx.require_graph()
    labels = sorted({l for combo in g.node_tables for l in combo})
    return local_frame(ctx.spark, [(l,) for l in labels], "label string")


def _p_db_rel_types(ctx):
    g = ctx.require_graph()
    types = sorted(g.rel_tables)
    return local_frame(ctx.spark, [(t,) for t in types], "relationshipType string")


def _p_db_property_keys(ctx):
    g = ctx.require_graph()
    keys = set()
    for nt in g.node_tables.values():
        keys.update(nt.property_columns)
    for rts in g.rel_tables.values():
        for rt in rts:
            keys.update(rt.property_columns)
    return local_frame(ctx.spark, [(k,) for k in sorted(keys)], "propertyKey string")


def _install_builtins(reg: ProcedureRegistry) -> None:
    reg.register("algo.pageRank", _p_pagerank, ["id", "rank"])
    reg.register(
        "algo.personalizedPageRank", _p_ppr, ["id", "rank"]
    )
    reg.register(
        "algo.connectedComponents", _p_connected_components, ["id", "component"]
    )
    reg.register(
        "algo.stronglyConnectedComponents", _p_scc, ["id", "component"]
    )
    reg.register("algo.bfs", _p_bfs, ["id", "dist"])
    reg.register("algo.sssp", _p_sssp, ["id", "dist"])
    reg.register(
        "algo.degrees", _p_degrees, ["id", "out_degree", "in_degree", "degree"]
    )
    reg.register("algo.triangleCount", _p_triangle_count, ["triangles"])
    reg.register("algo.kCore", _p_k_core, ["id", "degree"])
    reg.register(
        "algo.labelPropagation", _p_label_propagation, ["id", "label"]
    )
    reg.register("algo.harmonicCloseness", _p_harmonic, ["id", "harmonic"])
    reg.register("db.labels", _p_db_labels, ["label"])
    reg.register("db.relationshipTypes", _p_db_rel_types, ["relationshipType"])
    reg.register("db.propertyKeys", _p_db_property_keys, ["propertyKey"])
