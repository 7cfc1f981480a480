"""Cypher AST -> DataFrame planner.

Plans straight from the AST to DataFrame transformations, covering the
reference's logical + relational operator inventory (SURVEY.md §2.2/2.3):
scans, expand (directed/undirected/into), var-length expand (unrolled joins,
VarLengthExpandPlanner.scala), filter, project, aggregate with Cypher's
implicit grouping, distinct, order/skip/limit, unwind, union, OPTIONAL
MATCH (left-outer recipe RelationalPlanner.scala:298-329) and EXISTS
pattern predicates (marker left-join / semi-join,
RelationalPlanner.scala:224-246).

Catalyst handles everything classical (predicate pushdown, column pruning,
join strategy, AQE); the graph-specific rewrites the reference's optimizer
does (LogicalOptimizer.scala:39-226) fall out of planning here: nonexistent
labels produce empty scans at plan time, and cross-join+equality becomes an
equi-join inside Catalyst itself.
"""

from __future__ import annotations

import itertools
from dataclasses import replace as dc_replace
from functools import reduce
from typing import Dict, FrozenSet, List, Optional, Sequence, Tuple

from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F, types as T

from cypher_for_apache_spark_spark import ast as A
from cypher_for_apache_spark_spark.functions.compiler import (
    CompileCtx,
    CypherCompileError,
    WeightedAggUnsupported,
    compile_aggregate,
    compile_expr,
    compile_weighted_aggregate,
    entity_column,
)
from cypher_for_apache_spark_spark.graph import PropertyGraph, _union_all
from cypher_for_apache_spark_spark.header import EntityMeta, Header, fresh
from cypher_for_apache_spark_spark import materialize as _policy
from cypher_for_apache_spark_spark.materialize import (
    local_frame,
    loop_width,
    materialize,
    materialize_count,
    maybe_broadcast,
)
from cypher_for_apache_spark_spark.operators.algorithms import (
    _fits_driver,
    _mirror,
    _trails_on_driver,
)
from cypher_for_apache_spark_spark.plans.record import Record


class CypherPlanningError(ValueError):
    pass


class PlanResult:
    """Either a table result (df) or a graph result (graph) — reference:
    RelationalCypherResult exposes records OR a graph."""

    def __init__(self, df: Optional[DataFrame] = None, graph: Optional[PropertyGraph] = None):
        self.df = df
        self.graph = graph


class Planner:
    def __init__(
        self,
        spark: SparkSession,
        graph: Optional[PropertyGraph],
        params: Optional[dict] = None,
        catalog: Optional[dict] = None,
        driving_table: Optional[DataFrame] = None,
        views: Optional[dict] = None,
        graph_params: Optional[dict] = None,
        procedures=None,
    ):
        self.spark = spark
        self.graph = graph
        self.params = params or {}
        self.catalog = catalog or {}
        self.driving_table = driving_table
        self.views = views if views is not None else {}
        self.graph_params = graph_params or {}
        self._procedures = procedures
        self._uid = itertools.count()

    @property
    def procedures(self):
        if self._procedures is None:
            from cypher_for_apache_spark_spark.procedures import ProcedureRegistry

            self._procedures = ProcedureRegistry()
        return self._procedures

    # ------------------------------------------------------------------ utils
    def _u(self, var: str) -> str:
        # F.col reads a dot as struct-field access and a backtick as
        # quoting; an unaliased projection item is named by its text
        # (`a.name`, `` `p.q` ``)
        return f"{var.replace('.', '_').replace('`', '_')}@{next(self._uid)}"

    def _auto_salt_factor(self, rdf, near_col: str, memo_key) -> int:
        """Salt factor for an expand (0 = plain join): for rel frames whose
        Catalyst size estimate is at least ``SALT_SNIFF_MIN_BYTES``
        (materialize.py; stats-only — no job, so small graphs like TCK
        fixtures never pay anything), run the
        bounded degree-skew sniff (skew.degree_skew_factor: one narrow job
        over a 100k-row sample) and salt when one endpoint id dominates.
        The verdict is memoized on the graph per (rel types, direction),
        so repeated queries over the same graph decide once."""
        if self.graph is None:
            return 0
        memo = getattr(self.graph, "_expand_salt_memo", None)
        if memo is None:
            memo = {}
            self.graph._expand_salt_memo = memo
        if memo_key in memo:
            return memo[memo_key]
        factor = 0
        try:
            stats = rdf._jdf.queryExecution().optimizedPlan().stats()
            size = int(str(stats.sizeInBytes()))
        except (Py4JJavaError, CapturedException):
            # the JVM could not estimate the plan (e.g. a leaf node without
            # statistics): py4j's error, or PySpark's translation of it
            size = None
        if size is None or size >= (1 << 62):
            # stats unavailable or Catalyst's defaultSizeInBytes sentinel
            # (in-memory frames report Long.MaxValue) — don't burn a sniff
            # job on frames whose size we can't actually see; file-backed
            # scans (the at-scale case) report real sizes
            big = False
        else:
            big = size >= _policy.SALT_SNIFF_MIN_BYTES
        if big:
            from cypher_for_apache_spark_spark.operators.skew import (
                degree_skew_factor,
            )

            factor = degree_skew_factor(rdf, near_col)
        memo[memo_key] = factor
        return factor

    def _anon(self) -> str:
        return f" _anon{next(self._uid)}"

    def _ctx(self, rec: Record) -> CompileCtx:
        return CompileCtx(rec.df, rec.header, self.params)

    def _unit_df(self) -> DataFrame:
        return self.spark.range(1).select(F.lit(1).alias(" unit"))

    def _materialize(self, rec: Record) -> Record:
        if rec.df is None:
            return Record(self._unit_df(), dict(rec.header), rows=lambda: 1)
        return rec

    # ------------------------------------------------------------- entry point
    def plan(self, q) -> PlanResult:
        if isinstance(q, A.CreateGraphStatement):
            inner = self.plan(q.inner)
            if inner.graph is None:
                raise CypherPlanningError(
                    "CATALOG CREATE GRAPH requires the inner query to RETURN GRAPH"
                )
            self.catalog[q.name] = inner.graph
            return inner
        if isinstance(q, A.DeleteGraphStatement):
            self.catalog.pop(q.name, None)
            return PlanResult(df=self._unit_df().limit(0))
        if isinstance(q, A.CreateViewStatement):
            self.views[q.name] = (q.params, q.inner)
            return PlanResult(df=self._unit_df().limit(0))
        if isinstance(q, A.DeleteViewStatement):
            self.views.pop(q.name, None)
            return PlanResult(df=self._unit_df().limit(0))
        if isinstance(q, A.UnionQuery):
            results = [self.plan_single(sq) for sq in q.queries]
            if any(r.graph is not None for r in results):
                from cypher_for_apache_spark_spark.graph import union_graphs

                return PlanResult(graph=union_graphs(*[r.graph for r in results]))
            dfs = [r.df for r in results]
            cols = dfs[0].columns
            for d in dfs[1:]:
                if set(d.columns) != set(cols):
                    raise CypherPlanningError(
                        f"UNION requires same return columns: {cols} vs {d.columns}"
                    )
            out = dfs[0]
            for d, all_flag in zip(dfs[1:], q.all_flags):
                out = out.unionByName(d)
            if not all(q.all_flags):
                # UNION dedupes the whole result (LogicalPlanner.scala:68-70)
                out = out.dropDuplicates()
            return PlanResult(df=out)
        return self.plan_single(q)

    def plan_single(self, q: A.SingleQuery) -> PlanResult:
        rec = Record(None, {})
        constructed: Optional[PropertyGraph] = None
        final: Optional[PlanResult] = None
        start = 0
        if self.driving_table is None and len(q.clauses) >= 2:
            pre = self._try_eager_agg(q.clauses[0], q.clauses[1])
            if pre is None:
                pre = self._try_shortest_agg(q.clauses[0], q.clauses[1])
            if pre is not None:
                rec = pre
                start = 2
                if q.clauses[1].is_return:
                    final = PlanResult(df=self.finalize(rec))
        if self.driving_table is not None:
            # driving-table parameter (reference: cypher(..., drivingTable),
            # PropertyGraph.scala:99): each column binds a value variable
            header = {
                c: EntityMeta(kind="value", col=c) for c in self.driving_table.columns
            }
            rec = Record(self.driving_table, header)
        for clause in q.clauses[start:]:
            if isinstance(clause, A.MatchClause):
                rec = self.plan_match(rec, clause)
            elif isinstance(clause, A.UnwindClause):
                rec = self.plan_unwind(rec, clause)
            elif isinstance(clause, A.CallSubquery):
                rec = self.plan_call_subquery(rec, clause)
            elif isinstance(clause, A.CallProcedure):
                rec = self.plan_call_procedure(rec, clause)
                if clause.yields is None:
                    # standalone CALL: the procedure's declared columns ARE
                    # the query result (Neo4j's standalone call form)
                    final = PlanResult(df=self.finalize(rec))
            elif isinstance(clause, A.FromGraphClause):
                self.graph = self._resolve_graph_ref(clause)
            elif isinstance(clause, A.ConstructClause):
                constructed = self.plan_construct(rec, clause)
            elif isinstance(clause, A.ReturnGraphClause):
                final = PlanResult(graph=constructed or self.graph)
            elif isinstance(clause, A.ProjectionClause):
                rec = self.plan_projection(rec, clause)
                if clause.is_return:
                    final = PlanResult(df=self.finalize(rec))
        if final is None:
            raise CypherPlanningError("query has no RETURN clause")
        return final

    # -------------------------------------------------------- CALL { subquery }
    def _agg_fill_specs(self, items, imports):
        """Zero-match fill plan for an ALL-aggregate correlated projection.

        openCypher empty-aggregate values: count/sum -> 0, collect -> [];
        min/max/avg/stdev/percentile -> null (which a left join already
        yields, so those need no explicit fill). Returns

        - ``bare_fills``: alias -> "zero" | "empty_array" for items that
          ARE a single aggregate call (coalesce-fillable: the aggregate's
          matched value is never null for those kinds);
        - ``composite``: alias -> fill AST for items that COMPOSE
          aggregates into a larger expression (``count(q) + 1``): the item
          with each maximal aggregate subtree replaced by its empty value.
          Any VARIABLE left outside the aggregates is an implicit grouping
          expression — Neo4j rejects the query outright ("Aggregation
          column contains implicit grouping expressions"), and so do we.
          The surviving fill is therefore constant per row; it applies
          only to zero-match rows via a matched-marker column, never
          coalesce — a composite's matched value can legitimately be
          null."""
        from cypher_for_apache_spark_spark.functions.registry import AGGREGATES

        bare_fills: Dict[str, str] = {}
        composite: Dict[str, A.Expr] = {}
        for e, a in items:
            bare = isinstance(e, A.CountStar) or (
                isinstance(e, A.FuncCall) and e.name in AGGREGATES
            )
            if bare:
                if isinstance(e, A.CountStar) or e.name in ("count", "sum"):
                    bare_fills[a] = "zero"
                elif e.name == "collect":
                    bare_fills[a] = "empty_array"
                continue
            subs: List[Tuple[A.Expr, A.Expr]] = []
            for agg in A.aggregate_subtrees(e):
                if isinstance(agg, A.CountStar) or agg.name in ("count", "sum"):
                    subs.append((agg, A.Lit(0)))
                elif agg.name == "collect":
                    subs.append((agg, A.ListLit([])))
                else:
                    subs.append((agg, A.Lit(None)))
            fill_ast = A.substitute(e, subs)
            for node in fill_ast.walk():
                if isinstance(node, A.Var):
                    raise CypherPlanningError(
                        "a correlated CALL subquery aggregate expression "
                        f"(`{a}`) references variable `{node.name}` outside "
                        "the aggregate — an implicit grouping expression "
                        "(Neo4j rejects this too); project it as its own "
                        "item instead"
                    )
            composite[a] = fill_ast
        return bare_fills, composite

    def _plan_correlated_agg_with(
        self,
        cur: Record,
        driving: Record,
        imports: List[str],
        clause: A.ProjectionClause,
        items_c,
        nonnull: FrozenSet[str],
    ) -> Record:
        """Intermediate ``WITH <only aggregates>`` inside a correlated CALL:
        ``WITH count(q) AS c`` has no grouping keys in Neo4j, so EVERY
        input row yields one aggregate row — including zero-match rows.
        Lowering: aggregate per import combination (imports threaded in as
        grouping keys), LEFT-join the subquery's driving table back on the
        import identities, and fill the empty aggregates (count/sum 0,
        collect [], rest null). A WHERE on the WITH filters AFTER the
        fill, exactly as Neo4j filters the aggregated row.

        The aggregate has one row per import combination, so the join back
        keeps ``driving``'s rows and facts; it matches on ``==`` for the
        ``nonnull`` driving keys (``_binding``) and goes through the
        ``maybe_broadcast`` row-bound gate."""
        fills, comp_fills = self._agg_fill_specs(items_c, imports)
        aliases = [a for _, a in items_c]
        items_p = list(items_c)
        for v in imports:
            if v in aliases:
                bound = items_c[aliases.index(v)][0]
                if not (isinstance(bound, A.Var) and bound.name == v):
                    raise CypherPlanningError(
                        f"CALL subquery cannot rebind imported variable `{v}`"
                    )
            else:
                items_p.append((A.Var(v), v))
        proj = A.ProjectionClause(
            items_p, distinct=clause.distinct, star=False, is_return=False
        )
        agg = self.plan_projection(cur, proj)
        import_cols = set()
        for v in imports:
            import_cols.update(driving.header[v].columns())
        out_cols = []
        seen = set()
        for a in aliases:
            if a in imports:
                continue
            for c in agg.header[a].columns():
                if c not in seen and c not in import_cols:
                    seen.add(c)
                    out_cols.append(c)
        key_pairs = sorted(
            {
                (self._key_col(driving.header[v]), self._key_col(agg.header[v]))
                for v in imports
            }
        )
        renames = {ik: f"{ik}#call{next(self._uid)}" for _, ik in key_pairs}
        sel = [F.col(ik).alias(renames[ik]) for ik in renames]
        sel += [F.col(c) for c in out_cols if c not in renames]
        rdf = agg.df.select(*sel)
        marker = None
        if comp_fills:
            marker = f"_m#call{next(self._uid)}"
            rdf = rdf.withColumn(marker, F.lit(True))
        rdf = maybe_broadcast(rdf, agg.row_bound())
        cond = self._keys_match([(ok, renames[ik]) for ok, ik in key_pairs], nonnull)
        df = driving.df.join(rdf, cond, "left_outer").drop(*renames.values())
        header = {v: driving.header[v] for v in imports}
        for a in aliases:
            if a in imports:
                continue
            header[a] = agg.header[a]
        for a, kind in fills.items():
            m = header.get(a)
            if m is None or m.kind != "value":
                continue
            c = m.col
            dt = next(f.dataType for f in df.schema.fields if f.name == c)
            fill = (
                F.array().cast(dt) if kind == "empty_array" else F.lit(0).cast(dt)
            )
            df = df.withColumn(c, F.coalesce(F.col(c), fill))
        if marker is not None:
            ctx = self._ctx(Record(df, {v: driving.header[v] for v in imports}))
            for a, fill_ast in comp_fills.items():
                m = header.get(a)
                if m is None or m.kind != "value":
                    continue
                c = m.col
                dt = next(f.dataType for f in df.schema.fields if f.name == c)
                fill = compile_expr(fill_ast, ctx).cast(dt)
                df = df.withColumn(
                    c,
                    F.when(F.col(marker).isNull(), fill).otherwise(F.col(c)),
                )
            df = df.drop(marker)
        out = driving.narrowed(df, header)
        if clause.where is not None:
            out = self.plan_where(out, clause.where)
        return out

    # ---------------------------------------------------- CALL proc() YIELD
    def _const_value(self, e: A.Expr, what: str):
        """Driver-side value of a constant expression (literals, parameters,
        list/map literals over them, negation). Procedure arguments are
        plan-time constants — a procedure runs ONCE per query, never per
        input row (per-row semantics belong to CALL { } subqueries)."""
        if isinstance(e, A.Lit):
            return e.value
        if isinstance(e, A.Param):
            if e.name not in self.params:
                raise CypherPlanningError(f"missing parameter ${e.name}")
            return self.params[e.name]
        if isinstance(e, A.ListLit):
            return [self._const_value(x, what) for x in e.items]
        if isinstance(e, A.MapLit):
            return {k: self._const_value(v, what) for k, v in e.items}
        if isinstance(e, A.Neg):
            return -self._const_value(e.expr, what)
        raise CypherPlanningError(
            f"{what} must be a literal or parameter (procedures are not "
            "correlated per input row — use a CALL { } subquery for that)"
        )

    def plan_call_procedure(self, rec: Record, clause: A.CallProcedure) -> Record:
        """``CALL proc(args) YIELD cols [WHERE pred]`` (beyond reference
        parity; the reference has no procedures —
        documentation/asciidoc/cypher-cypher9-features.adoc:57-76). The
        procedure body (procedures.py registry) returns a DataFrame with a
        declared column contract; YIELD selects/renames its columns into
        fresh value variables and the result composes with the incoming
        rows exactly like an uncorrelated CALL subquery: a cross join,
        which Catalyst collapses to an equi-join when a later WHERE
        equates a yielded column with an outer one, and broadcasts small
        procedure outputs."""
        from cypher_for_apache_spark_spark.procedures import (
            ProcContext,
            ProcedureError,
        )

        try:
            proc = self.procedures.lookup(clause.name)
            vals = [
                self._const_value(a, f"procedure {clause.name} argument")
                for a in clause.args
            ]
            out = proc.invoke(
                ProcContext(self.spark, self.graph, self.catalog), vals
            )
        except ProcedureError as exc:
            raise CypherPlanningError(str(exc)) from exc
        yields = clause.yields
        if yields is None or yields == [("*", "*")]:
            yields = [(c, c) for c in proc.returns]
        header = dict(rec.header)
        sel = []
        seen_aliases = set()
        for col, alias in yields:
            if col not in proc.returns:
                raise CypherPlanningError(
                    f"procedure {proc.name} has no output column `{col}` "
                    f"(declares: {', '.join(proc.returns)})"
                )
            if alias in header or alias in seen_aliases:
                raise CypherPlanningError(
                    f"CALL ... YIELD `{alias}` collides with an existing variable"
                )
            seen_aliases.add(alias)
            phys = fresh(alias)
            sel.append(F.col(col).alias(phys))
            header[alias] = EntityMeta(kind="value", col=phys)
        odf = out.select(*sel)
        df = odf if rec.df is None else rec.df.crossJoin(odf)
        result = Record(df, header)
        if clause.where is not None:
            result = self.plan_where(result, clause.where)
        return result

    def plan_call_subquery(self, rec: Record, clause: A.CallSubquery) -> Record:
        """``CALL { [WITH a, b] ... RETURN ... }`` (beyond reference parity;
        the reference has no subqueries). Set-based lowering of Neo4j's
        per-row semantics:

        - a leading import ``WITH`` (plain variables only) makes the call
          CORRELATED: the inner query plans once against the binding of
          the imported variables (``_binding``: DISTINCT unless an import
          is unique), then joins back on their identities — ``==`` on
          non-null keys, null-safe otherwise, the inner side through the
          ``maybe_broadcast`` row-bound gate. The same binding discipline
          as OPTIONAL MATCH / EXISTS, never a per-row loop;
        - imported variables become implicit grouping keys of the final
          RETURN, so inner aggregates aggregate per input row;
        - an aggregating subquery returns one row per input row even with
          zero matches (left join; count/sum -> 0, collect -> [] — the
          openCypher empty-aggregate values) and keeps the input's facts
          (``Record``); a row-returning subquery with zero rows
          eliminates the input row (inner join) and drops them;
        - uncorrelated calls cross-join their result with the incoming
          rows (Catalyst turns it into a broadcast for small sides);
        - ORDER BY / SKIP / LIMIT on a correlated RETURN are per input
          row: a row_number window over the import identities — top-k
          per node stays one shuffle, never a per-row loop.

        Restrictions (clean errors): CORRELATED UNION inside CALL
        (uncorrelated unions work — _plan_call_union), ORDER BY / SKIP /
        LIMIT on INTERMEDIATE correlated WITHs, import rebinding,
        RETURN GRAPH / CONSTRUCT inside."""
        q = clause.query
        if isinstance(q, A.UnionQuery):
            return self._plan_call_union(rec, q)
        clauses = list(q.clauses)
        imports: List[str] = []
        head = clauses[0] if clauses else None
        if (
            isinstance(head, A.ProjectionClause)
            and not head.is_return
            and not head.star
            and head.items
            and all(isinstance(e, A.Var) and e.name == a for e, a in head.items)
            and not head.order_by
            and head.skip is None
            and head.limit is None
            and head.where is None
            and not head.distinct
        ):
            imports = [a for _, a in head.items]
            clauses = clauses[1:]
            for v in imports:
                if v not in rec.header:
                    raise CypherPlanningError(
                        f"CALL subquery imports unbound variable `{v}`"
                    )
        if not clauses or not (
            isinstance(clauses[-1], A.ProjectionClause) and clauses[-1].is_return
        ):
            raise CypherPlanningError("CALL subquery must end in RETURN")

        correlated = bool(imports) and rec.df is not None
        nonnull: FrozenSet[str] = frozenset()
        if correlated:
            inner, _, nonnull = self._binding(rec, imports)
        else:
            imports = []
            inner = Record(None, {})
        # the subquery's driving table: one row per distinct import
        # combination. Intermediate all-aggregate WITHs join back to THIS
        # to restore zero-match input rows with empty-aggregate values.
        driving = inner

        ret = clauses[-1]
        for c in clauses[:-1]:
            if isinstance(c, A.MatchClause):
                inner = self.plan_match(inner, c)
            elif isinstance(c, A.UnwindClause):
                inner = self.plan_unwind(inner, c)
            elif isinstance(c, A.CallSubquery):
                inner = self.plan_call_subquery(inner, c)
            elif isinstance(c, A.CallProcedure):
                inner = self.plan_call_procedure(inner, c)
            elif isinstance(c, A.ProjectionClause):
                if correlated:
                    # thread the imports through every intermediate WITH:
                    # they stay in scope for the whole subquery, and as
                    # extra projection items they become grouping keys of
                    # intermediate aggregates / DISTINCTs — exactly the
                    # per-input-row semantics
                    if c.order_by or c.skip is not None or c.limit is not None:
                        raise CypherPlanningError(
                            "ORDER BY / SKIP / LIMIT inside a correlated "
                            "CALL subquery is not supported"
                        )
                    items_c = list(self._resolve_items(inner, c))
                    if items_c and all(
                        A.contains_aggregate(e) for e, _ in items_c
                    ):
                        # ``WITH count(q) AS c`` has no grouping keys in
                        # Neo4j, so a zero-match input row still yields one
                        # c=0 row. Threading the imports in as grouping
                        # keys alone would drop that row — so aggregate
                        # per import combination, then left-join the
                        # subquery's DRIVING table back and fill the empty
                        # aggregates (count/sum 0, collect [], rest null).
                        inner = self._plan_correlated_agg_with(
                            inner, driving, imports, c, items_c, nonnull
                        )
                        continue
                    aliases = [a for _, a in items_c]
                    for v in imports:
                        if v in aliases:
                            bound = items_c[aliases.index(v)][0]
                            if not (isinstance(bound, A.Var) and bound.name == v):
                                raise CypherPlanningError(
                                    "CALL subquery cannot rebind imported "
                                    f"variable `{v}`"
                                )
                        else:
                            items_c.append((A.Var(v), v))
                    c = A.ProjectionClause(
                        items_c,
                        distinct=c.distinct,
                        star=False,
                        where=c.where,
                        is_return=False,
                    )
                inner = self.plan_projection(inner, c)
            else:
                raise CypherPlanningError(
                    f"unsupported clause inside CALL {{ }}: {type(c).__name__}"
                )

        items = self._resolve_items(inner, ret)
        out_aliases = [a for _, a in items]
        for a in out_aliases:
            if a in rec.header and a not in imports:
                raise CypherPlanningError(
                    f"CALL subquery output `{a}` collides with an existing variable"
                )
        # Neo4j zero-match semantics: a RETURN of ONLY aggregates (no
        # grouping keys) yields one row per input row even with zero
        # matches -> left join + empty-aggregate fills. A RETURN with any
        # non-aggregate item is a GROUPED aggregate: zero rows produce no
        # groups, so the input row is eliminated -> inner join (the
        # earlier left-join-always lowering produced a spurious
        # (key=null, count=0) row here).
        all_agg = bool(items) and all(A.contains_aggregate(e) for e, _ in items)
        # empty-aggregate fill plan (see _agg_fill_specs): bare aggregates
        # coalesce-fill; composites (``count(q) + 1``) fold the empty
        # values through the composition and apply via a matched-marker.
        fills: Dict[str, str] = {}
        comp_fills: Dict[str, A.Expr] = {}
        if correlated and all_agg:
            fills, comp_fills = self._agg_fill_specs(items, imports)
        ord_hidden: List[Tuple[str, bool]] = []
        if correlated:
            proj_items = list(items)
            present = set(out_aliases)
            for v in imports:
                if v not in present:
                    proj_items.append((A.Var(v), v))
            if ret.order_by and not ret.distinct:
                # materialize each ORDER BY key as a hidden projection item:
                # underlying variables are still in scope here, and under
                # aggregation the key aggregates alongside the outputs.
                # References to output ALIASES substitute to their defining
                # expressions (they don't exist pre-projection).
                subs = [
                    (A.Var(a), e)
                    for e, a in items
                    if not (isinstance(e, A.Var) and e.name == a)
                ]
                for oi in ret.order_by:
                    alias = f" ord#{next(self._uid)}"
                    proj_items.append((A.substitute(oi.expr, subs), alias))
                    ord_hidden.append((alias, oi.asc))
            proj = A.ProjectionClause(
                proj_items, distinct=ret.distinct, star=False, is_return=False
            )
        else:
            proj = A.ProjectionClause(
                items,
                distinct=ret.distinct,
                star=False,
                order_by=ret.order_by,
                skip=ret.skip,
                limit=ret.limit,
                is_return=False,
            )
        inner = self.plan_projection(inner, proj)
        if correlated and (
            ret.order_by or ret.skip is not None or ret.limit is not None
        ):
            # per-input-row pagination: a window over the import identities,
            # NOT a global limit — ``CALL { WITH p ... RETURN x ORDER BY s
            # DESC LIMIT 3 }`` is top-3-per-p
            sort_cols = []
            if ord_hidden:
                for alias, asc in ord_hidden:
                    c = F.col(self._key_col(inner.header[alias]))
                    sort_cols.append(c.asc_nulls_last() if asc else c.desc_nulls_first())
            else:
                # DISTINCT projection: ORDER BY sees the output aliases only
                ctx = self._ctx(inner)
                for oi in ret.order_by:
                    c = compile_expr(oi.expr, ctx)
                    sort_cols.append(
                        c.asc_nulls_last() if oi.asc else c.desc_nulls_first()
                    )
            if not sort_cols:
                sort_cols = [F.lit(0).asc()]
            kcols = sorted({self._key_col(inner.header[v]) for v in imports})
            w = Window.partitionBy(*kcols).orderBy(*sort_cols)
            lo = self._int_value(ret.skip) if ret.skip is not None else 0
            cond = F.col("_rn#call") > F.lit(lo)
            if ret.limit is not None:
                cond = cond & (
                    F.col("_rn#call") <= F.lit(lo + self._int_value(ret.limit))
                )
            inner = inner.narrowed(
                inner.df.withColumn("_rn#call", F.row_number().over(w))
                .filter(cond)
                .drop("_rn#call")
            )

        out_header = {a: inner.header[a] for a in out_aliases}
        if not correlated:
            header = dict(rec.header)
            for a in out_aliases:
                header[a] = out_header[a]
            cols = []
            seen = set()
            for m in out_header.values():
                for c in m.columns():
                    if c not in seen:
                        seen.add(c)
                        cols.append(c)
            idf = inner.df.select(*cols)
            if rec.df is None:
                return Record(idf, header)
            return Record(rec.df.crossJoin(idf), header)

        # correlated join-back on the imported identities. Import-owned
        # columns never travel through the join: the outer side already
        # has them (an imported var in the RETURN list reuses the outer
        # binding — same entity, same values).
        import_cols = set()
        for v in imports:
            import_cols.update(rec.header[v].columns())
        out_cols = []
        seen = set()
        for a in out_aliases:
            if a in imports:
                continue
            for c in out_header[a].columns():
                if c not in seen and c not in import_cols:
                    seen.add(c)
                    out_cols.append(c)
        # (outer key, inner key) per import: a projection inside the
        # subquery may have REBOUND a value import to a fresh physical
        # column (aggregation grouping keys do), so the two sides' column
        # names can differ
        key_pairs = sorted(
            {
                (self._key_col(rec.header[v]), self._key_col(inner.header[v]))
                for v in imports
            }
        )
        renames = {ik: f"{ik}#call{next(self._uid)}" for _, ik in key_pairs}
        sel = [F.col(ik).alias(renames[ik]) for ik in renames]
        sel += [F.col(c) for c in out_cols if c not in renames]
        rdf = inner.df.select(*sel)
        marker = None
        if all_agg and comp_fills:
            # a composite's matched value can legitimately be null, so
            # zero-match rows are detected by a marker, never by coalesce
            marker = f"_m#call{next(self._uid)}"
            rdf = rdf.withColumn(marker, F.lit(True))
        rdf = maybe_broadcast(rdf, inner.row_bound())
        cond = self._keys_match([(ok, renames[ik]) for ok, ik in key_pairs], nonnull)
        how = "left_outer" if all_agg else "inner"
        df = rec.df.join(rdf, cond, how).drop(*renames.values())
        if all_agg and fills:
            for a, kind in fills.items():
                m = out_header[a]
                if m.kind != "value":
                    continue
                c = m.col
                dt = next(f.dataType for f in df.schema.fields if f.name == c)
                fill = (
                    F.array().cast(dt)
                    if kind == "empty_array"
                    else F.lit(0).cast(dt)
                )
                df = df.withColumn(c, F.coalesce(F.col(c), fill))
        if marker is not None:
            ctx = self._ctx(Record(df, rec.header))
            for a, fill_ast in comp_fills.items():
                m = out_header[a]
                if m.kind != "value":
                    continue
                c = m.col
                dt = next(f.dataType for f in df.schema.fields if f.name == c)
                fill = compile_expr(fill_ast, ctx).cast(dt)
                df = df.withColumn(
                    c,
                    F.when(F.col(marker).isNull(), fill).otherwise(F.col(c)),
                )
            df = df.drop(marker)
        header = dict(rec.header)
        for a in out_aliases:
            if a in imports:
                continue  # the outer binding IS the subquery's value
            header[a] = out_header[a]
        if all_agg and all(
            a in imports or A.contains_aggregate(e) for e, a in proj_items
        ):
            # grouped by exactly the imports: at most one subquery row per
            # input row, so the left join keeps the input's rows and facts
            return rec.narrowed(df, header)
        return Record(df, header)

    def _plan_call_union(self, rec: Record, q: A.UnionQuery) -> Record:
        """UNION [ALL] inside an UNCORRELATED CALL { }: each branch plans
        standalone; branch outputs align by alias (value outputs only —
        entity layouts differ per branch) and union, then cross-join the
        incoming rows like any uncorrelated call. Correlated unions stay
        a clean error."""
        branch_frames = []
        aliases0: List[str] = []
        for sq in q.queries:
            clauses = list(sq.clauses)
            head = clauses[0] if clauses else None
            if (
                isinstance(head, A.ProjectionClause)
                and not head.is_return
                and not head.star
                and head.items
                and all(isinstance(e, A.Var) and e.name == a for e, a in head.items)
                and any(a in rec.header for _, a in head.items)
            ):
                raise CypherPlanningError(
                    "correlated UNION inside CALL { } is not supported"
                )
            if not clauses or not (
                isinstance(clauses[-1], A.ProjectionClause)
                and clauses[-1].is_return
            ):
                raise CypherPlanningError("CALL subquery must end in RETURN")
            inner = Record(None, {})
            for c in clauses[:-1]:
                if isinstance(c, A.MatchClause):
                    inner = self.plan_match(inner, c)
                elif isinstance(c, A.UnwindClause):
                    inner = self.plan_unwind(inner, c)
                elif isinstance(c, A.ProjectionClause):
                    inner = self.plan_projection(inner, c)
                else:
                    raise CypherPlanningError(
                        f"unsupported clause inside CALL {{ }}: {type(c).__name__}"
                    )
            ret = clauses[-1]
            items = self._resolve_items(inner, ret)
            proj = A.ProjectionClause(
                items,
                distinct=ret.distinct,
                star=False,
                order_by=ret.order_by,
                skip=ret.skip,
                limit=ret.limit,
                is_return=False,
            )
            inner = self.plan_projection(inner, proj)
            out_aliases = [a for _, a in items]
            for a in out_aliases:
                m = inner.header[a]
                if m.kind != "value":
                    raise CypherPlanningError(
                        "UNION inside CALL { } supports value outputs only"
                    )
            if not branch_frames:
                aliases0 = out_aliases
            elif set(out_aliases) != set(aliases0):
                raise CypherPlanningError(
                    f"UNION requires same return columns: {aliases0} vs {out_aliases}"
                )
            branch_frames.append(
                inner.df.select(
                    *[F.col(inner.header[a].col).alias(a) for a in aliases0]
                )
            )
        out = branch_frames[0]
        for bdf, all_flag in zip(branch_frames[1:], q.all_flags):
            out = out.unionByName(bdf)
        if not all(q.all_flags):
            out = out.dropDuplicates()
        # rebind with engine-unique physical names so downstream clauses
        # can't collide with user-visible column names
        header = dict(rec.header)
        sel = []
        for a in aliases0:
            if a in rec.header:
                raise CypherPlanningError(
                    f"CALL subquery output `{a}` collides with an existing variable"
                )
            phys = f"{self._u(a)}#val"
            sel.append(F.col(a).alias(phys))
            header[a] = EntityMeta(kind="value", col=phys)
        out = out.select(*sel)
        if rec.df is None:
            return Record(out, header)
        return Record(rec.df.crossJoin(out), header)

    # ------------------------------------------------ eager aggregation rewrite
    def _rel_candidate_tables(self, part: A.PatternPart, i: int) -> frozenset:
        """The set of relationship element tables hop ``i`` of ``part`` can
        scan — mirrors ``PropertyGraph.scan_rels`` pruning (type overlap +
        endpoint-label hints; label hints only constrain a fixed
        direction, like ``expand``)."""
        rel = part.rels[i]
        if rel.direction == "out":
            s, d = part.nodes[i].labels, part.nodes[i + 1].labels
        elif rel.direction == "in":
            s, d = part.nodes[i + 1].labels, part.nodes[i].labels
        else:
            s, d = (), ()
        want = set(rel.types)
        return frozenset(
            id(rt)
            for t, rts in self.graph.rel_tables.items()
            if not want or t in want
            for rt in rts
            if rt.compatible(s, d)
        )

    def _try_eager_agg(self, m, ret) -> Optional[Record]:
        """Eager aggregation (Yannakakis-style counting) for
        ``MATCH <chain> RETURN/WITH <agg>`` (and ``DISTINCT``-only
        projections): when the projection references only an interior
        segment of the chain, the dangling ends are planned separately,
        pre-aggregated to per-attachment-node match counts, and the final
        aggregate runs over the core rows weighted by the PRODUCT of
        branch counts — the multiplicative join fan-out around the shared
        node never materializes. On
        ``(c)-[:IN_NATION]->(n)<-[:IN_NATION]-(s)`` the generic plan joins
        |customers_per_nation| x |suppliers_per_nation| rows per nation
        (quadratic in the skewed key's degree — 20+ s at sf1, unbounded at
        100 TB); this plan shuffles one count row per node and is constant
        in the fan-out. A DISTINCT projection needs only branch EXISTENCE,
        so the ends become semi-joins. The reference has no such rewrite
        (LogicalOptimizer.scala rewrites scans, not aggregates).

        Soundness gates (any miss -> return None, generic plan): single
        non-optional MATCH part; fixed-length chain; no repeated pattern
        variables (cycles need the join); both chain ends prunable;
        aggregates expressible over weighted rows (pre-checked, plus
        ``WeightedAggUnsupported`` at compile time); and cross-segment
        relationship-uniqueness predicates statically vacuous — every
        cross-segment rel pair must draw from disjoint element-table sets
        (sound under the engine's id contract: element ids are unique
        across a graph's tables, the same assumption ``_rel_uniqueness``
        already makes when skipping statically disjoint types)."""
        if self.graph is None:
            return None
        if not isinstance(m, A.MatchClause) or m.optional or len(m.parts) != 1:
            return None
        if not isinstance(ret, A.ProjectionClause) or ret.star:
            return None
        part0 = m.parts[0]
        if part0.path_var is not None or len(part0.rels) < 2:
            return None
        if any(r.var_length is not None for r in part0.rels):
            return None
        has_agg = any(A.contains_aggregate(e) for e, _ in ret.items)
        if not has_agg and not ret.distinct:
            return None  # plain projection: row multiplicity is the result
        exprs = [e for e, _ in ret.items] + [oi.expr for oi in ret.order_by]
        if ret.where is not None:
            exprs.append(ret.where)
        walked = [n for e in exprs for n in e.walk()]
        if any(
            isinstance(n, (A.PatternComprehension, A.PatternPredicate)) for n in walked
        ):
            return None
        for e in exprs:
            for a in A.aggregate_subtrees(e):
                if isinstance(a, A.CountStar):
                    continue
                if a.distinct:
                    if a.name not in ("count", "sum", "avg", "collect", "min", "max"):
                        return None
                elif a.name not in ("count", "sum", "avg", "min", "max"):
                    return None
        node_vars = [n.var or self._anon() for n in part0.nodes]
        rel_vars = [r.var or self._anon() for r in part0.rels]
        if len(set(node_vars) | set(rel_vars)) != len(node_vars) + len(rel_vars):
            return None
        elements = []
        ni = ri = 0
        for i, el in enumerate(part0.elements):
            if i % 2 == 0:
                elements.append(dc_replace(el, var=node_vars[ni])); ni += 1
            else:
                elements.append(dc_replace(el, var=rel_vars[ri])); ri += 1
        part = A.PatternPart(elements)
        pat_vars = set(node_vars) | set(rel_vars)
        aliases = {alias for _, alias in ret.items}
        refs = {
            n.name for e, _ in ret.items for n in e.walk() if isinstance(n, A.Var)
        }
        # ORDER BY / trailing WHERE see both output aliases (resolved
        # post-aggregation — no pattern dependency) and pattern variables;
        # a name that is BOTH shadows ambiguously — punt to the generic path
        for e in [oi.expr for oi in ret.order_by] + (
            [ret.where] if ret.where is not None else []
        ):
            for n in e.walk():
                if isinstance(n, A.Var):
                    if n.name in aliases:
                        if n.name in pat_vars:
                            return None
                    else:
                        refs.add(n.name)
        mrefs = (
            {n.name for n in m.where.walk() if isinstance(n, A.Var)}
            if m.where is not None
            else set()
        )
        if not (refs | mrefs) <= pat_vars:
            return None  # unbound name — let the generic path report it
        positions = [
            (i, i) for i, v in enumerate(node_vars) if v in refs or v in mrefs
        ] + [
            (i, i + 1) for i, v in enumerate(rel_vars) if v in refs or v in mrefs
        ]
        if not positions:
            return None
        lo = min(p for p, _ in positions)
        hi = max(p for _, p in positions)
        if lo == 0 or hi == len(node_vars) - 1:
            return None  # a single dangling end has no multiplicative blow-up
        # hop i spans nodes (i, i+1): prefix hops < lo, core lo..hi-1, rest suffix
        cand = [self._rel_candidate_tables(part, i) for i in range(len(part.rels))]

        def seg(i: int) -> int:
            return 0 if i < lo else (1 if i < hi else 2)

        for i in range(len(cand)):
            for j in range(i + 1, len(cand)):
                if seg(i) != seg(j) and (cand[i] & cand[j]):
                    return None
        try:
            core_ids: List[Tuple[str, frozenset, bool]] = []
            core = self.plan_part(
                Record(None, {}),
                A.PatternPart(elements[2 * lo : 2 * hi + 1]),
                core_ids,
            )
            core = self._rel_uniqueness(core, core_ids)
            if m.where is not None:
                core = self.plan_where(core, m.where)
            df = core.df
            mult = F.lit(1).cast("long")
            cnt_cols = []
            for bslice, attach in (
                (elements[: 2 * lo + 1], lo),
                (elements[2 * hi :], hi),
            ):
                b_ids: List[Tuple[str, frozenset, bool]] = []
                brec = self.plan_part(Record(None, {}), A.PatternPart(bslice), b_ids)
                brec = self._rel_uniqueness(brec, b_ids)
                key = f"eag{next(self._uid)}#key"
                bid = F.col(brec.header[node_vars[attach]].id_col)
                if has_agg:
                    cnt = f"eag{next(self._uid)}#cnt"
                    cdf = brec.df.groupBy(bid.alias(key)).agg(
                        F.count(F.lit(1)).alias(cnt)
                    )
                    cnt_cols.append(cnt)
                    mult = mult * F.col(cnt)
                else:
                    # DISTINCT projection: only branch existence matters
                    cdf = brec.df.select(bid.alias(key)).distinct()
                df = df.join(
                    cdf,
                    F.col(core.header[node_vars[attach]].id_col) == F.col(key),
                    "inner",
                ).drop(key)
            if has_agg:
                wcol = f"eag{next(self._uid)}#mult"
                df = df.withColumn(wcol, mult).drop(*cnt_cols)
                return self._plan_aggregation(
                    Record(df, core.header), ret, list(ret.items), weight_col=wcol
                )
            return self.plan_projection(Record(df, core.header), ret)
        except WeightedAggUnsupported:
            return None

    def _resolve_graph_ref(self, clause: A.FromGraphClause) -> PropertyGraph:
        """Resolve FROM GRAPH <ref>: a $parameter (inside a view body), a
        catalog graph, or a view invocation (reference: CypherCatalog with
        parameterized views, RelationalCypherSession.scala:185-187)."""
        name = clause.graph_name
        if name.startswith("$"):
            if name not in self.graph_params:
                raise CypherPlanningError(f"unbound graph parameter `{name}`")
            return self.graph_params[name]
        if clause.view_args is None and name in self.catalog:
            return self.catalog[name]
        if name in self.views:
            params, inner = self.views[name]
            args = clause.view_args or []
            if len(args) != len(params):
                raise CypherPlanningError(
                    f"view `{name}` expects {len(params)} graph argument(s), got {len(args)}"
                )
            bound = {}
            for p, a in zip(params, args):
                sub_clause = A.FromGraphClause(a)
                bound[p] = self._resolve_graph_ref(sub_clause)
            sub = Planner(
                self.spark,
                None,
                self.params,
                catalog=self.catalog,
                views=self.views,
                graph_params=bound,
                procedures=self.procedures,
            )
            res = sub.plan(inner)
            if res.graph is None:
                raise CypherPlanningError(f"view `{name}` must RETURN GRAPH")
            return res.graph
        raise CypherPlanningError(f"graph `{name}` not in catalog")

    # ---------------------------------------------------------------- finalize
    def finalize(self, rec: Record) -> DataFrame:
        """Select exactly the output columns, entity vars rendered as structs
        (driver-side value reassembly — reference rowToCypherMap.scala).
        An entity whose id is null (unmatched OPTIONAL MATCH) is the null
        VALUE, not a struct of nulls — Cypher's `RETURN x` for unbound x."""
        rec = self._materialize(rec)
        # var-length path values render their runtime element arrays first
        # (join-based; see _render_varpath_elems)
        vpath_rendered: Dict[str, Tuple[str, str]] = {}
        for name in [n for n, m in rec.header.items() if m.kind == "varpath"]:
            meta = rec.header[name]
            rec, ncol = self._render_varpath_elems(rec, meta, "nodes")
            rec, rcol = self._render_varpath_elems(rec, meta, "rels")
            vpath_rendered[name] = (ncol, rcol)
        cols = []
        for name, meta in rec.header.items():
            if name.startswith(" vp#"):
                continue  # hidden render columns, consumed below
            if meta.kind == "varpath":
                ncol, rcol = vpath_rendered[name]
                pv = F.struct(
                    F.col(ncol).alias("nodes"),
                    F.col(rcol).alias("rels"),
                    F.col(meta.col).alias("dirs"),
                    F.lit(True).alias("__path"),
                )
                cols.append(F.when(F.col(meta.col).isNotNull(), pv).alias(name))
            elif meta.kind == "value":
                cols.append(F.col(meta.col).alias(name))
            elif meta.kind == "path":
                from cypher_for_apache_spark_spark.functions.compiler import (
                    path_nodes_array,
                    path_rels_array,
                )

                ctx = CompileCtx(rec.df, rec.header, self.params)
                pv = F.struct(
                    path_nodes_array(meta.path_nodes, ctx).alias("nodes"),
                    path_rels_array(meta.path_rels, ctx).alias("rels"),
                    F.col(meta.col).alias("dirs"),
                    F.lit(True).alias("__path"),
                )
                # null sentinel: the dirs column (built with the path's
                # own pattern) — the first node may be a SHARED variable
                # that is bound even when an OPTIONAL path isn't
                cols.append(F.when(F.col(meta.col).isNotNull(), pv).alias(name))
            elif meta.kind == "node":
                parts = [
                    F.col(meta.id_col).alias("id"),
                    F.col(meta.labels_col).alias("labels"),
                ]
                parts += [F.col(c).alias(k) for k, c in sorted(meta.prop_cols.items())]
                entity = F.when(F.col(meta.id_col).isNotNull(), F.struct(*parts))
                cols.append(entity.alias(name))
            else:  # rel
                parts = [
                    F.col(meta.id_col).alias("id"),
                    F.col(meta.src_col).alias("src"),
                    F.col(meta.dst_col).alias("dst"),
                    F.col(meta.type_col).alias("type"),
                ]
                parts += [F.col(c).alias(k) for k, c in sorted(meta.prop_cols.items())]
                entity = F.when(F.col(meta.id_col).isNotNull(), F.struct(*parts))
                cols.append(entity.alias(name))
        return rec.df.select(*cols)

    # ------------------------------------------------------------------- MATCH
    def plan_match(self, rec: Record, clause: A.MatchClause) -> Record:
        if clause.optional:
            return self.plan_optional_match(rec, clause)
        rel_ids: List[Tuple[str, frozenset, bool]] = []  # (id col, types, is_list)
        for part in clause.parts:
            rec = self.plan_part(rec, part, rel_ids)
        rec = self._rel_uniqueness(rec, rel_ids)
        if clause.where is not None:
            rec = self.plan_where(rec, clause.where)
        return rec

    def _rel_uniqueness(self, rec: Record, rel_ids) -> Record:
        """Cypher relationship-isomorphism: rels within one MATCH are pairwise
        distinct (reference: isomorphismFilter,
        VarLengthExpandPlanner.scala:178-179)."""
        conds = []
        for i in range(len(rel_ids)):
            for j in range(i + 1, len(rel_ids)):
                ci, ti, li = rel_ids[i]
                cj, tj, lj = rel_ids[j]
                if ti and tj and not (ti & tj):
                    continue  # statically disjoint types can't collide
                if li and lj:
                    conds.append(~F.arrays_overlap(F.col(ci), F.col(cj)))
                elif li:
                    conds.append(~F.array_contains(F.col(ci), F.col(cj)))
                elif lj:
                    conds.append(~F.array_contains(F.col(cj), F.col(ci)))
                else:
                    conds.append(F.col(ci) != F.col(cj))
        if not conds:
            return rec
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        return rec.narrowed(rec.df.filter(cond))

    @staticmethod
    def _flip_rel(rel: A.RelPat) -> A.RelPat:
        """The same relationship pattern traversed right-to-left."""
        d = {"out": "in", "in": "out", "both": "both"}[rel.direction]
        return dc_replace(rel, direction=d)

    def _anchor_score(self, rec: Record, n: A.NodePat) -> Tuple[int, int, int]:
        """Static selectivity signal for anchoring a pattern: an
        already-bound variable (constrained by everything planned so far)
        beats equality property filters beats labels beats bare."""
        if n.var and n.var in rec.header:
            return (3, 0, 0)
        # only SELF-CONTAINED props (literals/params) count: a prop
        # referencing another pattern variable cannot filter a scan before
        # that variable is bound, so such a node cannot anchor
        simple, complex_ = self._split_props(n.props)
        if simple and not complex_:
            return (2, len(simple), len(n.labels))
        if n.labels and not complex_:
            return (1, len(n.labels), 0)
        return (0, 0, 0)

    def _anchor_index(self, rec: Record, nodes) -> int:
        """Selectivity-anchored pattern planning (round 8): the reference
        plans a MATCH part from its first node in written order
        (okapi-logical/.../LogicalPlanner.scala planMatchPattern:309), so
        ``MATCH (l:Big)-[...]->(t:Tiny {k: v})`` drags the big scan through
        the first join. Anchor at the node with the best static
        selectivity signal instead, expanding outward both ways. Ties keep
        written order (and with it the triplet-scan fast path)."""
        scores = [self._anchor_score(rec, n) for n in nodes]
        best = max(range(len(nodes)), key=lambda i: (scores[i], -i))
        return best if scores[best] > scores[0] else 0

    def plan_part(self, rec: Record, part: A.PatternPart, rel_ids) -> Record:
        if part.shortest is not None:
            return self._plan_shortest_path(rec, part, rel_ids)
        if part.path_var is not None:
            return self._plan_named_path(rec, part, rel_ids)
        nodes = part.nodes
        rels = part.rels
        anchor = 0
        if (
            rels
            and all(r.var_length is None for r in rels)
            # a property referencing another variable relies on the
            # written left-to-right binding order — don't reorder
            and not any(
                self._split_props(el.props)[1]
                for el in list(nodes) + list(rels)
            )
        ):
            anchor = self._anchor_index(rec, nodes)
        if anchor > 0:
            rec, anchor_var = self.ensure_node(rec, nodes[anchor])
            prev_var = anchor_var
            for i in range(anchor - 1, -1, -1):
                rec, prev_var = self.expand(
                    rec, prev_var, self._flip_rel(rels[i]), nodes[i], rel_ids
                )
            prev_var = anchor_var
            for i in range(anchor, len(rels)):
                rec, prev_var = self.expand(
                    rec, prev_var, rels[i], nodes[i + 1], rel_ids
                )
            return rec
        start = 0
        trip = None
        if rels and self.graph is not None:
            trip = self.try_triplet_scan(rec, nodes, rels, rel_ids) or self.try_node_rel_scan(
                rec, nodes, rels, rel_ids
            )
        if trip is not None:
            rec, prev_var = trip
            start = 1
        else:
            rec, prev_var = self.ensure_node(rec, nodes[0])
        for i in range(start, len(rels)):
            rec, prev_var = self.expand(rec, prev_var, rels[i], nodes[i + 1], rel_ids)
        return rec

    def _plan_named_path(self, rec: Record, part: A.PatternPart, rel_ids) -> Record:
        """``p = (a)-[r]->(b)-...``: plan the pattern normally (anonymous
        elements get generated variables so every element has a meta),
        then bind ``p`` as a PATH meta owning COPIES of the element
        layouts plus a per-hop forward-direction array — so the value
        survives projections that drop the element variables. Beyond
        parity: the reference supports no path values at all
        (cypher-cypher9-features.adoc; its TCK blacklist fails every
        named-path scenario). A var-length hop has no static element list
        — single-hop var-length patterns take the RUNTIME path route
        (_plan_named_varpath, round 7); mixed fixed+var patterns stay a
        clean error."""
        if any(r.var_length is not None for r in part.rels):
            if len(part.rels) != 1:
                raise CypherPlanningError(
                    "a named path with a variable-length relationship must "
                    "be a single-hop pattern (p = (a)-[*..n]->(b))"
                )
            return self._plan_named_varpath(rec, part, rel_ids)
        node_vars = [n.var or self._anon() for n in part.nodes]
        rel_vars = [r.var or self._anon() for r in part.rels]
        elements = []
        ni = ri = 0
        for i, el in enumerate(part.elements):
            if i % 2 == 0:
                elements.append(dc_replace(el, var=node_vars[ni])); ni += 1
            else:
                elements.append(dc_replace(el, var=rel_vars[ri])); ri += 1
        filled = A.PatternPart(elements, path_var=None)
        rec = self.plan_part(rec, filled, rel_ids)
        dirs_col = f"{self._u('path')}#dirs"
        hop_dirs = [
            # forward iff the stored edge's src is the hop's left node —
            # covers out (always true), in (always false), and undirected
            # (per-row orientation) uniformly
            F.col(rec.header[rv].src_col) == F.col(rec.header[nv].id_col)
            for rv, nv in zip(rel_vars, node_vars[:-1])
        ]
        df = rec.df.withColumn(
            dirs_col,
            F.array(*hop_dirs) if hop_dirs else F.array().cast("array<boolean>"),
        )
        header = dict(rec.header)
        header[part.path_var] = EntityMeta(
            kind="path",
            col=dirs_col,
            path_nodes=tuple(rec.header[v] for v in node_vars),
            path_rels=tuple(rec.header[v] for v in rel_vars),
        )
        return Record(df, header)

    def _plan_named_varpath(self, rec: Record, part: A.PatternPart, rel_ids) -> Record:
        """``p = (a)-[r*lo..hi]->(b)``: the var-length expansion carries
        the traversed node-id / rel-id / per-hop-direction arrays
        alongside the slim frontier (var_length_expand path_cols), and
        ``p`` binds as a VARPATH meta over those runtime arrays. length(p)
        compiles to size(rels); nodes(p)/relationships(p) and the final
        path value render by exploding the id arrays against the unified
        scans and reassembling in order (_render_varpath_elems) — a
        per-use join, paid only when the full elements are asked for."""
        rel, src_pat, tgt_pat = part.rels[0], part.nodes[0], part.nodes[1]
        rec, src_var = self.ensure_node(rec, src_pat)
        rec = self._materialize(rec)
        path_cols: Dict[str, str] = {}
        rec, tgt_var = self.var_length_expand(
            rec, src_var, rel, tgt_pat, rel_ids, path_cols=path_cols
        )
        header = dict(rec.header)
        header[part.path_var] = EntityMeta(
            kind="varpath",
            col=path_cols["dirs"],
            vpath_nodes_col=path_cols["nodes"],
            vpath_rels_col=path_cols["rels"],
        )
        return Record(rec.df, header)

    def _render_varpath_elems(
        self,
        rec: Record,
        meta: EntityMeta,
        which: str,
        keys: Optional[frozenset] = None,
    ) -> Tuple[Record, str]:
        """Attach a hidden value column holding the ordered node (or
        relationship) struct array of a var-length path: posexplode the
        id array, join the unified scan once, reassemble sorted by
        position. One groupBy per rendered array — paid per use, never on
        the expansion's hot path. Struct shapes match the fixed-path
        renderers (path_nodes_array / path_rels_array) so path values are
        uniform downstream. ``keys``: restrict the rendered property
        fields to these (from _varpath_needed_keys); None renders all —
        pruning keeps the explode-join-collect proportional to what the
        query reads, and lets Catalyst prune the scan columns too.

        Join-back identity: a path IS its (rel-id array, node-id array)
        pair, so the rendered array rejoins on those columns directly —
        no generated row id and therefore no eager checkpoint of the
        full-width record (which dominated the query at sf1), and paths
        shared by many record rows render once."""
        out_col = f" vp#{next(self._uid)}#arr"
        df = self._materialize(rec).df
        ids_col = meta.vpath_nodes_col if which == "nodes" else meta.vpath_rels_col
        key_cols = [meta.vpath_rels_col, meta.vpath_nodes_col]
        empty_rel_t = "array<struct<id:bigint,src:bigint,dst:bigint,type:string>>"

        def want(k: str) -> bool:
            return keys is None or k in keys

        if which == "nodes":
            scan_df, smeta = self.scan_node_record(f" vpn{next(self._uid)}", ())
            st = F.struct(
                F.col(smeta.id_col).alias("id"),
                *([F.col(smeta.labels_col).alias("labels")] if want("labels") else []),
                *[
                    F.col(c).alias(k)
                    for k, c in sorted(smeta.prop_cols.items())
                    if want(k)
                ],
            )
        else:
            scan_df, smeta = self.scan_rel_frame(f" vpr{next(self._uid)}", ())
            if scan_df is None:
                # no relationships in the graph: every matched path is
                # zero-length, its rel array renders empty
                df = df.withColumn(
                    out_col,
                    F.when(
                        F.col(meta.col).isNotNull(), F.array().cast(empty_rel_t)
                    ),
                )
                header = dict(rec.header)
                header[out_col] = EntityMeta(kind="value", col=out_col)
                return Record(df, header), out_col
            st = F.struct(
                F.col(smeta.id_col).alias("id"),
                F.col(smeta.src_col).alias("src"),
                F.col(smeta.dst_col).alias("dst"),
                *([F.col(smeta.type_col).alias("type")] if want("type") else []),
                *[
                    F.col(c).alias(k)
                    for k, c in sorted(smeta.prop_cols.items())
                    if want(k)
                ],
            )
        uniq = (
            df.select(*key_cols)
            .where(F.col(ids_col).isNotNull())
            .dropDuplicates(key_cols)
        )
        expl = uniq.select(*key_cols, F.posexplode(ids_col).alias("_pos", "_eid"))
        joined = expl.join(scan_df, F.col("_eid") == F.col(smeta.id_col))
        agg = joined.groupBy(*key_cols).agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_pos").alias("p"), st.alias("s")))
            ).alias("_ps")
        )
        arr = agg.select(
            *key_cols, F.transform(F.col("_ps"), lambda x: x["s"]).alias(out_col)
        )
        out = df.join(arr, key_cols, "left")
        arr_t = next(f.dataType for f in out.schema.fields if f.name == out_col)
        # zero-length paths explode no rel rows -> left-join null; render
        # the typed empty array for matched paths, keep null for unmatched
        out = out.withColumn(
            out_col,
            F.when(
                F.col(meta.col).isNotNull(),
                F.coalesce(F.col(out_col), F.array().cast(arr_t)),
            ),
        )
        header = dict(rec.header)
        header[out_col] = EntityMeta(kind="value", col=out_col)
        return Record(out, header), out_col

    @staticmethod
    def _varpath_needed_keys(expr: A.Expr, call: A.Expr) -> Optional[frozenset]:
        """Property keys of the rendered entities that ``expr`` actually
        reads, when EVERY use of ``call`` (a nodes()/relationships() over
        a varpath) is as a higher-order-function source whose lambda
        variable is only property-accessed (or passed to id/labels/type).
        None = some use needs the full struct (returned whole, UNWINDed,
        compared) — render every property. Pruning here is what keeps a
        ``reduce(.., x IN nodes(p) | acc + x.totalprice)`` from dragging
        every node property of millions of paths through the render's
        explode-join-collect (measured 16x-super-linear at sf1 without)."""
        needed: set = set()

        def lam_uses(body: A.Expr, var: str) -> bool:
            """Collect prop keys; True if the lambda var escapes whole."""
            if isinstance(body, A.Prop) and isinstance(body.subject, A.Var) and body.subject.name == var:
                needed.add(body.key)
                return False
            if (
                isinstance(body, A.FuncCall)
                and body.name in ("id", "labels", "type")
                and len(body.args) == 1
                and isinstance(body.args[0], A.Var)
                and body.args[0].name == var
            ):
                # served by the non-property struct fields; labels/type
                # are only rendered when recorded here (id always is)
                needed.add(body.name)
                return False
            if isinstance(body, A.Var) and body.name == var:
                return True
            return any(lam_uses(c, var) for c in body.children())

        def visit(n: A.Expr) -> bool:
            """True if some use of ``call`` requires the full struct."""
            if n == call:
                return True  # reached outside a recognized HOF-source slot
            if isinstance(n, (A.ListComp, A.Quantified)) and n.source == call:
                bodies = [
                    b
                    for b in (getattr(n, "projection", None), getattr(n, "where", None))
                    if b is not None
                ]
                return any(lam_uses(b, n.var) for b in bodies) or any(
                    visit(b) for b in bodies
                )
            if isinstance(n, A.Reduce) and n.source == call:
                return (
                    lam_uses(n.expr, n.var) or visit(n.expr) or visit(n.init)
                )
            if isinstance(n, A.FuncCall) and n.name in ("size", "length") and (
                len(n.args) == 1 and n.args[0] == call
            ):
                return False  # size(nodes(p)) needs no fields at all
            return any(visit(c) for c in n.children())

        if visit(expr):
            return None
        return frozenset(needed)

    def _replace_varpath_fns(
        self, rec: Record, expr: A.Expr
    ) -> Tuple[Record, A.Expr]:
        """Lower nodes(p)/relationships(p) over a VAR-LENGTH path to a
        pre-rendered hidden value column (plan-level join — the compiler
        can't express it as a column). The rendered struct carries only
        the property keys the expression reads (see _varpath_needed_keys)."""
        calls = [
            n
            for n in expr.walk()
            if isinstance(n, A.FuncCall)
            and n.name in ("nodes", "relationships")
            and len(n.args) == 1
            and isinstance(n.args[0], A.Var)
            and rec.header.get(n.args[0].name) is not None
            and rec.header[n.args[0].name].kind == "varpath"
        ]
        unique = []
        for c in calls:
            if c not in unique:
                unique.append(c)
        for call in unique:
            meta = rec.header[call.args[0].name]
            which = "nodes" if call.name == "nodes" else "rels"
            keys = self._varpath_needed_keys(expr, call)
            rec, col = self._render_varpath_elems(rec, meta, which, keys)
            expr = A.substitute(expr, [(call, A.Var(col))])
        return rec, expr

    def _plan_shortest_path(self, rec: Record, part: A.PatternPart, rel_ids) -> Record:
        """``shortestPath((a)-[:T*0..k]->(b))`` / ``allShortestPaths(...)``:
        level-synchronous BFS with frontier pruning — each round drops the
        (source, node) pairs an earlier round reached, so only pairs
        reached for the FIRST time are expanded. UNBOUNDED ``[*]`` /
        ``[*1..]`` (round 7) runs the same rounds until the frontier
        drains — visited pruning bounds it at diameter+1 rounds. Every
        prefix of a shortest path is a shortest path to its intermediate
        node, so pruned frontiers lose nothing; on dense graphs the
        per-source work collapses from the full var-length expansion's
        O(all paths) to O(shortest paths). Beyond reference parity (the
        reference supports no shortestPath; its TCK blacklist fails the
        family). Neo4j semantics: relationship uniqueness within a path
        (trail); 'single' returns one deterministic shortest path per
        endpoint pair (the lexicographically least relationship-id list —
        also the oracle's tie-break), 'all' returns every shortest path.

        Where the rounds run: with minimum length 0 or 1, when the graph's
        measured relationship rows of the pattern's types fit the
        broadcast gate (``algorithms._fits_driver``), the step and the
        distinct sources are collected once and a numpy kernel replays the
        rounds on the driver (``algorithms._trails_on_driver``); it gives
        up, and the Spark rounds run, when the paths it would hold exceed
        the same gate. Otherwise the rounds are unrolled into Spark joins
        (``_shortest_rounds``). Minimum length >= 2 (which Neo4j itself
        rejects) has no sound per-pair pruning below ``lo``: its shortest
        trail per pair is a filter over all trails of length ``lo..hi``
        (``_trails``) — in 'all' mode the rows of the pair's least length,
        in 'single' mode the least (length, ids). Either way the
        (source, ids, end) rows meet the target pattern in one join
        (``_join_target``).

        The path variable and the relationship variable both bind to the
        LIST of traversed relationship ids, so ``length(p)`` /
        ``size(r)`` give the hop count; var-length paths have no static
        element list, so ``nodes(p)`` stays unsupported (as for plain
        var-length)."""
        fname = "shortestPath" if part.shortest == "single" else "allShortestPaths"
        if len(part.rels) != 1:
            raise CypherPlanningError(
                f"{fname} takes a single relationship pattern"
            )
        rel, src_pat, tgt_pat = part.rels[0], part.nodes[0], part.nodes[1]
        if rel.var_length is None:
            raise CypherPlanningError(
                f"{fname} requires a var-length relationship pattern"
            )
        lo, hi = rel.var_length
        single = part.shortest == "single"

        rec, src_var = self.ensure_node(rec, src_pat)
        rec = self._materialize(rec)
        src_meta = rec.header[src_var]

        rel_var = rel.var or self._anon()
        u = self._u(rel_var)
        ids_col = f"{u}#ids"
        src_c, end_c = f"{u}#bfssrc", f"{u}#bfsend"

        step, rmeta = self._step_scan(rel_var, rel)
        srcs = rec.df.select(F.col(src_meta.id_col).alias(src_c)).distinct()
        allrows = None
        if lo >= 2:
            trails = self._trails(srcs, step, lo, hi, (src_c, ids_col, end_c))
            hops = F.size(F.col(ids_col))
            if single:
                least = F.min(F.struct(hops.alias("n"), F.col(ids_col).alias("ids")))
                allrows = trails.groupBy(src_c, end_c).agg(
                    least["ids"].alias(ids_col)
                ).select(src_c, ids_col, end_c)
            else:
                least = f"{u}#least"
                w = Window.partitionBy(src_c, end_c)
                allrows = (
                    trails.withColumn(least, F.min(hops).over(w))
                    .filter(hops == F.col(least))
                    .drop(least)
                )
        elif step is not None and _fits_driver(self.graph, rel.types):
            allrows = _trails_on_driver(
                step, srcs, lo, hi, single, (src_c, ids_col, end_c)
            )
        if allrows is None:
            allrows = self._shortest_rounds(
                srcs, step, src_c, end_c, ids_col, lo, hi, single
            )

        rec, _ = self._join_target(rec, src_meta.id_col, allrows, src_c, end_c, tgt_pat)
        rec.header[rel_var] = EntityMeta(kind="value", col=ids_col)
        if part.path_var is not None:
            rec.header[part.path_var] = EntityMeta(kind="value", col=ids_col)
        rel_ids.append(
            (ids_col, rmeta.types if step is not None else frozenset(), True)
        )
        return rec

    def _shortest_rounds(
        self, srcs, step, src_c, end_c, ids_col, lo, hi, single
    ) -> DataFrame:
        """The Spark rounds of ``_plan_shortest_path`` for minimum length
        0 or 1: its (src, ids, end) rows from the distinct sources
        ``srcs`` over the step frame ``step`` (None: no relationship table
        has the pattern's types), unrolled at plan time into one join
        round per hop with ``_trail_hops``' first hop and extend. Each
        round anti-joins the visited (source, node) set, broadcast-gated
        on the summed round probes."""
        n_prev = None
        if step is not None:
            first, extend = self._trail_hops(step, hi, (src_c, ids_col, end_c))
            if hi is None or hi > 1:
                # the count seeds the per-round measured-width exchanges
                # below; without a step the sources only feed the
                # zero-length level
                srcs, n_prev = materialize_count(srcs)
        zero = srcs.select(
            src_c,
            F.array().cast("array<long>").alias(ids_col),
            F.col(src_c).alias(end_c),
        )

        levels: List[DataFrame] = []
        # visited is a union of checkpointed frames whose row count is the
        # sum of the probes the loop already takes (None: no probe, no
        # broadcast), so the per-round anti-join is broadcast-gated the
        # way bfs_distances gates its visited set
        if lo == 0:
            levels.append(zero)
            visited = zero.select(src_c, end_c)
            n_visited = n_prev
        else:
            visited = zero.select(src_c, end_c).filter(F.lit(False))
            n_visited = 0

        if step is not None:
            cur = first(srcs)
            depth = 0
            while True:
                depth += 1
                if hi is not None and depth > hi:
                    break
                if depth > 1:
                    # trail filter: a shortest path never repeats a node,
                    # but an undirected step could reuse the SAME edge
                    # back — openCypher forbids that
                    cur = extend(cur)
                if single:
                    # one representative shortest path per pair: min() over
                    # the rel-id list (arrays are orderable) — map-side
                    # partial aggregation, cheaper than a row_number window.
                    # Explicit measured-width exchange first: AQE's
                    # byte-based coalescing serializes the slim CPU-bound
                    # aggregate + anti-join + checkpoint into one task
                    # (see loop_width)
                    if n_prev:
                        cur = cur.repartition(
                            loop_width(cur, n_prev), src_c, end_c
                        )
                    cur = cur.groupBy(src_c, end_c).agg(F.min(ids_col).alias(ids_col))
                if lo == 0 or depth > 1:
                    cur = cur.join(
                        maybe_broadcast(visited, n_visited), [src_c, end_c], "left_anti"
                    )
                more = hi is None or depth < hi
                n_cur = None
                if more:
                    # checkpoint + emptiness probe in one job
                    cur, n_cur = materialize_count(cur)
                    n_prev = n_cur
                if hi is None and n_cur == 0:
                    # unbounded (*..): the visited-pruned frontier only
                    # shrinks once reachability saturates — at most
                    # diameter+1 rounds, each O(frontier), never the trail
                    # explosion of plain var-length
                    break
                levels.append(cur)
                if more:
                    new_pairs, n_new = cur.select(src_c, end_c), n_cur
                    if not single:
                        # 'all' keeps one row per shortest path; the visited
                        # set needs distinct pairs ('single' rows are already
                        # unique per pair and disjoint from visited).
                        # Materialize so later anti-joins don't redo the
                        # distinct; in single mode the union of already-
                        # checkpointed frontiers needs no eager job.
                        new_pairs, n_new = materialize_count(new_pairs.distinct())
                    visited = visited.unionByName(new_pairs)
                    n_visited += n_new
        elif lo > 0:
            levels.append(zero.filter(F.lit(False)))
        return _union_all(levels)

    def _try_shortest_agg(self, m, ret) -> Optional[Record]:
        """Multiplicity (sigma) plan for ``MATCH p = allShortestPaths(...)
        [WHERE ...] RETURN <agg over length(p)>``: when the path variable
        is consumed only as ``length(p)`` / ``size(p)`` and the projection
        aggregates (or is DISTINCT), the per-path row explosion is pure
        multiplicity — carry one row per (source, target) endpoint pair
        with a shortest-path COUNT column (sigma, exactly betweenness's
        forward sweep) and aggregate through the existing weighted-
        aggregate machinery. On dense bipartite expansions (Order-LINE-
        Order) the path count grows superlinearly in the data while the
        pair count stays near-linear, so this is the 100 TB plan; the
        per-path plan at planner._plan_shortest_path stays for queries
        that project the actual relationship list.

        Soundness gates (any miss -> None, generic per-path plan): single
        non-optional MATCH part wrapped in allShortestPaths with bounded
        var-length and distinct endpoint variables; path/rel variables
        referenced ONLY as the sole argument of length()/size() anywhere
        in MATCH-WHERE / items / ORDER BY / trailing WHERE; aggregates
        weight-expressible (same set as the eager-agg rewrite); no
        pattern comprehensions/predicates."""
        if self.graph is None:
            return None
        if not isinstance(m, A.MatchClause) or m.optional or len(m.parts) != 1:
            return None
        if not isinstance(ret, A.ProjectionClause) or ret.star:
            return None
        part = m.parts[0]
        if part.shortest != "all" or len(part.rels) != 1:
            return None
        rel, src_pat, tgt_pat = part.rels[0], part.nodes[0], part.nodes[1]
        if rel.var_length is None:
            return None
        lo, hi = rel.var_length
        if hi is None or lo not in (0, 1):
            return None
        if src_pat.var is not None and src_pat.var == tgt_pat.var:
            return None  # (a)-[*]-(a): keep the generic join plan
        has_agg = any(A.contains_aggregate(e) for e, _ in ret.items)
        if not has_agg and not ret.distinct:
            return None  # plain projection: row multiplicity IS the result
        exprs = [e for e, _ in ret.items] + [oi.expr for oi in ret.order_by]
        if ret.where is not None:
            exprs.append(ret.where)
        all_exprs = exprs + ([m.where] if m.where is not None else [])
        if any(
            isinstance(n, (A.PatternComprehension, A.PatternPredicate))
            for e in all_exprs
            for n in e.walk()
        ):
            return None
        for e in exprs:
            for a in A.aggregate_subtrees(e):
                if isinstance(a, A.CountStar):
                    continue
                if a.distinct:
                    if a.name not in ("count", "sum", "avg", "collect", "min", "max"):
                        return None
                elif a.name not in ("count", "sum", "avg", "min", "max"):
                    return None
        pvars = {v for v in (part.path_var, rel.var) if v}

        def len_only(e: A.Expr) -> bool:
            if (
                isinstance(e, A.FuncCall)
                and e.name in ("length", "size")
                and len(e.args) == 1
                and isinstance(e.args[0], A.Var)
                and e.args[0].name in pvars
            ):
                return True
            if isinstance(e, A.Var) and e.name in pvars:
                return False
            return all(len_only(c) for c in e.children())

        if pvars and not all(len_only(e) for e in all_exprs):
            return None

        planned = self._plan_all_shortest_sigma(part)
        if planned is None:
            return None
        rec, plen_var, sigma_col = planned
        subs: List[Tuple[A.Expr, A.Expr]] = []
        for pv in sorted(pvars):
            subs.append((A.FuncCall("length", [A.Var(pv)]), A.Var(plen_var)))
            subs.append((A.FuncCall("size", [A.Var(pv)]), A.Var(plen_var)))
        if m.where is not None:
            rec = self.plan_where(rec, A.substitute(m.where, subs))
        items2 = [(A.substitute(e, subs), a) for e, a in ret.items]
        ret2 = A.ProjectionClause(
            items2,
            distinct=ret.distinct,
            star=False,
            order_by=[
                A.OrderItem(A.substitute(oi.expr, subs), oi.asc)
                for oi in ret.order_by
            ],
            skip=ret.skip,
            limit=ret.limit,
            where=A.substitute(ret.where, subs) if ret.where is not None else None,
            is_return=ret.is_return,
        )
        if has_agg:
            try:
                return self._plan_aggregation(rec, ret2, items2, weight_col=sigma_col)
            except WeightedAggUnsupported:
                return None
        # DISTINCT projection: multiplicity collapses, sigma is irrelevant
        return self.plan_projection(rec, ret2)

    def _plan_all_shortest_sigma(
        self, part: A.PatternPart
    ) -> Optional[Tuple[Record, str, str]]:
        """Sigma-BFS for allShortestPaths: level-synchronous rounds keyed
        (source, end, last-edge) with a shortest-path-count column instead
        of one row per path with a rel-id array. Frontier pruning as in
        _plan_shortest_path; edge-distinctness (trail semantics) reduces
        to forbidding the immediate same-edge back-step, because every
        other node of a counted walk sits at its first-reach BFS level —
        an edge's endpoints are pinned to two consecutive levels, so the
        only possible reuse is stepping straight back (the betweenness
        sweep, algorithms._brandes_wave, makes the same argument).
        Returns (record binding src/tgt nodes + a hidden length value
        variable, hidden-length var name, sigma column name)."""
        rel, src_pat, tgt_pat = part.rels[0], part.nodes[0], part.nodes[1]
        lo, hi = rel.var_length

        rec = Record(None, {})
        rec, src_var = self.ensure_node(rec, src_pat)
        rec = self._materialize(rec)
        src_meta = rec.header[src_var]

        u = self._u(rel.var or self._anon())
        len_col, sigma_col = f"{u}#plen", f"{u}#sigma"
        src_c, end_c, last_c = f"{u}#bfssrc", f"{u}#bfsend", f"{u}#bfslast"
        plen_var = f" plen{next(self._uid)}"

        step, _ = self._step_scan(rel.var or self._anon(), rel)
        if step is not None and hi > 1:
            # joined once per depth — materialize (checkpoint + size
            # probe in one job). Deliberately NOT broadcast-hinted,
            # unlike the other var-length loops: sigma-BFS keeps walk
            # multiplicity un-collapsed at the LAST depth (see the
            # groupBy note below), so the final join's output is
            # path-count-bound — orders of magnitude above the
            # frontier. A broadcast hash join pins that expansion's
            # parallelism to the (small) stream side's partitioning,
            # serializing exactly the most expensive stage; the
            # sort-merge shape spreads it across the shuffle width and
            # lets AQE split skewed keys (measured on
            # all_shortest_shared_part, 9M output pairs at sf0.1:
            # broadcast 5.6 s vs SMJ 2.9 s, both 32 cores).
            step, _ = materialize_count(step)

        srcs = rec.df.select(F.col(src_meta.id_col).alias(src_c)).distinct()
        if hi > 1:
            srcs = materialize(srcs)
        zero_pairs = srcs.select(src_c, F.col(src_c).alias(end_c))

        one = F.lit(1).cast("long")
        levels: List[DataFrame] = []
        if lo == 0:
            levels.append(
                zero_pairs.select(
                    src_c, end_c, F.lit(0).alias(len_col), one.alias(sigma_col)
                )
            )
            visited = zero_pairs
        else:
            visited = zero_pairs.filter(F.lit(False))

        if step is not None:
            cur = srcs.join(step, F.col(src_c) == F.col("_near")).select(
                src_c,
                F.col("_far").alias(end_c),
                F.col("_rid").alias(last_c),
                one.alias(sigma_col),
            )
            for depth in range(1, hi + 1):
                if depth > 1:
                    cur = (
                        cur.join(step, F.col(end_c) == F.col("_near"))
                        # trail: the only reusable edge is the one just
                        # traversed (see docstring)
                        .filter(F.col("_rid") != F.col(last_c))
                        .select(
                            src_c,
                            F.col("_far").alias(end_c),
                            F.col("_rid").alias(last_c),
                            F.col(sigma_col),
                        )
                    )
                    if depth < hi:
                        # collapse walk multiplicity BEFORE the next
                        # expansion (this is where superlinear path growth
                        # dies: the frontier is bounded by edges incident
                        # to the level, never by path count). At the LAST
                        # depth there is no next expansion and the weighted
                        # aggregate downstream sums sigma anyway — grouping
                        # here would be one more full-width shuffle for
                        # nothing (measured 47.8 s -> 32.9 s at sf1 on
                        # all_shortest_shared_part).
                        cur = cur.groupBy(src_c, end_c, last_c).agg(
                            F.sum(sigma_col).alias(sigma_col)
                        )
                if lo == 0 or depth > 1:
                    cur = cur.join(visited, [src_c, end_c], "left_anti")
                if depth < hi:
                    cur = materialize(cur)
                # sigma is additive: per-level output rows may stay at
                # whatever granularity the frontier has — downstream
                # weighted aggregation (or DISTINCT) absorbs duplicates
                levels.append(
                    cur.select(
                        src_c, end_c, F.lit(depth).alias(len_col), sigma_col
                    )
                )
                if depth < hi:
                    visited = visited.unionByName(
                        materialize(cur.select(src_c, end_c).distinct())
                    )
        elif lo > 0:
            levels.append(
                zero_pairs.filter(F.lit(False)).select(
                    src_c, end_c, F.lit(0).alias(len_col), one.alias(sigma_col)
                )
            )

        rec, _ = self._join_target(
            rec, src_meta.id_col, _union_all(levels), src_c, end_c, tgt_pat
        )
        rec.header[plen_var] = EntityMeta(kind="value", col=len_col)
        return rec, plen_var, sigma_col

    def try_triplet_scan(
        self, rec: Record, nodes, rels, rel_ids
    ) -> Optional[Tuple[Record, str]]:
        """Recognized-pattern scan: serve the pattern's first
        ``(a)-[r]->(b)`` element from a registered pre-joined triplet table
        with zero joins (reference: TripletPattern, Pattern.scala:182 +
        replaceScansWithRecognizedPatterns, LogicalOptimizer.scala:67-114)."""
        npat0, rel, npat1 = nodes[0], rels[0], nodes[1]
        bound = self._bind_prejoined(
            rec, self.graph.triplet_tables, npat0, rel, npat1, rel.direction, True, rel_ids
        )
        if bound is None:
            return None
        rec, (_, _, b_var) = bound
        return rec, b_var

    def try_node_rel_scan(
        self, rec: Record, nodes, rels, rel_ids
    ) -> Optional[Tuple[Record, str]]:
        """NodeRelPattern scan (Pattern.scala:159): serve (source node +
        relationship) of the pattern's first element from one pre-joined
        table, joining only the far node — one join instead of two. Fires
        for fixed directions when the full triplet path declined."""
        npat0, rel, npat1 = nodes[0], rels[0], nodes[1]
        if rel.direction == "both":
            return None
        # the packed node is the edge SOURCE: pattern-left for `out`,
        # pattern-right for `in` (the pattern is served flipped)
        packed_pat, far_pat = (npat0, npat1) if rel.direction == "out" else (npat1, npat0)
        # the far node joins through _expand_bound_rel, whose unbound-target
        # path can't defer variable-referencing inline props
        if self._split_props(far_pat.props)[1]:
            return None
        bound = self._bind_prejoined(
            rec, self.graph.node_rel_tables, packed_pat, rel, far_pat, "out", False, rel_ids
        )
        if bound is None:
            return None
        packed_rec, (packed_var, r_var) = bound
        flipped = dc_replace(rel, var=r_var, direction="out")
        out_rec, far_var = self._expand_bound_rel(packed_rec, packed_var, flipped, far_pat)
        return out_rec, (far_var if rel.direction == "out" else packed_var)

    def _bind_prejoined(
        self, rec: Record, tables, left, rel, right, direction: str, scans_right: bool, rel_ids
    ) -> Optional[Tuple[Record, List[str]]]:
        """Bind a ``(left)-[rel]-(right)`` pattern element's variables from
        one scan of ``tables``, a registry of pre-joined tables (reference:
        Pattern.findMapping + replaceScansWithRecognizedPatterns, SURVEY.md
        §1.1, §4.1), oriented by ``direction``. A triplet table binds all
        three (``scans_right``); a node-rel table binds ``left`` and
        ``rel``, and ``right``'s labels only prune. Self-contained inline
        properties filter the scan (pushdown), variable-referencing ones
        the record after the cross join. Returns the record and the bound
        variables, or None — and the ordinary scan+join path runs — unless
        every variable is fresh and the tables provably cover every
        relationship table the element could touch."""
        named = [p.var for p in (left, rel, right) if p.var is not None]
        if (
            not tables
            or rel.var_length is not None
            or len(set(named)) != len(named)  # (a)-[r]->(a) needs the join path
            or any(v in rec.header for v in named)
        ):
            return None
        pats = [left, rel, right] if scans_right else [left, rel]
        kinds = ["node", "rel", "node"]
        names = [p.var or self._anon() for p in pats]
        us = [self._u(v) for v in names]
        df = self.graph.scan_prejoined(
            tables,
            rel.types,
            left.labels,
            right.labels,
            direction,
            *[self._scan_cols(u, k) for u, k in zip(us, kinds)],
        )
        if df is None:
            return None
        metas = [
            self._scan_meta(k, u, df, p.types if k == "rel" else p.labels)
            for u, k, p in zip(us, kinds, pats)
        ]
        if direction != "both":
            # directed: record which bound node is the edge's src / dst
            ends = [(names[0], metas[0].id_col), (None, None)]
            if scans_right:
                ends[1] = (names[2], metas[2].id_col)
            (sv, sc), (dv, dc) = ends if direction == "out" else ends[::-1]
            metas[1] = dc_replace(
                metas[1], src_var=sv, dst_var=dv, src_var_id_col=sc, dst_var_id_col=dc
            )
        complex_items = []
        for meta, pat in zip(metas, pats):
            simple, complex_ = self._split_props(pat.props)
            df = self._filter_prop_items(df, meta, simple, {})
            complex_items.append((meta, complex_))
        header = dict(rec.header)
        header.update(zip(names, metas))
        out_df = df if rec.df is None else rec.df.crossJoin(df)
        for meta, items in complex_items:
            if items:
                out_df = self._filter_prop_items(out_df, meta, items, header)
        rel_ids.append((metas[1].id_col, metas[1].types, False))
        return Record(out_df, header), names

    @staticmethod
    def _scan_cols(u: str, kind: str) -> Tuple[str, ...]:
        """Physical columns a scan names after ``u``: a node's (id, labels,
        property prefix), a rel's (id, src, dst, type, property prefix)."""
        own = ("id", "labels") if kind == "node" else ("id", "src", "dst", "type")
        return tuple(f"{u}#{c}" for c in own) + (f"{u}#p#",)

    def _scan_meta(
        self, kind: str, u: str, df: Optional[DataFrame], names: Sequence[str]
    ) -> EntityMeta:
        """The EntityMeta of a node (``names``: its labels) or rel
        (``names``: its types, all when empty) scanned into ``df`` under
        ``_scan_cols(u, kind)``."""
        *cols, prefix = self._scan_cols(u, kind)
        prop_cols = {
            c[len(prefix):]: c for c in (df.columns if df is not None else ()) if c.startswith(prefix)
        }
        if kind == "node":
            return EntityMeta(
                kind="node",
                id_col=cols[0],
                labels_col=cols[1],
                prop_cols=prop_cols,
                labels=frozenset(names),
                combos=frozenset(t.labels for t in self.graph.matching_node_tables(names)),
            )
        return EntityMeta(
            kind="rel",
            id_col=cols[0],
            src_col=cols[1],
            dst_col=cols[2],
            type_col=cols[3],
            prop_cols=prop_cols,
            types=frozenset(names) if names else frozenset(self.graph.rel_tables),
        )

    # -- node scan / binding -------------------------------------------------
    def scan_node_record(self, var: str, labels: Sequence[str]) -> Tuple[DataFrame, EntityMeta]:
        u = self._u(var)
        id_col, labels_col, prefix = self._scan_cols(u, "node")
        if self.graph is None:
            raise CypherPlanningError("no graph in scope for MATCH")
        df = self.graph.scan_nodes(
            labels, out_id=id_col, out_labels=labels_col, prop_prefix=prefix
        )
        if df is None:
            # MATCH on a label not in the schema -> empty records (reference
            # rule discardScansForNonexistentLabels, LogicalOptimizer.scala:151)
            schema = T.StructType(
                [
                    T.StructField(id_col, T.LongType()),
                    T.StructField(labels_col, T.ArrayType(T.StringType())),
                ]
            )
            df = local_frame(self.spark, [], schema)
        return df, self._scan_meta("node", u, df, labels)

    @staticmethod
    def _split_props(props: Optional[A.MapLit]):
        """Split inline property constraints into self-contained ones
        (literals/params — filterable on the scan, before the join, so the
        predicate pushes into the file read) and ones referencing other
        variables (must wait until after the join)."""
        if props is None:
            return [], []
        simple, complex_ = [], []
        for key, val in props.items:
            if any(isinstance(n, A.Var) for n in val.walk()):
                complex_.append((key, val))
            else:
                simple.append((key, val))
        return simple, complex_

    def _prop_filter(self, df: DataFrame, meta: EntityMeta, props: Optional[A.MapLit]) -> DataFrame:
        simple, complex_ = self._split_props(props)
        if complex_:
            raise CypherPlanningError(
                "inline property referencing another variable is not allowed here"
            )
        return self._filter_prop_items(df, meta, simple, {})

    def _step_scan(
        self, rel_var: str, rel: A.RelPat, fwd: bool = False
    ) -> Tuple[Optional[DataFrame], EntityMeta]:
        """The step side of a var-length fixpoint (shortestPath, the
        allShortestPaths sigma rounds, var-length expand): ``rel``'s
        relationships, filtered on its inline properties and oriented
        hop-wise as (_near, _far, _rid), both orientations in one pass
        (``_mirror``) for an undirected pattern; None when no relationship
        table has ``rel``'s types. ``fwd`` adds the per-hop direction bit
        ``_fwd``: whether the stored edge's src is the hop's near node, as
        fixed-length named paths carry it. Each caller materializes the
        step and decides its join strategy."""
        rdf, rmeta = self.scan_rel_frame(rel_var, rel.types)
        if rdf is None:
            return None, rmeta
        rdf = self._prop_filter(rdf, rmeta, rel.props)
        names = ["_near", "_far", "_rid"]
        ahead = [F.col(rmeta.src_col), F.col(rmeta.dst_col), F.col(rmeta.id_col)]
        back = [F.col(rmeta.dst_col), F.col(rmeta.src_col), F.col(rmeta.id_col)]
        if fwd:
            names.append("_fwd")
            ahead.append(F.lit(True))
            back.append(F.lit(False))
        if rel.direction == "out":
            return rdf.select([c.alias(n) for c, n in zip(ahead, names)]), rmeta
        if rel.direction == "in":
            return rdf.select([c.alias(n) for c, n in zip(back, names)]), rmeta
        return _mirror(rdf, ahead, back, names), rmeta

    def _filter_prop_items(self, df: DataFrame, meta: EntityMeta, items, scope: Header) -> DataFrame:
        ctx = CompileCtx(df, scope, self.params)
        eqs = []
        for key, val_expr in items:
            c = meta.prop_cols.get(key)
            target = F.col(c) if c is not None else F.lit(None)
            eqs.append(target == compile_expr(val_expr, ctx))
        # one filter, nested e1 AND (e2 AND e3) as Catalyst's CombineFilters
        # folds a filter per key
        return df.filter(reduce(lambda rest, eq: eq & rest, reversed(eqs))) if eqs else df

    def ensure_node(self, rec: Record, npat: A.NodePat) -> Tuple[Record, str]:
        var = npat.var or self._anon()
        meta = rec.header.get(var)
        if meta is not None:
            if meta.kind != "node":
                raise CypherPlanningError(f"variable `{var}` is not a node")
            df = rec.df
            if npat.labels:
                missing = [l for l in npat.labels if l not in meta.labels]
                for l in missing:
                    df = df.filter(F.array_contains(F.col(meta.labels_col), l))
            simple, complex_ = self._split_props(npat.props)
            df = self._filter_prop_items(df, meta, simple + complex_, rec.header)
            return rec.narrowed(df), var
        sdf, meta = self.scan_node_record(var, npat.labels)
        simple, complex_ = self._split_props(npat.props)
        sdf = self._filter_prop_items(sdf, meta, simple, {})
        header = dict(rec.header)
        header[var] = meta
        if rec.df is None:
            g, labels = self.graph, list(npat.labels)
            out = Record(
                sdf,
                header,
                unique=frozenset([var]),
                rows=lambda: g.element_rows(g.matching_node_tables(labels)),
            )
        else:
            # disconnected component -> cartesian product; Catalyst rewrites
            # cross+equality-filter into an equi-join (reference does this
            # itself: replaceCartesianWithValueJoin, LogicalOptimizer.scala:53)
            out = Record(rec.df.crossJoin(sdf), header)
        if complex_:
            out = out.narrowed(self._filter_prop_items(out.df, meta, complex_, header))
        return out, var

    # -- expand ----------------------------------------------------------------
    def scan_rel_frame(
        self,
        var: str,
        types: Sequence[str],
        src_labels: Sequence[str] = (),
        dst_labels: Sequence[str] = (),
        prefer_layout: str = "src",
    ) -> Tuple[Optional[DataFrame], EntityMeta]:
        u = self._u(var)
        idc, srcc, dstc, typec, prefix = self._scan_cols(u, "rel")
        df = self.graph.scan_rels(
            types,
            out_id=idc,
            out_src=srcc,
            out_dst=dstc,
            out_type=typec,
            prop_prefix=prefix,
            src_labels=src_labels,
            dst_labels=dst_labels,
            prefer_layout=prefer_layout,
        )
        return df, self._scan_meta("rel", u, df, types)

    def _empty_like(
        self,
        rec: Record,
        extra_meta: List[EntityMeta],
        type_sources: Optional[Dict[str, DataFrame]] = None,
    ) -> Record:
        """Zero-row frame that still carries every column the new metas
        advertise — including typed null property columns, or downstream
        expressions hit UNRESOLVED_COLUMN (reference
        discardScansForNonexistentLabels yields empty records, never an
        error). ``type_sources`` maps a meta's id_col to a frame whose
        schema provides the property types (e.g. the node scan that was
        planned but not joined)."""
        header = dict(rec.header)
        df = self._materialize(rec).df.filter(F.lit(False))
        srcs = type_sources or {}
        for m in extra_meta:
            cols = []
            if m.kind == "node":
                cols = [
                    F.lit(None).cast("long").alias(m.id_col),
                    F.lit(None).cast("array<string>").alias(m.labels_col),
                ]
            elif m.kind == "rel":
                cols = [
                    F.lit(None).cast("long").alias(m.id_col),
                    F.lit(None).cast("long").alias(m.src_col),
                    F.lit(None).cast("long").alias(m.dst_col),
                    F.lit(None).cast("string").alias(m.type_col),
                ]
            src = srcs.get(m.id_col)
            stypes = (
                {f.name: f.dataType for f in src.schema.fields} if src is not None else {}
            )
            for _, c in sorted(m.prop_cols.items()):
                cols.append(F.lit(None).cast(stypes.get(c, T.StringType())).alias(c))
            df = df.select("*", *cols)
        return Record(df, header)

    def expand(
        self,
        rec: Record,
        src_var: str,
        rel: A.RelPat,
        tgt: A.NodePat,
        rel_ids: List[Tuple[str, frozenset, bool]],
    ) -> Tuple[Record, str]:
        """(src)-[rel]->(tgt): source scan ⋈ rel table ⋈ target scan — the
        reference's Expand (RelationalPlanner.scala:130-165); ExpandInto when
        the target is already bound (:167-189); undirected = union of both
        orientations with self-loop dedup."""
        if rel.var_length is not None:
            return self.var_length_expand(rec, src_var, rel, tgt, rel_ids)

        rel_var = rel.var or self._anon()
        if rel_var in rec.header:
            return self._expand_bound_rel(rec, src_var, rel, tgt)

        src_meta = rec.header[src_var]
        tgt_var = tgt.var or self._anon()
        tgt_bound = tgt_var in rec.header
        # endpoint-label scan pruning (only sound for a fixed direction)
        tgt_static = set(tgt.labels)
        if tgt_bound:
            tgt_static |= rec.header[tgt_var].labels
        if rel.direction == "out":
            hints = (src_meta.labels, tgt_static)
        elif rel.direction == "in":
            hints = (tgt_static, src_meta.labels)
        else:
            hints = ((), ())
        # reverse expands join on dst first — scan the dst-bucketed copy
        layout = "dst" if rel.direction == "in" else "src"
        rdf, rmeta = self.scan_rel_frame(rel_var, rel.types, *hints, prefer_layout=layout)

        if rdf is None:
            out = self._empty_like(rec, [rmeta])
            out.header[rel_var] = rmeta
            if not tgt_bound:
                tdf, tmeta = self.scan_node_record(tgt_var, tgt.labels)
                out = self._empty_like(
                    Record(out.df, out.header), [tmeta], {tmeta.id_col: tdf}
                )
                out.header[tgt_var] = tmeta
            rel_ids.append((rmeta.id_col, rmeta.types, False))
            return out, tgt_var

        rsimple, rcomplex = self._split_props(rel.props)
        rdf = self._filter_prop_items(rdf, rmeta, rsimple, {})

        tsimple, tcomplex = self._split_props(tgt.props)
        tgt_scan = None
        tmeta = None
        if not tgt_bound:
            tgt_scan, tmeta = self.scan_node_record(tgt_var, tgt.labels)
            tgt_scan = self._filter_prop_items(tgt_scan, tmeta, tsimple, {})

        def one_branch(direction: str, dedup_self_loops: bool) -> DataFrame:
            near = rmeta.src_col if direction == "out" else rmeta.dst_col
            far = rmeta.dst_col if direction == "out" else rmeta.src_col
            branch_rdf = rdf
            if dedup_self_loops:
                branch_rdf = rdf.filter(F.col(rmeta.src_col) != F.col(rmeta.dst_col))
            factor = self._auto_salt_factor(
                branch_rdf, near, (frozenset(rel.types or ()), direction)
            )
            if factor > 1:
                # supernode salting (operators/skew.py rationale): a hub
                # node's relationship rows all land on one reducer in the
                # plain equi-join — salt the REL side by (near id, rel id)
                # and replicate the record side over the salt range so
                # each hot node spreads across `factor` reducers. AQE's
                # skew split covers sort-merge spills, but not a broadcast
                # or window downstream keyed on the same hub id. The
                # factor comes from the degree-skew sniff
                # (_auto_salt_factor).
                sl, sr = fresh("salt"), fresh("salt")
                salted = branch_rdf.withColumn(
                    sr,
                    F.pmod(
                        F.xxhash64(F.col(near), F.col(rmeta.id_col)), F.lit(factor)
                    ).cast("int"),
                )
                replicated = rec.df.withColumn(
                    sl, F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
                )
                d = replicated.join(
                    salted,
                    (F.col(src_meta.id_col) == F.col(near))
                    & (F.col(sl) == F.col(sr)),
                ).drop(sl, sr)
            else:
                d = rec.df.join(branch_rdf, F.col(src_meta.id_col) == F.col(near))
            if tgt_bound:
                t = rec.header[tgt_var]
                if t.kind != "node":
                    raise CypherPlanningError(f"variable `{tgt_var}` is not a node")
                d = d.filter(F.col(far) == F.col(t.id_col))
                if tgt.labels:
                    for l in [x for x in tgt.labels if x not in t.labels]:
                        d = d.filter(F.array_contains(F.col(t.labels_col), l))
                d = self._filter_prop_items(d, t, tsimple + tcomplex, rec.header)
            else:
                d = d.join(tgt_scan, F.col(far) == F.col(tmeta.id_col))
            return d

        if rel.direction == "out":
            df = one_branch("out", False)
        elif rel.direction == "in":
            df = one_branch("in", False)
        else:  # both: union of orientations, self-loops only once
            df = one_branch("out", False).unionByName(one_branch("in", True))

        header = dict(rec.header)
        tgt_id_col = (rec.header[tgt_var] if tgt_bound else tmeta).id_col
        if rel.direction == "out":
            rmeta = dc_replace(
                rmeta,
                src_var=src_var, dst_var=tgt_var,
                src_var_id_col=src_meta.id_col, dst_var_id_col=tgt_id_col,
            )
        elif rel.direction == "in":
            rmeta = dc_replace(
                rmeta,
                src_var=tgt_var, dst_var=src_var,
                src_var_id_col=tgt_id_col, dst_var_id_col=src_meta.id_col,
            )
        header[rel_var] = rmeta
        if not tgt_bound:
            header[tgt_var] = tmeta
        if rcomplex:
            df = self._filter_prop_items(df, rmeta, rcomplex, header)
        if tcomplex and not tgt_bound:
            df = self._filter_prop_items(df, tmeta, tcomplex, header)
        rel_ids.append((rmeta.id_col, rmeta.types, False))
        rows = None
        if src_var in rec.unique:
            # each relationship row joins at most one input row (the source
            # id is unique there) and one target node, per orientation
            g, tables = self.graph, self.graph.matching_rel_tables(rel.types, *hints)
            per = 2 if rel.direction == "both" else 1
            rows = lambda: per * g.element_rows(tables)  # noqa: E731
        return Record(df, header, rows=rows), tgt_var

    def _expand_bound_rel(self, rec: Record, src_var: str, rel: A.RelPat, tgt: A.NodePat):
        """Pattern reuses an already-bound relationship variable: constrain
        its endpoints against the pattern instead of rescanning."""
        rmeta = rec.header[rel.var]
        if rmeta.kind != "rel":
            raise CypherPlanningError(f"variable `{rel.var}` is not a relationship")
        if rel.types:
            # the reused variable must ALSO satisfy this pattern's type
            # constraint (MATCH ()-[r:R]->() MATCH ()-[r:S]->() is empty) —
            # statically when the type sets are disjoint, else a runtime
            # filter on the type column
            want = frozenset(rel.types)
            if rmeta.types and not (rmeta.types & want):
                rec = Record(rec.df.filter(F.lit(False)), rec.header)
            elif rmeta.type_col is not None:
                rec = Record(
                    rec.df.filter(F.col(rmeta.type_col).isin(*sorted(want))),
                    rec.header,
                )
        src_meta = rec.header[src_var]
        tgt_var = tgt.var or self._anon()

        def with_endpoints(header: Dict[str, EntityMeta]) -> Dict[str, EntityMeta]:
            # record which bound node is the edge src/dst (directed only)
            ends = (src_var, tgt_var)
            if rel.direction == "in":
                ends = ends[::-1]
            elif rel.direction != "out":
                return header
            m = dc_replace(
                rmeta,
                src_var=ends[0], dst_var=ends[1],
                src_var_id_col=header[ends[0]].id_col,
                dst_var_id_col=header[ends[1]].id_col,
            )
            header = dict(header)
            header[rel.var] = m
            return header

        df = rec.df
        if tgt_var not in rec.header:
            tgt_scan, tmeta = self.scan_node_record(tgt_var, tgt.labels)
            tgt_scan = self._prop_filter(tgt_scan, tmeta, tgt.props)
            header = dict(rec.header)
            header[tgt_var] = tmeta
            if rel.direction == "out":
                df = df.filter(F.col(rmeta.src_col) == F.col(src_meta.id_col))
                df = df.join(tgt_scan, F.col(rmeta.dst_col) == F.col(tmeta.id_col))
            elif rel.direction == "in":
                df = df.filter(F.col(rmeta.dst_col) == F.col(src_meta.id_col))
                df = df.join(tgt_scan, F.col(rmeta.src_col) == F.col(tmeta.id_col))
            else:
                a = df.filter(F.col(rmeta.src_col) == F.col(src_meta.id_col)).join(
                    tgt_scan, F.col(rmeta.dst_col) == F.col(tmeta.id_col)
                )
                b = df.filter(
                    (F.col(rmeta.dst_col) == F.col(src_meta.id_col))
                    & (F.col(rmeta.src_col) != F.col(rmeta.dst_col))
                ).join(tgt_scan, F.col(rmeta.src_col) == F.col(tmeta.id_col))
                df = a.unionByName(b)
            return Record(df, with_endpoints(header)), tgt_var
        t = rec.header[tgt_var]
        if rel.direction == "out":
            cond = (F.col(rmeta.src_col) == F.col(src_meta.id_col)) & (
                F.col(rmeta.dst_col) == F.col(t.id_col)
            )
        elif rel.direction == "in":
            cond = (F.col(rmeta.dst_col) == F.col(src_meta.id_col)) & (
                F.col(rmeta.src_col) == F.col(t.id_col)
            )
        else:
            cond = (
                (F.col(rmeta.src_col) == F.col(src_meta.id_col))
                & (F.col(rmeta.dst_col) == F.col(t.id_col))
            ) | (
                (F.col(rmeta.dst_col) == F.col(src_meta.id_col))
                & (F.col(rmeta.src_col) == F.col(t.id_col))
            )
        return Record(df.filter(cond), with_endpoints(rec.header)), tgt_var

    # -- var-length expand: one trail core --------------------------------------
    @staticmethod
    def _trail_hops(step: DataFrame, hi: Optional[int], cols, path=None):
        """The first-hop and extend functions of a trail loop over the
        oriented step ``step`` (``_step_scan``), on slim rows ``cols`` =
        (start, ids, end) and, with ``path`` = (nodes, dirs), the traversed
        node ids and per-hop direction bits. Extending drops a row whose
        relationship id is already in its list (trail semantics).

        A step joined more than once (``hi`` unbounded or above one) is
        materialized — or Spark recomputes the scan per join (reference:
        RelationalOptimizer.scala InsertCachingOperators). Scoped
        block-manager storage: freed automatically when the query's frames
        are dropped. The loop's join strategy is decided once: the
        checkpointed scan is opaque to AQE's stats, so a comfortably small
        step is hinted broadcast and every chained join (bounded unroll)
        or fixpoint round probes it in place instead of re-exchanging and
        re-sorting it (plan-verified: 2 exchanges/round -> 0)."""
        if hi is None or hi > 1:
            # checkpoint + size probe fused into one job
            step, n_step = materialize_count(step)
            step = maybe_broadcast(step, n_step, loop_invariant=True)
        start_c, ids_c, end_c = cols

        def first(starts: DataFrame) -> DataFrame:
            sel = [
                F.col(start_c),
                F.array(F.col("_rid")).alias(ids_c),
                F.col("_far").alias(end_c),
            ]
            if path:
                sel.append(F.array(F.col("_near"), F.col("_far")).alias(path[0]))
                sel.append(F.array(F.col("_fwd")).alias(path[1]))
            return starts.join(step, F.col(start_c) == F.col("_near")).select(*sel)

        def extend(cur: DataFrame) -> DataFrame:
            sel = [
                F.col(start_c),
                F.concat(F.col(ids_c), F.array(F.col("_rid"))).alias(ids_c),
                F.col("_far").alias(end_c),
            ]
            if path:
                for c, grown in zip(path, ("_far", "_fwd")):
                    sel.append(F.concat(F.col(c), F.array(F.col(grown))).alias(c))
            return (
                cur.join(step, F.col(end_c) == F.col("_near"))
                .filter(~F.array_contains(F.col(ids_c), F.col("_rid")))
                .select(*sel)
            )

        return first, extend

    def _trails(
        self,
        starts: DataFrame,
        step: Optional[DataFrame],
        lo: int,
        hi: Optional[int],
        cols,
        path=None,
    ) -> DataFrame:
        """Every trail of length ``lo..hi`` (``hi`` None: unbounded) from
        the start ids ``starts`` over the oriented step ``step`` (None: no
        relationship table has the pattern's types), as the slim rows of
        ``_trail_hops``: bounded ranges unroll at plan time into ``hi``
        chained joins, unbounded ones run a driver-paced fixpoint until
        the frontier drains. Termination is guaranteed on any finite graph
        because relationship isomorphism strictly grows the id list. An
        empty range gives an empty frame of the same columns and types."""
        start_c, ids_c, end_c = cols
        zsel = [
            F.col(start_c),
            F.array().cast("array<long>").alias(ids_c),
            F.col(start_c).alias(end_c),
        ]
        if path:
            zsel.append(F.array(F.col(start_c)).alias(path[0]))
            zsel.append(F.array().cast("array<boolean>").alias(path[1]))
        zero = starts.select(*zsel)
        levels: List[DataFrame] = [zero] if lo == 0 else []
        if step is not None and (hi is None or hi >= max(lo, 1)):
            first, extend = self._trail_hops(step, hi, cols, path)
            cur = first(starts)
            if lo <= 1:
                levels.append(cur)
            if hi is not None:
                for depth in range(2, hi + 1):
                    cur = extend(cur)
                    if depth >= lo:
                        levels.append(cur)
            else:
                # fixpoint: iterate until the frontier drains. At high
                # depths the cost is driver round trips (checkpoint job +
                # emptiness probe per level), not data — so extend K
                # levels per round trip: one chunk = K chained joins whose
                # UNION is materialized in one checkpoint job, one probe.
                # Each chunk level is computed exactly once (the r7 shape
                # re-derived 1..K-1 intermediate levels from the chunk
                # base at union time — K(K-1)/2 redundant joins per chunk
                # and a 40-branch final union on deep chains); the next
                # chunk's frontier is the checkpoint filtered to the
                # chunk's deepest rel-list length. Lineage stays flat
                # (every K levels), termination unchanged.
                K = 4
                # entry checkpoint + emptiness probe in one job
                cur, n_cur = materialize_count(cur)
                # union SUMS its branches' partition counts and the
                # checkpoint preserves them, so without a narrow coalesce
                # the loop width multiplies by K per chunk (measured:
                # 1024 -> 4096 -> 5460 tasks by chunk 3). The extends are
                # narrow (broadcast-side joins / same-width shuffles), so
                # the entry checkpoint's width is the whole loop's width.
                entry_parts = max(1, cur.rdd.getNumPartitions())
                # ...and that width is inherited from however the starts
                # scan happened to split — a frontier born of a one-split
                # scan serializes EVERY chunk of the loop into one task.
                # Make it scale-adaptive like the other loop frames:
                # loop_width of the MEASURED entry count (path rows carry
                # growing arrays and pay O(depth) work per extend, so the
                # per-round row target), capped at the configured shuffle
                # width; widen only (a frontier already wider than the
                # target keeps its layout — no pure-waste exchange at
                # cluster scale). One lazy round-robin exchange of the
                # slim entry rows, absorbed into chunk 1's checkpoint
                # job. Measured on
                # varlength_unbounded_chain (sf0.1, 135k entry rows,
                # 1-split orders scan): 1 -> 6 loop partitions,
                # 7.3 s -> 3.0 s isolated.
                want_parts = loop_width(cur, n_cur)
                if want_parts > entry_parts:
                    entry_parts = want_parts
                    cur = cur.repartition(entry_parts)
                depth = 1
                while n_cur != 0:
                    base = depth
                    chunk: List[DataFrame] = []
                    for _ in range(K):
                        depth += 1
                        cur = extend(cur)
                        chunk.append(cur)
                    u, n_u = materialize_count(_union_all(chunk).coalesce(entry_parts))
                    if depth >= lo:
                        # this chunk's output rows: depths max(lo, base+1)..depth
                        levels.append(
                            u.filter(F.size(F.col(ids_c)) >= F.lit(max(lo, base + 1)))
                            if lo > base + 1
                            else u
                        )
                    cur = u.filter(F.size(F.col(ids_c)) == F.lit(depth))
                    # loop on the chunk count alone (it comes free with
                    # the checkpoint): when the walk drains mid-chunk the
                    # next chunk extends an empty frontier — K trivial
                    # joins and one near-free checkpoint — which costs
                    # less than a per-chunk deepest-level isEmpty probe
                    # job on EVERY chunk did
                    n_cur = n_u
        # e.g. [*3..] on a graph whose walks drained at depth 2: an empty
        # result with the right shape, not an error
        return _union_all(levels) if levels else zero.filter(F.lit(False))

    def _join_target(
        self,
        rec: Record,
        src_id: str,
        rows: DataFrame,
        src_c: str,
        end_c: str,
        tgt: A.NodePat,
    ) -> Tuple[Record, str]:
        """The slim (src, …, end) rows of a var-length pattern joined to
        the incoming record on its source id column ``src_id`` and to the
        target node pattern ``tgt``, exactly once each. A bound target
        joins on source and end together, then meets the pattern's labels
        and inline properties (``ensure_node``). A fresh target is scanned
        and filtered on its self-contained properties, joined to the rows
        before the record, and filtered on its variable-referencing ones
        last. Variables the caller adds to ``rec``'s header may name
        columns of ``rows``."""
        tgt_var = tgt.var or self._anon()
        header = dict(rec.header)
        t = header.get(tgt_var)
        if t is not None:
            if t.kind != "node":
                raise CypherPlanningError(f"variable `{tgt_var}` is not a node")
            df = rec.df.join(
                rows,
                (F.col(src_id) == F.col(src_c)) & (F.col(t.id_col) == F.col(end_c)),
            ).drop(src_c, end_c)
            return self.ensure_node(Record(df, header), tgt)
        tgt_scan, tmeta = self.scan_node_record(tgt_var, tgt.labels)
        simple, complex_ = self._split_props(tgt.props)
        tgt_scan = self._filter_prop_items(tgt_scan, tmeta, simple, {})
        hits = rows.join(tgt_scan, F.col(end_c) == F.col(tmeta.id_col))
        df = rec.df.join(hits, F.col(src_id) == F.col(src_c)).drop(src_c, end_c)
        header[tgt_var] = tmeta
        df = self._filter_prop_items(df, tmeta, complex_, header)
        return Record(df, header), tgt_var

    def var_length_expand(
        self,
        rec: Record,
        src_var: str,
        rel: A.RelPat,
        tgt: A.NodePat,
        rel_ids: List[Tuple[str, frozenset, bool]],
        path_cols: Optional[Dict[str, str]] = None,
    ) -> Tuple[Record, str]:
        """(a)-[r*lo..hi]->(b): the trails of ``_trails`` — a bounded
        unroll into ``hi`` successive joins with relationship-isomorphism
        filters and a union of the per-length results (reference:
        VarLengthExpandPlanner.scala:82-170). The rel variable binds to
        the LIST of traversed relationship ids.

        UNBOUNDED upper (``[*]`` / ``[*n..]``) goes BEYOND the reference
        (it blacklists the whole family, failing_blacklist:3-7): the
        fixpoint of ``_trails``, each chunk of levels materialized (scoped
        checkpoint) so lineage stays flat and the emptiness probe is O(1),
        the same loop discipline as the shortest-path and
        iterative-algorithm machinery.

        The frontier is SLIM — (start id, rel-id list, end id), never the
        incoming record's columns: every level shuffles 3 columns and the
        full record and the target join back once at the end
        (``_join_target``; measured ~3x on deep chains; at cluster scale
        the per-level shuffle volume is what would dominate).

        ``path_cols``: when a dict is passed (named var-length paths),
        the expansion also accumulates the traversed node-id array and
        the per-hop forward-direction array, and fills the dict with
        {"nodes": col, "rels": col, "dirs": col}."""
        lo, hi = rel.var_length
        if lo < 0 or (hi is not None and hi < lo):
            raise CypherPlanningError(f"bad var-length range *{lo}..{hi}")
        rel_var = rel.var or self._anon()
        src_meta = rec.header[src_var]

        u = self._u(rel_var)
        start_col, ids_col, end_col = f"{u}#start", f"{u}#ids", f"{u}#end"
        path = None
        if path_cols is not None:
            path = (f"{u}#vpnodes", f"{u}#vpdirs")
            path_cols.update(nodes=path[0], rels=ids_col, dirs=path[1])

        step, rmeta = self._step_scan(rel_var, rel, fwd=True)
        starts = rec.df.select(
            F.col(src_meta.id_col).alias(start_col)
        ).dropDuplicates()
        trails = self._trails(
            starts, step, lo, hi, (start_col, ids_col, end_col), path
        )
        header = dict(rec.header)
        header[rel_var] = EntityMeta(kind="value", col=ids_col)
        out, tgt_var = self._join_target(
            Record(rec.df, header), src_meta.id_col, trails, start_col, end_col, tgt
        )
        rel_ids.append((ids_col, rmeta.types if step is not None else frozenset(), True))
        return out, tgt_var

    # -------------------------------------------------------------- CONSTRUCT
    def plan_construct(self, rec: Record, clause: A.ConstructClause) -> PropertyGraph:
        """CONSTRUCT [ON ...] [CLONE ...] [NEW ...] [SET ...] -> a new graph
        (reference: ConstructGraphPlanner,
        okapi-relational/.../impl/planning/ConstructGraphPlanner.scala:
        clones matched elements, creates new elements with generated ids,
        applies SET items, extracts a ScanGraph). New-element ids are
        monotonic row ids shifted to make room for a per-row element index
        (reference: partitioned_id_assignment, MorpheusFunctions.scala:76)."""
        from cypher_for_apache_spark_spark.graph import (
            ID,
            NodeTable,
            PropertyGraph,
            RelationshipTable,
            union_graphs,
        )

        rec = self._materialize(rec)
        sets_by_var: Dict[str, List[A.SetItem]] = {}
        for s in clause.sets:
            sets_by_var.setdefault(s.subject, []).append(s)

        # assign names to anonymous NEW elements, collect specs
        new_nodes: Dict[str, A.NodePat] = {}
        new_rels: List[Tuple[str, A.RelPat, str, str]] = []  # (var, pat, src, dst)
        clone_vars = list(clause.clones)
        for part in clause.news:
            nodes = part.nodes
            for np_ in nodes:
                if np_.var is None:
                    np_.var = self._anon()
                if np_.var in rec.header:
                    if np_.var not in clone_vars:
                        clone_vars.append(np_.var)
                elif np_.var not in new_nodes:
                    new_nodes[np_.var] = np_
            for i, rp in enumerate(part.rels):
                if rp.var is None:
                    rp.var = self._anon()
                left, right = nodes[i].var, nodes[i + 1].var
                if rp.direction == "in":
                    left, right = right, left
                elif rp.direction == "both":
                    raise CypherPlanningError("CONSTRUCT relationships must be directed")
                if not rp.types:
                    raise CypherPlanningError("CONSTRUCT relationships need a type")
                new_rels.append((rp.var, rp, left, right))

        # per-row ids for new elements, shifted into a reserved id space
        # (top bit below the graph-union prefix byte) so CONSTRUCT ON can
        # union with base graphs without a generated id ever colliding with
        # an existing element id (reference keeps id spaces disjoint via
        # prefixing — partitioned_id_assignment, MorpheusFunctions.scala:76)
        n_new = len(new_nodes) + len(new_rels)
        bits = max(1, (max(n_new - 1, 1)).bit_length())
        reserve = F.lit(1 << 54)
        row_id = F.monotonically_increasing_id()
        df = rec.df.select("*", row_id.alias(" row#id"))
        ctx = CompileCtx(df, rec.header, self.params)

        def new_id(k: int):
            return (F.col(" row#id") * F.lit(1 << bits) + F.lit(k) + reserve).alias("id")

        def props_for(var: str, pat_props: Optional[A.MapLit]) -> List:
            cols = []
            keys = set()
            for s in sets_by_var.get(var, []):
                if s.key is not None:
                    cols.append(compile_expr(s.value, ctx).alias(s.key))
                    keys.add(s.key)
            if pat_props is not None:
                for key, val in pat_props.items:
                    if key not in keys:
                        cols.append(compile_expr(val, ctx).alias(key))
            return cols

        def extra_labels(var: str) -> List[str]:
            out = []
            for s in sets_by_var.get(var, []):
                out.extend(s.labels)
            return out

        node_acc: Dict[frozenset, List[DataFrame]] = {}
        rel_acc: Dict[str, List[DataFrame]] = {}
        id_col_of: Dict[str, object] = {}

        for k, (var, np_) in enumerate(new_nodes.items()):
            idc = new_id(k)
            combo = frozenset(list(np_.labels) + extra_labels(var))
            t = df.select(idc, *props_for(var, np_.props))
            node_acc.setdefault(combo, []).append(t)
            id_col_of[var] = F.col(" row#id") * F.lit(1 << bits) + F.lit(k) + reserve

        for var in clone_vars:
            meta = rec.header.get(var)
            if meta is None:
                raise CypherPlanningError(f"CLONE of unbound variable `{var}`")
            if meta.kind == "node":
                set_cols = props_for(var, None)
                # plan-time constants: every scan branch stamps labels_col
                # with a literal array, so the possible combos are exactly
                # the scanned node tables' label sets — no data inspection
                combos = sorted(
                    (tuple(sorted(c)) for c in meta.combos),
                )
                for combo in combos:
                    sub = df.filter(
                        F.col(meta.labels_col)
                        == F.array(*[F.lit(l) for l in combo]).cast("array<string>")
                    )
                    names_set = [s.key for s in sets_by_var.get(var, []) if s.key]
                    keep = [
                        F.col(c).alias(p)
                        for p, c in sorted(meta.prop_cols.items())
                        if p not in names_set
                    ]
                    t = sub.select(
                        F.col(meta.id_col).alias("id"), *keep, *set_cols
                    ).dropDuplicates(["id"])
                    node_acc.setdefault(
                        frozenset(list(combo) + extra_labels(var)), []
                    ).append(t)
                id_col_of[var] = F.col(meta.id_col)
            elif meta.kind == "rel":
                # possible types are plan-time metadata (type_col is a
                # literal per scan branch) — no data inspection
                types = sorted(meta.types)
                for t_name in types:
                    sub = df.filter(F.col(meta.type_col) == t_name)
                    names_set = [s.key for s in sets_by_var.get(var, []) if s.key]
                    keep = [
                        F.col(c).alias(p)
                        for p, c in sorted(meta.prop_cols.items())
                        if p not in names_set
                    ]
                    t = sub.select(
                        F.col(meta.id_col).alias("id"),
                        F.col(meta.src_col).alias("src"),
                        F.col(meta.dst_col).alias("dst"),
                        *keep,
                        *props_for(var, None),
                    ).dropDuplicates(["id"])
                    rel_acc.setdefault(t_name, []).append(t)
                id_col_of[var] = F.col(meta.id_col)
            else:
                raise CypherPlanningError(f"cannot CLONE value variable `{var}`")

        for j, (var, rp, left, right) in enumerate(new_rels):
            k = len(new_nodes) + j
            if left not in id_col_of or right not in id_col_of:
                missing = left if left not in id_col_of else right
                if missing in rec.header:
                    id_col_of[missing] = F.col(rec.header[missing].id_col)
                else:
                    raise CypherPlanningError(
                        f"CONSTRUCT relationship endpoint `{missing}` is unbound"
                    )
            t = df.select(
                new_id(k),
                id_col_of[left].alias("src"),
                id_col_of[right].alias("dst"),
                *props_for(var, rp.props),
            )
            rel_acc.setdefault(rp.types[0], []).append(t)

        def union_all(dfs: List[DataFrame]) -> DataFrame:
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d, allowMissingColumns=True)
            # an element cloned via several pattern variables (CLONE p, q)
            # is still ONE element in the constructed graph — dedup by id.
            # Single-source tables (the common case) skip the shuffle.
            return out.dropDuplicates([ID]) if len(dfs) > 1 else out

        node_tables = [NodeTable(c, union_all(ts)) for c, ts in node_acc.items()]
        rel_tables = [RelationshipTable(t, union_all(ts)) for t, ts in rel_acc.items()]
        out = PropertyGraph(node_tables, rel_tables, name="constructed")

        if clause.on_graphs:
            bases = []
            for g in clause.on_graphs:
                if g not in self.catalog:
                    raise CypherPlanningError(f"graph `{g}` not in catalog")
                bases.append(self.catalog[g])
            out = union_graphs(*bases, out, prefix_ids=False, dedup_ids=True)
        return out

    # ------------------------------------------------------------------ WHERE
    def plan_where(self, rec: Record, expr: A.Expr) -> Record:
        rec, expr = self._plan_pattern_predicates(rec, expr)
        ctx = self._ctx(rec)
        return rec.narrowed(rec.df.filter(compile_expr(expr, ctx)))

    def _plan_pattern_predicates(self, rec: Record, expr: A.Expr) -> Tuple[Record, A.Expr]:
        """Materialize each PatternPredicate into a boolean column (or a
        semi/anti join when it is a top-level conjunct) and substitute a
        variable reference (reference: ExistsSubQuery lowering,
        RelationalPlanner.scala:224-246)."""
        conjuncts = expr.items if isinstance(expr, A.Ands) else [expr]
        remaining: List[A.Expr] = []
        for c in conjuncts:
            if isinstance(c, A.PatternPredicate):
                rec = self._semi_join_predicate(rec, c)
            else:
                rec, c = self._replace_pattern_comps(rec, c)
                rec, c = self._replace_pattern_preds(rec, c)
                remaining.append(c)
        if not remaining:
            return rec, A.Lit(True)
        if len(remaining) == 1:
            return rec, remaining[0]
        return rec, A.Ands(remaining)

    @staticmethod
    def _pattern_prop_vars(part: A.PatternPart) -> set:
        """Variables referenced inside a pattern's property maps
        (``{name: who}``) — they must survive into any distinct-projection
        rhs (OPTIONAL MATCH / EXISTS / pattern comprehensions) or the
        prop filter can't compile."""
        out: set = set()
        for el in part.elements:
            if el.props is not None:
                for _, e in el.props.items:
                    out |= {v.name for v in e.walk() if isinstance(v, A.Var)}
        return out

    @staticmethod
    def _key_col(meta: EntityMeta) -> str:
        """The single column that determines a variable's identity within a
        row: element id for nodes/rels, the value column otherwise."""
        return meta.col if meta.kind == "value" else meta.id_col

    def _binding(
        self, rec: Record, names: Sequence[str]
    ) -> Tuple[Record, List[str], FrozenSet[str]]:
        """The driving binding of a correlated subpattern: ``rec`` projected
        to the columns of the shared variables ``names``, one row per
        distinct identity combination. Returns (binding, key_cols,
        nonnull): the sorted identity columns the subpattern joins back
        on, and those of them that are never null.

        The DISTINCT (a hash-aggregate shuffle) is skipped when one of the
        variables is unique in ``rec``: its id alone already makes every
        row's combination distinct, so the binding keeps ``rec``'s rows,
        its unique variables and its row bound. A unique variable's id is
        also non-null, so the join back may use ``==`` on it instead of the
        null-safe composite key (``_keys_match``)."""
        join_cols: List[str] = []
        for v in names:
            join_cols.extend(rec.header[v].columns())
        seen = set()
        join_cols = [c for c in join_cols if not (c in seen or seen.add(c))]
        key_cols = sorted({self._key_col(rec.header[v]) for v in names})
        unique = rec.unique & frozenset(names)
        nonnull = frozenset(self._key_col(rec.header[v]) for v in unique)
        d = rec.df.select(*join_cols)
        if not unique:
            d = d.dropDuplicates(key_cols)
        header = {v: rec.header[v] for v in names}
        return Record(d, header, unique, rec.rows), key_cols, nonnull

    @staticmethod
    def _keys_match(pairs: Sequence[Tuple[str, str]], nonnull: FrozenSet[str]) -> Column:
        """Join condition over (outer, inner) key column pairs: ``==`` where
        the outer key is never null, null-safe equality elsewhere (a null
        import must find the binding row it came from)."""
        cond = None
        for ok, ik in pairs:
            e = F.col(ok) == F.col(ik) if ok in nonnull else F.col(ok).eqNullSafe(F.col(ik))
            cond = e if cond is None else cond & e
        return cond

    def _rhs_for_pattern(
        self,
        rec: Record,
        pattern: A.PatternPart,
        where: Optional[A.Expr],
        extra: Sequence[A.Expr] = (),
    ):
        """Plan a pattern against the graph starting from the driving
        binding (``_binding``) of the lhs variables it references. Returns
        (rhs_record, key_cols, nonnull): the identity columns shared with
        the lhs and those of them that are never null. ``extra``:
        additional expressions (e.g. a pattern comprehension's projection)
        whose variable references must survive into the rhs.

        Callers join the rhs back through ``maybe_broadcast(rhs,
        rhs.row_bound())``: a subpattern bounded below
        ``BROADCAST_ROW_LIMIT`` is broadcast in the static plan, a large or
        unbounded one keeps the shuffle join."""
        pat_vars = {n.var for n in pattern.nodes if n.var} | {
            r.var for r in pattern.rels if r.var
        }
        used = set(pat_vars) | self._pattern_prop_vars(pattern)
        if where is not None:
            used |= {v.name for v in where.walk() if isinstance(v, A.Var)}
        for ex in extra:
            used |= {v.name for v in ex.walk() if isinstance(v, A.Var)}
        common = sorted(v for v in used if v in rec.header)
        key_cols: List[str] = []
        nonnull: FrozenSet[str] = frozenset()
        if common and rec.df is not None:
            rhs, key_cols, nonnull = self._binding(rec, common)
        else:
            rhs = Record(None, {})
        rel_ids: List[Tuple[str, frozenset, bool]] = []
        rhs = self.plan_part(rhs, pattern, rel_ids)
        rhs = self._rel_uniqueness(rhs, rel_ids)
        if where is not None:
            rhs = self.plan_where(rhs, where)
        return rhs, key_cols, nonnull

    def _semi_join_predicate(self, rec: Record, pred: A.PatternPredicate) -> Record:
        """A top-level EXISTS / NOT EXISTS conjunct: semi/anti join against
        the subpattern's key columns. Keeps the lhs facts (its rows are a
        subset)."""
        rec_m = self._materialize(rec)
        rhs, key_cols, nonnull = self._rhs_for_pattern(rec_m, pred.pattern, pred.where)
        how = "left_anti" if pred.negated else "left_semi"
        if not key_cols:
            # uncorrelated pattern: semi/anti join against a 1-row marker —
            # stays lazy (no job at plan time), and the marker side is a
            # broadcastable single row at execution
            marker = rhs.df.limit(1).select(F.lit(True).alias(" exists#marker"))
            return rec_m.narrowed(rec_m.df.join(marker, F.lit(True), how), rec.header)
        renames = {c: f"{c}#rhs{next(self._uid)}" for c in key_cols}
        rdf = maybe_broadcast(
            rhs.df.select([F.col(c).alias(renames[c]) for c in key_cols]),
            rhs.row_bound(),
        )
        cond = self._keys_match([(c, renames[c]) for c in key_cols], nonnull)
        return rec_m.narrowed(rec_m.df.join(rdf, cond, how), rec.header)

    def _replace_pattern_preds(self, rec: Record, expr: A.Expr) -> Tuple[Record, A.Expr]:
        """Lower each pattern predicate nested in ``expr`` to a boolean
        marker column: a left join against the subpattern's DISTINCT key
        columns, so the lhs keeps its rows and its facts."""
        preds = [n for n in expr.walk() if isinstance(n, A.PatternPredicate)]
        for p in preds:
            rec_m = self._materialize(rec)
            rhs, key_cols, nonnull = self._rhs_for_pattern(rec_m, p.pattern, p.where)
            marker_var = self._anon()
            marker_col = f"{self._u('exists')}#marker"
            if not key_cols:
                # uncorrelated: left-join a 1-row marker frame (lazy; no
                # plan-time job), null marker -> false
                mdf = rhs.df.limit(1).select(F.lit(True).alias(marker_col))
                df = rec_m.df.join(mdf, F.lit(True), "left_outer")
                df = df.withColumn(marker_col, F.col(marker_col).isNotNull())
            else:
                renames = {c: f"{c}#rhs{next(self._uid)}" for c in key_cols}
                rdf = maybe_broadcast(
                    rhs.df.select([F.col(c).alias(renames[c]) for c in key_cols])
                    .dropDuplicates()
                    .select("*", F.lit(True).alias(marker_col)),
                    rhs.row_bound(),
                )
                cond = self._keys_match([(c, renames[c]) for c in key_cols], nonnull)
                df = rec_m.df.join(rdf, cond, "left_outer").drop(*renames.values())
                df = df.withColumn(marker_col, F.col(marker_col).isNotNull())
            header = dict(rec.header)
            header[marker_var] = EntityMeta(kind="value", col=marker_col)
            rec = rec_m.narrowed(df, header)
            repl: A.Expr = A.Var(marker_var)
            if p.negated:
                repl = A.Not(repl)
            expr = A.substitute(expr, [(p, repl)])
        return rec, expr

    def _replace_pattern_comps(self, rec: Record, expr: A.Expr) -> Tuple[Record, A.Expr]:
        """Lower each PatternComprehension ``[pat WHERE p | proj]`` to the
        EXISTS machinery's list-producing cousin: plan the pattern from
        the row's bindings, collect_list(proj) per identity key, left-join
        back (no match -> EMPTY list, not null), substitute a variable.
        The reference blacklists the whole official PatternComprehension
        family as failing — this is a beyond-parity capability.

        ``size((n)-[:T]->())`` — the legacy pattern-count form — rewrites
        first to size of a ``| 1`` comprehension."""
        sizes = [
            n
            for n in expr.walk()
            if isinstance(n, A.FuncCall)
            and n.name in ("size", "length")
            and len(n.args) == 1
            and isinstance(n.args[0], A.PatternPredicate)
            and not n.args[0].negated
        ]
        if sizes:
            expr = A.substitute(
                expr,
                [
                    (
                        n,
                        A.FuncCall(
                            n.name,
                            [
                                A.PatternComprehension(
                                    n.args[0].pattern, A.Lit(1), n.args[0].where
                                )
                            ],
                        ),
                    )
                    for n in sizes
                ],
            )
        done: List[A.PatternComprehension] = []
        for p in [n for n in expr.walk() if isinstance(n, A.PatternComprehension)]:
            if any(p == d for d in done):
                continue
            done.append(p)
            rec_m = self._materialize(rec)
            rhs, key_cols, nonnull = self._rhs_for_pattern(
                rec_m, p.pattern, p.where, extra=(p.projection,)
            )
            proj_col = compile_expr(p.projection, self._ctx(rhs))
            list_col = f"{self._u('patcomp')}#list"
            # collect_list drops nulls — openCypher keeps one list element
            # per pattern match even when the projection is null, so wrap
            # each value in a struct (never null itself), collect, and
            # unwrap after the join
            wrapped = F.collect_list(F.struct(proj_col.alias("v")))
            if not key_cols:
                gdf = rhs.df.agg(wrapped.alias(list_col))
                df = rec_m.df.join(gdf, F.lit(True), "left_outer")
            else:
                renames = {c: f"{c}#rhs{next(self._uid)}" for c in key_cols}
                gdf = maybe_broadcast(
                    rhs.df.groupBy(*key_cols)
                    .agg(wrapped.alias(list_col))
                    .select(
                        *[F.col(c).alias(renames[c]) for c in key_cols], list_col
                    ),
                    rhs.row_bound(),
                )
                cond = self._keys_match([(c, renames[c]) for c in key_cols], nonnull)
                df = rec_m.df.join(gdf, cond, "left_outer").drop(*renames.values())
            lt = next(f.dataType for f in df.schema.fields if f.name == list_col)
            df = df.withColumn(
                list_col,
                F.transform(
                    F.coalesce(F.col(list_col), F.array().cast(lt)),
                    lambda s: s["v"],
                ),
            )
            out_var = self._anon()
            header = dict(rec.header)
            header[out_var] = EntityMeta(kind="value", col=list_col)
            rec = rec_m.narrowed(df, header)
            expr = A.substitute(expr, [(p, A.Var(out_var))])
        return rec, expr

    # --------------------------------------------------------------- OPTIONAL
    def plan_optional_match(self, rec: Record, clause: A.MatchClause) -> Record:
        """OPTIONAL MATCH: plan the pattern from the lhs binding
        (``_binding``: DISTINCT unless a shared variable is unique), then
        left-outer-join it back on ``==`` of the identity columns — a null
        lhs key matches nothing, which is OPTIONAL MATCH's semantics
        (reference: planOptional, RelationalPlanner.scala:298-329). The
        rhs goes through the ``maybe_broadcast`` row-bound gate. The lhs
        keeps its facts only when the rhs has at most one row per key (a
        shared variable is still unique there)."""
        lhs = self._materialize(rec)
        # variables referenced anywhere in the optional part
        used = set()
        for part in clause.parts:
            used |= {n.var for n in part.nodes if n.var}
            used |= {r.var for r in part.rels if r.var}
            used |= self._pattern_prop_vars(part)
        if clause.where is not None:
            used |= {v.name for v in clause.where.walk() if isinstance(v, A.Var)}
        common = sorted(v for v in used if v in lhs.header)

        key_cols: List[str] = []
        if common:
            rhs, key_cols, _ = self._binding(lhs, common)
        else:
            rhs = Record(None, {})

        rel_ids: List[Tuple[str, frozenset, bool]] = []
        for part in clause.parts:
            rhs = self.plan_part(rhs, part, rel_ids)
        rhs = self._rel_uniqueness(rhs, rel_ids)
        if clause.where is not None:
            rhs = self.plan_where(rhs, clause.where)
        rhs = self._materialize(rhs)

        new_vars = {v: m for v, m in rhs.header.items() if v not in lhs.header}

        if not key_cols:
            keep_cols = []
            for m in new_vars.values():
                keep_cols.extend(m.columns())
            seen2 = set()
            keep_cols = [c for c in keep_cols if not (c in seen2 or seen2.add(c))]
            rdf = rhs.df.select(*keep_cols) if keep_cols else rhs.df
            df = lhs.df.join(rdf, F.lit(True), "left_outer")
        else:
            # identity (id) columns carry the join; the lhs copies of the
            # shared vars' other columns are dropped from the rhs entirely
            new_cols = []
            for m in new_vars.values():
                new_cols.extend(m.columns())
            seen2 = set(lhs.df.columns)  # never re-select lhs copies (a
            # path meta owns copies of SHARED element columns — the lhs
            # already carries them)
            new_cols = [c for c in new_cols if not (c in seen2 or seen2.add(c))]
            renames = {c: f"{c}#opt{next(self._uid)}" for c in key_cols}
            rdf = maybe_broadcast(
                rhs.df.select(
                    *[F.col(c).alias(renames[c]) for c in key_cols], *new_cols
                ),
                rhs.row_bound(),
            )
            cond = None
            for c in key_cols:
                e = F.col(c) == F.col(renames[c])
                cond = e if cond is None else cond & e
            df = lhs.df.join(rdf, cond, "left_outer").drop(*renames.values())

        header = dict(lhs.header)
        header.update(new_vars)
        if key_cols and rhs.unique & set(common):
            return lhs.narrowed(df, header)
        return Record(df, header)

    # ----------------------------------------------------------------- UNWIND
    def plan_unwind(self, rec: Record, clause: A.UnwindClause) -> Record:
        rec = self._materialize(rec)
        expr = clause.expr
        # UNWIND [(p)-[:T]->(q) | q.x] AS v: lower pattern comprehensions /
        # predicates and varpath renders exactly as projection items do
        if any(
            isinstance(n, (A.PatternComprehension, A.PatternPredicate))
            for n in expr.walk()
        ):
            rec, expr = self._replace_pattern_comps(rec, expr)
            rec, expr = self._replace_pattern_preds(rec, expr)
        if any(m.kind == "varpath" for m in rec.header.values()):
            rec, expr = self._replace_varpath_fns(rec, expr)
        ctx = self._ctx(rec)
        col = compile_expr(expr, ctx)
        out_col = f"{self._u(clause.var)}#val"
        from cypher_for_apache_spark_spark.functions.compiler import _dtype, _is

        dt = _dtype(ctx, col)
        if _is(dt, T.NullType):
            # UNWIND null produces no rows; explode(VOID) fails analysis
            col = col.cast("array<long>")
        # explode drops null / empty lists — exactly UNWIND's semantics
        df = rec.df.select("*", F.explode(col).alias(out_col))
        header = dict(rec.header)
        header[clause.var] = EntityMeta(kind="value", col=out_col)
        return Record(df, header)

    # ------------------------------------------------------------- projection
    def _resolve_items(self, rec: Record, clause: A.ProjectionClause):
        items: List[Tuple[A.Expr, str]] = []
        if clause.star:
            for v in rec.header:
                if not v.startswith(" "):
                    items.append((A.Var(v), v))
        items.extend(clause.items)
        return items

    def plan_projection(self, rec: Record, clause: A.ProjectionClause) -> Record:
        rec = self._materialize(rec)
        items = self._resolve_items(rec, clause)
        # pattern comprehensions in projection items lower to list columns
        # before anything else looks at the expressions
        if any(
            isinstance(n, (A.PatternComprehension, A.PatternPredicate))
            for e, _ in items
            for n in e.walk()
        ):
            lowered = []
            for e, alias in items:
                rec, e = self._replace_pattern_comps(rec, e)
                rec, e = self._replace_pattern_preds(rec, e)
                lowered.append((e, alias))
            items = lowered
        # nodes(p)/relationships(p) over VAR-LENGTH paths pre-render via a
        # plan-level join (the compiler can't express it as a column)
        if any(m.kind == "varpath" for m in rec.header.values()):
            lowered = []
            for e, alias in items:
                rec, e = self._replace_varpath_fns(rec, e)
                lowered.append((e, alias))
            items = lowered
        has_agg = any(A.contains_aggregate(e) for e, _ in items)
        # ORDER BY expressions get the same pattern-comprehension /
        # predicate lowering as projection items (round-8 TCK find: the
        # ORDER BY position was missed). The lowered list column lives on
        # the PRE-projection record, so it only works when the underlying
        # variables are still in scope — which DISTINCT and aggregating
        # projections remove (Neo4j rejects those too).
        if clause.order_by and any(
            isinstance(n, (A.PatternComprehension, A.PatternPredicate))
            for oi in clause.order_by
            for n in oi.expr.walk()
        ):
            if clause.distinct or has_agg:
                raise CypherPlanningError(
                    "a pattern comprehension/predicate in ORDER BY is not "
                    "supported under DISTINCT or aggregation — project it "
                    "as an item first"
                )
            new_ob = []
            for oi in clause.order_by:
                rec, e2 = self._replace_pattern_comps(rec, oi.expr)
                rec, e2 = self._replace_pattern_preds(rec, e2)
                new_ob.append(A.OrderItem(e2, oi.asc))
            clause = dc_replace(clause, order_by=new_ob)
        if has_agg:
            return self._plan_aggregation(rec, clause, items)

        header_out: Header = {}
        new_cols: List[Column] = []
        ctx = self._ctx(rec)
        for e, alias in items:
            if isinstance(e, A.Var) and e.name in rec.header and rec.header[e.name].kind != "value":
                header_out[alias] = rec.header[e.name]
            else:
                c = compile_expr(e, ctx)
                phys = f"{self._u(alias)}#val"
                new_cols.append(c.alias(phys))
                header_out[alias] = EntityMeta(kind="value", col=phys)
        df = rec.df.select("*", *new_cols) if new_cols else rec.df

        # merged scope: output aliases shadow input vars (ORDER BY/WHERE may
        # reference both per Cypher scoping)
        merged: Header = dict(rec.header)
        merged.update(header_out)

        out_cols = []
        seen = set()
        for m in header_out.values():
            for c in m.columns():
                if c not in seen:
                    seen.add(c)
                    out_cols.append(c)

        if clause.distinct:
            df = df.select(*out_cols).dropDuplicates()
            scope_for_order = header_out
        else:
            scope_for_order = merged

        # ORDER BY / SKIP / LIMIT belong to the projection; a trailing WHERE
        # filters the ordered/limited rows afterwards (openCypher `WITH ...
        # ORDER BY ... LIMIT n WHERE p` keeps at most n rows)
        df = self._order_skip_limit(df, clause, scope_for_order)

        if clause.where is not None:
            wscope = dict(scope_for_order)
            wrec, wexpr = self._plan_pattern_predicates(Record(df, wscope), clause.where)
            df, wscope = wrec.df, wrec.header
            df = df.filter(compile_expr(wexpr, CompileCtx(df, wscope, self.params)))

        df = df.select(*out_cols)
        # at most one output row per input row
        return Record(df, header_out, rows=rec.rows)

    def _order_skip_limit(self, df: DataFrame, clause: A.ProjectionClause, scope: Header) -> DataFrame:
        if clause.order_by:
            ctx = CompileCtx(df, scope, self.params)
            sort_cols = []
            for oi in clause.order_by:
                c = compile_expr(oi.expr, ctx)
                # Cypher treats null as the largest value: nulls last
                # ascending, first descending (Spark's default is reversed)
                sort_cols.append(c.asc_nulls_last() if oi.asc else c.desc_nulls_first())
            df = df.orderBy(*sort_cols)
        if clause.skip is not None:
            df = df.offset(self._int_value(clause.skip))
        if clause.limit is not None:
            df = df.limit(self._int_value(clause.limit))
        return df

    def _int_value(self, e: A.Expr) -> int:
        """SKIP/LIMIT amount: any constant integer expression (literals,
        parameters, arithmetic over them — 'an expression that does not
        depend on variables', TCK SkipLimitAcceptance; the reference
        blacklists these, we fold them at plan time)."""
        if isinstance(e, A.Lit) and isinstance(e.value, int):
            return e.value
        if isinstance(e, A.Param):
            return int(self.params[e.name])
        if isinstance(e, A.Neg):
            return -self._int_value(e.expr)
        if isinstance(e, A.Bin) and e.op in ("+", "-", "*", "/", "%"):
            l, r = self._int_value(e.lhs), self._int_value(e.rhs)
            if e.op == "+":
                return l + r
            if e.op == "-":
                return l - r
            if e.op == "*":
                return l * r
            if r == 0 and e.op in ("/", "%"):
                raise CypherPlanningError("SKIP/LIMIT division by zero")
            if e.op == "/":
                # Cypher integer division truncates toward zero; exact
                # integer arithmetic (int(l / r) via float loses precision
                # beyond 2^53)
                q = abs(l) // abs(r)
                return q if (l >= 0) == (r >= 0) else -q
            q = abs(l) // abs(r)
            q = q if (l >= 0) == (r >= 0) else -q
            return l - q * r  # % keeps the dividend sign (Java)
        raise CypherPlanningError("SKIP/LIMIT must be a constant integer expression")

    # ------------------------------------------------------------- aggregation
    def _plan_aggregation(
        self,
        rec: Record,
        clause: A.ProjectionClause,
        items,
        weight_col: Optional[str] = None,
    ) -> Record:
        """Cypher implicit grouping: non-aggregate return items are the keys
        (reference: AggregationBlock, IRBuilder.scala; entity keys group by
        all owned columns, SparkTable.scala:140-149).

        ``weight_col`` (eager-aggregation rewrite): each input row stands
        for that many pattern matches — aggregates compile through
        ``compile_weighted_aggregate`` instead of materializing the rows."""
        ctx = self._ctx(rec)

        # collect aggregate subtrees from items and ORDER BY
        agg_nodes: List[A.Expr] = []
        for e, _ in items:
            for a in A.aggregate_subtrees(e):
                if a not in agg_nodes:
                    agg_nodes.append(a)
        for oi in clause.order_by:
            for a in A.aggregate_subtrees(oi.expr):
                if a not in agg_nodes:
                    agg_nodes.append(a)

        # group keys: non-aggregate items
        key_items = [(e, alias) for e, alias in items if not A.contains_aggregate(e)]
        group_cols: List[str] = []
        pre_cols: List[Column] = []
        header_out: Header = {}
        key_subst: List[Tuple[A.Expr, A.Expr]] = []
        for e, alias in key_items:
            if isinstance(e, A.Var) and e.name in rec.header and rec.header[e.name].kind != "value":
                meta = rec.header[e.name]
                header_out[alias] = meta
                group_cols.extend(meta.columns())
            else:
                phys = f"{self._u(alias)}#key"
                pre_cols.append(compile_expr(e, ctx).alias(phys))
                header_out[alias] = EntityMeta(kind="value", col=phys)
                group_cols.append(phys)
                key_subst.append((e, A.Var(alias)))

        df = rec.df.select("*", *pre_cols) if pre_cols else rec.df

        # aggregates
        agg_cols: List[Column] = []
        subst: List[Tuple[A.Expr, A.Expr]] = list(key_subst)
        agg_var_meta: Header = {}
        actx = CompileCtx(df, rec.header, self.params)
        for i, a in enumerate(agg_nodes):
            phys = f"agg{next(self._uid)}#val"
            if weight_col is not None:
                c = compile_weighted_aggregate(a, actx, F.col(weight_col))
            else:
                c = compile_aggregate(a, actx)
            agg_cols.append(c.alias(phys))
            v = f" agg{i}"
            agg_var_meta[v] = EntityMeta(kind="value", col=phys)
            subst.append((a, A.Var(v)))

        seen = set()
        group_cols = [c for c in group_cols if not (c in seen or seen.add(c))]
        if group_cols:
            gdf = df.groupBy(*group_cols).agg(*agg_cols)
        else:
            gdf = df.agg(*agg_cols)

        # post-projection: rebuild item expressions over aggregated columns
        post_scope: Header = dict(header_out)
        post_scope.update(agg_var_meta)
        pctx = CompileCtx(gdf, post_scope, self.params)
        post_cols: List[Column] = []
        for e, alias in items:
            if alias in header_out and not A.contains_aggregate(e):
                continue  # key item, already a column (entity or value)
            e2 = A.substitute(e, subst)
            phys = f"{self._u(alias)}#val"
            post_cols.append(compile_expr(e2, pctx).alias(phys))
            header_out[alias] = EntityMeta(kind="value", col=phys)
        gdf = gdf.select("*", *post_cols) if post_cols else gdf

        out_cols = []
        seen2 = set()
        for m in header_out.values():
            for c in m.columns():
                if c not in seen2:
                    seen2.add(c)
                    out_cols.append(c)

        if clause.distinct:
            gdf = gdf.select(*out_cols).dropDuplicates()

        # ORDER BY with aggregate references -> substitute to agg columns;
        # ORDER BY / SKIP / LIMIT run before a trailing WHERE (projection
        # semantics, same as plan_projection)
        if clause.order_by:
            octx = CompileCtx(gdf, {**post_scope, **header_out}, self.params)
            sort_cols = []
            for oi in clause.order_by:
                c = compile_expr(A.substitute(oi.expr, subst), octx)
                sort_cols.append(c.asc_nulls_last() if oi.asc else c.desc_nulls_first())
            gdf = gdf.orderBy(*sort_cols)
        if clause.skip is not None:
            gdf = gdf.offset(self._int_value(clause.skip))
        if clause.limit is not None:
            gdf = gdf.limit(self._int_value(clause.limit))

        if clause.where is not None:
            wctx = CompileCtx(gdf, {**post_scope, **header_out}, self.params)
            gdf = gdf.filter(compile_expr(A.substitute(clause.where, subst), wctx))

        gdf = gdf.select(*out_cols)
        # at most one row per group (one row in all without grouping keys)
        return Record(gdf, header_out, rows=rec.rows if group_cols else (lambda: 1))
