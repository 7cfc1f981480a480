"""Expression AST -> pyspark Column compiler.

Re-expresses the reference's SparkSQLExprMapper
(morpheus-spark-cypher/.../impl/SparkSQLExprMapper.scala, 483 LoC — the
category-by-category map is SURVEY.md §2.4) in Python, with Cypher null /
ternary-logic semantics. Where Cypher and Spark SQL semantics diverge we
dispatch on the *actual* Spark type of the compiled child (resolved from the
current DataFrame's schema at plan time — driver-side only, no job).

Everything stays JVM-side: built-in ``pyspark.sql.functions`` and Catalyst
higher-order functions only; no Python UDFs in the hot path.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable, Dict, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, functions as F, types as T

from cypher_for_apache_spark_spark import ast as A
from cypher_for_apache_spark_spark.functions.registry import AGGREGATES
from cypher_for_apache_spark_spark.header import EntityMeta, Header


class CypherCompileError(ValueError):
    pass


@dataclass
class CompileCtx:
    df: Optional[DataFrame]
    scope: Header
    params: Dict[str, object] = field(default_factory=dict)
    lambda_vars: Dict[str, Column] = field(default_factory=dict)
    # statically-known types of lambda variables (reduce accumulator,
    # comprehension element): lambda bodies can't probe the frame, so
    # callers that DO know the type (they probed the source/init outside
    # the lambda) record it here for operator overload resolution
    lambda_types: Dict[str, T.DataType] = field(default_factory=dict)

    def with_lambda(
        self, name: str, col: Column, dtype: Optional[T.DataType] = None
    ) -> "CompileCtx":
        lv = dict(self.lambda_vars)
        lv[name] = col
        lt = dict(self.lambda_types)
        if dtype is not None:
            lt[name] = dtype
        else:
            lt.pop(name, None)
        # df=None: columns referencing a lambda variable can never resolve
        # against the outer frame, so _dtype probes inside lambda bodies
        # are pure waste (a py4j round-trip + a JVM-side ERROR log each)
        return CompileCtx(None, self.scope, self.params, lv, lt)


def _dtype(ctx: CompileCtx, col: Column) -> Optional[T.DataType]:
    """Spark type of a compiled column against the current frame (plan-time
    introspection; returns None inside lambda bodies where resolution is
    impossible). Each call analyzes a probe DataFrame; ``_expr_type``
    avoids it where the AST already tells the type."""
    if ctx.df is None:
        return None
    try:
        return ctx.df.select(col.alias("_t")).schema[0].dataType
    except AnalysisException:
        return None


def _bare_column(e: A.Expr, ctx: CompileCtx) -> Optional[str]:
    """The frame column ``e`` compiles to when it is a bare column
    reference (a variable, or a stored property of a node/relationship
    variable), else None. A property absent from the schema compiles to a
    null literal and is not a column."""
    if isinstance(e, A.Var) and e.name not in ctx.lambda_vars:
        meta = ctx.scope.get(e.name)
        if meta is not None and meta.kind in ("value", "node", "rel"):
            return meta.col if meta.kind == "value" else meta.id_col
    if isinstance(e, A.Prop) and isinstance(e.subject, A.Var):
        if e.subject.name not in ctx.lambda_vars:
            meta = ctx.scope.get(e.subject.name)
            if meta is not None and meta.kind in ("node", "rel"):
                return meta.prop_cols.get(e.key)
    return None


def _expr_type(ctx: CompileCtx, e: A.Expr, col: Column) -> Optional[T.DataType]:
    """Spark type of ``col``, the compilation of ``e``, without a probe
    DataFrame where the AST suffices: literals and ``$params`` are typed
    from their values, a comparison is boolean, and a bare column is read
    from the frame's schema (fetched once per frame, then cached by
    PySpark). Composite expressions fall back to ``_dtype``."""
    if isinstance(e, A.Lit) and e.value is None:
        return T.NullType()
    if isinstance(e, (A.Lit, A.Param)):
        t = _static_type(e, ctx)
        if t is not None:
            return t
    elif isinstance(e, A.Cmp):
        return T.BooleanType()
    else:
        name = _bare_column(e, ctx)
        t = _frame_type(ctx, name) if name is not None else None
        if t is not None:
            return t
    return _dtype(ctx, col)


def _frame_type(ctx: CompileCtx, name: str) -> Optional[T.DataType]:
    """Type of the frame column ``name`` from the frame's schema (None
    inside lambda bodies or when the frame has no such column)."""
    if ctx.df is None:
        return None
    for f in ctx.df.schema.fields:
        if f.name == name:
            return f.dataType
    return None


def _value_type(v) -> Optional[T.DataType]:
    """Spark type ``F.lit(v)`` gives a scalar parameter value (None for
    any other value)."""
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        return T.IntegerType() if -(1 << 31) <= v < (1 << 31) else T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    if isinstance(v, str):
        return T.StringType()
    return None


def _is(dt, *classes) -> bool:
    return dt is not None and isinstance(dt, classes)


def _static_type(e: A.Expr, ctx: CompileCtx) -> Optional[T.DataType]:
    """AST-level type inference for positions where frame probes can't
    resolve (lambda bodies) or aren't needed: literals, scalar
    ``$params``, known-typed lambda variables, and string/list-producing
    operators. None = unknown."""
    if isinstance(e, A.Lit):
        v = e.value
        if isinstance(v, bool):
            return T.BooleanType()
        if isinstance(v, int):
            return T.LongType()
        if isinstance(v, float):
            return T.DoubleType()
        if isinstance(v, str):
            return T.StringType()
        return None
    if isinstance(e, A.Param):
        return _value_type(ctx.params.get(e.name))
    if isinstance(e, A.Var):
        return ctx.lambda_types.get(e.name)
    if isinstance(e, A.ListLit):
        return T.ArrayType(T.NullType())
    if isinstance(e, A.Bin) and e.op == "+":
        lt = _static_type(e.lhs, ctx)
        rt = _static_type(e.rhs, ctx)
        if _is(lt, T.StringType) or _is(rt, T.StringType):
            return T.StringType()
    return None


def compile_expr(e: A.Expr, ctx: CompileCtx) -> Column:
    r = _COMPILERS.get(type(e))
    if r is None:
        raise CypherCompileError(f"unsupported expression {type(e).__name__}: {e!r}")
    return r(e, ctx)


# -- leaves -------------------------------------------------------------------


def _var(e: A.Var, ctx: CompileCtx) -> Column:
    if e.name in ctx.lambda_vars:
        return ctx.lambda_vars[e.name]
    meta = ctx.scope.get(e.name)
    if meta is None:
        raise CypherCompileError(f"unbound variable `{e.name}`")
    return entity_column(meta)


def entity_column(meta: EntityMeta) -> Column:
    """The single column a variable compiles to in a scalar position:
    node/rel -> id (element equality is id equality), value -> its column."""
    if meta.kind == "value":
        return F.col(meta.col)
    if meta.kind == "varpath":
        raise CypherCompileError(
            "a variable-length path value can be returned or passed to "
            "length()/nodes()/relationships(), not used as a scalar"
        )
    return F.col(meta.id_col)


def _lit(e: A.Lit, ctx: CompileCtx) -> Column:
    if e.value is None:
        return F.lit(None)
    if isinstance(e.value, bool):
        return F.lit(e.value)
    if isinstance(e.value, int):
        # all Cypher integers are 64-bit (CTInteger -> LongType,
        # SparkConversions.scala:54-77); Catalyst folds the cast
        return F.lit(e.value).cast("long")
    return F.lit(e.value)


def _param(e: A.Param, ctx: CompileCtx) -> Column:
    if e.name not in ctx.params:
        raise CypherCompileError(f"missing parameter ${e.name}")
    v = ctx.params[e.name]
    return F.lit(v)


def _list_lit(e: A.ListLit, ctx: CompileCtx) -> Column:
    if not e.items:
        # typed-null element type: concat/comparison against a typed list
        # unifies to the other side ([] + [1] must be [1], not ['1'])
        return F.array()
    return F.array(*[compile_expr(x, ctx) for x in e.items])


def _map_lit(e: A.MapLit, ctx: CompileCtx) -> Column:
    if not e.items:
        # `{}`: Spark structs need >= 1 field — use the same null marker
        # field the empty properties() map uses (ternary equality strips it)
        return F.struct(F.lit(None).alias("_empty"))
    return F.struct(*[compile_expr(v, ctx).alias(k) for k, v in e.items])


def _map_projection(e: A.MapProjection, ctx: CompileCtx) -> Column:
    """v {.key, alias: expr, .*} -> struct (reference: MapProjection,
    SparkSQLExprMapper.scala:398-425)."""
    meta = ctx.scope.get(e.subject)
    if meta is None:
        raise CypherCompileError(f"unbound variable `{e.subject}`")
    fields: Dict[str, Column] = {}
    if e.all_props and meta.kind in ("node", "rel"):
        for k, c in sorted(meta.prop_cols.items()):
            fields[k] = F.col(c)
    for name, val in e.items:
        if val is None:  # .name shorthand
            fields[name] = compile_expr(A.Prop(A.Var(e.subject), name), ctx)
        else:
            fields[name] = compile_expr(val, ctx)
    if not fields:
        raise CypherCompileError("empty map projection")
    return F.struct(*[c.alias(k) for k, c in fields.items()])


# -- property / label access --------------------------------------------------


def _prop(e: A.Prop, ctx: CompileCtx) -> Column:
    if isinstance(e.subject, A.Var) and e.subject.name in ctx.scope:
        meta = ctx.scope[e.subject.name]
        if meta.kind in ("node", "rel"):
            c = meta.prop_cols.get(e.key)
            if c is None:
                # property not in schema -> null (Cypher semantics)
                return F.lit(None)
            return F.col(c)
        base = F.col(meta.col)
    elif (
        isinstance(e.subject, A.FuncCall)
        and e.subject.name.lower() in ("startnode", "endnode")
    ):
        # startNode(r).prop: resolve to the endpoint node variable that
        # shares r's src/dst id column (the expand join aligns them), so
        # the property read costs nothing extra
        rel_meta = _meta_arg(e.subject, ctx)
        if rel_meta.kind != "rel":
            raise CypherCompileError(
                f"{e.subject.name}() expects a relationship"
            )
        is_start = e.subject.name.lower() == "startnode"
        var = rel_meta.src_var if is_start else rel_meta.dst_var
        endpoint_id = (
            rel_meta.src_var_id_col if is_start else rel_meta.dst_var_id_col
        )
        if var is not None:
            vmeta = ctx.scope.get(var)
            # A later projection may rebind the endpoint's NAME to a
            # different entity (WITH r, b AS a). The recorded id column is
            # the ground truth: only read the variable's property column if
            # its id column is still the rel's endpoint id column.
            if (
                vmeta is not None
                and vmeta.kind == "node"
                and endpoint_id is not None
                and vmeta.id_col == endpoint_id
            ):
                return _prop(A.Prop(A.Var(var), e.key), ctx)
        raise CypherCompileError(
            "property access on startNode()/endNode() requires the endpoint "
            "node to be bound (and not rebound by a later projection) in "
            "the same directed pattern"
        )
    else:
        base = compile_expr(e.subject, ctx)
    dt = _expr_type(ctx, e.subject, base)
    if _is(dt, T.DateType, T.TimestampType, T.TimestampNTZType, T.DayTimeIntervalType):
        return _temporal_accessor(base, e.key, dt)
    if _is(dt, T.MapType):
        return F.element_at(base, F.lit(e.key))
    if _is_dtz(dt):
        return _dtz_prop(base, e.key)
    if _is_tmz(dt):
        return _tmz_prop(base, e.key)
    if _is(dt, T.StructType):
        # Cypher: accessing a missing map key is null, not an error
        return base.getField(e.key) if e.key in dt.names else F.lit(None)
    return base.getItem(e.key)


# -- temporal accessors -------------------------------------------------------

_DATE_ACCESSORS = {
    "year": F.year,
    "quarter": F.quarter,
    "month": F.month,
    "week": F.weekofyear,
    "day": F.dayofmonth,
    "ordinalday": F.dayofyear,
}

_TIME_ACCESSORS = {"hour": F.hour, "minute": F.minute, "second": F.second}


def _temporal_accessor(base: Column, key: str, dt: T.DataType) -> Column:
    """``d.year`` / ``ts.hour`` / ``dur.days`` — property access on a temporal
    value (reference: DateProperty/LocalDateTimeProperty/DurationProperty,
    okapi-ir/.../expr/Expr.scala:487-503, compiled at
    SparkSQLExprMapper.scala:153-155 via TemporalConversions.temporalAccessor
    and TemporalUdfs.durationAccessor). All JVM-side built-ins — the
    reference needs UDFs for weekYear/dayOfQuarter/dayOfWeek, Spark's
    EXTRACT covers them natively. Cypher integers are longs; every accessor
    casts to long. Nulls propagate through the arithmetic."""
    k = key.lower()
    if isinstance(dt, T.DayTimeIntervalType):
        return _duration_accessor(base, key)
    if k in _DATE_ACCESSORS:
        return _DATE_ACCESSORS[k](base).cast("long")
    if k == "weekyear":
        return F.extract(F.lit("YEAROFWEEK"), base).cast("long")
    if k in ("dayofweek", "weekday"):
        return F.extract(F.lit("DAYOFWEEK_ISO"), base).cast("long")
    if k == "dayofquarter":
        d = F.to_date(base)
        return (F.dayofyear(d) - F.dayofyear(F.trunc(d, "quarter")) + F.lit(1)).cast("long")
    if isinstance(dt, T.DateType):
        raise CypherCompileError(
            f"temporal accessor `{key}` is not supported on DATE values"
        )
    if k in _TIME_ACCESSORS:
        return _TIME_ACCESSORS[k](base).cast("long")
    if k == "millisecond":
        return (F.extract(F.lit("SECOND"), base) * 1000).cast("long") % 1000
    if k == "microsecond":
        return (F.extract(F.lit("SECOND"), base) * 1000000).cast("long") % 1000000
    raise CypherCompileError(f"unknown temporal accessor `{key}`")


def _duration_accessor(base: Column, key: str) -> Column:
    """Duration accessors on DayTimeIntervalType (reference:
    TemporalUdfs.durationAccessor — a row-at-a-time UDF over
    CalendarInterval; here: EXTRACT components + long arithmetic, all
    codegen'd). Cypher groups days separately from sub-day components, so
    ``hours``/``minutes``/``seconds`` are totals *below* the day unit. Our
    durations are ANSI day-time intervals (no month component — the
    constructor rejects year/month parts), so month-family accessors are
    constant 0."""
    k = key.lower()
    d = F.extract(F.lit("DAY"), base).cast("long")
    h = F.extract(F.lit("HOUR"), base).cast("long")
    m = F.extract(F.lit("MINUTE"), base).cast("long")
    s = F.extract(F.lit("SECOND"), base)  # decimal, includes the fraction
    sw = s.cast("long")  # whole seconds, truncated toward zero
    if k in ("years", "quarters", "months", "quartersofyear", "monthsofquarter", "monthsofyear"):
        return F.when(base.isNotNull(), F.lit(0)).cast("long")
    if k == "weeks":
        return (d / 7).cast("long")
    if k == "days":
        return d
    if k == "daysofweek":
        return d % 7
    if k == "hours":
        return h
    if k == "minutes":
        return h * 60 + m
    if k == "seconds":
        return h * 3600 + m * 60 + sw
    if k == "milliseconds":
        return (h * 3600 + m * 60) * 1000 + (s * 1000).cast("long")
    if k == "microseconds":
        return (h * 3600 + m * 60) * 1000000 + (s * 1000000).cast("long")
    if k == "minutesofhour":
        return m
    if k == "secondsofminute":
        return sw
    if k == "millisecondsofsecond":
        return (s * 1000).cast("long") - sw * 1000
    if k == "microsecondsofsecond":
        return (s * 1000000).cast("long") - sw * 1000000
    raise CypherCompileError(f"unknown duration accessor `{key}`")


def _has_labels(e: A.HasLabels, ctx: CompileCtx) -> Column:
    if not (isinstance(e.subject, A.Var) and e.subject.name in ctx.scope):
        raise CypherCompileError("label predicate on non-variable")
    meta = ctx.scope[e.subject.name]
    if meta.kind == "rel":
        conds = [F.col(meta.type_col) == t for t in e.labels]
    else:
        missing = [l for l in e.labels if l not in meta.labels]
        if not missing:
            return F.lit(True)
        conds = [F.array_contains(F.col(meta.labels_col), l) for l in missing]
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


# -- boolean ------------------------------------------------------------------


def _not(e: A.Not, ctx: CompileCtx) -> Column:
    return ~compile_expr(e.expr, ctx)


def _ands(e: A.Ands, ctx: CompileCtx) -> Column:
    out = compile_expr(e.items[0], ctx)
    for x in e.items[1:]:
        out = out & compile_expr(x, ctx)
    return out


def _ors(e: A.Ors, ctx: CompileCtx) -> Column:
    out = compile_expr(e.items[0], ctx)
    for x in e.items[1:]:
        out = out | compile_expr(x, ctx)
    return out


def _xor(e: A.Xor, ctx: CompileCtx) -> Column:
    l, r = compile_expr(e.lhs, ctx), compile_expr(e.rhs, ctx)
    return (l & ~r) | (~l & r)


def _cmp(e: A.Cmp, ctx: CompileCtx) -> Column:
    l, r = compile_expr(e.lhs, ctx), compile_expr(e.rhs, ctx)
    # operand types, once: unknown types (unresolvable inside lambdas)
    # defer to Spark
    lt, rt = _expr_type(ctx, e.lhs, l), _expr_type(ctx, e.rhs, r)
    if lt is not None and rt is not None and not _statically_comparable_types(lt, rt):
        # openCypher comparability: ordering across incomparable types is
        # null; equality across incomparable types is false (null operands
        # stay null). Without this Spark fails analysis (e.g. true > 0).
        if e.op in ("=", "<>"):
            neq = F.lit(e.op == "<>")
            return F.when(l.isNull() | r.isNull(), F.lit(None).cast("boolean")).otherwise(neq)
        return F.lit(None).cast("boolean")
    if e.op in ("=", "<>"):
        if _is(lt, T.ArrayType, T.StructType) and _is(rt, T.ArrayType, T.StructType):
            # container equality is ternary per element (openCypher
            # Equality: a definite mismatch is false, any null-valued
            # element comparison poisons the result to null) — Spark's
            # EqualTo on arrays/structs instead treats null elements as
            # equal, so [1, null] = [1, null] would come back true
            eq = _ternary_container_eq(l, r, lt, rt)
            return eq if e.op == "=" else ~eq
    if e.op == "=":
        return l == r
    if e.op == "<>":
        return l != r
    if e.op == "<":
        return l < r
    if e.op == "<=":
        return l <= r
    if e.op == ">":
        return l > r
    return l >= r


_NUMERIC_T = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)
_TEMPORAL_T = (T.DateType, T.TimestampType, T.TimestampNTZType)


def _statically_comparable_types(lt: T.DataType, rt: T.DataType) -> bool:
    """Plan-time comparability check: numbers compare with numbers,
    temporals with temporals, otherwise only same-kind types."""
    if _is(lt, T.NullType) or _is(rt, T.NullType):
        return True
    if _is(lt, *_NUMERIC_T) and _is(rt, *_NUMERIC_T):
        return True
    if _is(lt, *_TEMPORAL_T) and _is(rt, *_TEMPORAL_T):
        return True
    return type(lt) is type(rt)


_NULL_BOOL = lambda: F.lit(None).cast("boolean")  # noqa: E731


def _ternary_elem_eq(x: Column, y: Column, xt: T.DataType, yt: T.DataType) -> Column:
    """Three-valued equality of two values of statically-known type —
    the recursive core of openCypher container Equality. Scalars defer to
    Spark `==` (already ternary for scalar types); containers recurse;
    statically incomparable kinds are definitely false unless an operand
    is null."""
    if _is(xt, T.NullType) or _is(yt, T.NullType):
        return _NULL_BOOL()
    if _is(xt, T.ArrayType, T.StructType) and _is(yt, T.ArrayType, T.StructType):
        return _ternary_container_eq(x, y, xt, yt)
    if not _statically_comparable_types(xt, yt):
        return F.when(x.isNull() | y.isNull(), _NULL_BOOL()).otherwise(F.lit(False))
    return x == y


def _ternary_fold_eqs(eqs: Column) -> Column:
    """Fold an array<boolean> of element equalities ternarily: any
    definite false -> false, else any null -> null, else true."""
    return (
        F.when(F.exists(eqs, lambda b: ~F.coalesce(b, F.lit(True))), F.lit(False))
        .when(F.exists(eqs, lambda b: b.isNull()), _NULL_BOOL())
        .otherwise(F.lit(True))
    )


def _ternary_container_eq(
    l: Column, r: Column, lt: T.DataType, rt: T.DataType
) -> Column:
    """openCypher list/map equality (maps are structs in this engine):
    null operand -> null; length / key-set mismatch -> definitely false;
    otherwise the ternary fold of per-element equalities. Pure Catalyst
    HOFs (zip_with/exists) — JVM-side, no UDF."""
    if _is(lt, T.ArrayType) != _is(rt, T.ArrayType):
        # list vs map: never equal, but null operands stay null
        return F.when(l.isNull() | r.isNull(), _NULL_BOOL()).otherwise(F.lit(False))
    if _is(lt, T.ArrayType):
        eqs = F.zip_with(
            l, r, lambda x, y: _ternary_elem_eq(x, y, lt.elementType, rt.elementType)
        )
        return (
            F.when(l.isNull() | r.isNull(), _NULL_BOOL())
            .when(F.size(l) != F.size(r), F.lit(False))
            .otherwise(_ternary_fold_eqs(eqs))
        )
    def _fields(t: T.StructType) -> dict:
        # the `_empty` null marker represents a zero-key map (empty map
        # literal / empty properties()) — not a real key
        return {
            f.name: f.dataType
            for f in t.fields
            if not (f.name == "_empty" and _is(f.dataType, T.NullType))
        }

    lf = _fields(lt)
    rf = _fields(rt)
    if set(lf) != set(rf):
        return F.when(l.isNull() | r.isNull(), _NULL_BOOL()).otherwise(F.lit(False))
    eqs = F.array(
        *[_ternary_elem_eq(l[k], r[k], lf[k], rf[k]) for k in sorted(lf)]
    )
    return F.when(l.isNull() | r.isNull(), _NULL_BOOL()).otherwise(
        _ternary_fold_eqs(eqs)
    )


def _is_null(e: A.IsNull, ctx: CompileCtx) -> Column:
    return compile_expr(e.expr, ctx).isNull()


def _is_not_null(e: A.IsNotNull, ctx: CompileCtx) -> Column:
    return compile_expr(e.expr, ctx).isNotNull()


def _string_pred(e: A.StringPred, ctx: CompileCtx) -> Column:
    l, r = compile_expr(e.lhs, ctx), compile_expr(e.rhs, ctx)
    # non-string operands make the predicate NULL (openCypher
    # StartsWithAcceptance — the reference blacklists these; Spark would
    # otherwise cast and compare). Statically-known non-string types only:
    # property/variable columns resolve here, lambda bodies keep the
    # lenient behavior.
    for side, col in ((e.lhs, l), (e.rhs, r)):
        dt = _expr_type(ctx, side, col) or _static_type(side, ctx)
        if dt is not None and not isinstance(dt, (T.StringType, T.NullType)):
            return F.lit(None).cast("boolean")
    if e.op == "startswith":
        return l.startswith(r)
    if e.op == "endswith":
        return l.endswith(r)
    if e.op == "contains":
        return l.contains(r)
    # regex: a null pattern makes the match null (openCypher) — gate it
    # before the literal requirement, which exists for pushdown
    if isinstance(e.rhs, A.Lit) and e.rhs.value is None:
        return F.lit(None).cast("boolean")
    if isinstance(e.rhs, A.Param) and ctx.params.get(e.rhs.name) is None:
        return F.lit(None).cast("boolean")
    return l.rlike(_require_str_lit(e.rhs, ctx))  # regex


def _require_str_lit(e: A.Expr, ctx: CompileCtx) -> str:
    if isinstance(e, A.Lit) and isinstance(e.value, str):
        return e.value
    if isinstance(e, A.Param):
        v = ctx.params.get(e.name)
        if isinstance(v, str):
            return v
    raise CypherCompileError("regex pattern must be a string literal or parameter")


def _in(e: A.In, ctx: CompileCtx) -> Column:
    # x IN [] is false for every x, including null (openCypher); the empty
    # list literal otherwise hard-casts to array<string> and type-errors
    # against non-string lhs
    if isinstance(e.rhs, A.ListLit) and not e.rhs.items:
        return F.lit(False)
    if isinstance(e.rhs, A.Param) and ctx.params.get(e.rhs.name) == []:
        return F.lit(False)
    l = compile_expr(e.lhs, ctx)
    r = compile_expr(e.rhs, ctx)
    rt = _expr_type(ctx, e.rhs, r)
    if _is(rt, T.NullType):
        # x IN null is unknown for every x (openCypher)
        return F.lit(None).cast("boolean")
    if _is(rt, T.ArrayType) and isinstance(rt.elementType, T.NullType):
        # list of only-null literals: containment is unknown
        return F.lit(None).cast("boolean")
    lt = _expr_type(ctx, e.lhs, l)
    if _is(lt, T.NullType) and _is(rt, T.ArrayType):
        # a bare null lhs reaches array_contains as VOID, which it rejects
        l = l.cast(rt.elementType)
    elif (
        _is(rt, T.ArrayType)
        and lt is not None
        and not _statically_comparable_types(lt, rt.elementType)
    ):
        # 'a' IN [1, 2]: element equality across incomparable types is
        # false, so membership is false — unless an operand is null or the
        # list holds a null (three-valued logic); Spark's lenient cast
        # would produce null for the false cases instead
        return (
            F.when(l.isNull() | r.isNull(), F.lit(None).cast("boolean"))
            .when(F.exists(r, lambda x: x.isNull()), F.lit(None).cast("boolean"))
            .otherwise(F.lit(False))
        )
    if _is(rt, T.ArrayType) and _is(rt.elementType, T.ArrayType, T.StructType):
        # container elements: membership is the ternary disjunction of
        # per-element ternary equalities (true beats null beats false) —
        # array_contains would treat null-poisoned candidates as definite
        # non-matches ([1, 3] IN [[1, null]] must be null, not false)
        et = lt if lt is not None else rt.elementType
        eqs = F.transform(r, lambda x: _ternary_elem_eq(l, x, et, rt.elementType))
        return (
            F.when(r.isNull(), _NULL_BOOL())
            .when(F.size(r) == F.lit(0), F.lit(False))
            .when(F.exists(eqs, lambda b: F.coalesce(b, F.lit(False))), F.lit(True))
            .when(F.exists(eqs, lambda b: b.isNull()), _NULL_BOOL())
            .otherwise(F.lit(False))
        )
    # array_contains already implements SQL's three-valued IN (true if
    # found; null if not found but the list holds a null, or an operand is
    # null; false otherwise) — Cypher differs in exactly one case:
    # null IN [] is false, not null
    return F.when(
        l.isNull() & (F.size(r) == F.lit(0)), F.lit(False)
    ).otherwise(F.array_contains(r, l))


# -- zoned temporal values (CTDateTime / CTTime) --------------------------------
#
# Beyond reference parity: the reference documents zoned datetime/time as
# unsupported (documentation/asciidoc/cypher-cypher9-features.adoc:32-54).
# Spark has no zoned scalar type (TimestampType is an instant rendered in
# the session zone), so CTDateTime is a struct(instant TIMESTAMP, zone
# STRING) and CTTime a struct(utc/local micros-of-day + offset seconds).
# The INSTANT/UTC field comes FIRST so Spark's lexicographic struct
# ordering compares by instant (Neo4j's comparison order), with the zone
# as a deterministic tiebreak; equality requires instant AND zone, like
# Neo4j's. All zone math is JVM-side (from_utc_timestamp /
# to_utc_timestamp read the tzdb inside codegen) — no UDFs. Calendar
# arithmetic (dt + duration) runs in the value's OWN zone: convert to
# local wall time, add, convert back — so adding P1D across a DST
# transition moves 23 or 25 real hours, exactly Neo4j's semantics.

_DTZ_INSTANT, _DTZ_ZONE = "_dtz_instant", "_dtz_zone"
_TMZ_UTC, _TMZ_LOCAL, _TMZ_OFFSET = "_tmz_utc", "_tmz_local", "_tmz_offset"
_DAY_MICROS = 86_400_000_000


def _is_dtz(dt) -> bool:
    return isinstance(dt, T.StructType) and list(dt.names) == [
        _DTZ_INSTANT,
        _DTZ_ZONE,
    ]


def _is_tmz(dt) -> bool:
    return isinstance(dt, T.StructType) and list(dt.names) == [
        _TMZ_UTC,
        _TMZ_LOCAL,
        _TMZ_OFFSET,
    ]


def _dtz(instant: Column, zone: Column) -> Column:
    return F.struct(
        instant.cast("timestamp").alias(_DTZ_INSTANT),
        zone.cast("string").alias(_DTZ_ZONE),
    )


def _tmz(local_micros: Column, offset_sec: Column) -> Column:
    local = F.pmod(local_micros.cast("long"), F.lit(_DAY_MICROS))
    utc = F.pmod(local - offset_sec.cast("long") * 1_000_000, F.lit(_DAY_MICROS))
    return F.struct(
        utc.alias(_TMZ_UTC),
        local.alias(_TMZ_LOCAL),
        offset_sec.cast("long").alias(_TMZ_OFFSET),
    )


def _dtz_offset_seconds(v: Column) -> Column:
    """The zone's UTC offset at the value's own instant (DST-correct):
    from_utc_timestamp shifts the rendered wall clock by exactly the
    offset, so the unix-second difference IS the offset."""
    i, z = v.getField(_DTZ_INSTANT), v.getField(_DTZ_ZONE)
    return F.unix_seconds(F.from_utc_timestamp(i, z)) - F.unix_seconds(i)


def _dtz_from_string(s: Column) -> Column:
    """ISO-8601 with optional offset and/or bracketed zone name:
    '2024-03-15T10:30:00+02:00', '...Z', '...+02:00[Europe/Paris]',
    '...[Europe/Paris]', or a bare local datetime (zone defaults UTC)."""
    zone_br = F.regexp_extract(s, r"\[([^\]]+)\]\s*$", 1)
    base = F.regexp_replace(s, r"\[[^\]]+\]\s*$", "")
    offset = F.regexp_extract(base, r"(Z|z|[+-]\d{2}:\d{2})\s*$", 1)
    zone = (
        F.when(zone_br != "", zone_br)
        .when(offset != "", F.upper(offset))
        .otherwise(F.lit("UTC"))
    )
    # with an explicit offset the string cast resolves the instant; with
    # only a bracket zone the local wall time interprets in that zone
    instant = (
        F.when(offset != "", F.to_timestamp(base))
        .when(
            zone_br != "",
            F.to_utc_timestamp(F.to_timestamp_ntz(base).cast("timestamp"), zone_br),
        )
        .otherwise(F.to_timestamp_ntz(base).cast("timestamp"))
    )
    return _dtz(instant, zone)


def _map_items_ci(arg: A.MapLit) -> dict:
    return {k.lower(): v for k, v in arg.items}


def _fn_datetime(e: A.FuncCall, ctx: CompileCtx) -> Column:
    if not e.args:
        return _dtz(F.current_timestamp(), F.lit("UTC"))
    arg = e.args[0]
    if isinstance(arg, A.MapLit):
        items = _map_items_ci(arg)
        zone = (
            compile_expr(items["timezone"], ctx).cast("string")
            if "timezone" in items
            else F.lit("UTC")
        )
        if "epochseconds" in items:
            instant = F.timestamp_seconds(
                compile_expr(items["epochseconds"], ctx).cast("long")
            )
            return _dtz(instant, zone)
        if "epochmillis" in items:
            instant = F.timestamp_millis(
                compile_expr(items["epochmillis"], ctx).cast("long")
            )
            return _dtz(instant, zone)

        def fld(k: str, default: int) -> Column:
            if k in items:
                return compile_expr(items[k], ctx).cast("int")
            return F.lit(default)

        secs = fld("second", 0).cast("decimal(16,6)")
        if "millisecond" in items:
            secs = secs + fld("millisecond", 0).cast("decimal(16,6)") / 1000
        if "microsecond" in items:
            secs = secs + fld("microsecond", 0).cast("decimal(16,6)") / 1000000
        local = F.make_timestamp_ntz(
            fld("year", 1970), fld("month", 1), fld("day", 1),
            fld("hour", 0), fld("minute", 0), secs,
        )
        instant = F.to_utc_timestamp(local.cast("timestamp"), zone)
        return _dtz(instant, zone)
    c = compile_expr(arg, ctx)
    dt = _expr_type(ctx, arg, c)
    if _is_dtz(dt):
        return c
    if _is(dt, T.StringType):
        return _dtz_from_string(c)
    # date / localdatetime / timestamp-like values: take the wall clock
    # as UTC (the engine's ntz convention)
    return _dtz(c.cast("timestamp_ntz").cast("timestamp"), F.lit("UTC"))


def _interval_micros(dur: Column) -> Column:
    """Total microseconds of a day-time interval, JVM-side: shift the
    epoch by it and read unix_micros."""
    return F.unix_micros(F.timestamp_micros(F.lit(0)) + dur)


def _fn_time(e: A.FuncCall, ctx: CompileCtx) -> Column:
    if not e.args:
        now = F.current_timestamp()
        micros = F.pmod(F.unix_micros(now), F.lit(_DAY_MICROS))
        return _tmz(micros, F.lit(0))
    arg = e.args[0]
    if isinstance(arg, A.MapLit):
        items = _map_items_ci(arg)

        def fld(k: str) -> Column:
            if k in items:
                return compile_expr(items[k], ctx).cast("long")
            return F.lit(0)

        local = (
            fld("hour") * 3_600_000_000
            + fld("minute") * 60_000_000
            + fld("second") * 1_000_000
            + fld("millisecond") * 1000
            + fld("microsecond")
        )
        if "timezone" in items:
            z = compile_expr(items["timezone"], ctx).cast("string")
            now = F.current_timestamp()
            off = F.unix_seconds(F.from_utc_timestamp(now, z)) - F.unix_seconds(now)
        else:
            off = F.lit(0)
        return _tmz(local, off)
    c = compile_expr(arg, ctx)
    dt = _expr_type(ctx, arg, c)
    if _is_tmz(dt):
        return c
    if _is_dtz(dt):
        local = F.from_utc_timestamp(c.getField(_DTZ_INSTANT), c.getField(_DTZ_ZONE))
        return _tmz(
            F.pmod(F.unix_micros(local), F.lit(_DAY_MICROS)), _dtz_offset_seconds(c)
        )
    # string 'HH:MM[:SS[.ffffff]][Z|+HH:MM]'
    s = c.cast("string")
    off_s = F.regexp_extract(s, r"(Z|z|[+-]\d{2}:\d{2})\s*$", 1)
    base = F.regexp_replace(s, r"(Z|z|[+-]\d{2}:\d{2})\s*$", "")
    hh = F.regexp_extract(base, r"^(\d{2})", 1).cast("long")
    mm = F.regexp_extract(base, r"^\d{2}:(\d{2})", 1).try_cast("long")
    ss = F.regexp_extract(base, r"^\d{2}:\d{2}:(\d{2})", 1).try_cast("long")
    ff = F.rpad(
        F.regexp_extract(base, r"\.(\d{1,6})", 1), 6, "0"
    ).try_cast("long")
    local = (
        hh * 3_600_000_000
        + F.coalesce(mm, F.lit(0)) * 60_000_000
        + F.coalesce(ss, F.lit(0)) * 1_000_000
        + F.coalesce(ff, F.lit(0))
    )
    sign = F.when(off_s.startswith("-"), F.lit(-1)).otherwise(F.lit(1))
    oh = F.regexp_extract(off_s, r"(\d{2}):", 1).try_cast("long")
    om = F.regexp_extract(off_s, r":(\d{2})", 1).try_cast("long")
    off = sign * (F.coalesce(oh, F.lit(0)) * 3600 + F.coalesce(om, F.lit(0)) * 60)
    return _tmz(local, off)


def _dtz_prop(v: Column, key: str) -> Column:
    k = key.lower()
    i, z = v.getField(_DTZ_INSTANT), v.getField(_DTZ_ZONE)
    if k == "timezone":
        return z
    if k == "offsetseconds":
        return _dtz_offset_seconds(v)
    if k == "offset":
        return _offset_string(_dtz_offset_seconds(v))
    if k == "epochseconds":
        return F.unix_seconds(i)
    if k == "epochmillis":
        return F.unix_millis(i)
    local = F.from_utc_timestamp(i, z)
    return _temporal_accessor(local, key, T.TimestampType())


def _tmz_prop(v: Column, key: str) -> Column:
    k = key.lower()
    local, off = v.getField(_TMZ_LOCAL), v.getField(_TMZ_OFFSET)
    if k == "offsetseconds":
        return off
    if k in ("offset", "timezone"):
        return _offset_string(off)
    if k == "hour":
        return (local / 3_600_000_000).cast("long")
    if k == "minute":
        return (local / 60_000_000).cast("long") % 60
    if k == "second":
        return (local / 1_000_000).cast("long") % 60
    if k == "millisecond":
        return (local / 1000).cast("long") % 1000
    if k == "microsecond":
        return local % 1_000_000
    raise CypherCompileError(f"unknown TIME accessor `{key}`")


def _offset_string(off_sec: Column) -> Column:
    a = F.abs(off_sec)
    return F.when(off_sec == 0, F.lit("Z")).otherwise(
        F.concat(
            F.when(off_sec < 0, F.lit("-")).otherwise(F.lit("+")),
            F.lpad((a / 3600).cast("long").cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad(((a / 60) % 60).cast("long").cast("string"), 2, "0"),
        )
    )


def _dtz_to_string(v: Column) -> Column:
    """Neo4j-style rendering: local ISO wall time, numeric offset ('Z'
    when zero), and '[zone]' suffix for region-named zones."""
    i, z = v.getField(_DTZ_INSTANT), v.getField(_DTZ_ZONE)
    local = F.from_utc_timestamp(i, z)
    frac = F.pmod(F.unix_micros(local), F.lit(1_000_000))
    frac_str = F.when(frac == 0, F.lit("")).otherwise(
        F.regexp_replace(
            F.concat(F.lit("."), F.lpad(frac.cast("string"), 6, "0")), "0+$", ""
        )
    )
    named = z.contains("/")
    return F.concat(
        F.date_format(local, "yyyy-MM-dd'T'HH:mm:ss"),
        frac_str,
        _offset_string(_dtz_offset_seconds(v)),
        F.when(named, F.concat(F.lit("["), z, F.lit("]"))).otherwise(F.lit("")),
    )


def _tmz_to_string(v: Column) -> Column:
    local = v.getField(_TMZ_LOCAL)
    frac = F.pmod(local, F.lit(1_000_000))
    frac_str = F.when(frac == 0, F.lit("")).otherwise(
        F.regexp_replace(
            F.concat(F.lit("."), F.lpad(frac.cast("string"), 6, "0")), "0+$", ""
        )
    )
    pad2 = lambda c: F.lpad(c.cast("long").cast("string"), 2, "0")  # noqa: E731
    return F.concat(
        pad2((local / 3_600_000_000).cast("long")),
        F.lit(":"),
        pad2((local / 60_000_000).cast("long") % 60),
        F.lit(":"),
        pad2((local / 1_000_000).cast("long") % 60),
        frac_str,
        _offset_string(v.getField(_TMZ_OFFSET)),
    )


def _dtz_plus_interval(v: Column, dur: Column) -> Column:
    """Calendar addition in the value's own zone (DST-aware)."""
    i, z = v.getField(_DTZ_INSTANT), v.getField(_DTZ_ZONE)
    local = F.from_utc_timestamp(i, z)
    return _dtz(F.to_utc_timestamp(local + dur, z), z)


def _dtz_minus_interval(v: Column, dur: Column) -> Column:
    i, z = v.getField(_DTZ_INSTANT), v.getField(_DTZ_ZONE)
    local = F.from_utc_timestamp(i, z)
    return _dtz(F.to_utc_timestamp(local - dur, z), z)


def _fn_datetime_truncate(e: A.FuncCall, ctx: CompileCtx) -> Column:
    """datetime.truncate(unit, dtz): truncate the LOCAL wall time in the
    value's zone, keep the zone."""
    unit = _require_str_lit(e.args[0], ctx).lower()
    v = compile_expr(e.args[1], ctx)
    dt = _expr_type(ctx, e.args[1], v)
    if not _is_dtz(dt):
        raise CypherCompileError("datetime.truncate() expects a zoned datetime")
    i, z = v.getField(_DTZ_INSTANT), v.getField(_DTZ_ZONE)
    local = F.from_utc_timestamp(i, z)
    if unit == "quarter":
        trunc = F.to_timestamp(F.trunc(F.to_date(local), "quarter"))
    elif unit == "week":
        trunc = F.to_timestamp(F.trunc(F.to_date(local), "week"))
    else:
        trunc = F.date_trunc(unit, local)
    return _dtz(F.to_utc_timestamp(trunc, z), z)


def _fn_tostring(e: A.FuncCall, ctx: CompileCtx) -> Column:
    c = compile_expr(e.args[0], ctx)
    dt = _expr_type(ctx, e.args[0], c)
    if _is_dtz(dt):
        return _dtz_to_string(c)
    if _is_tmz(dt):
        return _tmz_to_string(c)
    return c.cast("string")


# -- arithmetic ----------------------------------------------------------------


def _bin(e: A.Bin, ctx: CompileCtx) -> Column:
    l, r = compile_expr(e.lhs, ctx), compile_expr(e.rhs, ctx)
    if e.op == "+":
        lt = _expr_type(ctx, e.lhs, l) or _static_type(e.lhs, ctx)
        rt = _expr_type(ctx, e.rhs, r) or _static_type(e.rhs, ctx)
        if _is(lt, T.StringType) or _is(rt, T.StringType):
            # Cypher `+` string concat (either side string -> string)
            return F.concat(
                l if _is(lt, T.StringType) else l.cast("string"),
                r if _is(rt, T.StringType) else r.cast("string"),
            )
        if _is(lt, T.ArrayType) and _is(rt, T.ArrayType):
            return F.concat(l, r)
        if _is(lt, T.ArrayType):
            return F.concat(l, F.array(r))
        if _is(rt, T.ArrayType):
            return F.concat(F.array(l), r)
        if _is(lt, T.DateType) and _is(rt, T.DayTimeIntervalType):
            return (l.cast("timestamp") + r).cast("date")
        if _is_dtz(lt) and _is(rt, T.DayTimeIntervalType):
            return _dtz_plus_interval(l, r)
        if _is(lt, T.DayTimeIntervalType) and _is_dtz(rt):
            return _dtz_plus_interval(r, l)
        if _is_tmz(lt) and _is(rt, T.DayTimeIntervalType):
            return _tmz(
                l.getField(_TMZ_LOCAL) + _interval_micros(r),
                l.getField(_TMZ_OFFSET),
            )
        if _is(lt, T.DayTimeIntervalType) and _is_tmz(rt):
            return _tmz(
                r.getField(_TMZ_LOCAL) + _interval_micros(l),
                r.getField(_TMZ_OFFSET),
            )
        return l + r
    if e.op == "-":
        lt, rt = _expr_type(ctx, e.lhs, l), _expr_type(ctx, e.rhs, r)
        if _is(lt, T.DateType) and _is(rt, T.DayTimeIntervalType):
            return (l.cast("timestamp") - r).cast("date")
        if _is_dtz(lt) and _is(rt, T.DayTimeIntervalType):
            return _dtz_minus_interval(l, r)
        if _is_dtz(lt) and _is_dtz(rt):
            # instant difference as a day-time interval
            return l.getField(_DTZ_INSTANT).cast("timestamp_ntz") - r.getField(
                _DTZ_INSTANT
            ).cast("timestamp_ntz")
        if _is_tmz(lt) and _is(rt, T.DayTimeIntervalType):
            return _tmz(
                l.getField(_TMZ_LOCAL) - _interval_micros(r),
                l.getField(_TMZ_OFFSET),
            )
        return l - r
    if e.op == "*":
        return l * r
    if e.op == "/":
        lt, rt = _expr_type(ctx, e.lhs, l), _expr_type(ctx, e.rhs, r)
        if _is(lt, T.LongType) and _is(rt, T.LongType):
            # Cypher integer division truncates toward zero
            return (l / r).cast("long")
        return l / r
    if e.op == "%":
        return l % r
    if e.op == "^":
        return F.pow(l, r)
    raise CypherCompileError(f"unknown operator {e.op}")


def _neg(e: A.Neg, ctx: CompileCtx) -> Column:
    return -compile_expr(e.expr, ctx)


# -- conditionals ---------------------------------------------------------------


def _case(e: A.CaseExpr, ctx: CompileCtx) -> Column:
    out = None
    operand = compile_expr(e.operand, ctx) if e.operand is not None else None
    for cond_e, val_e in e.whens:
        cond = compile_expr(cond_e, ctx)
        if operand is not None:
            cond = operand == cond
        elif _is(_expr_type(ctx, cond_e, cond), T.NullType):
            # searched CASE with a literal-null condition: Cypher treats a
            # null predicate as not-matched; Spark's CASE WHEN rejects a
            # VOID-typed condition outright (DATATYPE_MISMATCH)
            cond = cond.cast("boolean")
        val = compile_expr(val_e, ctx)
        out = F.when(cond, val) if out is None else out.when(cond, val)
    if e.default is not None:
        out = out.otherwise(compile_expr(e.default, ctx))
    return out


# -- lists / higher-order --------------------------------------------------------


def _index(e: A.Index, ctx: CompileCtx) -> Column:
    base = compile_expr(e.subject, ctx)
    dt = _expr_type(ctx, e.subject, base)
    idx = compile_expr(e.index, ctx)
    if _is(dt, T.NullType):
        # null[i] is null; the VOID-typed literal would type-error in get()
        return F.lit(None)
    if _is(dt, T.MapType):
        return F.element_at(base, idx)
    if _is(dt, T.StructType):
        if isinstance(e.index, A.Lit) and isinstance(e.index.value, str):
            return base.getField(e.index.value)
        raise CypherCompileError("struct access requires a literal key")
    # list: Cypher 0-based, out-of-range -> null (F.get is exactly that);
    # negative indices count from the end (xs[-1] = last) — element_at's
    # negative convention matches, and try_element_at nulls out-of-range
    # instead of erroring (element_at(arr, 0) would throw, but idx 0 takes
    # the F.get branch)
    i = idx.cast("int")
    return F.when(i >= 0, F.get(base, i)).otherwise(F.try_element_at(base, i))


def _slice(e: A.Slice, ctx: CompileCtx) -> Column:
    base = compile_expr(e.subject, ctx)
    if _is(_expr_type(ctx, e.subject, base), T.NullType):
        # null[a..b] is null; F.size on a VOID literal would type-error
        return F.lit(None)
    n = F.size(base)

    def norm(c: Column) -> Column:
        # negative bounds count from the end (xs[-3..-1] = xs[n-3..n-1]);
        # both directions clamp into [0, n]. Null bounds -> null result —
        # propagate explicitly: least/greatest SKIP nulls, they don't
        # poison, so xs[0..null] would otherwise clamp to n
        return (
            F.when(c.isNull(), F.lit(None))
            .when(c < 0, F.greatest(n + c, F.lit(0)))
            .otherwise(F.least(c, n))
        )

    lo = norm(compile_expr(e.lo, ctx).cast("int")) if e.lo is not None else F.lit(0)
    hi = norm(compile_expr(e.hi, ctx).cast("int")) if e.hi is not None else n
    return F.when(
        lo.isNull() | hi.isNull(), F.lit(None)
    ).otherwise(F.slice(base, lo + F.lit(1), F.greatest(hi - lo, F.lit(0))))


def _elem_type(ctx: CompileCtx, src: Column) -> Optional[T.DataType]:
    src_t = _dtype(ctx, src)
    return src_t.elementType if _is(src_t, T.ArrayType) else None


def _list_comp(e: A.ListComp, ctx: CompileCtx) -> Column:
    src = compile_expr(e.source, ctx)
    if _is(_expr_type(ctx, e.source, src), T.NullType):
        # [x IN null | ...] is null (openCypher); a VOID source would
        # type-error inside transform/filter at analysis
        return F.lit(None)
    et = _elem_type(ctx, src)
    out = src
    if e.where is not None:
        out = F.filter(
            out, lambda x: compile_expr(e.where, ctx.with_lambda(e.var, x, et))
        )
    if e.projection is not None:
        out = F.transform(
            out, lambda x: compile_expr(e.projection, ctx.with_lambda(e.var, x, et))
        )
    return out


def _quantified(e: A.Quantified, ctx: CompileCtx) -> Column:
    src = compile_expr(e.source, ctx)
    if _is(_expr_type(ctx, e.source, src), T.NullType):
        # any/all/none/single over a null list is null (openCypher)
        return F.lit(None).cast("boolean")
    et = _elem_type(ctx, src)

    def pred(x):
        return compile_expr(e.where, ctx.with_lambda(e.var, x, et))

    if e.kind == "any":
        return F.exists(src, pred)
    if e.kind == "all":
        return F.forall(src, pred)
    if e.kind == "none":
        return ~F.exists(src, pred)
    # single
    return F.size(F.filter(src, pred)) == 1


def _reduce(e: A.Reduce, ctx: CompileCtx) -> Column:
    src = compile_expr(e.source, ctx)
    if _is(_expr_type(ctx, e.source, src), T.NullType):
        # reduce over a null list is null (openCypher)
        return F.lit(None)
    init = compile_expr(e.init, ctx)
    # probe types OUTSIDE the lambda (the body can't) so the accumulator /
    # element get static types and `+` resolves its string/list overloads
    # (reduce(s = '', w IN [...] | s + w) must concat, not numeric-add)
    init_t = _expr_type(ctx, e.init, init) or _static_type(e.init, ctx)
    src_t = _expr_type(ctx, e.source, src)
    elem_t = src_t.elementType if _is(src_t, T.ArrayType) else None

    # an untyped init (`reduce(acc = [], ...)` compiles to array<void>,
    # `acc = null` to void) pins the aggregate's accumulator type, and
    # Spark rejects the lambda when the merge result is any other type.
    # Infer the real accumulator type by probing the merge body ONCE
    # against the outer frame (acc := init, elem := first element), then
    # cast the init — Neo4j's empty-list/null accumulators just work.
    untyped = _is(init_t, T.NullType) or (
        _is(init_t, T.ArrayType) and _is(init_t.elementType, T.NullType)
    )
    if untyped and ctx.df is not None:
        lam = ctx.with_lambda(e.acc, init, init_t).with_lambda(
            e.var, F.element_at(src, F.lit(1)), elem_t
        )
        probe_ctx = CompileCtx(
            ctx.df, ctx.scope, ctx.params, lam.lambda_vars, lam.lambda_types
        )
        # a body that only compiles with the real accumulator type raises
        # here; keep the untyped init then, as when the probe finds nothing
        try:
            bt = _dtype(ctx, compile_expr(e.expr, probe_ctx))
        except (AnalysisException, CypherCompileError):
            bt = None
        if (
            bt is not None
            and not _is(bt, T.NullType)
            and not (_is(bt, T.ArrayType) and _is(bt.elementType, T.NullType))
        ):
            # fix-point check (ADVICE r6): the first probe ran with a
            # null-typed acc, and a body whose type DEPENDS on the acc's
            # type could yield a different steady-state type (a silent
            # numeric widening, say). Re-probe with the casted init; only
            # adopt the cast when the probed type fixes — otherwise keep
            # the original init and let Spark's analysis raise loudly.
            casted = init.cast(bt)
            lam2 = ctx.with_lambda(e.acc, casted, bt).with_lambda(
                e.var, F.element_at(src, F.lit(1)), elem_t
            )
            probe2_ctx = CompileCtx(
                ctx.df, ctx.scope, ctx.params, lam2.lambda_vars, lam2.lambda_types
            )
            try:
                bt2 = _dtype(ctx, compile_expr(e.expr, probe2_ctx))
            except (AnalysisException, CypherCompileError):
                bt2 = None
            if bt2 == bt:
                init = casted
                init_t = bt

    def merge(acc, x):
        c = ctx.with_lambda(e.acc, acc, init_t).with_lambda(e.var, x, elem_t)
        return compile_expr(e.expr, c)

    return F.aggregate(src, init, merge)


# -- paths ------------------------------------------------------------------------


def path_nodes_array(metas, ctx: CompileCtx) -> Column:
    """array of node structs with a UNIFIED schema (id, labels, union of
    the path's property keys, null-filled) — array elements must share one
    struct type."""
    keys = sorted({k for m in metas for k in m.prop_cols})

    def typed_null(k: str) -> Column:
        for m in metas:
            if k in m.prop_cols:
                dt = _frame_type(ctx, m.prop_cols[k])
                if dt is not None:
                    return F.lit(None).cast(dt)
        return F.lit(None).cast("string")

    return F.array(
        *[
            F.struct(
                F.col(m.id_col).alias("id"),
                F.col(m.labels_col).alias("labels"),
                *[
                    (
                        F.col(m.prop_cols[k]) if k in m.prop_cols else typed_null(k)
                    ).alias(k)
                    for k in keys
                ],
            )
            for m in metas
        ]
    )


def path_rels_array(metas, ctx: CompileCtx) -> Column:
    """array of relationship structs with a unified schema; empty paths
    get a typed empty array."""
    if not metas:
        return F.array().cast(
            "array<struct<id:bigint,src:bigint,dst:bigint,type:string>>"
        )
    keys = sorted({k for m in metas for k in m.prop_cols})

    def typed_null(k: str) -> Column:
        for m in metas:
            if k in m.prop_cols:
                dt = _frame_type(ctx, m.prop_cols[k])
                if dt is not None:
                    return F.lit(None).cast(dt)
        return F.lit(None).cast("string")

    return F.array(
        *[
            F.struct(
                F.col(m.id_col).alias("id"),
                F.col(m.src_col).alias("src"),
                F.col(m.dst_col).alias("dst"),
                F.col(m.type_col).alias("type"),
                *[
                    (
                        F.col(m.prop_cols[k]) if k in m.prop_cols else typed_null(k)
                    ).alias(k)
                    for k in keys
                ],
            )
            for m in metas
        ]
    )


def _path_fn(e: A.FuncCall, meta: EntityMeta, ctx: CompileCtx) -> Column:
    """Functions over a named-path variable: the element layout is static
    plan-time metadata, so length() is a literal and nodes()/
    relationships() assemble directly from the element columns (no
    runtime path value exists until finalize renders one). An unmatched
    OPTIONAL path (null dirs sentinel) yields null from every function."""
    bound = F.col(meta.col).isNotNull()
    if e.name in ("length", "size"):
        return F.when(bound, F.lit(len(meta.path_rels)).cast("long"))
    if e.name == "nodes":
        return F.when(bound, path_nodes_array(meta.path_nodes, ctx))
    if e.name == "relationships":
        return F.when(bound, path_rels_array(meta.path_rels, ctx))
    raise CypherCompileError(f"{e.name}() is not supported on paths")


def _varpath_fn(e: A.FuncCall, meta: EntityMeta) -> Column:
    """Functions over a VAR-LENGTH named path: the element list is runtime
    data, so length() is size of the rel-id array; nodes()/relationships()
    need a plan-level join and are lowered by the planner
    (_replace_varpath_fns) before compilation reaches here."""
    bound = F.col(meta.col).isNotNull()
    if e.name in ("length", "size"):
        return F.when(bound, F.size(F.col(meta.vpath_rels_col)).cast("long"))
    if e.name in ("nodes", "relationships"):
        raise CypherCompileError(
            f"{e.name}() on a variable-length path is supported in "
            "projection items (RETURN/WITH), not in this position"
        )
    raise CypherCompileError(f"{e.name}() is not supported on paths")


# -- function calls ---------------------------------------------------------------


def _func(e: A.FuncCall, ctx: CompileCtx) -> Column:
    name = e.name
    if name in AGGREGATES:
        return compile_aggregate(e, ctx)
    if len(e.args) == 1 and isinstance(e.args[0], A.Var):
        meta = ctx.scope.get(e.args[0].name)
        if meta is not None and meta.kind == "path":
            return _path_fn(e, meta, ctx)
        if meta is not None and meta.kind == "varpath":
            return _varpath_fn(e, meta)
    fn = _SCALAR_FNS.get(name)
    if fn is None:
        raise CypherCompileError(f"unknown function {name}()")
    return fn(e, ctx)


def _args(e: A.FuncCall, ctx: CompileCtx):
    return [compile_expr(a, ctx) for a in e.args]


def _meta_arg(e: A.FuncCall, ctx: CompileCtx) -> EntityMeta:
    if len(e.args) == 1 and isinstance(e.args[0], A.Var):
        meta = ctx.scope.get(e.args[0].name)
        if meta is not None:
            return meta
    raise CypherCompileError(f"{e.name}() expects a bound node/relationship variable")


def _is_null_lit_arg(e: A.FuncCall) -> bool:
    """labels(null), type(null), id(null), keys(null), properties(null)
    are all null in openCypher — not compile errors."""
    return (
        len(e.args) == 1
        and isinstance(e.args[0], A.Lit)
        and e.args[0].value is None
    )


def _struct_lambda_field(e: A.FuncCall, ctx: CompileCtx, field: str):
    """id(x)/labels(x)/type(x) where x is a LAMBDA variable bound to an
    entity STRUCT (an element of nodes(p)/relationships(p)): read the
    struct's field. Returns None when the shape doesn't apply."""
    if (
        len(e.args) == 1
        and isinstance(e.args[0], A.Var)
        and e.args[0].name in ctx.lambda_vars
    ):
        lt = ctx.lambda_types.get(e.args[0].name)
        if _is(lt, T.StructType) and field in lt.fieldNames():
            return ctx.lambda_vars[e.args[0].name].getField(field)
    return None


def _fn_id(e, ctx):
    if _is_null_lit_arg(e):
        return F.lit(None).cast("long")
    sf = _struct_lambda_field(e, ctx, "id")
    if sf is not None:
        return sf
    meta = _meta_arg(e, ctx)
    if meta.kind == "value":
        return F.col(meta.col)
    return F.col(meta.id_col)


def _fn_labels(e, ctx):
    if _is_null_lit_arg(e):
        return F.lit(None).cast("array<string>")
    sf = _struct_lambda_field(e, ctx, "labels")
    if sf is not None:
        return sf
    meta = _meta_arg(e, ctx)
    if meta.kind != "node":
        raise CypherCompileError("labels() expects a node")
    return F.col(meta.labels_col)


def _fn_type(e, ctx):
    if _is_null_lit_arg(e):
        return F.lit(None).cast("string")
    sf = _struct_lambda_field(e, ctx, "type")
    if sf is not None:
        return sf
    meta = _meta_arg(e, ctx)
    if meta.kind != "rel":
        raise CypherCompileError("type() expects a relationship")
    return F.col(meta.type_col)


def _fn_keys(e, ctx):
    if _is_null_lit_arg(e):
        return F.lit(None).cast("array<string>")
    try:
        meta = _meta_arg(e, ctx)
    except CypherCompileError:
        meta = None
    if meta is not None and meta.kind in ("node", "rel"):
        items = [
            F.when(F.col(c).isNotNull(), F.lit(k))
            for k, c in sorted(meta.prop_cols.items())
        ]
        # an unmatched OPTIONAL entity (null id) has null keys, not []
        bound = F.col(meta.id_col).isNotNull()
        if not items:
            return F.when(bound, F.array().cast("array<string>"))
        return F.when(bound, F.array_compact(F.array(*items)))
    # keys() of a map value: struct fields are plan-time constants
    c = compile_expr(e.args[0], ctx)
    dt = _expr_type(ctx, e.args[0], c)
    if _is(dt, T.StructType):
        names = [f.name for f in dt.fields if f.name != "_empty"]
        return F.array(*[F.lit(n) for n in names]).cast("array<string>")
    if _is(dt, T.MapType):
        return F.map_keys(c)
    raise CypherCompileError("keys() expects a node, relationship or map")


def _fn_properties(e, ctx):
    if _is_null_lit_arg(e):
        return F.lit(None)
    meta = _meta_arg(e, ctx)
    if meta.kind == "value":
        # properties() of a map value is the map itself
        return F.col(meta.col)
    # an unmatched OPTIONAL entity (null id) has null properties, not a
    # struct of nulls
    bound = F.col(meta.id_col).isNotNull()
    if not meta.prop_cols:
        return F.when(bound, F.struct(F.lit(None).alias("_empty")))
    return F.when(
        bound,
        F.struct(*[F.col(c).alias(k) for k, c in sorted(meta.prop_cols.items())]),
    )


def _fn_startnode(e, ctx):
    meta = _meta_arg(e, ctx)
    if meta.kind != "rel":
        raise CypherCompileError("startNode() expects a relationship")
    return F.col(meta.src_col)


def _fn_endnode(e, ctx):
    meta = _meta_arg(e, ctx)
    if meta.kind != "rel":
        raise CypherCompileError("endNode() expects a relationship")
    return F.col(meta.dst_col)


def _fn_exists(e, ctx):
    # exists(n.prop) -> n.prop IS NOT NULL (reference: Exists property,
    # Expr.scala:718)
    return compile_expr(e.args[0], ctx).isNotNull()


def _log_ieee(logfn, x) -> Column:
    x = x.cast("double")
    return (
        F.when(x > 0, logfn(x))
        .when(x == 0, F.lit(float("-inf")))
        .when(x < 0, F.lit(float("nan")))
    )


def _null_guarded_list(e, ctx, fn):
    """head/last/tail of a statically-null list is null (openCypher); the
    VOID literal would otherwise type-error at analysis."""
    c = compile_expr(e.args[0], ctx)
    if _is(_expr_type(ctx, e.args[0], c), T.NullType):
        return F.lit(None)
    return fn(c)


def _fn_size(e, ctx):
    c = compile_expr(e.args[0], ctx)
    dt = _expr_type(ctx, e.args[0], c)
    if _is(dt, T.NullType):
        return F.lit(None).cast("long")  # size(null) is null (openCypher)
    if _is(dt, T.StringType):
        return F.length(c).cast("long")
    out = F.size(c)
    # Spark size(null) is -1 with legacy conf; make it null (Cypher)
    return F.when(c.isNull(), F.lit(None)).otherwise(out).cast("long")


def _fn_isempty(e, ctx):
    """openCypher isEmpty(): '' / [] / {} -> true, null -> null. Maps are
    structs in this engine, so map emptiness is a plan-time constant (the
    ``_empty`` marker field of the zero-key map literal does not count)."""
    c = compile_expr(e.args[0], ctx)
    dt = _expr_type(ctx, e.args[0], c)
    if _is(dt, T.StringType):
        return F.when(c.isNull(), F.lit(None)).otherwise(F.length(c) == 0)
    if _is(dt, T.StructType):
        names = [f.name for f in dt.fields if f.name != "_empty"]
        return F.when(c.isNull(), F.lit(None)).otherwise(F.lit(len(names) == 0))
    if _is(dt, T.MapType):
        return F.when(c.isNull(), F.lit(None)).otherwise(F.size(F.map_keys(c)) == 0)
    return F.when(c.isNull(), F.lit(None)).otherwise(F.size(c) == 0)


def _fn_right(e, ctx):
    # explicit clamped start instead of a negative substr position: Spark's
    # negative-start substring returns '' when |start| exceeds the length,
    # but right('abc', 5) must be 'abc'
    args = _args(e, ctx)
    s, n = args[0], args[1].cast("int")
    return s.substr(F.greatest(F.length(s) - n + 1, F.lit(1)), n)


def _fn_range(e, ctx):
    # openCypher range() is empty when step moves away from stop;
    # Spark's sequence() auto-reverses direction instead
    if (
        len(e.args) > 2
        and isinstance(e.args[2], A.Lit)
        and e.args[2].value == 0
    ):
        # a clean plan-time error beats sequence()'s runtime
        # IllegalArgumentException (openCypher: step 0 is an error)
        raise CypherCompileError("range() step must not be zero")
    args = _args(e, ctx)
    start, stop = args[0].cast("long"), args[1].cast("long")
    step = args[2].cast("long") if len(args) > 2 else F.lit(1).cast("long")
    return F.when(
        (stop - start) * step < 0, F.array().cast("array<long>")
    ).otherwise(F.sequence(start, stop, step))


def _fn_substring(e, ctx):
    args = _args(e, ctx)
    s, start = args[0], args[1]
    length = args[2] if len(args) > 2 else F.length(s)
    # Cypher 0-based start; Spark substr 1-based
    return s.substr(start.cast("int") + F.lit(1), length.cast("int"))


def _fn_round(e, ctx):
    # Spark's Round expression is HALF_UP for every input type (doubles
    # included), which matches Cypher's ties-away-from-zero
    args = _args(e, ctx)
    if len(args) == 1:
        return F.round(args[0])
    return F.round(args[0], e.args[1].value if isinstance(e.args[1], A.Lit) else 0)


def _fn_toboolean(e, ctx):
    c = compile_expr(e.args[0], ctx)
    dt = _expr_type(ctx, e.args[0], c)
    if _is(dt, T.StringType):
        # Cypher: only 'true'/'false' (case-insensitive) convert, anything
        # else is null — Spark's string->boolean cast also accepts
        # y/n/yes/no/0/1, and errors on junk under ANSI
        low = F.lower(F.trim(c))
        return F.when(low == "true", F.lit(True)).when(low == "false", F.lit(False))
    return c.cast("boolean")


def _fn_tointeger(e, ctx):
    c = compile_expr(e.args[0], ctx)
    dt = _expr_type(ctx, e.args[0], c)
    if _is(dt, T.StringType):
        # toInteger('4.2') -> null in Cypher for non-int strings? Neo4j
        # truncates floats in strings; keep simple: try long, else via double
        return F.coalesce(
            c.cast("long"), c.cast("double").cast("long")
        )
    return c.cast("long")


_SCALAR_FNS: Dict[str, Callable] = {
    "id": _fn_id,
    "labels": _fn_labels,
    "type": _fn_type,
    "keys": _fn_keys,
    "properties": _fn_properties,
    "startnode": _fn_startnode,
    "endnode": _fn_endnode,
    "exists": _fn_exists,
    "tointeger": _fn_tointeger,
    "tofloat": lambda e, ctx: compile_expr(e.args[0], ctx).cast("double"),
    "tostring": lambda e, ctx: _fn_tostring(e, ctx),
    "toboolean": _fn_toboolean,
    "trim": lambda e, ctx: F.trim(compile_expr(e.args[0], ctx)),
    "ltrim": lambda e, ctx: F.ltrim(compile_expr(e.args[0], ctx)),
    "rtrim": lambda e, ctx: F.rtrim(compile_expr(e.args[0], ctx)),
    "toupper": lambda e, ctx: F.upper(compile_expr(e.args[0], ctx)),
    "tolower": lambda e, ctx: F.lower(compile_expr(e.args[0], ctx)),
    "upper": lambda e, ctx: F.upper(compile_expr(e.args[0], ctx)),
    "lower": lambda e, ctx: F.lower(compile_expr(e.args[0], ctx)),
    "reverse": lambda e, ctx: F.reverse(compile_expr(e.args[0], ctx)),
    "replace": lambda e, ctx: F.replace(*_args(e, ctx)),
    "substring": _fn_substring,
    # Cypher split's delimiter is a plain string, Spark's is a regex — escape
    "split": lambda e, ctx: F.split(
        compile_expr(e.args[0], ctx), re.escape(_require_str_lit(e.args[1], ctx))
    ),
    "left": lambda e, ctx: compile_expr(e.args[0], ctx).substr(F.lit(1), compile_expr(e.args[1], ctx).cast("int")),
    "right": _fn_right,
    "isempty": _fn_isempty,
    "size": _fn_size,
    "length": _fn_size,
    "head": lambda e, ctx: _null_guarded_list(e, ctx, lambda c: F.get(c, F.lit(0))),
    "last": lambda e, ctx: _null_guarded_list(e, ctx, lambda c: F.element_at(c, -1)),
    "tail": lambda e, ctx: _null_guarded_list(
        e, ctx, lambda c: F.slice(c, 2, F.greatest(F.size(c) - 1, F.lit(0)))
    ),
    "range": _fn_range,
    "abs": lambda e, ctx: F.abs(compile_expr(e.args[0], ctx)),
    "ceil": lambda e, ctx: F.ceil(compile_expr(e.args[0], ctx)).cast("double"),
    "floor": lambda e, ctx: F.floor(compile_expr(e.args[0], ctx)).cast("double"),
    "round": _fn_round,
    "sign": lambda e, ctx: F.signum(compile_expr(e.args[0], ctx)).cast("long"),
    "sqrt": lambda e, ctx: F.sqrt(compile_expr(e.args[0], ctx)),
    "exp": lambda e, ctx: F.exp(compile_expr(e.args[0], ctx)),
    # Neo4j follows java.lang.Math: log(0) = -Infinity, log(<0) = NaN;
    # Spark's log returns null for non-positive inputs instead
    "log": lambda e, ctx: _log_ieee(F.log, compile_expr(e.args[0], ctx)),
    "log10": lambda e, ctx: _log_ieee(F.log10, compile_expr(e.args[0], ctx)),
    "e": lambda e, ctx: F.exp(F.lit(1.0)),
    "pi": lambda e, ctx: F.lit(3.141592653589793),
    "rand": lambda e, ctx: F.rand(),
    "sin": lambda e, ctx: F.sin(compile_expr(e.args[0], ctx)),
    "cos": lambda e, ctx: F.cos(compile_expr(e.args[0], ctx)),
    "tan": lambda e, ctx: F.tan(compile_expr(e.args[0], ctx)),
    "asin": lambda e, ctx: F.asin(compile_expr(e.args[0], ctx)),
    "acos": lambda e, ctx: F.acos(compile_expr(e.args[0], ctx)),
    "atan": lambda e, ctx: F.atan(compile_expr(e.args[0], ctx)),
    "atan2": lambda e, ctx: F.atan2(compile_expr(e.args[0], ctx), compile_expr(e.args[1], ctx)),
    "cot": lambda e, ctx: F.lit(1.0) / F.tan(compile_expr(e.args[0], ctx)),
    "degrees": lambda e, ctx: F.degrees(compile_expr(e.args[0], ctx)),
    "radians": lambda e, ctx: F.radians(compile_expr(e.args[0], ctx)),
    "haversin": lambda e, ctx: (F.lit(1.0) - F.cos(compile_expr(e.args[0], ctx))) / F.lit(2.0),
    "coalesce": lambda e, ctx: F.coalesce(*_args(e, ctx)),
    "date": lambda e, ctx: F.to_date(compile_expr(e.args[0], ctx)) if e.args else F.current_date(),
    # wall-clock timestamp (TIMESTAMP_NTZ) so comparisons against parquet
    # ntz columns stay cast-free and push down to the scan
    "localdatetime": lambda e, ctx: F.to_timestamp_ntz(compile_expr(e.args[0], ctx)) if e.args else F.localtimestamp(),
    "timestamp": lambda e, ctx: F.expr("unix_micros(current_timestamp()) div 1000"),
    "duration": lambda e, ctx: _fn_duration(e, ctx),
    "duration.between": lambda e, ctx: _fn_duration_between(e, ctx),
    "date.truncate": lambda e, ctx: _fn_truncate(e, ctx, "date"),
    "localdatetime.truncate": lambda e, ctx: _fn_truncate(e, ctx, "timestamp_ntz"),
    # zoned temporal values (struct-backed; see the CTDateTime section)
    "datetime": _fn_datetime,
    "time": _fn_time,
    "datetime.truncate": _fn_datetime_truncate,
    # CTBigDecimal (reference: BigDecimal expr, Expr.scala:802; MakeDecimal
    # SparkSQLExprMapper.scala:473): bigdecimal(expr, precision, scale)
    "bigdecimal": lambda e, ctx: compile_expr(e.args[0], ctx).cast(
        f"decimal({int(_sql_lit(e.args[1], ctx))},{int(_sql_lit(e.args[2], ctx))})"
    ),
}


def _fn_truncate(e: A.FuncCall, ctx: CompileCtx, out_type: str) -> Column:
    """date.truncate / localdatetime.truncate (unit, temporal) — the
    official TemporalTruncateAcceptance family, which the reference
    blacklists entirely. Spark's date_trunc covers year..second; the
    coarser-than-year units (decade/century/millennium) are year
    arithmetic on make_date."""
    if len(e.args) != 2:
        raise CypherCompileError("truncate() expects (unit, temporal)")
    unit = _sql_lit(e.args[0], ctx)
    if not isinstance(unit, str):
        raise CypherCompileError("truncate() unit must be a string literal")
    unit = unit.lower()
    v = compile_expr(e.args[1], ctx).cast("timestamp_ntz")
    coarse = {"millennium": 1000, "century": 100, "decade": 10}
    if unit in coarse:
        n = coarse[unit]
        y = (F.year(v) / n).cast("int") * F.lit(n)
        out = F.make_date(y, F.lit(1), F.lit(1)).cast("timestamp_ntz")
    elif unit in (
        "year", "quarter", "month", "week", "day",
        "hour", "minute", "second", "millisecond", "microsecond",
    ):
        out = F.date_trunc(unit, v).cast("timestamp_ntz")
    else:
        raise CypherCompileError(f"unknown truncation unit {unit!r}")
    return out.cast(out_type)


def _fn_right(e, ctx):
    s = compile_expr(e.args[0], ctx)
    n = compile_expr(e.args[1], ctx).cast("int")
    return F.when(n <= 0, F.lit("")).otherwise(
        F.substring(s, F.length(s) - n + F.lit(1), n)
    )


_SCALAR_FNS["right"] = _fn_right


_ISO_DURATION_RE = re.compile(
    r"^([+-])?P(?:(\d+(?:\.\d+)?)Y)?(?:(\d+(?:\.\d+)?)M)?(?:(\d+(?:\.\d+)?)W)?"
    r"(?:(\d+(?:\.\d+)?)D)?(?:T(?:(\d+(?:\.\d+)?)H)?(?:(\d+(?:\.\d+)?)M)?"
    r"(?:(\d+(?:\.\d+)?)S)?)?$",
    re.IGNORECASE,
)

_DURATION_MAP_KEYS = {"weeks", "days", "hours", "minutes", "seconds", "milliseconds", "microseconds"}


def _parse_iso_duration(text: str):
    """ISO-8601 duration string -> (days, hours, minutes, seconds) floats
    (reference: Duration.parse, okapi-api/.../impl/temporal/Duration;
    literal resolution Expr.scala:1287 via TemporalConversions.resolveInterval).
    Year/month components are rejected: this engine models durations as ANSI
    DayTimeIntervalType, which is comparable and codegen-friendly but has no
    month field."""
    m = _ISO_DURATION_RE.match(text.strip())
    if m is None or text.strip().upper().rstrip("+-") in ("P", ""):
        raise CypherCompileError(f"invalid ISO-8601 duration string: {text!r}")
    sign = -1.0 if m.group(1) == "-" else 1.0
    years, months, weeks, days, hours, minutes, seconds = (
        float(g) if g else 0.0 for g in m.groups()[1:]
    )
    if years or months:
        raise CypherCompileError(
            "year/month duration components are not representable as a "
            "day-time interval; express the duration in days or smaller units"
        )
    return (
        sign * (weeks * 7 + days),
        sign * hours,
        sign * minutes,
        sign * seconds,
    )


def _fn_duration(e, ctx):
    """duration({days: d, hours: h, ...}) or duration('P1DT2H') ->
    DayTimeIntervalType via make_dt_interval (reference models durations as
    CalendarInterval, TemporalUdfs.scala — we use the modern ANSI interval
    type: orderable, comparable, and natively aggregatable)."""
    if not e.args:
        raise CypherCompileError("duration() expects a map or ISO-8601 string")
    arg = e.args[0]
    if isinstance(arg, A.Lit) and arg.value is None:
        return F.lit(None).cast("interval day to second")  # duration(null)
    text = None
    if isinstance(arg, A.Lit) and isinstance(arg.value, str):
        text = arg.value
    elif isinstance(arg, A.Param) and isinstance(ctx.params.get(arg.name), str):
        text = ctx.params[arg.name]
    if text is not None:
        d, h, mi, s = _parse_iso_duration(text)
        total_seconds = ((d * 24 + h) * 60 + mi) * 60 + s
        return F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.lit(total_seconds))
    if not isinstance(arg, A.MapLit):
        raise CypherCompileError("duration() expects a map literal or ISO-8601 string")
    bad = [k for k, _ in arg.items if k.lower() not in _DURATION_MAP_KEYS]
    if bad:
        raise CypherCompileError(
            f"unsupported duration component(s) {bad}: day-time intervals "
            f"accept {sorted(_DURATION_MAP_KEYS)}"
        )
    parts = {k.lower(): compile_expr(v, ctx) for k, v in arg.items}
    days = parts.get("days", F.lit(0))
    if "weeks" in parts:
        days = days + parts["weeks"] * F.lit(7)
    seconds = parts.get("seconds", F.lit(0)).cast("double")
    if "milliseconds" in parts:
        seconds = seconds + parts["milliseconds"] / F.lit(1000.0)
    if "microseconds" in parts:
        seconds = seconds + parts["microseconds"] / F.lit(1000000.0)
    return F.make_dt_interval(
        days.cast("int"),
        parts.get("hours", F.lit(0)).cast("int"),
        parts.get("minutes", F.lit(0)).cast("int"),
        seconds,
    )


def _fn_duration_between(e, ctx):
    """duration.between(a, b) -> day-time interval from a to b (reference:
    DurationBetween / TemporalUdfs; Spark timestamp subtraction yields
    DayTimeIntervalType natively)."""
    if len(e.args) != 2:
        raise CypherCompileError("duration.between() expects two arguments")
    a, b = compile_expr(e.args[0], ctx), compile_expr(e.args[1], ctx)
    # zoned datetimes: the elapsed-time difference between the INSTANTS
    if _is_dtz(_expr_type(ctx, e.args[0], a)):
        a = a.getField(_DTZ_INSTANT)
    if _is_dtz(_expr_type(ctx, e.args[1], b)):
        b = b.getField(_DTZ_INSTANT)
    return b.cast("timestamp_ntz") - a.cast("timestamp_ntz")


# -- aggregates -------------------------------------------------------------------


class WeightedAggUnsupported(Exception):
    """Raised when an aggregate cannot be computed over weighted (pre-
    aggregated) rows — the eager-aggregation rewrite catches this and
    falls back to planning the full join."""


def compile_weighted_aggregate(e: A.Expr, ctx: CompileCtx, weight: Column) -> Column:
    """Aggregate over pre-aggregated rows, where ``weight`` is the number
    of original pattern matches each row stands for (eager aggregation /
    Yannakakis-style counting: the planner multiplies per-branch match
    counts instead of materializing the join).

    Distinct aggregates and min/max are multiplicity-invariant; count and
    sum scale linearly with the weight; avg becomes a weighted mean.
    Everything else (collect lists, stdev, percentiles — where each
    duplicate row matters individually) raises ``WeightedAggUnsupported``.
    """
    if isinstance(e, A.CountStar):
        return F.coalesce(F.sum(weight), F.lit(0)).cast("long")
    assert isinstance(e, A.FuncCall)
    name = e.name
    if e.distinct:
        # one value per distinct argument — multiplicity cannot matter;
        # collect(DISTINCT) et al. compile exactly as in the unweighted path
        if name in ("count", "sum", "avg", "collect", "min", "max"):
            return compile_aggregate(e, ctx)
        raise WeightedAggUnsupported(name)
    arg = compile_expr(e.args[0], ctx) if e.args else None
    if name == "count":
        return F.coalesce(
            F.sum(F.when(arg.isNotNull(), weight).otherwise(F.lit(0))), F.lit(0)
        ).cast("long")
    if name in ("min", "max"):
        return compile_aggregate(e, ctx)
    if name == "sum":
        dt = _expr_type(ctx, e.args[0], arg)
        if isinstance(dt, T.DayTimeIntervalType):
            raise WeightedAggUnsupported("sum(duration)")
        s = F.sum(arg * weight)
        if isinstance(dt, T.NullType):
            return F.coalesce(s.cast("long"), F.lit(0).cast("long"))
        if dt is None:
            return F.coalesce(s, F.lit(0))
        return F.coalesce(s, F.lit(0).cast(dt))
    if name == "avg":
        dt = _expr_type(ctx, e.args[0], arg)
        if isinstance(dt, T.DayTimeIntervalType):
            raise WeightedAggUnsupported("avg(duration)")
        return F.sum(arg * weight) / F.sum(
            F.when(arg.isNotNull(), weight).otherwise(F.lit(0))
        )
    raise WeightedAggUnsupported(name)


def compile_aggregate(e: A.Expr, ctx: CompileCtx) -> Column:
    """Aggregator -> Spark aggregate column (reference map:
    SparkSQLExprMapper.scala:427-470, SURVEY.md §2.5)."""
    if isinstance(e, A.CountStar):
        return F.count(F.lit(1))
    assert isinstance(e, A.FuncCall)
    name = e.name
    arg = compile_expr(e.args[0], ctx) if e.args else None
    if e.distinct and name not in ("count", "sum", "avg", "collect", "min", "max"):
        # never silently compute the non-distinct answer (stDev(DISTINCT ..)
        # et al. have no Spark equivalent)
        raise CypherCompileError(f"DISTINCT is not supported for {name}()")
    if name == "count":
        return F.count_distinct(arg) if e.distinct else F.count(arg)
    if name == "sum":
        s = F.sum_distinct(arg) if e.distinct else F.sum(arg)
        # Cypher: sum over zero rows (or only nulls) is 0 — Spark's SUM
        # yields null. Coalesce with a zero of the argument's own type
        # (numeric 0, zero duration for interval sums).
        dt = _expr_type(ctx, e.args[0], arg)
        if isinstance(dt, T.DayTimeIntervalType):
            return F.coalesce(s, F.expr("INTERVAL '0' SECOND").cast(dt))
        if isinstance(dt, T.NullType):
            # typed-null arg (e.g. property that exists nowhere): no values
            # can ever contribute, and Cypher's zero here is integer 0 —
            # Spark would promote SUM(NULL) to double
            return F.coalesce(s.cast("long"), F.lit(0).cast("long"))
        if dt is None:  # unresolvable (lambda body)
            return F.coalesce(s, F.lit(0))
        return F.coalesce(s, F.lit(0).cast(dt))
    if name == "avg":
        if e.distinct:
            # avg(DISTINCT x) = sum(DISTINCT x) / count(DISTINCT x) — Spark
            # has no avg_distinct builtin; `/` on longs yields double (the
            # Cypher avg result type), 0 distinct values -> null/0 -> null
            return F.sum_distinct(arg) / F.count_distinct(arg)
        return F.avg(arg)
    if name == "min":
        return F.min(arg)
    if name == "max":
        return F.max(arg)
    if name == "collect":
        out = F.collect_set(arg) if e.distinct else F.collect_list(arg)
        return out
    if name == "stdev":
        # Neo4j: stDev of a single value is 0.0 (Spark's stddev_samp is
        # null for n = 1); zero values stay null via the count gate
        return F.coalesce(
            F.stddev_samp(arg), F.when(F.count(arg) > 0, F.lit(0.0))
        )
    if name == "stdevp":
        return F.coalesce(
            F.stddev_pop(arg), F.when(F.count(arg) > 0, F.lit(0.0))
        )
    if name == "percentilecont":
        # exact continuous percentile (reference uses a custom UDAF,
        # PercentileUdafs.scala; Spark's percentile() is exact and JVM-side)
        return F.percentile(arg, F.lit(float(_sql_lit(e.args[1], ctx))))
    if name == "percentiledisc":
        return _percentile_disc(arg, e.args[1], ctx)
    raise CypherCompileError(f"unknown aggregate {name}")


def _sql_lit(e: A.Expr, ctx: CompileCtx):
    if isinstance(e, A.Lit):
        return e.value
    if isinstance(e, A.Param):
        return ctx.params[e.name]
    raise CypherCompileError("percentile argument must be literal")


def _percentile_disc(arg: Column, p_expr: A.Expr, ctx: CompileCtx) -> Column:
    # discrete percentile = the smallest value whose cumulative fraction is
    # >= p. Spark lacks a direct aggregate callable; use sorted collect +
    # element_at arithmetic (exact, JVM-side).
    p = float(_sql_lit(p_expr, ctx))
    arr = F.array_sort(F.collect_list(arg))
    n = F.size(arr)
    idx = F.greatest(F.ceil(n.cast("double") * F.lit(p)).cast("int"), F.lit(1))
    return F.element_at(arr, idx)


_COMPILERS = {
    A.Var: _var,
    A.Lit: _lit,
    A.Param: _param,
    A.ListLit: _list_lit,
    A.MapLit: _map_lit,
    A.MapProjection: _map_projection,
    A.Prop: _prop,
    A.HasLabels: _has_labels,
    A.Not: _not,
    A.Ands: _ands,
    A.Ors: _ors,
    A.Xor: _xor,
    A.Cmp: _cmp,
    A.IsNull: _is_null,
    A.IsNotNull: _is_not_null,
    A.StringPred: _string_pred,
    A.In: _in,
    A.Bin: _bin,
    A.Neg: _neg,
    A.CaseExpr: _case,
    A.Index: _index,
    A.Slice: _slice,
    A.ListComp: _list_comp,
    A.Quantified: _quantified,
    A.Reduce: _reduce,
    A.FuncCall: _func,
    A.CountStar: compile_aggregate,
}
