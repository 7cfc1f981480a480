"""Property graph container: one DataFrame per node label combination, one
per relationship type.

Re-expresses the reference's ScanGraph
(okapi-relational/.../impl/graph/ScanGraph.scala:43): ``scan_nodes`` /
``scan_rels`` select every element table embedding the requested pattern,
align each to a common header and union them (ScanGraph.scala:59-87,
alignment rules RelationalPlanner.scala:447-515).

Spark-first design decisions (not a port):
- Element ids are ``LongType`` (reference: binary varints, SURVEY.md §1.5 —
  long equi-joins are at least as fast and AQE-friendly).
- Instead of one boolean column per label (reference RecordHeader.scala:47-60),
  each node scan carries one ``array<string>`` labels column that is a
  *constant per unioned branch* — Catalyst constant-folds predicates on it,
  and per-branch pruning happens at plan time via the schema anyway.
- Missing properties are null-padded and numeric types widened at union time,
  exactly like the reference's alignExpressions.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, FrozenSet, Iterable, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from cypher_for_apache_spark_spark.schema import PropertyGraphSchema
from cypher_for_apache_spark_spark.types import from_spark_type, to_spark_type

ID, SRC, DST = "id", "src", "dst"
_CANONICAL_REL = {ID, SRC, DST}


def _lift(df: DataFrame) -> DataFrame:
    """Lift ints to long / floats to double so unions and joins line up
    (reference: castToLong SparkTable.scala:404-419)."""
    out = []
    changed = False
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ByteType, T.ShortType, T.IntegerType)):
            out.append(F.col(f.name).cast("long").alias(f.name))
            changed = True
        elif isinstance(f.dataType, T.FloatType):
            out.append(F.col(f.name).cast("double").alias(f.name))
            changed = True
        else:
            out.append(F.col(f.name))
    return df.select(*out) if changed else df


@dataclass
class NodeTable:
    """A node element table: ``id`` column + property columns."""

    labels: FrozenSet[str]
    df: DataFrame

    @staticmethod
    def create(labels: Iterable[str], df: DataFrame, id_col: str = ID) -> "NodeTable":
        if id_col != ID:
            if ID in df.columns:
                # a property literally named "id" cannot share the frame
                # with the entity id column (flat table layout; the
                # reference avoids this via RecordHeader name mangling) —
                # fail clearly instead of a downstream AMBIGUOUS_REFERENCE
                raise ValueError(
                    f"node table for labels {sorted(set(labels))} has a "
                    f"property column named {ID!r}, which collides with "
                    f"the entity id column — rename the property"
                )
            df = df.withColumnRenamed(id_col, ID)
        if len([c for c in df.columns if c == ID]) > 1:
            raise ValueError(
                f"node table for labels {sorted(set(labels))} has duplicate "
                f"{ID!r} columns (a property named {ID!r} collides with the "
                "entity id) — rename the property"
            )
        return NodeTable(frozenset(labels), _lift(df))

    @property
    def property_columns(self) -> List[str]:
        return [c for c in self.df.columns if c != ID]


@dataclass
class RelationshipTable:
    """A relationship element table: ``id, src, dst`` + property columns.

    ``src_labels`` / ``dst_labels`` are optional endpoint-label hints: when
    set, every source (resp. target) node of this table carries exactly
    that label combination. The planner uses them to prune union branches out
    of relationship scans (the reference gets the same effect from
    schemaPatterns, PropertyGraphSchema.scala:109) — at 100 TB this is the
    difference between scanning one edge partition and scanning them all.
    """

    rel_type: str
    df: DataFrame
    src_labels: Optional[FrozenSet[str]] = None
    dst_labels: Optional[FrozenSet[str]] = None
    # optional physically-reversed copy (bucketed/sorted by dst): the
    # planner scans it for reverse expands so both layouts join co-located
    df_by_dst: Optional[DataFrame] = None

    def frame(self, prefer: str = "src") -> DataFrame:
        if prefer == "dst" and self.df_by_dst is not None:
            return self.df_by_dst
        return self.df

    @staticmethod
    def create(
        rel_type: str,
        df: DataFrame,
        id_col: str = ID,
        src_col: str = SRC,
        dst_col: str = DST,
        src_labels=None,
        dst_labels=None,
    ) -> "RelationshipTable":
        for old, new in ((id_col, ID), (src_col, SRC), (dst_col, DST)):
            if old != new:
                df = df.withColumnRenamed(old, new)
        return RelationshipTable(
            rel_type,
            _lift(df),
            frozenset(src_labels) if src_labels else None,
            frozenset(dst_labels) if dst_labels else None,
        )

    @property
    def property_columns(self) -> List[str]:
        return [c for c in self.df.columns if c not in _CANONICAL_REL]

    def compatible(self, src_required, dst_required) -> bool:
        """Can this table contain edges whose source/target nodes carry the
        required labels? (None hint = unknown = always compatible.)"""
        if src_required and self.src_labels is not None and not (
            set(src_required) <= self.src_labels
        ):
            return False
        if dst_required and self.dst_labels is not None and not (
            set(dst_required) <= self.dst_labels
        ):
            return False
        return True


@dataclass
class TripletTable:
    """A pre-joined (source node, relationship, target node) table — the
    recognized-pattern scan of the reference (TripletPattern,
    okapi-api/.../graph/Pattern.scala:182; matched by optimizer rule
    replaceScansWithRecognizedPatterns, LogicalOptimizer.scala:67-114).

    Physical layout: ``src_id, rel_id, dst_id`` plus property columns
    prefixed ``src_`` / ``rel_`` / ``dst_``. The planner serves a whole
    ``MATCH (a)-[r]->(b)`` pattern element from one scan of this table —
    zero joins — whenever every relationship table the pattern could touch
    has a registered triplet. At 100 TB this converts the hottest traversal
    (2 shuffle joins over node+edge tables) into a partition-pruned
    columnar scan.

    ``src_labels`` / ``dst_labels`` are the *exact* label combinations of
    the endpoint nodes (like a RelationshipTable's endpoint hints, but
    mandatory — they decide which label-constrained patterns the triplet
    can serve and which constant labels columns the scan emits).
    """

    rel_type: str
    src_labels: FrozenSet[str]
    dst_labels: FrozenSet[str]
    df: DataFrame

    SRC_ID, REL_ID, DST_ID = "src_id", "rel_id", "dst_id"
    PFX = {"src": "src_", "rel": "rel_", "dst": "dst_"}
    # endpoint sides whose node properties the table carries
    NODE_SIDES = ("src", "dst")

    @classmethod
    def create(
        cls,
        rel_type: str,
        df: DataFrame,
        src_labels: Iterable[str],
        dst_labels: Iterable[str],
    ) -> "TripletTable":
        missing = {cls.SRC_ID, cls.REL_ID, cls.DST_ID} - set(df.columns)
        if missing:
            raise ValueError(f"{cls.__name__} is missing id columns {sorted(missing)}")
        return cls(rel_type, frozenset(src_labels), frozenset(dst_labels), _lift(df))

    def props(self, side: str) -> Dict[str, str]:
        """{property key -> physical column} for one side (src/rel/dst)."""
        pfx = self.PFX[side]
        ids = {self.SRC_ID, self.REL_ID, self.DST_ID}
        return {
            c[len(pfx):]: c for c in self.df.columns if c.startswith(pfx) and c not in ids
        }


class NodeRelTable(TripletTable):
    """A pre-joined (source node, relationship) table — the reference's
    NodeRelPattern (okapi-api/.../graph/Pattern.scala:159): a TripletTable
    without the ``dst_`` property columns. The target node is still joined
    at query time, so one of the expand's two joins disappears while the
    materialized table stays small (no target properties duplicated per
    edge)."""

    NODE_SIDES = ("src",)


def _prejoined_frame(
    graph: "PropertyGraph", rel_table: "RelationshipTable", node_sides: Tuple[str, ...]
) -> Optional[DataFrame]:
    """``rel_table`` joined with the node tables of its endpoint hints on
    ``node_sides``, in the TripletTable layout; None when a hint on those
    sides is unset or names no node table."""
    hints = {"src": rel_table.src_labels, "dst": rel_table.dst_labels}
    node_tables = [(side, graph.node_tables.get(hints[side])) for side in node_sides]
    if any(nt is None for _, nt in node_tables):
        return None
    out = rel_table.df.select(
        F.col(SRC).alias(TripletTable.SRC_ID),
        F.col(ID).alias(TripletTable.REL_ID),
        F.col(DST).alias(TripletTable.DST_ID),
        *[F.col(p).alias(f"rel_{p}") for p in rel_table.property_columns],
    )
    for side, nt in node_tables:
        key = TripletTable.SRC_ID if side == "src" else TripletTable.DST_ID
        out = out.join(
            nt.df.select(
                F.col(ID).alias(key),
                *[F.col(p).alias(f"{side}_{p}") for p in nt.property_columns],
            ),
            key,
        )
    return out


def build_node_rel_frame(
    graph: "PropertyGraph", rel_table: "RelationshipTable"
) -> Optional[DataFrame]:
    """Materialize the (source node ⋈ relationship) frame for one
    relationship table (source hint must be set)."""
    return _prejoined_frame(graph, rel_table, NodeRelTable.NODE_SIDES)


def build_triplet_frame(
    graph: "PropertyGraph", rel_table: "RelationshipTable"
) -> Optional[DataFrame]:
    """Materialize the pre-joined triplet frame for one relationship table
    from its endpoint node tables (both hints must be set). The caller
    persists/writes the result and registers it via
    ``PropertyGraph.add_triplet_table`` — at scale this is a one-off
    materialized view, amortized across every traversal that hits it."""
    return _prejoined_frame(graph, rel_table, TripletTable.NODE_SIDES)


def _common_prop_types(
    dfs_and_cols: List[Tuple[DataFrame, List[str]]]
) -> Dict[str, T.DataType]:
    """Merged {prop -> spark type} across tables, widening numerics via the
    Cypher type lattice (reference: alignExpressions null/label padding,
    RelationalPlanner.scala:447-515)."""
    merged: Dict[str, object] = {}
    for df, cols in dfs_and_cols:
        for f in df.schema.fields:
            if f.name in cols:
                ct = from_spark_type(f.dataType, f.nullable)
                merged[f.name] = merged[f.name].join(ct) if f.name in merged else ct
    return {k: to_spark_type(v) for k, v in sorted(merged.items())}


def _aligned(
    df: DataFrame,
    prop_types: Dict[str, T.DataType],
    prefix: str,
    phys: Optional[Dict[str, str]] = None,
) -> List[Column]:
    """One column ``prefix + key`` per merged property type: ``df``'s column
    for the key (``phys[key]``; without ``phys``, the column named like the
    key), cast when its type differs from the merged one, or a typed null
    when ``df`` lacks the key."""
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    if phys is None:
        phys = {c: c for c in dtypes}
    cols = []
    for p, dt in prop_types.items():
        c = phys.get(p)
        if c is None:
            cols.append(F.lit(None).cast(dt).alias(prefix + p))
        elif dtypes[c] != dt:
            cols.append(F.col(c).cast(dt).alias(prefix + p))
        else:
            cols.append(F.col(c).alias(prefix + p))
    return cols


def _labels_lit(combo: Iterable[str]) -> Column:
    """A node branch's constant, sorted ``array<string>`` labels column."""
    lbls = sorted(combo)
    return F.array(*[F.lit(l) for l in lbls]) if lbls else F.array().cast("array<string>")


def _union_all(parts: List[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


class PropertyGraph:
    """A property graph = bag of node/relationship element tables."""

    def __init__(
        self,
        node_tables: Iterable[NodeTable] = (),
        rel_tables: Iterable[RelationshipTable] = (),
        name: str = "graph",
    ):
        self.name = name
        self.node_tables: Dict[FrozenSet[str], NodeTable] = {}
        # several tables may share a relationship type (e.g. split by
        # endpoint labels — ScanGraph is a bag of element tables too)
        self.rel_tables: Dict[str, List[RelationshipTable]] = {}
        for nt in node_tables:
            if nt.labels in self.node_tables:
                raise ValueError(f"duplicate node table for labels {set(nt.labels)}")
            self.node_tables[nt.labels] = nt
        for rt in rel_tables:
            self.rel_tables.setdefault(rt.rel_type, []).append(rt)
        # recognized-pattern (pre-joined) tables keyed by
        # (rel_type, src label combo, dst label combo)
        self.triplet_tables: Dict[Tuple[str, FrozenSet[str], FrozenSet[str]], TripletTable] = {}
        self.node_rel_tables: Dict[Tuple[str, FrozenSet[str], FrozenSet[str]], NodeRelTable] = {}
        self._schema: Optional[PropertyGraphSchema] = None
        self._session = None  # set by CypherSession.read_from / catalog
        # id(table) -> (table, row count), filled by element_rows; holding
        # the table keeps its id from being reused by another object
        self._element_rows: Dict[int, Tuple[object, int]] = {}
        # (table ids, weight) -> (tables, pyarrow.Table), filled by
        # driver_projection; the tables are held for the same reason
        self._projections: Dict[Tuple[Tuple[int, ...], Optional[str]], Tuple[list, object]] = {}

    def add_triplet_table(self, tt: TripletTable) -> "PropertyGraph":
        """Register a pre-joined triplet for recognized-pattern scans."""
        return self._add_prejoined(self.triplet_tables, TripletTable.NODE_SIDES, tt)

    def add_node_rel_table(self, nrt: NodeRelTable) -> "PropertyGraph":
        """Register a pre-joined (source node, relationship) table for
        recognized-pattern scans."""
        return self._add_prejoined(self.node_rel_tables, NodeRelTable.NODE_SIDES, nrt)

    def _add_prejoined(self, registry: Dict, node_sides: Tuple[str, ...], tt: TripletTable) -> "PropertyGraph":
        """Validates (fail-fast, plan-time guarantees depend on it) that the
        table carries every property column of the node tables for its
        endpoint combos on ``node_sides`` and of the relationship tables it
        covers — a table missing a property would silently null out values
        the join path produces."""
        what = f"{type(tt).__name__} for {tt.rel_type}"
        for side in node_sides:
            nt = self.node_tables.get(tt.src_labels if side == "src" else tt.dst_labels)
            if nt is not None:
                missing = set(nt.property_columns) - set(tt.props(side))
                if missing:
                    raise ValueError(f"{what} lacks {side} node properties {sorted(missing)}")
        for rt in self.rel_tables.get(tt.rel_type, []):
            if rt.src_labels == tt.src_labels and rt.dst_labels == tt.dst_labels:
                missing = set(rt.property_columns) - set(tt.props("rel"))
                if missing:
                    raise ValueError(f"{what} lacks relationship properties {sorted(missing)}")
        registry[(tt.rel_type, tt.src_labels, tt.dst_labels)] = tt
        return self

    # -- schema ------------------------------------------------------------
    @property
    def schema(self) -> PropertyGraphSchema:
        if self._schema is None:
            s = PropertyGraphSchema()
            for combo, nt in self.node_tables.items():
                s.with_node(combo, PropertyGraphSchema.props_from_df(nt.df, [ID]))
            for rts in self.rel_tables.values():
                for rt in rts:
                    s.with_relationship(
                        rt.rel_type, PropertyGraphSchema.props_from_df(rt.df, _CANONICAL_REL)
                    )
            self._schema = s
        return self._schema

    # -- scans (ScanGraph.scanOperator analogue) ---------------------------
    def matching_node_tables(
        self, labels: Iterable[str] = (), exact: bool = False
    ) -> List[NodeTable]:
        want = set(labels)
        if exact:
            return [nt for c, nt in self.node_tables.items() if c == frozenset(want)]
        return [nt for c, nt in self.node_tables.items() if want <= c]

    def matching_rel_tables(
        self,
        rel_types: Iterable[str] = (),
        src_labels: Iterable[str] = (),
        dst_labels: Iterable[str] = (),
    ) -> List[RelationshipTable]:
        """Relationship tables with type in ``rel_types`` (all types when
        empty) whose endpoint-label hints admit the required labels."""
        want = set(rel_types)
        return [
            rt
            for t, rts in self.rel_tables.items()
            if not want or t in want
            for rt in rts
            if rt.compatible(src_labels, dst_labels)
        ]

    def element_rows(self, tables: Iterable) -> int:
        """Total row count of some of this graph's element tables. Each
        table is counted by one Spark job the first time a plan asks for it
        and remembered on the graph, so loading a graph never counts and a
        repeated query shape never counts again (``driver_projection``
        keeps the rows of a driver solve the same way)."""
        total = 0
        for t in tables:
            if id(t) not in self._element_rows:
                self._element_rows[id(t)] = (t, t.df.count())
            total += self._element_rows[id(t)][1]
        return total

    def driver_projection(self, rel_types: Iterable[str] = (), weight: Optional[str] = None):
        """This graph's relationships of ``rel_types`` on the driver, as one
        ``pyarrow.Table`` of ``src``, ``dst``, ``rid`` (the relationship id)
        and, when ``weight`` names a property of those tables, ``w`` (that
        property as a double, null read as 1.0). The first call for a set
        of tables and a weight runs one collect job; the table is
        remembered on the graph, keyed like ``element_rows`` on the tables
        themselves plus ``weight``, so every later driver solve over them
        collects nothing. Callers gate it on ``element_rows``, so it holds
        no more rows than the broadcast gate admits."""
        tables = self.matching_rel_tables(rel_types)
        key = (tuple(id(t) for t in tables), weight)
        if key not in self._projections:
            e = self.scan_rels(rel_types, out_id="_eid")
            cols = [F.col(SRC), F.col(DST), F.col("_eid").alias("rid")]
            if weight is not None and weight in e.columns:
                cols.append(F.coalesce(F.col(weight).cast("double"), F.lit(1.0)).alias("w"))
            self._projections[key] = (tables, e.select(cols).toArrow())
        return self._projections[key][1]

    def scan_nodes(
        self,
        labels: Iterable[str] = (),
        exact: bool = False,
        out_id: str = ID,
        out_labels: str = "labels",
        prop_prefix: str = "",
    ) -> Optional[DataFrame]:
        """Union of all node tables whose label combo contains ``labels``.

        Output columns: ``out_id`` (long), ``out_labels`` (array<string>,
        constant per branch), plus one column per property key present in
        any matching table (null-padded). Returns None when no table
        matches — the planner turns that into EmptyRecords (reference
        optimizer rule discardScansForNonexistentLabels,
        LogicalOptimizer.scala:151-169).
        """
        tables = self.matching_node_tables(labels, exact)
        if not tables:
            return None
        prop_types = _common_prop_types([(t.df, t.property_columns) for t in tables])
        return _union_all([
            t.df.select(
                F.col(ID).alias(out_id),
                _labels_lit(t.labels).alias(out_labels),
                *_aligned(t.df, prop_types, prop_prefix),
            )
            for t in tables
        ])

    def scan_rels(
        self,
        rel_types: Iterable[str] = (),
        out_id: str = ID,
        out_src: str = SRC,
        out_dst: str = DST,
        out_type: str = "rel_type",
        prop_prefix: str = "",
        src_labels: Iterable[str] = (),
        dst_labels: Iterable[str] = (),
        prefer_layout: str = "src",
    ) -> Optional[DataFrame]:
        """Union of all relationship tables with type in ``rel_types``
        (all types when empty). Tables whose endpoint-label hints are
        incompatible with the required src/dst labels are pruned from the
        union at plan time (schema-aware scan pruning). ``prefer_layout``
        picks the dst-bucketed physical copy for reverse expands when one
        exists."""
        tables = self.matching_rel_tables(rel_types, src_labels, dst_labels)
        if not tables:
            return None
        prop_types = _common_prop_types([(t.df, t.property_columns) for t in tables])
        parts = []
        for t in tables:
            df = t.frame(prefer_layout)
            parts.append(df.select(
                F.col(ID).alias(out_id),
                F.col(SRC).alias(out_src),
                F.col(DST).alias(out_dst),
                F.lit(t.rel_type).alias(out_type),
                *_aligned(df, prop_types, prop_prefix),
            ))
        return _union_all(parts)

    def scan_prejoined(
        self,
        tables: Dict[Tuple[str, FrozenSet[str], FrozenSet[str]], TripletTable],
        rel_types: Iterable[str],
        left_labels: Iterable[str],
        right_labels: Iterable[str],
        direction: str,
        left_cols: Tuple[str, str, str],
        rel_cols: Tuple[str, str, str, str, str],
        right_cols: Optional[Tuple[str, str, str]] = None,
    ) -> Optional[DataFrame]:
        """Serve a ``(left)-[rel]->(right)`` pattern element from one
        registry of pre-joined tables (``triplet_tables`` or
        ``node_rel_tables``) with ZERO joins, or return None when those
        tables cannot cover exactly what the join path would produce.

        Coverage rule: for each orientation the pattern allows, every
        relationship table compatible with the label constraints must have
        endpoint hints and a registered table — otherwise the join path
        runs (correctness first, the optimization must never change
        results). Output columns mirror the join path: the full property
        set a node/rel scan would advertise, null-padded per branch, plus
        constant labels/type columns. ``left_cols`` / ``right_cols`` name a
        node's (id, labels, property prefix) columns and ``rel_cols`` the
        relationship's (id, src, dst, type, property prefix). Without
        ``right_cols`` the right node is not emitted (its labels only prune
        tables): a node-rel table serves direction ``out`` this way, with
        the edge source as the left node, and the caller joins the right
        node."""
        if not tables:
            return None
        want = set(rel_types)
        typed_tables = [
            rt
            for t, rts in self.rel_tables.items()
            if not want or t in want
            for rt in rts
        ]
        if direction == "out":
            orientations = [("out", set(left_labels), set(right_labels))]
        elif direction == "in":
            orientations = [("in", set(right_labels), set(left_labels))]
        else:
            orientations = [
                ("out", set(left_labels), set(right_labels)),
                ("in", set(right_labels), set(left_labels)),
            ]
        plan: List[Tuple[str, TripletTable]] = []
        compatible_union: List[RelationshipTable] = []
        for orient, src_req, dst_req in orientations:
            for rt in typed_tables:
                if not rt.compatible(src_req, dst_req):
                    continue
                compatible_union.append(rt)
                if rt.src_labels is None or rt.dst_labels is None:
                    return None  # unhinted table: no pre-joined table covers it
                tt = tables.get((rt.rel_type, rt.src_labels, rt.dst_labels))
                if tt is None:
                    return None
                plan.append((orient, tt))
        if not plan:
            return None

        def node_types(labels):
            return _common_prop_types(
                [(t.df, t.property_columns) for t in self.matching_node_tables(labels)]
            )

        left_types = node_types(left_labels)
        right_types = node_types(right_labels) if right_cols else {}
        rel_types_map = _common_prop_types(
            [(t.df, t.property_columns) for t in compatible_union]
        )
        parts = []
        for orient, tt in plan:
            left_side, right_side = ("src", "dst") if orient == "out" else ("dst", "src")
            sides = [(left_side, left_cols, left_types), ("rel", rel_cols, rel_types_map)]
            if right_cols:
                sides.append((right_side, right_cols, right_types))
            # skip branches whose emitted endpoint node tables don't exist —
            # the join path would produce zero rows for them too
            combos = {"src": tt.src_labels, "dst": tt.dst_labels}
            if any(combos[side] not in self.node_tables for side, _, _ in sides if side != "rel"):
                continue
            fixed_src = {
                "src": [F.col(tt.SRC_ID), _labels_lit(tt.src_labels)],
                "rel": [F.col(tt.REL_ID), F.col(tt.SRC_ID), F.col(tt.DST_ID), F.lit(tt.rel_type)],
                "dst": [F.col(tt.DST_ID), _labels_lit(tt.dst_labels)],
            }
            fixed, props = [], []
            for side, (*names, prefix), types in sides:
                fixed += [c.alias(n) for c, n in zip(fixed_src[side], names)]
                props += _aligned(tt.df, types, prefix, tt.props(side))
            branch = tt.df
            if direction == "both" and orient == "in":
                # undirected union counts self-loops once (expand does the
                # same on its reversed branch)
                branch = branch.filter(F.col(tt.SRC_ID) != F.col(tt.DST_ID))
            parts.append(branch.select(*fixed, *props))
        return _union_all(parts) if parts else None

    # -- user-facing table views (PropertyGraph.nodes/relationships,
    #    okapi-api/.../graph/PropertyGraph.scala:69-78) --------------------
    def nodes(self, labels: Iterable[str] = (), exact: bool = False) -> DataFrame:
        df = self.scan_nodes(labels, exact)
        if df is None:
            raise ValueError(f"no node table matches labels {set(labels)}")
        return df

    def relationships(self, rel_types: Iterable[str] = ()) -> DataFrame:
        df = self.scan_rels(rel_types)
        if df is None:
            raise ValueError(f"no relationship table matches types {set(rel_types)}")
        return df

    def all_rel_tables(self) -> List[RelationshipTable]:
        return [rt for rts in self.rel_tables.values() for rt in rts]

    # -- misc ---------------------------------------------------------------
    def cache(self) -> "PropertyGraph":
        for nt in self.node_tables.values():
            nt.df.cache()
        for rt in self.all_rel_tables():
            rt.df.cache()
        return self

    def unpersist(self) -> "PropertyGraph":
        for nt in self.node_tables.values():
            nt.df.unpersist()
        for rt in self.all_rel_tables():
            rt.df.unpersist()
        return self

    # -- multiple graphs ------------------------------------------------------
    def with_prefixed_ids(self, prefix: int) -> "PropertyGraph":
        """Shift every element id into a per-graph id space (reference:
        PrefixedGraph / AddPrefix prepend a byte to binary ids,
        okapi-relational/.../impl/graph/PrefixedGraph.scala; with long ids
        we place the prefix in the top byte below the sign bit — valid while
        original ids < 2^55)."""
        shift = 55

        def pfx(col):
            return F.col(col) + F.lit(prefix << shift)

        nodes = [
            NodeTable(nt.labels, nt.df.withColumn(ID, pfx(ID)))
            for nt in self.node_tables.values()
        ]
        rels = [
            RelationshipTable(
                rt.rel_type,
                rt.df.withColumn(ID, pfx(ID)).withColumn(SRC, pfx(SRC)).withColumn(DST, pfx(DST)),
                rt.src_labels,
                rt.dst_labels,
            )
            for rt in self.all_rel_tables()
        ]
        g = PropertyGraph(nodes, rels, name=f"{self.name}_p{prefix}")
        g._session = self._session
        return g


def union_graphs(
    *graphs: "PropertyGraph", prefix_ids: bool = True, dedup_ids: bool = False
) -> "PropertyGraph":
    """Union of whole graphs (reference: UnionGraph / GraphUnionAll,
    okapi-relational/.../impl/graph/UnionGraph.scala:46-116): member id
    spaces are made disjoint by prefixing, matching tables are aligned and
    unioned per label-combination / relationship type. With
    ``dedup_ids`` (CONSTRUCT ON semantics) duplicate element ids collapse
    instead of being prefixed apart."""
    members = [
        g.with_prefixed_ids(i) if prefix_ids else g for i, g in enumerate(graphs)
    ]
    node_acc: Dict[FrozenSet[str], List[NodeTable]] = {}
    rel_acc: Dict[str, List[RelationshipTable]] = {}
    for m in members:
        for combo, nt in m.node_tables.items():
            node_acc.setdefault(combo, []).append(nt)
        for rt in m.all_rel_tables():
            rel_acc.setdefault(rt.rel_type, []).append(rt)

    def union_node(tables: List[NodeTable]) -> DataFrame:
        prop_types = _common_prop_types([(t.df, t.property_columns) for t in tables])
        return _union_all([t.df.select(F.col(ID), *_aligned(t.df, prop_types, "")) for t in tables])

    def union_rel(tables: List[RelationshipTable]) -> DataFrame:
        prop_types = _common_prop_types([(t.df, t.property_columns) for t in tables])
        return _union_all([
            t.df.select(F.col(ID), F.col(SRC), F.col(DST), *_aligned(t.df, prop_types, ""))
            for t in tables
        ])

    def maybe_dedup(df: DataFrame) -> DataFrame:
        return df.dropDuplicates([ID]) if dedup_ids else df

    nodes = [NodeTable(combo, maybe_dedup(union_node(ts))) for combo, ts in node_acc.items()]
    rels = [RelationshipTable(t, maybe_dedup(union_rel(ts))) for t, ts in rel_acc.items()]
    g = PropertyGraph(nodes, rels, name="union")
    g._session = graphs[0]._session if graphs else None
    return g


def _graph_cypher(self, query: str, parameters: Optional[dict] = None):
    if self._session is None:
        from cypher_for_apache_spark_spark.session import CypherSession

        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        self._session = CypherSession(spark)
    return self._session.cypher_on_graph(self, query, parameters or {})


PropertyGraph.cypher = _graph_cypher
