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

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

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

    @staticmethod
    def create(
        rel_type: str,
        df: DataFrame,
        src_labels: Iterable[str],
        dst_labels: Iterable[str],
    ) -> "TripletTable":
        missing = {TripletTable.SRC_ID, TripletTable.REL_ID, TripletTable.DST_ID} - set(
            df.columns
        )
        if missing:
            raise ValueError(f"triplet table is missing id columns {sorted(missing)}")
        return TripletTable(
            rel_type, frozenset(src_labels), frozenset(dst_labels), _lift(df)
        )

    def props(self, side: str) -> Dict[str, str]:
        """{property key -> physical column} for one side (src/rel/dst)."""
        pfx = self.PFX[side]
        ids = {self.SRC_ID, self.REL_ID, self.DST_ID}
        return {
            c[len(pfx):]: c for c in self.df.columns if c.startswith(pfx) and c not in ids
        }


@dataclass
class NodeRelTable:
    """A pre-joined (source node, relationship) table — the reference's
    NodeRelPattern (okapi-api/.../graph/Pattern.scala:159), the narrower
    sibling of TripletTable: the target node is still joined at query time,
    so one of the expand's two joins disappears while the materialized
    table stays small (no target properties duplicated per edge).

    Layout matches TripletTable minus the ``dst_`` property columns:
    ``src_id, rel_id, dst_id`` + ``src_*`` / ``rel_*`` properties.
    """

    rel_type: str
    src_labels: FrozenSet[str]
    dst_labels: FrozenSet[str]
    df: DataFrame

    @staticmethod
    def create(
        rel_type: str,
        df: DataFrame,
        src_labels: Iterable[str],
        dst_labels: Iterable[str],
    ) -> "NodeRelTable":
        missing = {TripletTable.SRC_ID, TripletTable.REL_ID, TripletTable.DST_ID} - set(
            df.columns
        )
        if missing:
            raise ValueError(f"node-rel table is missing id columns {sorted(missing)}")
        return NodeRelTable(
            rel_type, frozenset(src_labels), frozenset(dst_labels), _lift(df)
        )

    def props(self, side: str) -> Dict[str, str]:
        pfx = TripletTable.PFX[side]
        ids = {TripletTable.SRC_ID, TripletTable.REL_ID, TripletTable.DST_ID}
        return {
            c[len(pfx):]: c for c in self.df.columns if c.startswith(pfx) and c not in ids
        }


def build_node_rel_frame(
    graph: "PropertyGraph", rel_table: "RelationshipTable"
) -> Optional[DataFrame]:
    """Materialize the (source node ⋈ relationship) frame for one
    relationship table (source hint must be set)."""
    if rel_table.src_labels is None:
        return None
    src_nt = graph.node_tables.get(rel_table.src_labels)
    if src_nt is None:
        return None
    r = rel_table.df.select(
        F.col(SRC).alias(TripletTable.SRC_ID),
        F.col(ID).alias(TripletTable.REL_ID),
        F.col(DST).alias(TripletTable.DST_ID),
        *[F.col(p).alias(f"rel_{p}") for p in rel_table.property_columns],
    )
    s = src_nt.df.select(
        F.col(ID).alias(TripletTable.SRC_ID),
        *[F.col(p).alias(f"src_{p}") for p in src_nt.property_columns],
    )
    return r.join(s, TripletTable.SRC_ID)


def build_triplet_frame(
    graph: "PropertyGraph", rel_table: "RelationshipTable"
) -> Optional[DataFrame]:
    """Materialize the pre-joined triplet frame for one relationship table
    from its endpoint node tables (both hints must be set). The caller
    persists/writes the result and registers it via
    ``PropertyGraph.add_triplet_table`` — at scale this is a one-off
    materialized view, amortized across every traversal that hits it."""
    if rel_table.src_labels is None or rel_table.dst_labels is None:
        return None
    src_nt = graph.node_tables.get(rel_table.src_labels)
    dst_nt = graph.node_tables.get(rel_table.dst_labels)
    if src_nt is None or dst_nt is None:
        return None
    r = rel_table.df.select(
        F.col(SRC).alias(TripletTable.SRC_ID),
        F.col(ID).alias(TripletTable.REL_ID),
        F.col(DST).alias(TripletTable.DST_ID),
        *[F.col(p).alias(f"rel_{p}") for p in rel_table.property_columns],
    )
    s = src_nt.df.select(
        F.col(ID).alias(TripletTable.SRC_ID),
        *[F.col(p).alias(f"src_{p}") for p in src_nt.property_columns],
    )
    d = dst_nt.df.select(
        F.col(ID).alias(TripletTable.DST_ID),
        *[F.col(p).alias(f"dst_{p}") for p in dst_nt.property_columns],
    )
    return r.join(s, TripletTable.SRC_ID).join(d, TripletTable.DST_ID)


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


def _aligned_select(
    df: DataFrame,
    fixed: List,
    prop_types: Dict[str, T.DataType],
    prop_prefix: str,
) -> DataFrame:
    cols = list(fixed)
    have = set(df.columns)
    for p, dt in prop_types.items():
        if p in have:
            src = F.col(p)
            if df.schema[p].dataType != dt:
                src = src.cast(dt)
            cols.append(src.alias(prop_prefix + p))
        else:
            cols.append(F.lit(None).cast(dt).alias(prop_prefix + p))
    return df.select(*cols)


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

    def add_triplet_table(self, tt: TripletTable) -> "PropertyGraph":
        """Register a pre-joined triplet for recognized-pattern scans.

        Validates (fail-fast, plan-time guarantees depend on it) that the
        triplet carries every property column of the node tables for its
        endpoint combos and of the relationship tables it covers — a
        triplet missing a property would silently null out values the join
        path produces."""
        for side, combo in (("src", tt.src_labels), ("dst", tt.dst_labels)):
            nt = self.node_tables.get(combo)
            if nt is not None:
                missing = set(nt.property_columns) - set(tt.props(side))
                if missing:
                    raise ValueError(
                        f"triplet for {tt.rel_type} lacks {side} node properties {sorted(missing)}"
                    )
        for rt in self.rel_tables.get(tt.rel_type, []):
            if rt.src_labels == tt.src_labels and rt.dst_labels == tt.dst_labels:
                missing = set(rt.property_columns) - set(tt.props("rel"))
                if missing:
                    raise ValueError(
                        f"triplet for {tt.rel_type} lacks relationship properties {sorted(missing)}"
                    )
        self.triplet_tables[(tt.rel_type, tt.src_labels, tt.dst_labels)] = tt
        return self

    def add_node_rel_table(self, nrt: NodeRelTable) -> "PropertyGraph":
        """Register a pre-joined (source node, relationship) table; same
        fail-fast property-completeness validation as triplets, for the
        source and relationship sides only."""
        nt = self.node_tables.get(nrt.src_labels)
        if nt is not None:
            missing = set(nt.property_columns) - set(nrt.props("src"))
            if missing:
                raise ValueError(
                    f"node-rel table for {nrt.rel_type} lacks src node properties {sorted(missing)}"
                )
        for rt in self.rel_tables.get(nrt.rel_type, []):
            if rt.src_labels == nrt.src_labels and rt.dst_labels == nrt.dst_labels:
                missing = set(rt.property_columns) - set(nrt.props("rel"))
                if missing:
                    raise ValueError(
                        f"node-rel table for {nrt.rel_type} lacks relationship properties {sorted(missing)}"
                    )
        self.node_rel_tables[(nrt.rel_type, nrt.src_labels, nrt.dst_labels)] = nrt
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
        repeated query shape never counts again."""
        total = 0
        for t in tables:
            if id(t) not in self._element_rows:
                self._element_rows[id(t)] = (t, t.df.count())
            total += self._element_rows[id(t)][1]
        return total

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
        parts = []
        for t in tables:
            lbls = sorted(t.labels)
            labels_col = (
                F.array(*[F.lit(l) for l in lbls]) if lbls else F.array().cast("array<string>")
            )
            fixed = [F.col(ID).alias(out_id), labels_col.alias(out_labels)]
            parts.append(_aligned_select(t.df, fixed, prop_types, prop_prefix))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

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
            fixed = [
                F.col(ID).alias(out_id),
                F.col(SRC).alias(out_src),
                F.col(DST).alias(out_dst),
                F.lit(t.rel_type).alias(out_type),
            ]
            parts.append(_aligned_select(t.frame(prefer_layout), fixed, prop_types, prop_prefix))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def scan_triplets(
        self,
        rel_types: Iterable[str],
        left_labels: Iterable[str],
        right_labels: Iterable[str],
        direction: str,
        left_id: str,
        left_labels_col: str,
        left_prefix: str,
        rel_id: str,
        rel_src: str,
        rel_dst: str,
        rel_type_col: str,
        rel_prefix: str,
        right_id: str,
        right_labels_col: str,
        right_prefix: str,
    ) -> Optional[DataFrame]:
        """Serve a whole ``(left)-[rel]->(right)`` pattern element from
        registered triplet tables with ZERO joins, or return None when the
        triplets cannot cover exactly what the join path would produce.

        Coverage rule: for each orientation the pattern allows, every
        relationship table compatible with the label constraints must have
        endpoint hints and a registered triplet — otherwise the join path
        runs (correctness first, the optimization must never change
        results). Output columns mirror the join path: the full property
        set a node/rel scan would advertise, null-padded per branch, plus
        constant labels/type columns."""
        if not self.triplet_tables:
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
        plan: List[Tuple[str, RelationshipTable, TripletTable]] = []
        compatible_union: List[RelationshipTable] = []
        for orient, src_req, dst_req in orientations:
            for rt in typed_tables:
                if not rt.compatible(src_req, dst_req):
                    continue
                compatible_union.append(rt)
                if rt.src_labels is None or rt.dst_labels is None:
                    return None  # unhinted table: triplet cannot cover it
                tt = self.triplet_tables.get((rt.rel_type, rt.src_labels, rt.dst_labels))
                if tt is None:
                    return None
                plan.append((orient, rt, tt))
        if not plan:
            return None

        left_types = _common_prop_types(
            [(t.df, t.property_columns) for t in self.matching_node_tables(left_labels)]
        )
        right_types = _common_prop_types(
            [(t.df, t.property_columns) for t in self.matching_node_tables(right_labels)]
        )
        rel_types_map = _common_prop_types(
            [(t.df, t.property_columns) for t in compatible_union]
        )

        def labels_lit(combo: FrozenSet[str]):
            lbls = sorted(combo)
            return (
                F.array(*[F.lit(l) for l in lbls])
                if lbls
                else F.array().cast("array<string>")
            )

        def prop_selects(avail: Dict[str, str], types: Dict[str, T.DataType], prefix: str, df: DataFrame):
            cols = []
            dtypes = {f.name: f.dataType for f in df.schema.fields}
            for p, dt in types.items():
                phys = avail.get(p)
                if phys is None:
                    cols.append(F.lit(None).cast(dt).alias(prefix + p))
                elif dtypes[phys] != dt:
                    cols.append(F.col(phys).cast(dt).alias(prefix + p))
                else:
                    cols.append(F.col(phys).alias(prefix + p))
            return cols

        parts = []
        for orient, rt, tt in plan:
            # skip branches whose endpoint node tables don't exist — the
            # join path would produce zero rows for them too
            if tt.src_labels not in self.node_tables or tt.dst_labels not in self.node_tables:
                continue
            left_side, right_side = ("src", "dst") if orient == "out" else ("dst", "src")
            left_combo = tt.src_labels if orient == "out" else tt.dst_labels
            right_combo = tt.dst_labels if orient == "out" else tt.src_labels
            phys_id = {"src": TripletTable.SRC_ID, "dst": TripletTable.DST_ID}
            fixed = [
                F.col(phys_id[left_side]).alias(left_id),
                labels_lit(left_combo).alias(left_labels_col),
                F.col(TripletTable.REL_ID).alias(rel_id),
                F.col(TripletTable.SRC_ID).alias(rel_src),
                F.col(TripletTable.DST_ID).alias(rel_dst),
                F.lit(tt.rel_type).alias(rel_type_col),
                F.col(phys_id[right_side]).alias(right_id),
                labels_lit(right_combo).alias(right_labels_col),
            ]
            cols = (
                fixed
                + prop_selects(tt.props(left_side), left_types, left_prefix, tt.df)
                + prop_selects(tt.props("rel"), rel_types_map, rel_prefix, tt.df)
                + prop_selects(tt.props(right_side), right_types, right_prefix, tt.df)
            )
            branch = tt.df
            if direction == "both" and orient == "in":
                # undirected union counts self-loops once (expand does the
                # same on its reversed branch)
                branch = branch.filter(
                    F.col(TripletTable.SRC_ID) != F.col(TripletTable.DST_ID)
                )
            parts.append(branch.select(*cols))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def scan_node_rels(
        self,
        rel_types: Iterable[str],
        packed_labels: Iterable[str],
        far_labels: Iterable[str],
        orientation: str,
        node_id: str,
        node_labels_col: str,
        node_prefix: str,
        rel_id: str,
        rel_src: str,
        rel_dst: str,
        rel_type_col: str,
        rel_prefix: str,
    ) -> Optional[DataFrame]:
        """Serve the (source node + relationship) half of a pattern element
        from registered NodeRelTables, or None when they don't cover every
        compatible relationship table. ``orientation`` is the edge
        direction relative to the packed node: always 'src' here — the
        packed node of a NodeRelTable is the edge source; callers flip the
        pattern when the packed node is the pattern's right side.
        ``far_labels`` prune via endpoint hints only (the far node is
        joined by the caller)."""
        if not self.node_rel_tables:
            return None
        want = set(rel_types)
        plan = []
        for t, rts in self.rel_tables.items():
            if want and t not in want:
                continue
            for rt in rts:
                if not rt.compatible(set(packed_labels), set(far_labels)):
                    continue
                if rt.src_labels is None or rt.dst_labels is None:
                    return None
                nrt = self.node_rel_tables.get((rt.rel_type, rt.src_labels, rt.dst_labels))
                if nrt is None:
                    return None
                plan.append((rt, nrt))
        if not plan:
            return None
        node_types = _common_prop_types(
            [(t.df, t.property_columns) for t in self.matching_node_tables(packed_labels)]
        )
        rel_types_map = _common_prop_types(
            [(rt.df, rt.property_columns) for rt, _ in plan]
        )
        parts = []
        for rt, nrt in plan:
            if nrt.src_labels not in self.node_tables:
                continue
            lbls = sorted(nrt.src_labels)
            labels_col = (
                F.array(*[F.lit(l) for l in lbls])
                if lbls
                else F.array().cast("array<string>")
            )
            fixed = [
                F.col(TripletTable.SRC_ID).alias(node_id),
                labels_col.alias(node_labels_col),
                F.col(TripletTable.REL_ID).alias(rel_id),
                F.col(TripletTable.SRC_ID).alias(rel_src),
                F.col(TripletTable.DST_ID).alias(rel_dst),
                F.lit(nrt.rel_type).alias(rel_type_col),
            ]
            dtypes = {f.name: f.dataType for f in nrt.df.schema.fields}

            def sel(avail, types, prefix):
                cols = []
                for p, dt in types.items():
                    phys = avail.get(p)
                    if phys is None:
                        cols.append(F.lit(None).cast(dt).alias(prefix + p))
                    elif dtypes[phys] != dt:
                        cols.append(F.col(phys).cast(dt).alias(prefix + p))
                    else:
                        cols.append(F.col(phys).alias(prefix + p))
                return cols

            cols = (
                fixed
                + sel(nrt.props("src"), node_types, node_prefix)
                + sel(nrt.props("rel"), rel_types_map, rel_prefix)
            )
            parts.append(nrt.df.select(*cols))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

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
        parts = [
            _aligned_select(t.df, [F.col(ID)], prop_types, "") for t in tables
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def union_rel(tables: List[RelationshipTable]) -> DataFrame:
        prop_types = _common_prop_types([(t.df, t.property_columns) for t in tables])
        parts = [
            _aligned_select(t.df, [F.col(ID), F.col(SRC), F.col(DST)], prop_types, "")
            for t in tables
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

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
