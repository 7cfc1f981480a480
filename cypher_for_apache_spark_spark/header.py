"""RecordHeader analogue: variable -> physical columns catalog.

The reference's load-bearing metadata structure is
``RecordHeader(exprToColumn: Map[Expr, String])``
(okapi-relational/.../impl/table/RecordHeader.scala:62). We keep the same
idea one level simpler: a per-variable ``EntityMeta`` naming the id /
labels / src / dst / type / property columns that belong to the variable.
Never trust ``df.columns`` for semantics — the header is the source of
truth; conflict-free physical names are generated here.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field, replace
from typing import Dict, FrozenSet, List, Optional, Tuple

_counter = itertools.count()


def fresh(prefix: str) -> str:
    """Conflict-free physical column name (reference:
    newConflictFreeColumnName, RecordHeader.scala:293-305)."""
    return f"{prefix}#{next(_counter)}"


@dataclass
class EntityMeta:
    """Physical layout of one bound Cypher variable."""

    kind: str  # 'node' | 'rel' | 'value'
    id_col: Optional[str] = None
    labels_col: Optional[str] = None  # array<string> (nodes)
    type_col: Optional[str] = None  # string (rels)
    src_col: Optional[str] = None
    dst_col: Optional[str] = None
    prop_cols: Dict[str, str] = field(default_factory=dict)
    col: Optional[str] = None  # value variables
    labels: FrozenSet[str] = frozenset()  # statically guaranteed labels
    types: FrozenSet[str] = frozenset()  # possible rel types (rels)
    # possible label combinations (nodes): one per scanned node table —
    # plan-time constants, so CONSTRUCT CLONE never has to look at data
    combos: FrozenSet[FrozenSet[str]] = frozenset()
    # rels matched in a DIRECTED pattern: the variable names of the bound
    # endpoint nodes, letting startNode(r).prop / endNode(r).prop compile
    # to the endpoint's own property column (no extra join). None for
    # undirected matches (per-row orientation) or unbound endpoints.
    src_var: Optional[str] = None
    dst_var: Optional[str] = None
    # the endpoint NODE's id column at bind time ("borrowed" — owned by the
    # node variable, so not in columns()). Lets the compiler verify that
    # src_var/dst_var still denotes the rel's endpoint after projections
    # rebind names (WITH r, b AS a must not silently read b for startNode(r))
    src_var_id_col: Optional[str] = None
    dst_var_id_col: Optional[str] = None
    # named paths (kind='path'): the ordered element metas — the path OWNS
    # copies of its elements' layouts, so it survives projections that
    # drop or rebind the element variables; `col` holds the per-hop
    # forward-direction array<boolean> column
    path_nodes: Tuple["EntityMeta", ...] = ()
    path_rels: Tuple["EntityMeta", ...] = ()
    # VAR-LENGTH named paths (kind='varpath'): the element list is runtime
    # data, not plan-time metadata — these hold the traversed node-id and
    # relationship-id array columns; `col` holds the per-hop dirs array
    # (also the null sentinel for unmatched OPTIONAL paths)
    vpath_nodes_col: Optional[str] = None
    vpath_rels_col: Optional[str] = None

    def columns(self) -> List[str]:
        out = []
        for c in (self.id_col, self.labels_col, self.type_col, self.src_col, self.dst_col, self.col):
            if c is not None:
                out.append(c)
        for c in (self.vpath_nodes_col, self.vpath_rels_col):
            if c is not None:
                out.append(c)
        out.extend(self.prop_cols.values())
        for m in list(self.path_nodes) + list(self.path_rels):
            out.extend(m.columns())
        return out

    def renamed(self, mapping: Dict[str, str]) -> "EntityMeta":
        def m(c):
            return mapping.get(c, c) if c else c

        return replace(
            self,
            id_col=m(self.id_col),
            labels_col=m(self.labels_col),
            type_col=m(self.type_col),
            src_col=m(self.src_col),
            dst_col=m(self.dst_col),
            col=m(self.col),
            prop_cols={k: m(v) for k, v in self.prop_cols.items()},
            src_var_id_col=m(self.src_var_id_col),
            dst_var_id_col=m(self.dst_var_id_col),
            path_nodes=tuple(x.renamed(mapping) for x in self.path_nodes),
            path_rels=tuple(x.renamed(mapping) for x in self.path_rels),
        )


Header = Dict[str, EntityMeta]
