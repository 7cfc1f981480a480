"""Apache Zeppelin visualization helpers — parity with the reference's
ZeppelinSupport (okapi-api/src/main/scala/org/opencypher/okapi/api/util/
ZeppelinSupport.scala:43-230): a ``%table`` TSV rendering of any tabular
result and a ``%network`` JSON rendering of results whose columns are
nodes/relationships.

These are *driver-side presentation* utilities by contract — they collect.
A ``limit`` guard (default 1000 rows) keeps them safe to call against a
100 TB-backed result: the limit is pushed into the Spark plan before the
collect, so a visualization never materializes more than the cap.

Column-kind detection mirrors the engine's ``finalize`` struct shapes
(plans/planner.py): a node renders as a struct with fields
(id, labels, *props); a relationship as (id, src, dst, type, *props).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql.types import StructType

_NODE_FIELDS = {"id", "labels"}
_REL_FIELDS = {"id", "src", "dst", "type"}


def _column_kinds(schema: StructType) -> dict:
    """column name -> 'node' | 'rel' | 'value' from the result schema."""
    kinds = {}
    for f in schema.fields:
        if isinstance(f.dataType, StructType):
            names = {sf.name for sf in f.dataType.fields}
            if _REL_FIELDS <= names:
                kinds[f.name] = "rel"
            elif _NODE_FIELDS <= names:
                kinds[f.name] = "node"
            else:
                kinds[f.name] = "value"
        else:
            kinds[f.name] = "value"
    return kinds


def format_value(v: Any) -> str:
    """Cypher-ish value formatting for table cells (reference:
    CypherValue.Format.defaultValueFormatter semantics — strings quoted,
    null spelled out, lists/maps in Cypher syntax)."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return f"'{v}'"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(format_value(x) for x in v) + "]"
    if isinstance(v, dict):
        inner = ", ".join(f"{k}: {format_value(x)}" for k, x in v.items())
        return "{" + inner + "}"
    return str(v)


def to_zeppelin_table(result, limit: int = 1000) -> str:
    """TSV table body in Zeppelin's ``%table`` format
    (ZeppelinSupport.scala:123-131 toZeppelinTable): header row of column
    names, then one tab-separated row per record."""
    df = result.df.limit(limit)
    cols = df.columns
    lines = ["\t".join(cols)]
    for row in df.collect():
        d = row.asDict(recursive=True)
        lines.append("\t".join(format_value(d[c]) for c in cols))
    return "\n".join(lines)


def _node_json(s: dict) -> dict:
    labels = list(s.get("labels") or [])
    props = {
        k: v
        for k, v in s.items()
        if k not in ("id", "labels") and v is not None
    }
    return {
        "id": str(s["id"]),
        "label": labels[0] if labels else "",
        "labels": labels,
        "data": props,
    }


def _rel_json(s: dict) -> dict:
    props = {
        k: v
        for k, v in s.items()
        if k not in ("id", "src", "dst", "type") and v is not None
    }
    return {
        "id": str(s["id"]),
        "source": str(s["src"]),
        "target": str(s["dst"]),
        "label": s["type"],
        "data": props,
    }


def to_zeppelin_graph_json(result, limit: int = 1000) -> str:
    """Zeppelin ``%network`` JSON (ZeppelinSupport.scala:147-180
    toZeppelinGraph): nodes/edges from every node-/rel-typed column,
    deduplicated by element id, plus the label and type inventories and
    ``directed: true``."""
    df = result.df.limit(limit)
    kinds = _column_kinds(df.schema)
    node_cols = [c for c, k in kinds.items() if k == "node"]
    rel_cols = [c for c, k in kinds.items() if k == "rel"]
    nodes: dict = {}
    rels: dict = {}
    for row in df.collect():
        d = row.asDict(recursive=True)
        for c in node_cols:
            if d[c] is not None and d[c].get("id") is not None:
                nodes.setdefault(d[c]["id"], _node_json(d[c]))
        for c in rel_cols:
            if d[c] is not None and d[c].get("id") is not None:
                rels.setdefault(d[c]["id"], _rel_json(d[c]))
    labels = sorted({l for n in nodes.values() for l in n["labels"]})
    types = sorted({r["label"] for r in rels.values()})
    return json.dumps(
        {
            "nodes": list(nodes.values()),
            "edges": list(rels.values()),
            "labels": labels,
            "types": types,
            "directed": True,
        },
        indent=2,
        default=str,
    )
