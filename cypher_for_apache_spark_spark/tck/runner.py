"""openCypher-TCK-format scenario runner.

Consumes the Gherkin conventions the official openCypher TCK corpus uses
(reference integration: morpheus-tck/.../TckSparkCypherTest.scala:40-110,
blacklists at morpheus-tck/src/test/resources/*_blacklist). The official
feature files themselves ship as a separate openCypher artifact that is
not available in this environment; point ``load_tck_directory`` (or the
``OPENCYPHER_TCK_DIR`` env var consumed by tests/test_tck.py) at an
unpacked TCK checkout to run the real corpus. The in-repo corpus under
tests/tck/ is written in the identical format.

Supported steps:

- ``Background:`` — steps shared by every scenario in the feature
- ``Scenario:`` / ``Scenario Outline:`` + ``Examples:`` (<param>
  substitution in queries, init statements, and expected tables)
- ``Given an empty graph`` / ``Given any graph``
- ``Given the <name> graph`` — named TCK fixture graph (resolved from the
  corpus's graphs/ directory when running the official artifact)
- ``And having executed:``
- ``And there exists a procedure <sig>:`` + table — registers an ad-hoc
  lookup-table procedure on the session (the official corpus's
  ProcedureCallAcceptance mechanism; supported since round 8 via the
  engine's CALL ... YIELD surface)
- ``And parameters are:`` — name/value table of query parameters
- ``When executing query:`` + docstring
- ``Then the result should be, in any order:`` (optionally
  ``(ignoring element order for lists)``)
- ``Then the result should be, in order:`` (same option)
- ``Then the result should be empty``
- ``Then a <ErrorType> should be raised at compile time|runtime[: detail]``
  (any engine error satisfies it — error-code taxonomy parity is not
  claimed, matching the reference's TCK adapter)
- ``And no side effects`` / ``And the side effects should be:`` + table —
  a scenario expecting NONZERO side effects mutates the graph, which a
  read-only engine cannot express; ``Scenario.writes`` marks it so the
  suite can treat it as wont-fix (the reference handles these through its
  wont_fix_blacklist).

Table cells hold full TCK value literals (tck/values.py): numbers,
strings, booleans, null, lists, maps, nodes, relationships, paths.
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from cypher_for_apache_spark_spark.tck.create_graph import graph_from_create
from cypher_for_apache_spark_spark.tck.values import (
    canon_engine_value,
    parse_plain_value,
    parse_value,
)


@dataclass
class Scenario:
    name: str
    feature: str = ""
    init: List[str] = field(default_factory=list)
    named_graph: Optional[str] = None
    parameters: Dict[str, object] = field(default_factory=dict)
    query: Optional[str] = None
    # official-TCK ad-hoc procedures: (signature text, split table rows)
    procedures: List[Tuple[str, List[List[str]]]] = field(default_factory=list)
    expect_rows: Optional[List[dict]] = None
    ordered: bool = False
    list_order_insensitive: bool = False
    expect_error: bool = False
    expect_empty: bool = False
    writes: bool = False  # expects nonzero side effects (wont-fix here)

    @property
    def key(self) -> str:
        return f"{self.feature}::{self.name}"

    @property
    def blacklist_key(self) -> str:
        """The reference blacklists scenarios as
        ``Feature "X": Scenario "Y"`` (failing_blacklist format)."""
        return f'Feature "{self.feature}": Scenario "{self.name}"'


_THEN_ANY = re.compile(
    r"Then the result should be(, in any order:?|:)\s*(\(ignoring element order for lists\))?:?$"
)
_THEN_ORDERED = re.compile(
    r"Then the result should be, in order:?\s*(\(ignoring element order for lists\))?:?$"
)
_THEN_ERROR = re.compile(r"Then an? [\w]+ should be raised")
_GIVEN_NAMED = re.compile(r"Given the (\S+) graph$")


def parse_feature(text: str, feature_name: str = "") -> List[Scenario]:
    lines = text.splitlines()
    scenarios: List[Scenario] = []
    background: List[Tuple[str, object]] = []  # recorded steps replayed per scenario
    in_background = False
    cur: Optional[Scenario] = None
    outline: Optional[Scenario] = None
    i = 0

    def docstring(start: int):
        assert lines[start].strip() == '"""', f"expected docstring at line {start + 1}"
        body = []
        j = start + 1
        while lines[j].strip() != '"""':
            body.append(lines[j])
            j += 1
        return "\n".join(body), j + 1

    def table(start: int):
        j = start
        rows = []
        while j < len(lines) and lines[j].strip().startswith("|"):
            rows.append(lines[j])
            j += 1
        return rows, j

    def split_row(ln: str) -> List[str]:
        # split on pipes that are not inside quotes/brackets/braces
        cells, depth, quote, buf = [], 0, False, []
        body = ln.strip()
        assert body.startswith("|") and body.endswith("|"), f"bad table row: {ln!r}"
        for ch in body[1:-1]:
            if quote:
                buf.append(ch)
                if ch == "'":
                    quote = False
                continue
            if ch == "'":
                quote = True
                buf.append(ch)
            elif ch in "[{(<":
                depth += 1
                buf.append(ch)
            elif ch in "]})>":
                depth -= 1
                buf.append(ch)
            elif ch == "|" and depth == 0:
                cells.append("".join(buf).strip())
                buf = []
            else:
                buf.append(ch)
        cells.append("".join(buf).strip())
        return cells

    def parse_result_table(rows: List[str]) -> List[dict]:
        # cells stay RAW text until run time: Scenario Outline expansion
        # substitutes <param> placeholders into them first
        split = [split_row(ln) for ln in rows]
        header, data = split[0], split[1:]
        return [dict(zip(header, r)) for r in data]

    def record(step: Tuple[str, object]):
        if in_background:
            background.append(step)
        else:
            apply_step(cur, step)

    while i < len(lines):
        ln = lines[i].strip()
        if ln.startswith("Feature:") and not feature_name:
            feature_name = ln[len("Feature:") :].strip()
            i += 1
        elif ln.startswith("Background:"):
            in_background = True
            i += 1
        elif ln.startswith("Scenario Outline:"):
            in_background = False
            outline = Scenario(
                name=ln[len("Scenario Outline:") :].strip(), feature=feature_name
            )
            cur = outline
            for step in background:
                apply_step(cur, step)
            # steps accumulate on the outline; Examples expands it
            i += 1
        elif ln.startswith("Examples:"):
            rows, i = table(i + 1)
            split = [split_row(r) for r in rows]
            header, data = split[0], split[1:]
            for n, r in enumerate(data, 1):
                subs = dict(zip(header, r))
                scenarios.append(_expand_outline(outline, subs, n))
            outline = None
            cur = None
        elif ln.startswith("Scenario:"):
            in_background = False
            cur = Scenario(name=ln[len("Scenario:") :].strip(), feature=feature_name)
            for step in background:
                apply_step(cur, step)
            scenarios.append(cur)
            i += 1
        elif ln.startswith(("Given an empty graph", "Given any graph")):
            i += 1
        elif _GIVEN_NAMED.match(ln):
            record(("named_graph", _GIVEN_NAMED.match(ln).group(1)))
            i += 1
        elif ln.startswith("And having executed:") or ln.startswith(
            "Given having executed:"
        ):
            stmt, i = docstring(i + 1)
            record(("init", stmt))
        elif ln.startswith("And there exists a procedure"):
            # official TCK ad-hoc procedure definition:
            #   And there exists a procedure test.proc(in :: INTEGER?) ::
            #     (out :: INTEGER?):
            #   | in | out |
            #   | 1  | 2   |
            sig = ln[len("And there exists a procedure") :].strip().rstrip(":")
            rows, i = table(i + 1)
            record(("proc", (sig, [split_row(r) for r in rows])))
        elif ln.startswith("And parameters are:"):
            rows, i = table(i + 1)
            params = {}
            for r in rows:  # no header row: each row is (name, value)
                cells = split_row(r)
                params[cells[0]] = _param_value(cells[1])
            record(("params", params))
        elif ln.startswith("When executing query:") or ln.startswith(
            "When executing control query:"
        ):
            q, i = docstring(i + 1)
            record(("query", q))
        elif _THEN_ORDERED.match(ln):
            loi = bool(_THEN_ORDERED.match(ln).group(1))
            rows, i = table(i + 1)
            record(("rows", (parse_result_table(rows), True, loi)))
        elif _THEN_ANY.match(ln):
            loi = bool(_THEN_ANY.match(ln).group(2))
            rows, i = table(i + 1)
            record(("rows", (parse_result_table(rows), False, loi)))
        elif ln.startswith("Then the result should be empty"):
            record(("empty", True))
            i += 1
        elif _THEN_ERROR.match(ln):
            record(("error", True))
            i += 1
        elif ln.startswith("And the side effects should be:"):
            rows, i = table(i + 1)
            writes = False
            for r in rows:
                cells = split_row(r)
                if len(cells) >= 2 and cells[1].strip("+-").isdigit() and int(cells[1]) != 0:
                    writes = True
            if writes:
                record(("writes", True))
        elif ln.startswith("And no side effects") or not ln or ln.startswith("#") or ln.startswith("@"):
            i += 1
        else:
            raise ValueError(f"unsupported feature step: {ln!r}")
    return scenarios


def _param_value(text: str):
    return parse_plain_value(text)


def apply_step(sc: Scenario, step: Tuple[str, object]) -> None:
    kind, payload = step
    if kind == "init":
        sc.init.append(payload)
    elif kind == "named_graph":
        sc.named_graph = payload
    elif kind == "params":
        sc.parameters.update(payload)
    elif kind == "query":
        sc.query = payload
    elif kind == "proc":
        sc.procedures.append(payload)
    elif kind == "rows":
        sc.expect_rows, sc.ordered, sc.list_order_insensitive = payload
    elif kind == "empty":
        sc.expect_empty = True
    elif kind == "error":
        sc.expect_error = True
    elif kind == "writes":
        sc.writes = True
    else:  # pragma: no cover
        raise ValueError(f"unknown step kind {kind}")


def _expand_outline(outline: Scenario, subs: Dict[str, str], n: int) -> Scenario:
    def sub(text: str) -> str:
        for k, v in subs.items():
            text = text.replace(f"<{k}>", v)
        return text

    sc = Scenario(
        name=f"{outline.name} #{n}",
        feature=outline.feature,
        init=[sub(s) for s in outline.init],
        named_graph=outline.named_graph,
        procedures=list(outline.procedures),
        parameters=dict(outline.parameters),
        query=sub(outline.query) if outline.query else None,
        ordered=outline.ordered,
        list_order_insensitive=outline.list_order_insensitive,
        expect_error=outline.expect_error,
        expect_empty=outline.expect_empty,
        writes=outline.writes,
    )
    if outline.expect_rows is not None:
        sc.expect_rows = [{k: sub(v) for k, v in row.items()} for row in outline.expect_rows]
    return sc


# ---------------------------------------------------------------------------
# corpus + blacklist loading (official openCypher TCK directory layout)
# ---------------------------------------------------------------------------

def load_tck_directory(root: str) -> List[Scenario]:
    """Walk ``root`` for ``*.feature`` files (the official corpus keeps
    them under tck/features/**). Feature names come from the file header."""
    out: List[Scenario] = []
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".feature"):
                with open(os.path.join(dirpath, f)) as fh:
                    out.extend(parse_feature(fh.read()))
    return out


def load_blacklist(path: str) -> set:
    """Parse a reference-format blacklist file: one
    ``Feature "X": Scenario "Y"`` per line (morpheus-tck
    failing_blacklist), ignoring blanks and ``//`` comments. Also accepts
    the in-repo shorthand ``Feature::Scenario``."""
    out = set()
    pat = re.compile(r'Feature "(.*)": Scenario "(.*)"')
    with open(path) as fh:
        for ln in fh:
            ln = ln.strip()
            if not ln or ln.startswith("//") or ln.startswith("#"):
                continue
            m = pat.match(ln)
            if m:
                out.add(f"{m.group(1)}::{m.group(2)}")
            else:
                out.add(ln)
    return out


def named_graph_statements(name: str, tck_root: Optional[str]) -> str:
    """Resolve a ``Given the <name> graph`` fixture from the official
    corpus checkout (graphs/<name>/<name>.cypher)."""
    if not tck_root:
        raise FileNotFoundError(
            f"named TCK graph {name!r} requires OPENCYPHER_TCK_DIR"
        )
    path = os.path.join(tck_root, "graphs", name, f"{name}.cypher")
    with open(path) as fh:
        return fh.read()


# ---------------------------------------------------------------------------
# execution
# ---------------------------------------------------------------------------

def _rows_of(df) -> List[dict]:
    return [row.asDict(recursive=True) for row in df.collect()]


_TCK_TYPES = {
    "INTEGER": "long",
    "FLOAT": "double",
    "NUMBER": "double",
    "STRING": "string",
    "BOOLEAN": "boolean",
    "ANY": "string",
}


def _tck_type_to_spark(t: str) -> str:
    t = t.strip().rstrip("?").strip()
    if t.upper().startswith("LIST OF "):
        return f"array<{_tck_type_to_spark(t[8:])}>"
    out = _TCK_TYPES.get(t.upper())
    if out is None:
        raise ValueError(f"unsupported TCK procedure type {t!r}")
    return out


def parse_procedure_signature(sig: str):
    """``test.my.proc(in :: INTEGER?) :: (out :: STRING?)`` ->
    (name, [(arg, spark_type)], [(out, spark_type)])."""
    m = re.match(r"\s*([\w.]+)\s*\((.*?)\)\s*::\s*\((.*)\)\s*$", sig)
    if m is None:
        raise ValueError(f"unsupported TCK procedure signature {sig!r}")

    def fields(s: str):
        out = []
        for part in [p.strip() for p in s.split(",") if p.strip()]:
            fname, ftype = part.split("::", 1)
            out.append((fname.strip(), _tck_type_to_spark(ftype)))
        return out

    return m.group(1), fields(m.group(2)), fields(m.group(3))


def register_tck_procedure(session, sig: str, rows: List[List[str]]) -> None:
    """Register an ad-hoc TCK test procedure on the session: a pure lookup
    table mapping input-argument tuples to output rows (the official
    corpus's semantics for 'there exists a procedure')."""
    name, in_fields, out_fields = parse_procedure_signature(sig)
    header = rows[0] if rows else [n for n, _ in in_fields + out_fields]
    data = [[parse_plain_value(c) for c in r] for r in rows[1:]]
    idx_in = [header.index(n) for n, _ in in_fields]
    idx_out = [header.index(n) for n, _ in out_fields]
    schema = ", ".join(f"`{n}` {t}" for n, t in out_fields)

    def fn(ctx, *args):
        match = [
            tuple(r[i] for i in idx_out)
            for r in data
            if all(r[j] == a for j, a in zip(idx_in, args))
        ]
        return ctx.spark.createDataFrame(match, schema)

    session.procedures.register(
        name,
        fn,
        [n for n, _ in out_fields],
        min_args=len(in_fields),
        max_args=len(in_fields),
    )


# initial-graph memo: the 870-scenario in-repo corpus uses only ~130
# distinct init-statement texts (216 scenarios share the empty graph
# alone), and a built PropertyGraph is read-only — the engine never
# mutates element tables — so rebuilding the same fixture graph per
# scenario paid ~740 redundant createDataFrame round-trip sets per suite
# run for identical frames. Keyed on the Spark application id (a restarted
# session must never get frames bound to a stopped SparkContext) + the
# exact statement text; entries are tiny local-relation frames.
_GRAPH_MEMO: Dict[Tuple[str, str], object] = {}


def run_scenario(session, spark, scenario: Scenario, tck_root: Optional[str] = None) -> None:
    """Execute one scenario; raises AssertionError (or the engine error)
    on mismatch."""
    if scenario.writes:
        raise AssertionError(
            f"{scenario.key}: expects graph side effects (read-only engine)"
        )
    for sig, rows in scenario.procedures:
        register_tck_procedure(session, sig, rows)
    init = list(scenario.init)
    if scenario.named_graph:
        init.insert(0, named_graph_statements(scenario.named_graph, tck_root))
    stmts = ";".join(init)
    memo_key = (spark.sparkContext.applicationId, stmts)
    graph = _GRAPH_MEMO.get(memo_key)
    if graph is None:
        graph = graph_from_create(spark, stmts)
        _GRAPH_MEMO[memo_key] = graph
    graph._session = session
    if scenario.expect_error:
        try:
            graph.cypher(scenario.query, parameters=scenario.parameters).df.collect()
        except Exception:  # the scenario expects an error; any error at any stage passes
            return
        raise AssertionError(f"{scenario.key}: expected an error, query succeeded")
    got = _rows_of(graph.cypher(scenario.query, parameters=scenario.parameters).df)
    if scenario.expect_empty:
        assert got == [], f"{scenario.key}: expected empty result, got {got}"
        return
    want = scenario.expect_rows or []
    assert len(got) == len(want), f"{scenario.key}: {len(got)} rows, want {len(want)}"
    if got:
        assert set(got[0]) == set(want[0]), (
            f"{scenario.key}: columns {sorted(got[0])} want {sorted(want[0])}"
        )
    cols = sorted(want[0]) if want else []
    loi = scenario.list_order_insensitive
    g = [
        tuple(canon_engine_value(r[c], loi) for c in cols) for r in got
    ]
    w = [tuple(_canon_expected(r[c], loi) for c in cols) for r in want]
    if not scenario.ordered:
        g, w = sorted(g, key=repr), sorted(w, key=repr)
    assert g == w, f"{scenario.key}:\n  got  {g}\n  want {w}"


def _canon_expected(raw: str, loi: bool):
    """Raw table-cell text -> canonical comparable value (parsed here, at
    run time, because outline expansion edits the raw text first). Parse
    to PLAIN values first so list-order insensitivity can still reorder —
    parse_value's eager canon would freeze list order before the loi flag
    applies."""
    from cypher_for_apache_spark_spark.tck.values import canon

    return canon(parse_plain_value(raw), list_order_insensitive=loi)
