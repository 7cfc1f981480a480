"""Cypher tokenizer + recursive-descent parser.

Covers the reference's supported read-only Cypher 9 surface (SURVEY.md §2.9
bounds the grammar): MATCH / OPTIONAL MATCH / WHERE / UNWIND / WITH / RETURN
/ ORDER BY / SKIP / LIMIT / UNION [ALL], full expression grammar including
list comprehensions, quantifiers, reduce, CASE, pattern predicates and
var-length relationship patterns.

The reference delegates parsing to the openCypher front-end
(okapi-ir/.../impl/parse/CypherParser.scala:66-81); we hand-roll a parser for
the same subset — the openCypher grammar is public.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from cypher_for_apache_spark_spark import ast as A


class CypherSyntaxError(ValueError):
    pass


_MULTI = ["<=", ">=", "<>", "=~", "..", "->", "<-", "+=", "||"]
_SINGLE = "()[]{},:;.|=<>+-*/%^$"

_NUM_RE = re.compile(r"(?:\d+\.\d+(?:[eE][+-]?\d+)?|\d+[eE][+-]?\d+|\d+|\.\d+)")
_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

KEYWORDS = {
    "match", "optional", "unwind", "as", "with", "return", "where", "order",
    "by", "skip", "limit", "distinct", "and", "or", "xor", "not", "in",
    "starts", "ends", "contains", "is", "null", "true", "false", "case",
    "when", "then", "else", "end", "union", "all", "any", "none", "single",
    "exists", "asc", "ascending", "desc", "descending", "count", "filter",
    "extract", "reduce", "from", "graph", "construct", "on", "clone", "new",
    "set", "catalog", "create", "delete",
}


class Token:
    __slots__ = ("kind", "value", "pos", "end")

    def __init__(self, kind: str, value, pos: int, end: int):
        self.kind = kind  # 'ident','kw','int','float','string','param','punct','eof'
        self.value = value
        self.pos = pos
        self.end = end

    def __repr__(self):  # pragma: no cover
        return f"Token({self.kind},{self.value!r})"


def tokenize(src: str) -> List[Token]:
    toks: List[Token] = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if c.isspace():
            i += 1
            continue
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        if src.startswith("/*", i):
            j = src.find("*/", i + 2)
            if j < 0:
                raise CypherSyntaxError("unterminated block comment")
            i = j + 2
            continue
        if c in "'\"":
            j = i + 1
            buf = []
            while j < n:
                if src[j] == "\\" and j + 1 < n:
                    esc = src[j + 1]
                    buf.append({"n": "\n", "t": "\t", "r": "\r"}.get(esc, esc))
                    j += 2
                elif src[j] == c:
                    break
                else:
                    buf.append(src[j])
                    j += 1
            if j >= n:
                raise CypherSyntaxError("unterminated string literal")
            toks.append(Token("string", "".join(buf), i, j + 1))
            i = j + 1
            continue
        if c == "`":
            # a doubled backtick inside the quotes is one literal backtick
            j = src.find("`", i + 1)
            while 0 <= j < n - 1 and src[j + 1] == "`":
                j = src.find("`", j + 2)
            if j < 0:
                raise CypherSyntaxError("unterminated backtick identifier")
            toks.append(Token("ident", src[i + 1 : j].replace("``", "`"), i, j + 1))
            i = j + 1
            continue
        if c.isdigit() or (c == "." and i + 1 < n and src[i + 1].isdigit()):
            # don't eat "1..2" as float
            m = _NUM_RE.match(src, i)
            text = m.group(0)
            if "." in text and ".." in src[i : i + len(text) + 1]:
                dots = src.find("..", i)
                if dots == i + len(text.split(".")[0]):
                    text = text.split(".")[0]
            if "." in text or "e" in text or "E" in text:
                toks.append(Token("float", float(text), i, i + len(text)))
            else:
                toks.append(Token("int", int(text), i, i + len(text)))
            i += len(text)
            continue
        m = _IDENT_RE.match(src, i)
        if m:
            word = m.group(0)
            kind = "kw" if word.lower() in KEYWORDS else "ident"
            toks.append(Token(kind, word, i, m.end()))
            i = m.end()
            continue
        if c == "$":
            m = _IDENT_RE.match(src, i + 1)
            if not m:
                raise CypherSyntaxError(f"bad parameter at {i}")
            toks.append(Token("param", m.group(0), i, m.end()))
            i = m.end()
            continue
        matched = False
        for t in _MULTI:
            if src.startswith(t, i):
                toks.append(Token("punct", t, i, i + len(t)))
                i += len(t)
                matched = True
                break
        if matched:
            continue
        if c in _SINGLE:
            toks.append(Token("punct", c, i, i + 1))
            i += 1
            continue
        raise CypherSyntaxError(f"unexpected character {c!r} at {i}")
    toks.append(Token("eof", None, n, n))
    return toks


class Parser:
    def __init__(self, src: str):
        self.src = src
        self.toks = tokenize(src)
        self.i = 0

    # -- token helpers -----------------------------------------------------
    @property
    def tok(self) -> Token:
        return self.toks[self.i]

    def peek(self, k: int = 1) -> Token:
        j = min(self.i + k, len(self.toks) - 1)
        return self.toks[j]

    def advance(self) -> Token:
        t = self.toks[self.i]
        if t.kind != "eof":
            self.i += 1
        return t

    def at_kw(self, *words: str) -> bool:
        t = self.tok
        return t.kind == "kw" and t.value.lower() in words

    def eat_kw(self, *words: str) -> bool:
        if self.at_kw(*words):
            self.advance()
            return True
        return False

    def expect_kw(self, word: str):
        if not self.eat_kw(word):
            raise CypherSyntaxError(f"expected {word.upper()} at {self.tok!r}")

    def at(self, punct: str) -> bool:
        t = self.tok
        return t.kind == "punct" and t.value == punct

    def eat(self, punct: str) -> bool:
        if self.at(punct):
            self.advance()
            return True
        return False

    def expect(self, punct: str):
        if not self.eat(punct):
            raise CypherSyntaxError(f"expected {punct!r} at {self.tok!r} in {self.src!r}")

    def name(self) -> str:
        t = self.tok
        if t.kind in ("ident", "kw"):
            self.advance()
            return t.value
        raise CypherSyntaxError(f"expected identifier at {t!r}")

    def text_since(self, start_tok_idx: int) -> str:
        a = self.toks[start_tok_idx].pos
        b = self.toks[self.i - 1].end if self.i > start_tok_idx else a
        return self.src[a:b].strip()

    # -- query -------------------------------------------------------------
    def parse_query(self):
        if self.at_kw("catalog") or (
            self.at_kw("create") and self.peek().kind == "kw" and self.peek().value.lower() == "graph"
        ):
            return self.parse_catalog_statement()
        first = self.parse_single_query()
        queries, flags = [first], []
        while self.at_kw("union"):
            self.advance()
            flags.append(self.eat_kw("all"))
            queries.append(self.parse_single_query())
        if self.tok.kind != "eof":
            raise CypherSyntaxError(f"unexpected trailing input at {self.tok!r}")
        if len(queries) == 1:
            return first
        return A.UnionQuery(queries, flags)

    def parse_single_query(self) -> A.SingleQuery:
        clauses = []
        while True:
            if self.at_kw("match"):
                self.advance()
                clauses.append(self.parse_match(optional=False))
            elif self.at_kw("optional"):
                self.advance()
                self.expect_kw("match")
                clauses.append(self.parse_match(optional=True))
            elif self.at_kw("unwind"):
                self.advance()
                e = self.parse_expr()
                self.expect_kw("as")
                clauses.append(A.UnwindClause(e, self.name()))
            elif self.at_kw("with"):
                self.advance()
                clauses.append(self.parse_projection(is_return=False))
            elif self.tok.kind == "ident" and self.tok.value.lower() == "call":
                # CALL { subquery } | CALL proc.name(args) [YIELD ...]
                self.advance()
                if self.eat("{"):
                    inner = self.parse_query_until_brace()
                    self.expect("}")
                    clauses.append(A.CallSubquery(inner))
                else:
                    call = self.parse_call_procedure()
                    clauses.append(call)
                    if call.yields is None:
                        # standalone CALL: terminal clause, implicit
                        # YIELD-all result (Neo4j's standalone call form)
                        break
            elif self.at_kw("from"):
                self.advance()
                self.eat_kw("graph")
                clauses.append(self.parse_graph_ref())
            elif self.at_kw("construct"):
                self.advance()
                clauses.append(self.parse_construct())
            elif self.at_kw("return"):
                self.advance()
                if self.at_kw("graph"):
                    self.advance()
                    clauses.append(A.ReturnGraphClause())
                else:
                    clauses.append(self.parse_projection(is_return=True))
                break
            else:
                break
        if not clauses:
            raise CypherSyntaxError(f"expected clause at {self.tok!r}")
        return A.SingleQuery(clauses)

    def parse_call_procedure(self) -> "A.CallProcedure":
        """``proc.name(arg, ...) [YIELD col [AS alias], ... [WHERE pred]]``
        (the CALL keyword is already consumed)."""
        name = self.qualified_name()
        args: List[A.Expr] = []
        self.expect("(")
        if not self.at(")"):
            args.append(self.parse_expr())
            while self.eat(","):
                args.append(self.parse_expr())
        self.expect(")")
        yields = None
        where = None
        if self.tok.kind == "ident" and self.tok.value.lower() == "yield":
            self.advance()
            if self.eat("*"):
                # YIELD *: all declared columns, composition allowed
                yields = [("*", "*")]
            else:
                yields = []
                while True:
                    col = self.name()
                    alias = self.name() if self.eat_kw("as") else col
                    yields.append((col, alias))
                    if not self.eat(","):
                        break
            if self.eat_kw("where"):
                where = self.parse_expr()
        return A.CallProcedure(name, args, yields, where)

    def qualified_name(self) -> str:
        n = self.name()
        while self.eat("."):
            n += "." + self.name()
        return n

    def parse_graph_ref(self) -> A.FromGraphClause:
        """graph name, $param (inside view bodies), or view(arg, ...)"""
        if self.tok.kind == "param":
            return A.FromGraphClause("$" + self.advance().value)
        name = self.qualified_name()
        if self.eat("("):
            args = []
            if not self.at(")"):
                while True:
                    if self.tok.kind == "param":
                        args.append("$" + self.advance().value)
                    else:
                        args.append(self.qualified_name())
                    if not self.eat(","):
                        break
            self.expect(")")
            return A.FromGraphClause(name, args)
        return A.FromGraphClause(name)

    def parse_construct(self) -> A.ConstructClause:
        c = A.ConstructClause()
        while True:
            if self.at_kw("on"):
                self.advance()
                c.on_graphs.append(self.qualified_name())
                while self.eat(","):
                    c.on_graphs.append(self.qualified_name())
            elif self.at_kw("clone"):
                self.advance()
                c.clones.append(self.name())
                while self.eat(","):
                    c.clones.append(self.name())
            elif self.at_kw("new"):
                self.advance()
                c.news.append(self.parse_pattern_part())
                while self.eat(","):
                    c.news.append(self.parse_pattern_part())
            elif self.at_kw("set"):
                self.advance()
                c.sets.append(self.parse_set_item())
                while self.eat(","):
                    c.sets.append(self.parse_set_item())
            else:
                break
        return c

    def parse_set_item(self) -> A.SetItem:
        var = self.name()
        if self.at(":"):
            labels = []
            while self.eat(":"):
                labels.append(self.name())
            return A.SetItem(var, None, labels)
        self.expect(".")
        key = self.name()
        self.expect("=")
        return A.SetItem(var, key, [], self.parse_expr())

    def parse_catalog_statement(self):
        self.eat_kw("catalog")
        if self.eat_kw("create"):
            if self.eat_kw("graph"):
                name = self.qualified_name()
                self.expect("{")
                inner = self.parse_query_until_brace()
                self.expect("}")
                return A.CreateGraphStatement(name, inner)
            if self.tok.kind == "ident" and self.tok.value.lower() == "view":
                self.advance()
                name = self.qualified_name()
                params = []
                self.expect("(")
                if not self.at(")"):
                    while True:
                        if self.tok.kind == "param":
                            params.append("$" + self.advance().value)
                        else:
                            params.append("$" + self.name())
                        if not self.eat(","):
                            break
                self.expect(")")
                self.expect("{")
                inner = self.parse_query_until_brace()
                self.expect("}")
                return A.CreateViewStatement(name, params, inner)
            raise CypherSyntaxError(f"expected GRAPH or VIEW at {self.tok!r}")
        if self.eat_kw("delete"):
            if self.eat_kw("graph"):
                return A.DeleteGraphStatement(self.qualified_name())
            if self.tok.kind == "ident" and self.tok.value.lower() == "view":
                self.advance()
                return A.DeleteViewStatement(self.qualified_name())
            return A.DeleteGraphStatement(self.qualified_name())
        raise CypherSyntaxError(f"expected CREATE or DELETE after CATALOG at {self.tok!r}")

    def parse_query_until_brace(self):
        first = self.parse_single_query()
        queries, flags = [first], []
        while self.at_kw("union"):
            self.advance()
            flags.append(self.eat_kw("all"))
            queries.append(self.parse_single_query())
        if len(queries) == 1:
            return first
        return A.UnionQuery(queries, flags)

    def parse_match(self, optional: bool) -> A.MatchClause:
        parts = [self.parse_pattern_part()]
        while self.eat(","):
            parts.append(self.parse_pattern_part())
        where = None
        if self.eat_kw("where"):
            where = self.parse_expr()
        return A.MatchClause(parts, where, optional)

    def parse_projection(self, is_return: bool) -> A.ProjectionClause:
        distinct = self.eat_kw("distinct")
        star = False
        items: List[Tuple[A.Expr, str]] = []
        if self.at("*"):
            self.advance()
            star = True
            while self.eat(","):
                items.append(self.parse_return_item())
        else:
            items.append(self.parse_return_item())
            while self.eat(","):
                items.append(self.parse_return_item())
        order_by: List[A.OrderItem] = []
        if self.eat_kw("order"):
            self.expect_kw("by")
            order_by.append(self.parse_order_item())
            while self.eat(","):
                order_by.append(self.parse_order_item())
        skip = limit = None
        if self.eat_kw("skip"):
            skip = self.parse_expr()
        if self.eat_kw("limit"):
            limit = self.parse_expr()
        where = None
        if not is_return and self.eat_kw("where"):
            where = self.parse_expr()
        return A.ProjectionClause(items, distinct, star, order_by, skip, limit, where, is_return)

    def parse_return_item(self) -> Tuple[A.Expr, str]:
        start = self.i
        e = self.parse_expr()
        if self.eat_kw("as"):
            return e, self.name()
        return e, self.text_since(start)

    def parse_order_item(self) -> A.OrderItem:
        e = self.parse_expr()
        asc = True
        if self.eat_kw("desc", "descending"):
            asc = False
        else:
            self.eat_kw("asc", "ascending")
        return A.OrderItem(e, asc)

    # -- patterns ------------------------------------------------------------
    def parse_pattern_part(self) -> A.PatternPart:
        path_var = None
        if self.tok.kind == "ident" and self.peek().kind == "punct" and self.peek().value == "=":
            path_var = self.advance().value
            self.advance()
        shortest = None
        if (
            self.tok.kind == "ident"
            and self.tok.value.lower() in ("shortestpath", "allshortestpaths")
            and self.peek().kind == "punct"
            and self.peek().value == "("
        ):
            shortest = (
                "single" if self.advance().value.lower() == "shortestpath" else "all"
            )
            self.expect("(")
        elements: list = [self.parse_node_pattern()]
        while self.at("-") or self.at("<-"):
            elements.append(self.parse_rel_pattern())
            elements.append(self.parse_node_pattern())
        if shortest is not None:
            self.expect(")")
        return A.PatternPart(elements, path_var, shortest)

    def parse_node_pattern(self) -> A.NodePat:
        self.expect("(")
        var = None
        if self.tok.kind == "ident" and not self.at(")"):
            var = self.advance().value
        labels = []
        while self.eat(":"):
            labels.append(self.name())
        props = None
        if self.at("{"):
            props = self.parse_map_literal()
        self.expect(")")
        return A.NodePat(var, labels, props)

    def parse_rel_pattern(self) -> A.RelPat:
        left = False
        if self.eat("<-"):
            left = True
        else:
            self.expect("-")
        var = None
        types: List[str] = []
        props = None
        var_length = None
        if self.eat("["):
            if self.tok.kind == "ident":
                var = self.advance().value
            if self.eat(":"):
                types.append(self.name())
                while self.eat("|"):
                    self.eat(":")
                    types.append(self.name())
            if self.eat("*"):
                lo, hi = 1, None
                if self.tok.kind == "int":
                    lo = self.advance().value
                    hi = lo
                    if self.eat(".."):
                        hi = self.advance().value if self.tok.kind == "int" else None
                elif self.eat(".."):
                    hi = self.advance().value if self.tok.kind == "int" else None
                var_length = (lo, hi)
            if self.at("{"):
                props = self.parse_map_literal()
            self.expect("]")
        right = False
        if self.eat("->"):
            right = True
        else:
            self.expect("-")
        if right and not left:
            direction = "out"
        elif left and not right:
            direction = "in"
        else:
            direction = "both"
        return A.RelPat(var, types, direction, props, var_length)

    def parse_map_literal(self) -> A.MapLit:
        self.expect("{")
        items: List[Tuple[str, A.Expr]] = []
        if not self.at("}"):
            while True:
                k = self.name() if self.tok.kind in ("ident", "kw") else self.advance().value
                self.expect(":")
                items.append((k, self.parse_expr()))
                if not self.eat(","):
                    break
        self.expect("}")
        return A.MapLit(items)

    # -- expressions ----------------------------------------------------------
    def parse_expr(self) -> A.Expr:
        return self.parse_or()

    def parse_or(self) -> A.Expr:
        e = self.parse_xor()
        if self.at_kw("or"):
            items = [e]
            while self.eat_kw("or"):
                items.append(self.parse_xor())
            return A.Ors(items)
        return e

    def parse_xor(self) -> A.Expr:
        e = self.parse_and()
        while self.at_kw("xor"):
            self.advance()
            e = A.Xor(e, self.parse_and())
        return e

    def parse_and(self) -> A.Expr:
        e = self.parse_not()
        if self.at_kw("and"):
            items = [e]
            while self.eat_kw("and"):
                items.append(self.parse_not())
            return A.Ands(items)
        return e

    def parse_not(self) -> A.Expr:
        if self.eat_kw("not"):
            inner = self.parse_not()
            if isinstance(inner, A.PatternPredicate):
                inner.negated = not inner.negated
                return inner
            return A.Not(inner)
        return self.parse_comparison()

    def parse_comparison(self) -> A.Expr:
        e = self.parse_additive()
        conds: List[A.Expr] = []
        while True:
            if self.tok.kind == "punct" and self.tok.value in ("=", "<>", "<", "<=", ">", ">="):
                op = self.advance().value
                rhs = self.parse_additive()
                conds.append(A.Cmp(op, e, rhs))
                e = rhs
                continue
            if self.at_kw("is"):
                self.advance()
                if self.eat_kw("not"):
                    self.expect_kw("null")
                    conds.append(A.IsNotNull(e))
                else:
                    self.expect_kw("null")
                    conds.append(A.IsNull(e))
                break
            if self.at_kw("in"):
                self.advance()
                conds.append(A.In(e, self.parse_additive()))
                break
            if self.at_kw("starts"):
                self.advance()
                self.expect_kw("with")
                conds.append(A.StringPred("startswith", e, self.parse_additive()))
                break
            if self.at_kw("ends"):
                self.advance()
                self.expect_kw("with")
                conds.append(A.StringPred("endswith", e, self.parse_additive()))
                break
            if self.at_kw("contains"):
                self.advance()
                conds.append(A.StringPred("contains", e, self.parse_additive()))
                break
            if self.at("=~"):
                self.advance()
                conds.append(A.StringPred("regex", e, self.parse_additive()))
                break
            break
        if not conds:
            return e
        if len(conds) == 1:
            return conds[0]
        return A.Ands(conds)

    def parse_additive(self) -> A.Expr:
        e = self.parse_multiplicative()
        while self.tok.kind == "punct" and self.tok.value in ("+", "-"):
            op = self.advance().value
            e = A.Bin(op, e, self.parse_multiplicative())
        return e

    def parse_multiplicative(self) -> A.Expr:
        e = self.parse_power()
        while self.tok.kind == "punct" and self.tok.value in ("*", "/", "%"):
            op = self.advance().value
            e = A.Bin(op, e, self.parse_power())
        return e

    def parse_power(self) -> A.Expr:
        # left-assoc per the openCypher grammar (PowerOfExpression folds
        # its repetition left, like the Neo4j front-end the reference
        # embeds): 2^3^2 = (2^3)^2 = 64, not 2^(3^2)
        e = self.parse_unary()
        while self.at("^"):
            self.advance()
            e = A.Bin("^", e, self.parse_unary())
        return e

    def parse_unary(self) -> A.Expr:
        if self.at("-"):
            self.advance()
            return A.Neg(self.parse_unary())
        if self.at("+"):
            self.advance()
            return self.parse_unary()
        return self.parse_postfix()

    def parse_postfix(self) -> A.Expr:
        e = self.parse_atom()
        # map projection: v {.key, alias: expr, .*}
        if isinstance(e, A.Var) and self.at("{"):
            return self.parse_map_projection(e.name)
        while True:
            if self.at("."):
                self.advance()
                e = A.Prop(e, self.name())
                continue
            if self.at("["):
                self.advance()
                lo = None
                if not self.at("..") :
                    lo = self.parse_expr()
                if self.eat(".."):
                    hi = None
                    if not self.at("]"):
                        hi = self.parse_expr()
                    e = A.Slice(e, lo, hi)
                else:
                    e = A.Index(e, lo)
                self.expect("]")
                continue
            if self.at(":") and isinstance(e, (A.Var, A.Prop)):
                labels = []
                while self.eat(":"):
                    labels.append(self.name())
                e = A.HasLabels(e, labels)
                continue
            break
        return e

    def parse_atom(self) -> A.Expr:
        t = self.tok
        if t.kind == "int" or t.kind == "float" or t.kind == "string":
            self.advance()
            return A.Lit(t.value)
        if t.kind == "param":
            self.advance()
            return A.Param(t.value)
        if self.at_kw("true"):
            self.advance()
            return A.Lit(True)
        if self.at_kw("false"):
            self.advance()
            return A.Lit(False)
        if self.at_kw("null"):
            self.advance()
            return A.Lit(None)
        if self.at_kw("count") and self.peek().kind == "punct" and self.peek().value == "{":
            # COUNT { pattern [WHERE p] } subquery: sugar for the size-of-
            # pattern machinery (lowered like size((a)-[:T]->()), which the
            # planner rewrites to a `| 1` pattern comprehension)
            self.advance()
            return A.FuncCall("size", [self.parse_exists_subquery()])
        if self.at_kw("count") and self.peek().kind == "punct" and self.peek().value == "(":
            if self.peek(2).kind == "punct" and self.peek(2).value == "*":
                self.advance(); self.advance(); self.advance()
                self.expect(")")
                return A.CountStar()
            self.advance()
            return self.parse_call("count")
        if self.at_kw("case"):
            return self.parse_case()
        if self.at_kw("exists"):
            self.advance()
            if self.at("{"):
                return self.parse_exists_subquery()
            self.expect("(")
            saved = self.i
            try:
                part = self.parse_pattern_part()
                self.expect(")")
                return A.PatternPredicate(part)
            except CypherSyntaxError:
                self.i = saved
            inner = self.parse_expr()
            self.expect(")")
            return A.IsNotNull(inner)
        if self.at_kw("any", "all", "none", "single"):
            kind = self.advance().value.lower()
            if self.at("("):
                self.advance()
                var = self.name()
                self.expect_kw("in")
                source = self.parse_expr()
                self.expect_kw("where")
                where = self.parse_expr()
                self.expect(")")
                return A.Quantified(kind, var, source, where)
            return A.Var(kind)  # bare keyword used as identifier
        if self.at_kw("reduce"):
            self.advance()
            self.expect("(")
            acc = self.name()
            self.expect("=")
            init = self.parse_expr()
            self.expect(",")
            var = self.name()
            self.expect_kw("in")
            source = self.parse_expr()
            self.expect("|")
            body = self.parse_expr()
            self.expect(")")
            return A.Reduce(acc, init, var, source, body)
        if self.at_kw("filter", "extract"):
            # legacy filter(x IN l WHERE p) / extract(x IN l | e)
            kind = self.advance().value.lower()
            self.expect("(")
            var = self.name()
            self.expect_kw("in")
            source = self.parse_expr()
            where = proj = None
            if self.eat_kw("where"):
                where = self.parse_expr()
            if self.eat("|"):
                proj = self.parse_expr()
            self.expect(")")
            return A.ListComp(var, source, where, proj)
        if t.kind == "ident" and self.peek().kind == "punct" and self.peek().value == "(":
            name = self.advance().value
            return self.parse_call(name.lower())
        if (
            t.kind == "ident"
            and t.value.lower() in ("duration", "date", "localdatetime", "datetime", "time", "localtime")
            and self.peek().kind == "punct"
            and self.peek().value == "."
            and self.peek(2).kind in ("ident", "kw")
            and self.peek(3).kind == "punct"
            and self.peek(3).value == "("
        ):
            # namespaced temporal function, e.g. duration.between(a, b)
            ns = self.advance().value
            self.advance()  # '.'
            member = self.advance().value
            return self.parse_call(f"{ns.lower()}.{member.lower()}")
        if self.at("["):
            return self.parse_list_or_comprehension()
        if self.at("{"):
            return self.parse_map_literal()
        if self.at("(") or self.at("<-"):
            saved = self.i
            try:
                part = self.parse_pattern_part()
                if part.rels:
                    return A.PatternPredicate(part)
            except CypherSyntaxError:
                pass
            self.i = saved
            self.expect("(")
            e = self.parse_expr()
            self.expect(")")
            return e
        if t.kind == "ident" or t.kind == "kw":
            # bare identifier (keywords usable as variable names in practice)
            self.advance()
            return A.Var(t.value)
        raise CypherSyntaxError(f"unexpected token {t!r}")

    def parse_map_projection(self, subject: str) -> A.Expr:
        self.expect("{")
        items = []
        all_props = False
        if not self.at("}"):
            while True:
                if self.eat("."):
                    if self.eat("*"):
                        all_props = True
                    else:
                        k = self.name()
                        items.append((k, None))
                else:
                    k = self.name()
                    self.expect(":")
                    items.append((k, self.parse_expr()))
                if not self.eat(","):
                    break
        self.expect("}")
        return A.MapProjection(subject, items, all_props)

    def parse_call(self, name: str) -> A.Expr:
        self.expect("(")
        distinct = self.eat_kw("distinct")
        args: List[A.Expr] = []
        if not self.at(")"):
            args.append(self.parse_expr())
            while self.eat(","):
                args.append(self.parse_expr())
        self.expect(")")
        return A.FuncCall(name, args, distinct)

    def parse_case(self) -> A.Expr:
        self.expect_kw("case")
        operand = None
        if not self.at_kw("when"):
            operand = self.parse_expr()
        whens: List[Tuple[A.Expr, A.Expr]] = []
        while self.eat_kw("when"):
            cond = self.parse_expr()
            self.expect_kw("then")
            whens.append((cond, self.parse_expr()))
        default = None
        if self.eat_kw("else"):
            default = self.parse_expr()
        self.expect_kw("end")
        return A.CaseExpr(operand, whens, default)

    def parse_list_or_comprehension(self) -> A.Expr:
        self.expect("[")
        if self.at("]"):
            self.advance()
            return A.ListLit([])
        # pattern comprehension: [ (a)-[:T]->(b) [WHERE pred] | proj ] —
        # speculative (a parenthesized expression also starts with '(');
        # a real pattern must have at least one relationship and be
        # followed by WHERE or the mandatory '|'
        if self.at("(") or self.at("<-"):
            saved = self.i
            try:
                part = self.parse_pattern_part()
                if part.rels and (self.at("|") or self.at_kw("where")):
                    where = None
                    if self.eat_kw("where"):
                        where = self.parse_expr()
                    self.expect("|")
                    proj = self.parse_expr()
                    self.expect("]")
                    return A.PatternComprehension(part, proj, where)
            except CypherSyntaxError:
                pass
            self.i = saved
        # lookahead: ident IN → comprehension
        if self.tok.kind == "ident" and self.peek().kind == "kw" and self.peek().value.lower() == "in":
            var = self.advance().value
            self.advance()  # IN
            source = self.parse_expr()
            where = proj = None
            if self.eat_kw("where"):
                where = self.parse_expr()
            if self.eat("|"):
                proj = self.parse_expr()
            self.expect("]")
            return A.ListComp(var, source, where, proj)
        items = [self.parse_expr()]
        while self.eat(","):
            items.append(self.parse_expr())
        self.expect("]")
        return A.ListLit(items)

    def parse_exists_subquery(self) -> A.Expr:
        self.expect("{")
        if self.eat_kw("match"):
            pass
        part = self.parse_pattern_part()
        where = None
        if self.eat_kw("where"):
            where = self.parse_expr()
        self.expect("}")
        return A.PatternPredicate(part, where)


def parse(query: str):
    """Parse a Cypher query string into a SingleQuery / UnionQuery AST."""
    return Parser(query).parse_query()


def parse_expression(text: str) -> A.Expr:
    p = Parser(text)
    e = p.parse_expr()
    if p.tok.kind != "eof":
        raise CypherSyntaxError(f"unexpected trailing input at {p.tok!r}")
    return e
