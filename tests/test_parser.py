"""Parser unit tests (reference test layer 3: okapi-ir parser tests)."""

from cypher_for_apache_spark_spark import ast as A
from cypher_for_apache_spark_spark.parser import parse, parse_expression


def test_simple_match_return():
    q = parse("MATCH (n:Person) RETURN n.name AS name")
    assert isinstance(q, A.SingleQuery)
    m, r = q.clauses
    assert isinstance(m, A.MatchClause)
    assert m.parts[0].nodes[0].labels == ["Person"]
    assert r.is_return
    assert r.items[0][1] == "name"
    assert r.items[0][0] == A.Prop(A.Var("n"), "name")


def test_pattern_with_rel():
    q = parse("MATCH (a:Person)-[r:KNOWS]->(b) RETURN a, b")
    part = q.clauses[0].parts[0]
    assert [n.var for n in part.nodes] == ["a", "b"]
    rel = part.rels[0]
    assert rel.var == "r" and rel.types == ["KNOWS"] and rel.direction == "out"


def test_undirected_and_reverse():
    q = parse("MATCH (a)<-[:X]-(b)--(c) RETURN a")
    rels = q.clauses[0].parts[0].rels
    assert rels[0].direction == "in"
    assert rels[1].direction == "both" and rels[1].types == []


def test_var_length():
    q = parse("MATCH (a)-[r:KNOWS*1..3]->(b) RETURN a")
    assert q.clauses[0].parts[0].rels[0].var_length == (1, 3)
    q2 = parse("MATCH (a)-[*2]->(b) RETURN a")
    assert q2.clauses[0].parts[0].rels[0].var_length == (2, 2)


def test_inline_props():
    q = parse("MATCH (n:Person {name: 'Alice', age: 42}) RETURN n")
    props = q.clauses[0].parts[0].nodes[0].props
    assert props.items[0] == ("name", A.Lit("Alice"))
    assert props.items[1] == ("age", A.Lit(42))


def test_where_precedence():
    e = parse_expression("a.x > 1 AND b.y < 2 OR NOT c")
    assert isinstance(e, A.Ors)
    assert isinstance(e.items[0], A.Ands)
    assert isinstance(e.items[1], A.Not)


def test_chained_comparison():
    e = parse_expression("1 < x <= 3")
    assert isinstance(e, A.Ands)
    assert len(e.items) == 2


def test_string_predicates():
    e = parse_expression("n.name STARTS WITH 'A' AND n.name ENDS WITH 'z' AND n.name CONTAINS 'b'")
    ops = [x.op for x in e.items]
    assert ops == ["startswith", "endswith", "contains"]


def test_arithmetic_precedence():
    e = parse_expression("1 + 2 * 3 ^ 2")
    assert e == A.Bin("+", A.Lit(1), A.Bin("*", A.Lit(2), A.Bin("^", A.Lit(3), A.Lit(2))))


def test_list_and_index_slice():
    e = parse_expression("[1, 2, 3][0]")
    assert isinstance(e, A.Index)
    e2 = parse_expression("x[1..3]")
    assert isinstance(e2, A.Slice)
    e3 = parse_expression("x[1..]")
    assert e3.hi is None


def test_list_comprehension():
    e = parse_expression("[x IN range(0, 10) WHERE x % 2 = 0 | x * 2]")
    assert isinstance(e, A.ListComp)
    assert e.var == "x" and e.where is not None and e.projection is not None


def test_case():
    e = parse_expression("CASE WHEN a > 1 THEN 'big' ELSE 'small' END")
    assert isinstance(e, A.CaseExpr) and e.operand is None
    e2 = parse_expression("CASE n.v WHEN 1 THEN 'one' WHEN 2 THEN 'two' END")
    assert e2.operand is not None and len(e2.whens) == 2 and e2.default is None


def test_count_star_and_distinct():
    e = parse_expression("count(*)")
    assert isinstance(e, A.CountStar)
    e2 = parse_expression("count(DISTINCT n.x)")
    assert e2.distinct


def test_exists_pattern():
    e = parse_expression("exists((a)-[:KNOWS]->(b))")
    assert isinstance(e, A.PatternPredicate)
    e2 = parse_expression("exists(n.prop)")
    assert isinstance(e2, A.IsNotNull)


def test_union():
    q = parse("MATCH (a:X) RETURN a.v AS v UNION MATCH (b:Y) RETURN b.v AS v")
    assert isinstance(q, A.UnionQuery)
    assert q.all_flags == [False]


def test_with_order_skip_limit():
    q = parse(
        "MATCH (n) WITH n.x AS x ORDER BY x DESC SKIP 2 LIMIT 3 WHERE x > 0 RETURN x"
    )
    w = q.clauses[1]
    assert not w.is_return and w.order_by[0].asc is False
    assert w.skip == A.Lit(2) and w.limit == A.Lit(3) and w.where is not None


def test_unwind():
    q = parse("UNWIND [1,2,3] AS x RETURN x")
    u = q.clauses[0]
    assert isinstance(u, A.UnwindClause) and u.var == "x"


def test_quantifiers_and_reduce():
    e = parse_expression("any(x IN l WHERE x > 0)")
    assert isinstance(e, A.Quantified) and e.kind == "any"
    e2 = parse_expression("reduce(acc = 0, x IN l | acc + x)")
    assert isinstance(e2, A.Reduce)


def test_parameters():
    q = parse("MATCH (n) WHERE n.age > $minAge RETURN n.name SKIP $s LIMIT $l")
    w = q.clauses[0].where
    assert isinstance(w.rhs, A.Param)


def test_multiple_types():
    q = parse("MATCH (a)-[r:A|B|C]->(b) RETURN r")
    assert q.clauses[0].parts[0].rels[0].types == ["A", "B", "C"]


def test_return_item_default_name():
    q = parse("MATCH (n) RETURN n.name, count(*)")
    assert q.clauses[1].items[0][1] == "n.name"
    assert q.clauses[1].items[1][1] == "count(*)"


def test_doubled_backtick_in_quoted_name():
    q = parse("MATCH (`a``b`:`L``M`) RETURN `a``b`.name AS `x``y`, 1 AS ````")
    node = q.clauses[0].parts[0].nodes[0]
    assert node.var == "a`b" and node.labels == ["L`M"]
    ret = q.clauses[1]
    assert ret.items[0] == (A.Prop(A.Var("a`b"), "name"), "x`y")
    assert ret.items[1][1] == "`"
