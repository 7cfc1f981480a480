"""Each query shape compiles its generated classes once per JVM.

Spark caches the classes whole-stage codegen generates, keyed by their
Java source, in an LRU of ``spark.sql.codegen.cache.maxEntries`` (a
static conf, 100 by default). A Cypher query needs 8-40 classes, so a few
shapes cycling through one session overflow the default and every lookup
misses: each run recompiles with Janino. ``build_spark_session`` raises the
limit to ``CODEGEN_CACHE_ENTRIES``; the tests below pin that a cycle of
shapes bigger than Spark's default recompiles nothing once warm, and that
``CypherSession`` warns about a session built without it.
"""

import warnings
import weakref

import pytest

from cypher_for_apache_spark_spark import CypherSession, session as session_mod
from cypher_for_apache_spark_spark.sources.tpch import load_tpch_graph
from test_registry_smoke import SF_DIR  # the sf0.001 test tables

SPARK_DEFAULT_ENTRIES = 100
# classes the cycle compiles in a fresh JVM at sf0.001 (measured); earlier
# tests in the same JVM can have compiled a few of them already
CYCLE_CLASSES = 141

# distinct shapes, each with fixed parameters (inlined as literals, so a
# repeat run generates byte-identical sources). No CONSTRUCT: its result
# unions several adaptive query stages whose whole-stage codegen ids follow
# the order Spark happens to materialize them in, and the id is part of the
# generated source, so a few of its classes can differ from run to run.
CYCLE = (
    ("MATCH (c:Customer) WHERE c.acctbal > $b RETURN c.name AS name, c.acctbal AS acctbal",
     {"b": 7123.0}),
    ("MATCH (c:Customer)-[:IN_NATION]->(n:Nation) WHERE c.mktsegment = $s "
     "RETURN n.name AS nation, count(*) AS customers", {"s": "MACHINERY"}),
    ("MATCH (c:Customer)-[:IN_NATION]->(:Nation)-[:IN_REGION]->(r:Region) WHERE c.acctbal > $b "
     "RETURN r.name AS region, count(*) AS customers", {"b": 1234.0}),
    ("MATCH (c:Customer) WHERE c.acctbal > $b OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
     "WITH c, count(o) AS n_orders RETURN n_orders, count(*) AS customers", {"b": 2345.0}),
    ("MATCH (c:Customer) WHERE EXISTS { MATCH (c)-[:PLACED]->(o:Order) WHERE o.status = $s } "
     "RETURN count(*) AS customers_with_order", {"s": "P"}),
    ("MATCH (s:Supplier) WHERE NOT EXISTS { MATCH (s)-[:SUPPLIES]->(p2:Part) "
     "WHERE p2.brand = $brand AND p2.size > $size } RETURN s.name AS name",
     {"brand": "Brand#17", "size": 41}),
    ("MATCH (n:Nation) WHERE n.name <> $n RETURN n.name AS name "
     "UNION MATCH (r:Region) RETURN r.name AS name", {"n": "NATION_7"}),
    ("MATCH (c:Customer) RETURN c.name AS name, c.acctbal AS acctbal "
     "ORDER BY acctbal DESC, name SKIP $skip LIMIT $limit", {"skip": 17, "limit": 23}),
    ("MATCH (p:Part) WHERE p.size > $size UNWIND split(p.type, ' ') AS word "
     "RETURN word, count(*) AS c", {"size": 13}),
    ("MATCH (c:Customer) RETURN CASE WHEN c.acctbal < $lo THEN 'low' "
     "WHEN c.acctbal < $hi THEN 'mid' ELSE 'high' END AS bucket, count(*) AS c",
     {"lo": 1111.0, "hi": 6666.0}),
    ("MATCH (c:Customer) WHERE c.acctbal > $b CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
     "RETURN count(o) AS orders, sum(toInteger(round(o.totalprice * 100))) AS cents } "
     "RETURN c.mktsegment AS segment, sum(orders) AS orders, sum(cents) AS cents", {"b": 3456.0}),
    ("MATCH (o:Order)-[l:LINE]->(:Part) WHERE l.quantity > $q "
     "RETURN duration.between(o.orderdate, l.shipdate).days AS delay_days, count(*) AS n",
     {"q": 27.0}),
    ("MATCH (o:Order) WHERE o.orderdate >= localdatetime($day) - duration('P90D') "
     "RETURN count(*) AS n", {"day": "1997-03-11T00:00:00"}),
)


def _compiles(spark) -> int:
    """Janino compiles in this JVM so far (cache hits are not counted)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_cycle(spark, graph) -> int:
    before = _compiles(spark)
    for query, params in CYCLE:
        graph.cypher(query, params).df.collect()
    return _compiles(spark) - before


def test_session_builder_sizes_the_codegen_cache(spark):
    assert session_mod._codegen_cache_entries(spark) == session_mod.CODEGEN_CACHE_ENTRIES


def test_warm_cycle_of_shapes_recompiles_nothing(spark, session):
    graph = load_tpch_graph(spark, SF_DIR, with_triplets=("IN_NATION", "IN_REGION", "PLACED", "LINE"))
    graph._session = session
    first = _run_cycle(spark, graph)
    second = _run_cycle(spark, graph)
    assert second == 0, f"the warm cycle recompiled {second} of its {first} classes"
    # the cycle's working set overflows Spark's default cache, so with that
    # default every later cycle would recompile most of these classes
    assert SPARK_DEFAULT_ENTRIES < first <= CYCLE_CLASSES


@pytest.fixture()
def unchecked(monkeypatch):
    """Forget which SparkContexts were checked, and count the conf reads."""
    monkeypatch.setattr(session_mod, "_CODEGEN_CHECKED", weakref.WeakSet())
    reads = []

    def entries(value):
        def read(spark):
            reads.append(value)
            return value

        monkeypatch.setattr(session_mod, "_codegen_cache_entries", read)

    return entries, reads


def test_small_codegen_cache_warns_once_per_context(spark, unchecked):
    entries, reads = unchecked
    entries(SPARK_DEFAULT_ENTRIES)
    with pytest.warns(UserWarning) as caught:
        CypherSession(spark)
    assert len(caught) == 1
    message = str(caught[0].message)
    assert "spark.sql.codegen.cache.maxEntries=100" in message
    assert "build_spark_session" in message
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        CypherSession(spark)
    # the conf is read once per SparkContext, not once per session
    assert reads == [SPARK_DEFAULT_ENTRIES]


def test_sized_codegen_cache_does_not_warn(spark, unchecked):
    entries, reads = unchecked
    entries(session_mod.CODEGEN_CACHE_ENTRIES)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        CypherSession(spark)
    assert reads == [session_mod.CODEGEN_CACHE_ENTRIES]
