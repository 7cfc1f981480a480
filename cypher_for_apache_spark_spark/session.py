"""CypherSession: the user-facing entry point.

Mirrors the reference's MorpheusSession / RelationalCypherSession surface
(morpheus-spark-cypher/.../api/MorpheusSession.scala:77-110,
okapi-relational/.../api/graph/RelationalCypherSession.scala:130-199):
``read_from`` builds a ScanGraph from DataFrames, ``cypher`` parses, plans
and lazily returns records; a catalog maps graph names to graphs.
"""

from __future__ import annotations

import os
import warnings
import weakref
from pathlib import Path
from typing import Dict, Iterable, Mapping, Optional, Union

from pyspark.sql import DataFrame, SparkSession, functions as F

from cypher_for_apache_spark_spark.graph import NodeTable, PropertyGraph, RelationshipTable
from cypher_for_apache_spark_spark.parser import parse
from cypher_for_apache_spark_spark.plans.planner import Planner


# Spark's generated-class cache holds 100 classes by default; the conf is
# static, so only a session builder can raise it (build_spark_session).
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 5000

# the directory that holds the package: Python workers (the Pandas-UDF
# operators) need it on their path to import the package from any
# working directory
_PACKAGE_PARENT = str(Path(__file__).resolve().parent.parent)

# SparkContexts whose codegen cache size CypherSession has already checked
_CODEGEN_CHECKED: "weakref.WeakSet" = weakref.WeakSet()


class CypherResult:
    """Lazy query result (reference: MorpheusRecords,
    morpheus-spark-cypher/.../impl/MorpheusRecords.scala:91-138). Nothing
    executes until a Spark action touches ``df``. Multiple-graph queries
    (RETURN GRAPH) expose ``graph`` instead."""

    def __init__(self, df: Optional[DataFrame] = None, graph=None):
        self.df = df
        self.graph = graph

    def collect(self):
        return self.df.collect()

    def to_maps(self):
        """Bag-of-dicts view used by the acceptance tests (reference result
        comparison convention, SURVEY.md §5)."""
        return [row.asDict(recursive=True) for row in self.df.collect()]

    def show(self, n: int = 20, truncate=False):
        self.df.show(n, truncate=truncate)

    def explain(self, mode: str = "formatted") -> str:
        """Physical-plan text for the compiled query (reference:
        PrintRelationalPlan / MorpheusRecords plan output). Useful for
        asserting what actually reaches the scan — PushedFilters,
        ReadSchema pruning, join strategies, WholeStageCodegen spans.

        ``mode``: any Spark explain mode (simple/extended/codegen/cost/
        formatted) or "physical" for the raw executed-plan tree."""
        if mode == "physical":
            return self.df._jdf.queryExecution().executedPlan().toString()
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.df.explain(mode=mode)
        return buf.getvalue()


def build_spark_session(
    master: Optional[str] = None,
    app_name: str = "cypher-spark",
    extra_confs: Optional[Mapping[str, str]] = None,
) -> SparkSession:
    """Build a SparkSession with the static configuration this library's
    workloads want, plus ``extra_confs``, then apply the runtime confs of
    ``_spark_tuning``. ``CypherSession`` accepts any session, but STATIC
    confs cannot be set after the session exists — build through this
    function (or copy its confs) so product sessions get them too, not
    just the bench harness.

    - ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark 4's
      DataFrame-debugging wrapper pays ~3 py4j round trips per DataFrame
      API call (getActiveSession + conf.get + origin set/clear) purely to
      enrich error messages with the Python call site. Cypher plan building
      is driver-side Python over thousands of DataFrame/Column calls;
      measured 3x faster plan builds with it off (5080 -> 1880 py4j calls
      per 10 plans). Physical plans are bit-identical — the only loss is
      error-message call-site enrichment.
    - ``spark.sql.codegen.cache.maxEntries=CODEGEN_CACHE_ENTRIES`` (5000):
      Spark caches generated classes by their Java source in an LRU of 100
      entries, and one Cypher query compiles 10-50 classes. A handful of
      shapes cycling through a session overflows it, and a cyclic access
      pattern makes nearly every lookup miss. Measured at sf0.01 on 4
      vCPUs, warm passes: 14 interactive shapes paid 8.2 Janino compiles
      per query with the default, even with their parameters repeated
      (2.2 with 5000, all from fresh numeric literals); 4 iterative graph
      queries paid 43 per query (0 with 5000). 5000 covers the whole
      117-entry query registry: 1843 compiles on a first pass, 76 on the
      second. Plans, jobs and rows are unchanged.
    - ``spark.executorEnv.PYTHONPATH``: the package's parent directory,
      then the driver's ``PYTHONPATH``. Python workers start in the
      JVM's working directory, so without it the Pandas-UDF operators
      (``media_decode_docs``, ``phash_dup_docs``) fail with
      ``ModuleNotFoundError`` whenever the driver runs outside the
      directory that holds the package.

    A key in ``extra_confs`` overrides any of these.
    """
    b = SparkSession.builder.appName(app_name)
    if master is not None:
        b = b.master(master)
    for k, v in _session_confs(extra_confs).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _spark_tuning(spark)
    return spark


def _session_confs(extra_confs: Optional[Mapping[str, str]]) -> Dict[str, str]:
    """The static confs ``build_spark_session`` sets, ``extra_confs`` last."""
    paths = [_PACKAGE_PARENT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    return {
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        CODEGEN_CACHE_CONF: str(CODEGEN_CACHE_ENTRIES),
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(dict.fromkeys(paths)),
        **(extra_confs or {}),
    }


def _spark_tuning(spark: SparkSession) -> None:
    """The runtime SQL confs Cypher semantics rely on — the one place the
    package sets them (reference: MorpheusSession.scala:104)."""
    # Cypher ternary logic wants null-on-error, not ANSI errors
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # OPTIONAL MATCH with disjoint patterns needs cross joins
    spark.conf.set("spark.sql.crossJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Arrow tables from materialize.local_frame: up to this many bytes of
    # batches the JVM decodes them into a LocalRelation (a collect runs no
    # job), above it they stay a LogicalRDD, which is cheaper to join and
    # act on. Two long columns, local[4], median CPU of 9: build + collect
    # 0.09-0.14 s as a LocalRelation against 0.15-0.28 s up to 10 000 rows,
    # even at 20 000; build + join + 2 actions even up to 4 000 rows, then
    # 0.64 vs 0.50 s at 10 000, 0.85 vs 0.55 s at 40 000, 1.83 vs 0.98 s at
    # 100 000. Spark's 48 MiB default made every driver result up to ~3M
    # such rows a LocalRelation.
    spark.conf.set("spark.sql.execution.arrow.localRelationThreshold", "256k")


def _codegen_cache_entries(spark: SparkSession) -> int:
    return int(spark.conf.get(CODEGEN_CACHE_CONF))


def _check_codegen_cache(spark: SparkSession) -> None:
    """Warn once per SparkContext when its generated-class cache is smaller
    than ``CODEGEN_CACHE_ENTRIES``: every query would then recompile most
    of its classes, with no other sign than the CPU it costs."""
    sc = spark.sparkContext
    if sc in _CODEGEN_CHECKED:
        return
    _CODEGEN_CHECKED.add(sc)
    entries = _codegen_cache_entries(spark)
    if entries < CODEGEN_CACHE_ENTRIES:
        warnings.warn(
            f"{CODEGEN_CACHE_CONF}={entries} is below {CODEGEN_CACHE_ENTRIES}: "
            "queries will recompile their generated classes on every run. "
            "The conf is static; build the session with build_spark_session() "
            "or set it before the SparkSession is created.",
            stacklevel=3,
        )


class CypherSession:
    def __init__(self, spark: SparkSession):
        """Wrap ``spark`` (any SparkSession; ``build_spark_session`` adds
        the static confs) and apply the runtime confs Cypher needs.

        A session not built by ``build_spark_session`` may keep Spark's
        100-entry generated-class cache, and that static conf cannot be
        raised once the session exists. The first ``CypherSession`` over
        such a SparkContext warns once; the fix is to build the session
        through ``build_spark_session`` (or set
        ``spark.sql.codegen.cache.maxEntries`` before ``getOrCreate``).

        Pattern expands over supernode-heavy graphs are salted
        automatically: rel frames whose Catalyst size estimate reaches
        ``materialize.SALT_SNIFF_MIN_BYTES`` get a one-off bounded
        degree-skew sniff (memoized per graph/type/direction), and expands
        over a dominant hub spread each hot node's relationship rows over
        the sniffed number of reducers (operators/skew.py rationale). The
        salted result is plan-asserted equal to the unsalted expand in
        tests."""
        self.spark = spark
        _spark_tuning(spark)
        _check_codegen_cache(spark)
        self.catalog: Dict[str, PropertyGraph] = {}
        self.views: Dict[str, tuple] = {}  # name -> (params, query AST)
        from cypher_for_apache_spark_spark.procedures import ProcedureRegistry

        self.procedures = ProcedureRegistry()

    def register_procedure(self, name: str, fn, returns) -> None:
        """Register a user procedure for ``CALL name(args) YIELD cols``:
        ``fn(ctx, *args) -> DataFrame`` producing at least the ``returns``
        columns (procedures.py — the GDS-style extension point the
        reference lacks)."""
        self.procedures.register(name, fn, returns)

    # -- graph ingestion ----------------------------------------------------
    def read_from(
        self,
        nodes: Mapping[Union[str, tuple, frozenset], DataFrame],
        relationships: Optional[Mapping[str, DataFrame]] = None,
        node_id: str = "id",
        rel_id: str = "id",
        rel_src: str = "src",
        rel_dst: str = "dst",
        name: str = "graph",
    ) -> PropertyGraph:
        """Build a property graph from DataFrames.

        ``nodes``: {label or label-tuple -> DataFrame with an id column +
        property columns}; ``relationships``: {type -> DataFrame with id,
        src, dst + property columns}. Ints are lifted to long automatically.
        """
        node_tables = []
        for labels, df in nodes.items():
            if isinstance(labels, str):
                labels = (labels,)
            node_tables.append(NodeTable.create(labels, df, id_col=node_id))
        rel_tables = []
        for rel_type, df in (relationships or {}).items():
            rel_tables.append(
                RelationshipTable.create(rel_type, df, id_col=rel_id, src_col=rel_src, dst_col=rel_dst)
            )
        g = PropertyGraph(node_tables, rel_tables, name=name)
        g._session = self
        return g

    def create_graphs_from_ddl(
        self,
        ddl: str,
        tables=None,
        register: bool = True,
    ) -> Dict[str, PropertyGraph]:
        """Run Graph DDL text (CREATE GRAPH [TYPE] ... / SET SCHEMA ...) and
        return {graph name -> PropertyGraph} (reference: graph-ddl module +
        SQL PGDS, backend-sql-graphddl.adoc). ``tables`` is a {name ->
        DataFrame} dict or None to resolve views through this session's
        Spark catalog; with ``register`` each graph lands in the session
        catalog for FROM GRAPH queries."""
        from cypher_for_apache_spark_spark.sources.graph_ddl import (
            build_graph,
            parse_ddl,
        )

        doc = parse_ddl(ddl)
        out: Dict[str, PropertyGraph] = {}
        for name in doc.graphs:
            g = build_graph(doc, name, tables if tables is not None else self.spark)
            g._session = self
            if register:
                self.catalog[name] = g
            out[name] = g
        return out

    def store_graph(self, name: str, graph: PropertyGraph) -> None:
        graph._session = self
        self.catalog[name] = graph

    def graph(self, name: str) -> PropertyGraph:
        return self.catalog[name]

    # -- query --------------------------------------------------------------
    def cypher(
        self,
        query: str,
        parameters: Optional[dict] = None,
        graph: Optional[PropertyGraph] = None,
        graph_name: Optional[str] = None,
        driving_table: Optional[DataFrame] = None,
    ) -> CypherResult:
        if graph is None and graph_name is not None:
            graph = self.catalog[graph_name]
        if graph is None and len(self.catalog) == 1:
            graph = next(iter(self.catalog.values()))
        return self.cypher_on_graph(graph, query, parameters or {}, driving_table)

    def cypher_on_graph(
        self,
        graph: Optional[PropertyGraph],
        query: str,
        parameters: dict,
        driving_table: Optional[DataFrame] = None,
    ) -> CypherResult:
        ast = parse(query)
        planner = Planner(
            self.spark,
            graph,
            parameters,
            catalog=self.catalog,
            driving_table=driving_table,
            views=self.views,
            procedures=self.procedures,
        )
        result = planner.plan(ast)
        if result.graph is not None:
            result.graph._session = self
            return CypherResult(graph=result.graph)
        return CypherResult(df=result.df)

    # -- SQL passthrough (reference: MorpheusSession.sql,
    #    MorpheusSession.scala:84-85) ----------------------------------------
    def sql(self, query: str) -> CypherResult:
        return CypherResult(self.spark.sql(query))
